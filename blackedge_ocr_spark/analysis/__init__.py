"""Large-scale training-data-pipeline operators over the documents
and embeddings tables: deduplication (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding cosine), approximate nearest-neighbor
search, and text analysis (language ID, quality scoring, token
counting, fingerprinting).

These extend the reference's extraction engine with the operations a
100 TB corpus-preparation job needs; all are expressed Spark-first
(built-ins + a few Arrow-batched pandas UDFs) and every one has a
DuckDB oracle in ``blackedge_ocr_spark.sqloracle``.
"""
