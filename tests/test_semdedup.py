"""SemDeDup semantics: planted exact duplicates are dropped
first-wins within their cluster; keepers stay; the cluster cap
bounds the pair work deterministically.
"""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def test_semantic_dedup_drops_planted_duplicates_first_wins(spark):
    """An identical copy of every 10th vector (higher id) lands in
    the same k-means cluster (identical cosine to every centroid →
    same first-max pick) and must be flagged is_dup, while the
    lower-id original survives — the first-wins keeper rule."""
    from blackedge_ocr_spark.analysis import ann
    from blackedge_ocr_spark.analysis.semdedup import semantic_dedup_df

    e = _corpus(spark)
    dups = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    corpus = e.unionByName(dups)
    cents = ann.kmeans_centroids(corpus)
    out = semantic_dedup_df(corpus, cents, threshold=0.999999)
    rows = {r["vec_id"]: r for r in out.collect()}

    assert len(rows) == corpus.count()
    for r in e.filter(F.col("vec_id") % 10 == 0).collect():
        orig, copy = rows[r["vec_id"]], rows[r["vec_id"] + 1_000_000]
        assert copy["cid"] == orig["cid"], "copy left its twin's cluster"
        assert copy["is_dup"], "planted duplicate survived"
        assert not orig["is_dup"], "original (lowest id) was dropped"


def test_semantic_dedup_threshold_one_no_exact_pairs_keeps_all(spark):
    """Without planted duplicates no pair reaches cos rounded to
    1.0 at the contract scale (max pairwise cosine ≈ 0.43), so a
    threshold of 1.0 keeps the whole corpus."""
    from blackedge_ocr_spark.analysis import ann
    from blackedge_ocr_spark.analysis.semdedup import semantic_dedup_df

    corpus = _corpus(spark)
    cents = ann.kmeans_centroids(corpus)
    out = semantic_dedup_df(corpus, cents, threshold=1.0)
    assert out.filter("is_dup").count() == 0
    assert out.count() == corpus.count()


def test_semantic_dedup_cluster_cap_limits_pairing(spark):
    """cap=1 keeps only the lowest id per cluster in the pairing
    set, so NO pair exists and nothing is dropped even with planted
    duplicates — the oracle-mirrored row_number rule."""
    from blackedge_ocr_spark.analysis import ann
    from blackedge_ocr_spark.analysis.semdedup import semantic_dedup_df

    e = _corpus(spark).limit(60)
    dups = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "v")
    corpus = e.unionByName(dups)
    cents = ann.kmeans_centroids(corpus)
    capped = semantic_dedup_df(
        corpus, cents, threshold=0.999999, cluster_cap=1
    )
    assert capped.filter("is_dup").count() == 0
    uncapped = semantic_dedup_df(corpus, cents, threshold=0.999999)
    assert uncapped.filter("is_dup").count() == e.count()


def test_train_stride_sql_parity():
    """ann.train_stride's arithmetic == TRAIN_STRIDE_SQL's, for n
    spanning both sides of every floor/crossover — the cross-engine
    contract the adaptive Lloyd sample rests on (the big-n corpora
    where the stride actually adapts are too large for the DuckDB
    list oracle to execute end-to-end, so the arithmetic is pinned
    directly)."""
    import duckdb

    from blackedge_ocr_spark.analysis import ann

    for n in [1, 10, 500, 2000, 21904, 22500, 102_399, 102_401,
              200_000, 500_000, 1_500_000, 5_000_000, 123_456_789]:
        sql = (
            "SELECT greatest(4, CAST(floor(greatest(37, "
            "CAST(floor(cnt / (4 * floor(sqrt(cnt)))) AS BIGINT)"
            ")::DOUBLE / 16.0) AS BIGINT)) "
            f"FROM (SELECT {n}::BIGINT AS cnt)"
        )
        got = duckdb.sql(sql).fetchone()[0]
        assert got == ann.train_stride(n), (n, got, ann.train_stride(n))
        stride_sql = (
            "SELECT greatest(37, CAST(floor(cnt / "
            "(4 * floor(sqrt(cnt)))) AS BIGINT)) "
            f"FROM (SELECT {n}::BIGINT AS cnt)"
        )
        got_s = duckdb.sql(stride_sql).fetchone()[0]
        assert got_s == ann.centroid_stride(n), (n, got_s)
