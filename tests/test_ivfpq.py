"""IVF+PQ serving composition: residual algebra, shortlist/re-rank
semantics, determinism, and the ADC-vs-exact ordering contract."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_residual_frame_algebra(spark):
    """r = v − coarse centroid, elementwise; adding the centroid back
    recovers v exactly (pure double subtract/add, no quantization in
    the residual itself)."""
    import pyspark.sql.functions as F

    from blackedge_ocr_spark.analysis import ann

    n = ann._corpus_count(spark, SF)
    corpus = ann._load(spark, SF)
    cents = ann.kmeans_centroids(
        corpus, ann.KMEANS_ITERS, ann.centroid_stride(n),
        ann.TRAIN_EVERY, n=n,
    )
    res = ann._residual_frame(corpus, cents)
    cdf = cents.select("cid", "cv")
    # (v − cv) + cv is not bit-equal to v in IEEE doubles; bound the
    # round-trip error instead (values are O(1), so 1e-12 is ~2 ulp).
    dev = res.join(F.broadcast(cdf), "cid").select(
        F.array_max(
            F.zip_with(
                F.zip_with("r", "cv", lambda a, b: a + b),
                F.col("v"),
                lambda x, y: F.abs(x - y),
            )
        ).alias("d")
    )
    worst = dev.agg(F.max("d")).collect()[0][0]
    assert worst < 1e-12, worst
    assert res.count() == n


def test_ivfpq_topk_contract_shape_and_determinism(spark):
    from blackedge_ocr_spark.analysis import ann

    a = ann.ivfpq_topk(spark, SF).collect()
    b = ann.ivfpq_topk(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_q: dict = {}
    for r in a:
        by_q.setdefault(r["q_id"], []).append(r)
        assert r["neighbor_id"] != r["q_id"]
        assert -1.000001 <= r["cos"] <= 1.000001
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
        # ranks order by EXACT cosine desc (ties by neighbor_id):
        # the re-rank stage scores the short-list full-precision
        srt = sorted(rows, key=lambda r: r["rank"])
        for x, y in zip(srt, srt[1:]):
            assert (x["cos"], -x["neighbor_id"]) >= (y["cos"], -y["neighbor_id"])


def test_ivfpq_shortlist_subset_of_probed_ivf_candidates(spark):
    """Every IVF+PQ result must come from the SAME probed coarse
    lists flat IVF(k-means) searches — the composition narrows the
    candidate set (ADC shortlist), never widens it. With the
    shortlist at corpus scale the result converges to ivf_kmeans
    exactly (same probe, same exact scoring, same tie-break)."""
    from blackedge_ocr_spark.analysis import ann

    flat = ann.ivf_kmeans_topk(spark, SF).collect()
    big = ann.ivfpq_topk(spark, SF, shortlist=10_000_000).collect()
    assert sorted(map(tuple, big)) == sorted(map(tuple, flat))


def test_blocked_assignment_matches_full_matrix(spark):
    """The centroid-block streaming argmax (memory-bounded corpus
    path) must pick the IDENTICAL centroid as one full (batch x C)
    matrix — including first-max ties — for block widths that split C
    unevenly."""
    import numpy as np

    from blackedge_ocr_spark.analysis import ann

    rows = sorted(
        ann._load(spark, SF).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )
    V = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    # centroids: every 17th corpus vector
    Cm = np.array(
        [list(r["v"]) for r in rows if r["vec_id"] % 17 == 0],
        dtype=np.float64,
    )
    full = ann._first_max_assign(V, Cm, len(Cm))
    for blk in (1, 7, 64):
        got = ann._first_max_assign(V, Cm, blk)
        assert (got == full).all(), blk
    assert len(full) == ann._corpus_count(spark, SF)


def test_bm25_external_query_table_matches_fixture(spark):
    """bm25_topk(queries=explicit table) must reproduce the default
    corpus-derived fixture bit-for-bit when handed the same query
    set — the serving-shape parameter changes the SOURCE of queries,
    never the scoring."""
    from blackedge_ocr_spark.analysis import retrieval

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    base = retrieval.bm25_topk(docs).collect()
    ext = retrieval.bm25_topk(
        docs, queries=retrieval.query_set(docs)
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, ext))
    assert len(base) > 0


def test_ivfpq_index_probe_prunes_partitions_and_matches_inmemory(
    spark, tmp_path
):
    """The materialized IVF-PQ index: codes stored partitionBy(cid)
    must partition-prune to the probed lists (PartitionFilters in the
    scan, probed directories only), and the pruned ADC + short-list +
    raw-vector re-rank must reproduce the in-memory ``ivfpq_topk``
    bit-for-bit."""
    from blackedge_ocr_spark import plans
    from blackedge_ocr_spark.analysis import ann

    idx = str(tmp_path / "ivfpq")
    ann.write_ivfpq_index(spark, SF, idx)

    codes = spark.read.parquet(f"{idx}/codes")
    all_cids = sorted(
        r["cid"] for r in codes.select("cid").distinct().collect()
    )
    one = codes.filter(F.col("cid") == all_cids[0])
    files = [
        r[0] for r in one.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all(f"cid={all_cids[0]}/" in f for f in files)
    assert len(files) < len(codes.inputFiles())
    fp = plans.formatted_plan(one)
    assert "PartitionFilters" in fp

    got = ann.probe_ivfpq_index(spark, idx).collect()
    want = ann.ivfpq_topk(spark, SF).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # codes really are the compact representation: PQ_M small ids
    row = codes.select("codes").first()
    assert len(row["codes"]) == ann.PQ_M
