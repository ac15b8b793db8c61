"""Checkpoint/resume + lineage metrics tests (SURVEY §4.3-4)."""

import pyspark.sql.functions as F

from blackedge_ocr_spark.datagen import spansify_documents
from blackedge_ocr_spark.lineage import (
    completed_buckets,
    run_with_checkpoint,
    with_bucket,
)
from blackedge_ocr_spark.pipeline import extract_documents

SF = "/root/testdata/sf0.001"


def _transform(d):
    return extract_documents(d, query_col="query")


def test_interrupted_run_resumes_without_recompute(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    docs = spansify_documents(spark, SF)

    # first invocation: only 2 of 4 batches (simulated preemption)
    r1 = run_with_checkpoint(
        spark, docs, _transform, out, n_buckets=8, buckets_per_batch=2,
        max_batches=2,
    )
    assert len(r1["processed"]) == 4 and r1["skipped"] == []
    assert completed_buckets(spark, out) == set(r1["processed"])

    # resume: remaining buckets only
    r2 = run_with_checkpoint(
        spark, docs, _transform, out, n_buckets=8, buckets_per_batch=2,
    )
    assert sorted(r2["skipped"]) == sorted(r1["processed"])
    assert sorted(r1["processed"] + r2["processed"]) == list(range(8))

    # output is complete and duplicate-free
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 500
    assert data.select("doc_id").distinct().count() == 500

    # third run: everything skipped, nothing recomputed
    r3 = run_with_checkpoint(
        spark, docs, _transform, out, n_buckets=8, buckets_per_batch=2,
    )
    assert r3["processed"] == [] and len(r3["skipped"]) == 8
    assert spark.read.parquet(f"{out}/data").count() == 500


def test_midbatch_crash_leaves_no_duplicates(spark, tmp_path):
    """Kill BETWEEN data write and lineage ack: a partial bucket 0 is
    on disk with no manifest row. The rerun must replace it (dynamic
    partition overwrite), not append a second copy."""
    out = str(tmp_path / "ckpt3")
    docs = spansify_documents(spark, SF)
    b = with_bucket(docs, 4)

    partial = b.filter(
        (F.col("part_id") == 0) & (F.col("doc_id").cast("long") % 2 == 0)
    )
    crashed = with_bucket(_transform(partial.drop("part_id")), 4)
    crashed.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(f"{out}/data")
    assert spark.read.parquet(f"{out}/data").count() > 0
    assert completed_buckets(spark, out) == set()  # never acked

    r = run_with_checkpoint(
        spark, docs, _transform, out, n_buckets=4, buckets_per_batch=2
    )
    assert sorted(r["processed"]) == [0, 1, 2, 3] and r["skipped"] == []
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 500
    assert data.select("doc_id").distinct().count() == 500
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.groupBy().sum("n_docs").collect()[0][0] == 500


def test_lineage_metrics_account_for_every_doc(spark, tmp_path):
    out = str(tmp_path / "ckpt2")
    docs = spansify_documents(spark, SF)
    run_with_checkpoint(
        spark, docs, _transform, out, n_buckets=4, buckets_per_batch=4,
    )
    lineage = spark.read.parquet(f"{out}/_lineage")
    rows = lineage.collect()
    assert {r["part_id"] for r in rows} == {0, 1, 2, 3}
    assert sum(r["n_docs"] for r in rows) == 500
    assert sum(r["n_errors"] for r in rows) == 0
    assert all(r["batch_wall_sec"] > 0 for r in rows)
    # span totals match a direct count
    n_spans = docs.select(F.sum(F.size("spans"))).collect()[0][0]
    assert sum(r["n_spans"] for r in rows) == n_spans
    # bucket assignment is deterministic across runs
    a = with_bucket(docs, 4).select("doc_id", "part_id").collect()
    b = with_bucket(docs, 4).select("doc_id", "part_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_empty_first_batch_acks_and_completes(spark, tmp_path):
    """A first batch whose buckets hold ZERO documents must ack
    zero-doc lineage rows and continue — not crash on the schemaless
    parquet dir and loop forever on rerun."""
    import pyspark.sql.functions as F

    from blackedge_ocr_spark.lineage import completed_buckets, with_bucket

    # one doc whose bucket falls OUTSIDE the first batch (ids 0-3)
    cand = spark.range(0, 64).select(F.col("id").cast("string").alias("doc_id"))
    picked = (
        with_bucket(cand, 16)
        .filter(F.col("part_id") >= 8)
        .limit(1)
        .collect()[0]["doc_id"]
    )
    docs = spark.createDataFrame(
        [(picked, "alpha beta gamma")], "doc_id string, text string"
    )

    def transform(d):
        return d.select(
            "doc_id",
            F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ).alias("out_spans"),
            F.array().cast(
                "array<struct<offset:int,labels:array<string>>>"
            ).alias("problems"),
            F.lit(False).alias("used_secondary"),
            F.lit("wf").alias("workflow"),
        )

    from blackedge_ocr_spark.lineage import run_with_checkpoint

    report = run_with_checkpoint(
        spark, docs, transform, str(tmp_path / "o"),
        n_buckets=16, buckets_per_batch=4,
    )
    assert sorted(report["processed"]) == list(range(16))
    assert completed_buckets(spark, str(tmp_path / "o")) == set(range(16))
    lineage = spark.read.parquet(str(tmp_path / "o") + "/_lineage")
    assert lineage.count() == 16
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == 1


def test_resume_with_different_n_buckets_refuses(spark, tmp_path):
    """part_ids are defined against one bucketing — a resume with a
    different --n-buckets must fail loudly, not silently skip or
    duplicate work."""
    import pyspark.sql.functions as F
    import pytest

    from blackedge_ocr_spark.lineage import run_with_checkpoint

    docs = spark.createDataFrame(
        [(str(i), "alpha beta") for i in range(20)],
        "doc_id string, text string",
    )

    def transform(d):
        return d.select(
            "doc_id",
            F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ).alias("out_spans"),
            F.array().cast(
                "array<struct<offset:int,labels:array<string>>>"
            ).alias("problems"),
            F.lit(False).alias("used_secondary"),
            F.lit("wf").alias("workflow"),
        )

    out = str(tmp_path / "o")
    run_with_checkpoint(spark, docs, transform, out, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        run_with_checkpoint(spark, docs, transform, out, n_buckets=64)


def _empty_transform(d):
    return d.select(
        "doc_id",
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("out_spans"),
        F.array().cast("array<struct<offset:int,labels:array<string>>>").alias(
            "problems"
        ),
        F.lit(False).alias("used_secondary"),
        F.lit("wf").alias("workflow"),
    )


def test_corrupt_manifest_fails_loudly(spark, tmp_path):
    """Garbage in the lineage manifest must raise on resume — read as
    absent, it would reprocess every bucket and append duplicate
    lineage rows."""
    import os

    import pytest

    docs = spark.createDataFrame(
        [(str(i), "alpha beta") for i in range(20)],
        "doc_id string, text string",
    )
    out = str(tmp_path / "o")
    run_with_checkpoint(
        spark, docs, _empty_transform, out, n_buckets=4, buckets_per_batch=2,
        max_batches=1,
    )
    before = sorted(os.listdir(f"{out}/data"))
    with open(f"{out}/_lineage/part-99999-corrupt.parquet", "wb") as f:
        f.write(b"\x00garbage, not a parquet file\xff" * 8)
    with pytest.raises(Exception):
        run_with_checkpoint(
            spark, docs, _empty_transform, out, n_buckets=4,
            buckets_per_batch=2,
        )
    assert sorted(os.listdir(f"{out}/data")) == before


def test_manifest_without_n_buckets_resumes(spark, tmp_path):
    """A manifest written before ``n_buckets`` was pinned still reads:
    its buckets count as done and the bucketing check is skipped."""
    from blackedge_ocr_spark.lineage import LINEAGE_SCHEMA

    out = str(tmp_path / "o")
    old = [f for f in LINEAGE_SCHEMA.fields if f.name != "n_buckets"]
    spark.createDataFrame(
        [(p, 0, 0, 0, 0, 0, 0.0, 0) for p in (0, 1)],
        LINEAGE_SCHEMA.__class__(old),
    ).write.parquet(f"{out}/_lineage")
    assert completed_buckets(spark, out, 4) == {0, 1}

    docs = spark.createDataFrame(
        [(str(i), "alpha beta") for i in range(20)],
        "doc_id string, text string",
    )
    r = run_with_checkpoint(spark, docs, _empty_transform, out, n_buckets=4)
    assert r["skipped"] == [0, 1] and r["processed"] == [2, 3]
    assert completed_buckets(spark, out, 4) == {0, 1, 2, 3}


def test_pushed_bucket_filter_keeps_bucket_membership(spark, tmp_path):
    """The bucket filter reaches the scan below the HTML parse, where
    it hashes the source doc_id cast to string: every bucket must hold
    exactly the docs ``with_bucket`` assigns it on the unfiltered
    segmented corpus — none lost, none in two buckets."""
    from blackedge_ocr_spark.segmentation import (
        htmlify_documents,
        segment_documents,
    )

    seg = segment_documents(htmlify_documents(spark, SF))

    def transform(d):
        # keeps the parsed spans, so the parse stays in the plan
        return d.select(
            "doc_id",
            F.col("spans").alias("out_spans"),
            F.array().cast("array<struct<offset:int,labels:array<string>>>").alias(
                "problems"
            ),
            F.lit(False).alias("used_secondary"),
            F.lit("wf").alias("workflow"),
        )

    out = str(tmp_path / "o")
    run_with_checkpoint(
        spark, seg, transform, out, n_buckets=4, buckets_per_batch=2,
    )
    written = spark.read.parquet(f"{out}/data").select("part_id", "doc_id")
    expected = with_bucket(seg, 4).select("part_id", "doc_id").collect()
    assert len(expected) == 500
    assert {r["part_id"] for r in expected} == {0, 1, 2, 3}
    assert sorted(map(tuple, written.collect())) == sorted(map(tuple, expected))
