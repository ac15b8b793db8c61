"""Partition-level checkpointing with per-partition lineage + metrics.

North-rule requirement: the extraction job must be *resumable from
checkpoint* with per-partition lineage and span-count/error metrics.
The reference has no analog (it is a stateless request/response
service); this is the Spark-native replacement for Structured
Streaming state, per SURVEY §4.3-4:

- The corpus is bucketed into ``n_buckets`` partitions by
  ``pmod(xxhash64(doc_id), n_buckets)`` — the same deterministic
  assignment every run.
- Buckets are processed in batches; each batch's output lands under
  ``{output}/data/part_id=N/`` (Hive-partitioned parquet — the
  Iceberg-partition stand-in available in this container) and is
  acknowledged by appending one lineage row per bucket to
  ``{output}/_lineage/``. The data publish uses dynamic partition
  overwrite, so a kill BETWEEN data write and lineage ack is safe:
  the rerun replaces the unacked bucket's partitions instead of
  appending a second copy.
- On rerun, buckets already present in the lineage manifest are
  skipped *before* any compute (partition pruning via an isin filter
  on the bucket column), so a killed job resumes where it stopped.

Lineage row: part_id, n_docs, n_spans, n_problem_docs, n_used_secondary,
n_errors, batch_wall_sec, batch — enough to audit completeness (sum of
n_docs vs source count) and locate data-quality hotspots per bucket.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans", T.LongType(), False),
        T.StructField("n_problem_docs", T.LongType(), False),
        T.StructField("n_used_secondary", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        # the BATCH's wall clock, identical on every bucket row of the
        # batch (a per-bucket split would be a guess — buckets run
        # concurrently inside one action); named to say so.
        T.StructField("batch_wall_sec", T.DoubleType(), False),
        T.StructField("batch", T.IntegerType(), False),
        # the bucketing the part_ids are defined AGAINST — resuming
        # with a different --n-buckets silently loses (larger->smaller)
        # or duplicates (smaller->larger) data, so the manifest pins it
        T.StructField("n_buckets", T.IntegerType(), False),
    ]
)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop ``FileSystem``
    directly: no Spark read, so no job and no logged warning."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def read_parquet_or_none(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when the path does not
    exist. ONLY a missing path means absent (a fresh run, a first
    batch): a corrupt or schema-conflicting table must fail loudly —
    treating it as empty would silently reprocess or re-emit data.
    A known ``schema`` skips the footer-inference job; a corrupt file
    then fails when the read runs instead of here."""
    if not path_exists(spark, path):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic bucket column on doc_id (same every run)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(
    spark: SparkSession, output: str, n_buckets: int | None = None
) -> set[int]:
    # a corrupt manifest raises: treating it as fresh would reprocess
    # every bucket AND append duplicate lineage rows, double-counting
    # the completeness audit. A manifest written before n_buckets was
    # pinned reads it as NULL, which skips the bucketing check.
    manifest = read_parquet_or_none(spark, f"{output}/_lineage", LINEAGE_SCHEMA)
    if manifest is None:
        return set()
    rows = manifest.select("part_id", "n_buckets").collect()
    seen = {r["n_buckets"] for r in rows} - {None}
    if n_buckets is not None and seen and seen != {n_buckets}:
        raise ValueError(
            f"checkpoint at {output} was written with "
            f"n_buckets={sorted(seen)} but this run uses "
            f"n_buckets={n_buckets}; part_ids are not "
            "comparable across bucketings — rerun with the "
            "original value or use a fresh output dir"
        )
    return {r["part_id"] for r in rows}


def run_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    transform,
    output: str,
    n_buckets: int = 16,
    buckets_per_batch: int = 4,
    max_batches: int | None = None,
) -> dict:
    """Process ``docs`` through ``transform`` bucket-batch by
    bucket-batch, checkpointing each batch.

    transform: DataFrame -> DataFrame producing the RESULT_SCHEMA
    columns (out_spans, problems, used_secondary, ...). ``max_batches``
    caps work for this invocation (simulates preemption; rerun to
    finish).

    Returns {"processed": [...part_ids...], "skipped": [...]}.
    """
    docs = with_bucket(docs, n_buckets)
    done = completed_buckets(spark, output, n_buckets)
    todo = sorted(set(range(n_buckets)) - done)
    batches = [
        todo[i : i + buckets_per_batch]
        for i in range(0, len(todo), buckets_per_batch)
    ]
    if max_batches is not None:
        batches = batches[:max_batches]

    processed: list[int] = []
    for bi, bucket_ids in enumerate(batches):
        t0 = time.time()
        part = docs.filter(F.col("part_id").isin(bucket_ids))
        result = transform(part.drop("part_id"))
        result = with_bucket(result, n_buckets)
        # Idempotent publish (crash between data write and lineage ack):
        # dynamic partition overwrite replaces exactly the part_id
        # partitions this batch produces, so re-running an unacked
        # bucket swaps in a fresh copy instead of appending duplicates.
        # Acked buckets are never revisited (pruned above), so their
        # partitions are never touched again.
        result.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part_id").parquet(f"{output}/data")
        wall = time.time() - t0

        # Metrics come from the files just written — auditing the
        # actual sink contents — rather than re-executing the whole
        # transform (including its Arrow OCR stage) a second time.
        # Only this batch's partition directories are listed, read with
        # the schema just written, so no job infers it from a footer.
        # A bucket without documents writes no directory; an ALL-EMPTY
        # batch reads nothing and acks zero-doc lineage rows instead of
        # looping on the same empty batch forever.
        dirs = [f"{output}/data/part_id={pid}" for pid in bucket_ids]
        written = [d for d in dirs if path_exists(spark, d)]
        metrics = [] if not written else (
            spark.read.schema(result.schema)
            .option("basePath", f"{output}/data")
            .parquet(*written)
            .groupBy("part_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("out_spans")).alias("n_spans"),
                F.sum((F.size("problems") > 0).cast("long")).alias(
                    "n_problem_docs"
                ),
                F.sum(F.col("used_secondary").cast("long")).alias(
                    "n_used_secondary"
                ),
                F.sum(F.col("workflow").isNull().cast("long")).alias("n_errors"),
            )
            .collect()
        )
        by_part = {m["part_id"]: m for m in metrics}
        rows = []
        for pid in bucket_ids:
            m = by_part.get(pid)
            rows.append(
                (
                    pid,
                    m["n_docs"] if m else 0,
                    m["n_spans"] if m else 0,
                    m["n_problem_docs"] if m else 0,
                    m["n_used_secondary"] if m else 0,
                    m["n_errors"] if m else 0,
                    float(wall),
                    bi,
                    n_buckets,
                )
            )
        # from pandas: Arrow ships the rows as a local relation, where
        # a list goes through a Python RDD and its own stage
        spark.createDataFrame(
            pd.DataFrame(rows, columns=LINEAGE_SCHEMA.names), LINEAGE_SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{output}/_lineage")
        processed.extend(bucket_ids)

    return {"processed": processed, "skipped": sorted(done)}
