"""SparkSession factory with the engine's scale-tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# PySpark daemon entry shipped next to the package (repo root).
DAEMON_MODULE = "blackedge_worker_daemon"


def build_session(
    master: str | None = None,
    app_name: str = "blackedge-ocr-spark",
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 2048,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session configured for the extraction pipeline.

    - AQE on (runtime coalesce + skew-join splitting).
    - Arrow enabled; ``maxRecordsPerBatch`` bounded because span-array
      rows are fat (mega-docs) — keeps Arrow batches inside executor
      memory at 100 TB scale.
    - shuffle partitions sized to cores in local mode (the pipeline
      itself is shuffle-free; this matters for the analysis queries).
    - Python workers import the installed pyspark, not Spark's
      ``pyspark.zip`` (``blackedge_worker_daemon``), for a local master
      when that module sits next to the package: its directory goes on
      the daemon's ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``),
      whatever the JVM's working directory. Elsewhere Spark's default
      daemon runs: ``spark-submit --py-files`` (``tools/submit_job.py``)
      imports the package from a zip, and standalone executors
      (``tools/_cluster_runner.py``) receive the engine as a task
      include, after their daemon has started. ``extra_conf``
      overrides either key like any other.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        local_n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = int(local_n) if local_n.isdigit() else 2 * int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in {**daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def daemon_conf(master: str) -> dict:
    """``spark.python.daemon.module`` and the ``PYTHONPATH`` its daemon
    needs to import it, for a local master and an engine imported from
    a directory that holds ``DAEMON_MODULE``; empty otherwise."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = master == "local" or master.startswith("local[")
    if not local or not os.path.isfile(os.path.join(root, DAEMON_MODULE + ".py")):
        return {}
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": root,
    }


def spread_if_starved(df, target: int | None = None, *cols):
    """Split-starvation gate, shared by every scan-side widen in the
    engine (``queries._docs``, ``datagen.spansify_documents``,
    ``segmentation.htmlify_documents``,
    ``analysis.ann._spread`` for embeddings): repartition ONLY when
    the scan yields fewer partitions than cores — the sf test parquet
    arrives as one split; fewer scan tasks than cores serializes
    every per-row stage. At real scale
    the scan itself yields thousands of splits and this is a no-op —
    an unconditional repartition there would shuffle the full input
    to buy nothing. ``target`` overrides the widen width (default
    defaultParallelism); ``cols`` switch round-robin to hash
    partitioning for downstream key locality."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        width = target if target is not None else par
        return df.repartition(width, *cols) if cols else df.repartition(width)
    return df
