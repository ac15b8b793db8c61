"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "docs_per_sec": ...,
   "parallelism": ...}

The flagship number is end-to-end extraction throughput (docs/sec) on
the interleaved span corpus — the BASELINE.json metric. Each query is
fully materialized with a noop sink (no driver collect), so the
measurement is executor work, not toPandas serialization.

Scaling evidence (local[8] vs local[32]) is produced by
``tools/scaling_bench.py`` and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Queries benched: the flagship pipeline + the shuffle/join-bearing
# analysis queries (one hash agg, one self-join, one rollup).
BENCH_QUERIES = (
    "pipeline_extract",
    "extract_content",
    "validation_decision",
    "similarity_pairs",
    "key_term_freq",
    "problems_rollup",
    "segment_stats",
    "azure_layout",
    "dedup_lsh_pairs",
    "dedup_simhash",
    "ann_topk",
    "ann_ivf_kmeans_topk",
    "embedding_neardup_lsh",
    "dup_ngrams",
    "paragraph_dedup",
    "corpus_shuffle",
    "span_packing",
    "bpe_pairs",
    "doc_features",
    "semantic_dedup",
    "ann_ivfpq_probe",
    "hll_distinct",
    "cms_topk",
    "bloom_probe",
    "sampled_quantiles",
    "boilerplate_strip",
    "curation_funnel",
    "url_dedup",
    "substring_dedup",
    "gopher_rules",
    "ccnet_buckets",
    "c4_filters",
    "c4_span_dedup",
    "unicode_scrub",
    "span_integrity",
    "gopher_repetition",
    "source_drift",
    "lm2_scores",
)


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _resolve_sf_dir() -> str:
    """$SPARK_GRAFT_SF_DIR wins; otherwise bench at sf1 — a
    deterministic 10x scale-up of the driver's sf0.1 testdata
    (tools/make_sf.py, generated once into .data/sf1). Sub-5 s
    sf0.1 queries are noise-dominated even best-of-2; one order of
    magnitude up makes the shuffle-bearing queries measurable. Falls
    back to sf0.1 if generation is unavailable."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    src = "/root/testdata/sf0.1"
    here = os.path.dirname(os.path.abspath(__file__))
    sf1 = os.path.join(here, ".data", "sf1")
    if not os.path.exists(os.path.join(sf1, "documents.parquet")):
        import subprocess

        try:
            subprocess.run(
                [sys.executable, os.path.join(here, "tools", "make_sf.py"),
                 src, sf1, "10"],
                check=True, capture_output=True, timeout=600,
            )
        except Exception:
            return src
    return sf1


def main() -> None:
    from blackedge_ocr_spark.session import build_session

    import __spark_entry__ as se

    sf_dir = _resolve_sf_dir()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    spark = build_session(master=f"local[{cpus}]")
    qs = se.queries()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # Warm up the JVM + Python workers once (tiny scale).
    run_noop(qs["pipeline_extract"](spark, "/root/testdata/sf0.001"))

    # IVF-PQ: bench the SERVING path, not codebook training (round-5
    # item — the r4 ann_ivfpq_topk row was ~all build cost, which a
    # deployment amortizes over the index lifetime). Build the
    # materialized index ONCE here, report its wall separately as
    # ivfpq_build_sec, and let the per-pass row time
    # probe_ivfpq_index against the pre-built index — the cost a
    # query actually pays.
    import shutil
    import tempfile

    from blackedge_ocr_spark.analysis import ann

    ivfpq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
    t0 = time.time()
    ann.write_ivfpq_index(spark, sf_dir, ivfpq_dir)
    ivfpq_build_sec = round(time.time() - t0, 3)
    qs = dict(qs)
    qs["ann_ivfpq_probe"] = (
        lambda s, _sf: ann.probe_ivfpq_index(s, ivfpq_dir)
    )

    # Best of 2 passes per query: this VM shows bursty steal time that
    # can 3x a single measurement; the minimum is the least-noise
    # estimate of the engine's actual cost. Passes are INTERLEAVED
    # (full query list per pass, not reps back-to-back per query) so a
    # noise burst lands on at most one rep of each query instead of
    # swallowing all reps of whichever query it overlaps.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    times: dict[str, float] = {}
    for _ in range(reps):
        for name in BENCH_QUERIES:
            t0 = time.time()
            run_noop(qs[name](spark, sf_dir))
            sec = time.time() - t0
            if name not in times or sec < times[name]:
                times[name] = sec
    times = {k: round(v, 3) for k, v in times.items()}

    shutil.rmtree(ivfpq_dir, ignore_errors=True)

    flagship = times["pipeline_extract"]
    out = {
        "metric": "e2e_extraction_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / flagship, 1) if flagship else None,
        "parallelism": cpus,
        # one-time index construction, amortized in deployment — kept
        # OUT of `queries` so the serving probe row is not misread as
        # training cost (BENCH/ANN.md has the build-vs-probe split)
        "ivfpq_build_sec": ivfpq_build_sec,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
