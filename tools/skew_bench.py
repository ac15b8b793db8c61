"""Skew-resilience bench: a monster document (1000x the tokens of its
neighbors) injected into a replicated corpus, run through the flagship
extraction pipeline three ways:

  balanced     — no monster, shipped pipeline (doc_id spread + AQE)
  skew+spread  — monster injected, shipped pipeline
  skew+naive   — monster injected, NO pre-explode repartition (the
                 single-split trap the pipeline defends against)

Evidence recorded per scenario: wall time plus per-task executorRunTime
p50 / p99 / max across every stage the scenario executed (from the
Spark UI REST API), so the claim is about the task-time TAIL, not just
the average. Rewrites the flagship table and its reading at the top
of BENCH/SKEW.md; the sections below the appendix marker are kept.

Usage: python tools/skew_bench.py [sf_dir] [replicate]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_bench import write_preserving_appendix  # noqa: E402

MONSTER_FACTOR = 1000


def _stages(ui: str, app_id: str) -> list[dict]:
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE"
    return json.load(urllib.request.urlopen(url))


def _task_quantiles(ui: str, app_id: str, stage: int, attempt: int) -> list[float] | None:
    url = (
        f"{ui}/api/v1/applications/{app_id}/stages/{stage}/{attempt}"
        "/taskSummary?quantiles=0.5,0.99,1.0"
    )
    try:
        return json.load(urllib.request.urlopen(url))["executorRunTime"]
    except Exception:
        return None


def scenario_stats(ui: str, app_id: str, after_stage: int) -> dict:
    """Aggregate task-duration tail over all stages newer than
    ``after_stage`` (ms → s)."""
    p50s, p99s, maxes, tasks = [], [], [], 0
    for st in _stages(ui, app_id):
        if st["stageId"] <= after_stage:
            continue
        q = _task_quantiles(ui, app_id, st["stageId"], st["attemptId"])
        if q is None:
            continue
        tasks += st["numCompleteTasks"]
        p50s.append(q[0])
        p99s.append(q[1])
        maxes.append(q[2])
    return {
        "n_tasks": tasks,
        "p50_s": max(p50s, default=0) / 1000,
        "p99_s": max(p99s, default=0) / 1000,
        "max_s": max(maxes, default=0) / 1000,
    }


def last_stage_id(ui: str, app_id: str) -> int:
    return max((s["stageId"] for s in _stages(ui, app_id)), default=-1)


def main() -> int:
    import pyspark.sql.functions as F

    from blackedge_ocr_spark.datagen import replicate_corpus, spansify_frame
    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    base = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")

    def corpus(monster: bool, spread: bool):
        d = base
        if spread:
            d = d.repartition(cpus * 4, "doc_id")
        d = replicate_corpus(d, rep)
        if monster:
            # one hot row: doc_id 7 carries 1000x the tokens — a single
            # row cannot be split, so this is the worst skew a row-wise
            # engine can face.
            d = d.withColumn(
                "text",
                F.when(
                    F.col("doc_id") == 7,
                    F.array_join(
                        F.array_repeat(F.col("text"), MONSTER_FACTOR), " "
                    ),
                ).otherwise(F.col("text")),
            )
        return spansify_frame(d)

    def run(name: str, monster: bool, spread: bool) -> dict:
        mark = last_stage_id(ui, app_id)
        t0 = time.time()
        out = extract_documents(corpus(monster, spread), query_col="query")
        out.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        stats = scenario_stats(ui, app_id, mark)
        row = {"scenario": name, "wall_s": round(wall, 2), **{
            k: round(v, 2) if isinstance(v, float) else v
            for k, v in stats.items()
        }}
        print(json.dumps(row))
        return row

    # warmup (JIT + Arrow worker spin-up)
    extract_documents(corpus(False, True).limit(200)).write.format(
        "noop"
    ).mode("overwrite").save()

    rows = [
        run("balanced + spread", monster=False, spread=True),
        run("skew1000x + spread (shipped)", monster=True, spread=True),
        run("skew1000x + naive (no repartition)", monster=True, spread=False),
    ]

    spark.stop()

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "SKEW.md",
    )
    write_preserving_appendix(
        out_path, flagship_report(rows, sf_dir, rep, cpus)
    )
    print(f"wrote {out_path}")
    return 0


def flagship_report(
    rows: list[dict], sf_dir: str, rep: int, cpus: int
) -> list[str]:
    """The flagship table and its reading: the part of BENCH/SKEW.md
    above the appendix marker, the only part this tool rewrites."""
    md = [
        "# BENCH/SKEW — mega-document skew resilience",
        "",
        f"Corpus: `{sf_dir}` documents x{rep} replicas; scenario 2/3 make",
        f"doc_id 7 a monster row with {MONSTER_FACTOR}x the tokens",
        "(~2,500 spans — the worst single-row skew the engine can face,",
        "since one document is one row and cannot be split). local"
        f"[{cpus}], AQE on. Task times from the Spark UI REST API",
        "(executorRunTime; p50/p99/max are the worst stage's quantiles).",
        "",
        "| scenario | wall s | tasks | task p50 s | task p99 s | task max s |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['scenario']} | {r['wall_s']} | {r['n_tasks']} "
            f"| {r['p50_s']} | {r['p99_s']} | {r['max_s']} |"
        )
    return md + [
        "",
        "## Reading the flagship table",
        "",
        "Reading: the shipped pipeline's hash spread on doc_id plus",
        "linear per-row stages keep the task tail bounded — the monster",
        "adds its own (linear) cost to exactly one task; the naive",
        "variant shows the single-split trap: the whole corpus",
        "serializes through one scan task while the other cores idle.",
        "The monster's cost cannot be subdivided further without",
        "splitting the row (the split path that did so is gone; what",
        "it bought is recorded below); bounding co-batched rows is the",
        "Arrow maxRecordsPerBatch setting's job, not the partitioner's.",
        "",
        "(See git history of this file for the 28 s HOF-inlining",
        "quadratic this bench caught in round 2 and the three fixes.)",
        "",
        "The sections below the marker come from other tools and",
        "hand-run probes; regeneration keeps them byte for byte.",
        "",
    ]


if __name__ == "__main__":
    raise SystemExit(main())
