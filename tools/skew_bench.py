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
the average. Writes BENCH/SKEW.md.

Usage: python tools/skew_bench.py [sf_dir] [replicate]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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

    # ---- scenario group 2: media-monster OCR (mega_media_chunk) ----
    # One document with MEDIA_MONSTER media spans, everyone else ~10.
    # SPARK_GRAFT_OCR_BURN emulates per-page model latency (~1 ms) so
    # the inference stage dominates like it would with a real model;
    # without it the md5 stand-in finishes 20k pages in ~50 ms and no
    # partitioning strategy is measurable.
    media_monster = int(os.environ.get("SPARK_GRAFT_MEDIA_MONSTER", "20000"))
    # Threaded as an explicit UDF-closure parameter (ocr_burn), NOT an
    # env mutation — worker env is frozen once the first daemon spins
    # up, so os.environ changes here never reach executors.
    ocr_burn = int(os.environ.get("SPARK_GRAFT_OCR_BURN", "1000"))

    def media_corpus():
        d = spark.range(0, 512, 1, cpus * 4).select(
            F.col("id").cast("string").alias("doc_id"),
            F.lit("extract data").alias("query"),
        )
        n = F.when(F.col("doc_id") == "7", media_monster).otherwise(10)
        spans = F.transform(
            F.sequence(F.lit(0), n.cast("int") - 1),
            lambda i: F.struct(
                F.when((F.col("doc_id") == "7") | (i % 3 == 0), "image")
                .otherwise("text")
                .alias("kind"),
                F.when(
                    (F.col("doc_id") == "7") | (i % 3 == 0), ""
                )
                .otherwise(F.concat(F.lit("plain body words number "), i))
                .alias("text"),
                F.when(
                    (F.col("doc_id") == "7") | (i % 3 == 0),
                    F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), i),
                )
                .otherwise("")
                .alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        )
        return d.select("doc_id", spans.alias("spans"), "query")

    def run_media(name: str, chunk: int | None) -> dict:
        mark = last_stage_id(ui, app_id)
        t0 = time.time()
        out = extract_documents(
            media_corpus(), query_col="query", mega_media_chunk=chunk,
            ocr_burn=ocr_burn,
        )
        out.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        stats = scenario_stats(ui, app_id, mark)
        row = {"scenario": name, "wall_s": round(wall, 2), **{
            k: round(v, 2) if isinstance(v, float) else v
            for k, v in stats.items()
        }}
        print(json.dumps(row))
        return row

    media_rows = [
        run_media(f"media-monster {media_monster}x, one row (shipped default)", None),
        run_media(f"media-monster {media_monster}x, mega_media_chunk=256", 256),
    ]

    spark.stop()

    n_docs = None
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
    md += [
        "",
        "## Mega-document skew: one media-monster document (ALL stages chunked)",
        "",
        f"512 docs, doc 7 carries {media_monster} media spans (everyone",
        "else 10); per-page model latency emulated at ~1 ms via",
        "SPARK_GRAFT_OCR_BURN (the md5 stand-in alone finishes 20k pages",
        "in ~50 ms — nothing to defend against). Default path = the",
        "monster is ONE Arrow batch entry in one task; chunked path =",
        "mega_media_chunk=256 explodes the sorted spans into 256-span",
        "slices and runs EVERY span-linear stage per slice (OCR, fill,",
        "problem regexes, content segments, similarity features),",
        "merging associatively; chunks are dealt round-robin with an",
        "explicit partition count (AQE would coalesce them back into",
        "one task). Output byte-identical incl. out_spans/problems,",
        "tests/test_edge_cases.py.",
        "",
        "| scenario | wall s | tasks | task p50 s | task p99 s | task max s |",
        "|---|---|---|---|---|---|",
    ]
    for r in media_rows:
        md.append(
            f"| {r['scenario']} | {r['wall_s']} | {r['n_tasks']} "
            f"| {r['p50_s']} | {r['p99_s']} | {r['max_s']} |"
        )
    md += [
        "",
        "## Reading the flagship table",
        "",
        "Reading: the shipped pipeline's hash spread on doc_id plus",
        "linear per-row stages keep the task tail bounded — the monster",
        "adds its own (linear) cost to exactly one task; the naive",
        "variant shows the single-split trap: the whole corpus",
        "serializes through one scan task while the other cores idle.",
        "The monster's cost cannot be subdivided further without",
        "splitting the row — bounding co-batched rows is the Arrow",
        "maxRecordsPerBatch setting's job, not the partitioner's.",
        "",
        "(See git history of this file for the 28 s HOF-inlining",
        "quadratic this bench caught in round 2 and the three fixes.)",
        "",
    ]
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "SKEW.md",
    )
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("\n".join(md))
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
