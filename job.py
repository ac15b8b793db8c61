"""spark-submit entry point for the extraction engine.

Usage (cluster):
    zip -r engine.zip blackedge_ocr_spark
    spark-submit --py-files engine.zip job.py \
        --sf-dir /root/testdata/sf0.1 --output /tmp/extract_out \
        --n-buckets 64 --buckets-per-batch 8

The job spansifies (or segments, with --from-html) the corpus, runs
the extract-then-validate pipeline, and writes Hive-partitioned
parquet with a per-partition lineage manifest. Rerunning after a kill
resumes: completed buckets are pruned before any compute.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-batch", type=int, default=4)
    ap.add_argument("--max-batches", type=int, default=None,
                    help="cap batches this invocation (resume later)")
    ap.add_argument("--from-html", action="store_true",
                    help="ingest via the HTML segmentation stage")
    ap.add_argument("--mega-chunk", type=int, default=None,
                    help="span-count threshold/slice size for the "
                    "mega-document split path: documents above it run "
                    "every span-linear stage chunk-parallel (see "
                    "pipeline.extract_documents mega_media_chunk; "
                    "size to the per-task model budget, e.g. 256)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from blackedge_ocr_spark.datagen import spansify_documents
    from blackedge_ocr_spark.lineage import (
        LINEAGE_SCHEMA,
        read_parquet_or_none,
        run_with_checkpoint,
    )
    from blackedge_ocr_spark.pipeline import extract_documents
    from blackedge_ocr_spark.session import build_session

    spark = build_session(master=args.master, app_name="blackedge-extract")
    if args.from_html:
        from blackedge_ocr_spark.segmentation import (
            htmlify_documents,
            segment_documents,
        )

        docs = segment_documents(htmlify_documents(spark, args.sf_dir))
        transform = lambda d: extract_documents(
            d, query_col=None, mega_media_chunk=args.mega_chunk
        )
    else:
        docs = spansify_documents(spark, args.sf_dir)
        transform = lambda d: extract_documents(
            d, query_col="query", mega_media_chunk=args.mega_chunk
        )

    report = run_with_checkpoint(
        spark,
        docs,
        transform,
        args.output,
        n_buckets=args.n_buckets,
        buckets_per_batch=args.buckets_per_batch,
        max_batches=args.max_batches,
    )
    # a run that processed zero batches against a fresh output dir
    # has no manifest yet — print an empty summary, don't crash
    lineage = read_parquet_or_none(
        spark, f"{args.output}/_lineage", LINEAGE_SCHEMA
    )
    summary = {}
    if lineage is not None:
        rows = lineage.collect()  # one row per bucket: small
        summary = {
            c: sum(r[c] for r in rows)
            for c in ("n_docs", "n_spans", "n_problem_docs", "n_errors")
        }
        # compute wall = sum of per-batch walls (batch_wall_sec is
        # identical on every bucket row of a batch — distinct first).
        # Excludes JVM/session startup; cumulative across resumed
        # runs sharing this output dir.
        wall = sum(w for _, w in {(r["batch"], r["batch_wall_sec"]) for r in rows})
        summary["wall_s"] = round(float(wall), 3)
    print(json.dumps({
        "processed": len(report["processed"]),
        "skipped": len(report["skipped"]),
        "totals": summary,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
