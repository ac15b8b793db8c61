"""The benchmark's workloads.

Each workload is closed-loop with one client: a pass starts when the
previous one has finished. A workload has three parts:

- ``materialize(dst)`` writes its seeded inputs under ``dst`` (part of
  set-up, repeated to take a median); ``prepare()`` derives the tables
  the passes read from them, once;
- ``run_pass()`` is the timed work: the calls into the engine's public
  functions, each inside a tracer span;
- ``check(handle)`` runs after the timer stops. It verifies the pass's
  output and returns the documents completed, an order-free checksum
  and the list of failed checks.

A pass is one operation; a pass whose check fails counts as failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs

# ordered hash sums stay far from long overflow (ANSI mode raises)
_HASH_MOD = 2_147_483_647


def hash_sum(*cols):
    """Order-free checksum of rows: Σ pmod(xxhash64(cols), 2^31-1)."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD)))


@dataclass
class Checked:
    docs: int
    checksum: str
    errors: list[str] = field(default_factory=list)
    # per-pass values only a check can read (lineage manifest)
    layers: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    warmup_passes = 1
    # what a pass completes, and the names its rate and cost go by
    item, rate_metric, cost_metric = "doc", "docs_per_s", "core_s_per_kdoc"

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(work_dir, "inputs")

    def materialize(self, dst: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Derive what the passes read from the inputs, once."""

    def run_pass(self):
        raise NotImplementedError

    def check(self, handle) -> Checked:
        raise NotImplementedError


class ExtractSpans(Workload):
    """Flagship ``extract_documents(query_col="query")`` into a noop
    sink over a span table materialized in set-up."""

    name = "extract_spans"
    # CPU per pass keeps falling for ~10 passes (JIT), at a pace that
    # differs between processes; fewer warm-ups made runs bimodal
    warmup_passes = 10
    n_docs = 8000

    def materialize(self, dst: str) -> None:
        inputs.write_table(
            inputs.documents_table(self.seed, self.n_docs),
            os.path.join(dst, "documents.parquet"),
        )

    def prepare(self) -> None:
        from blackedge_ocr_spark.datagen import spansify_documents

        # the span table is materialized once; one file of equal doc
        # count per core, read back as one scan task each: hash-spread
        # files are uneven, and the heaviest sets the stage's wall
        path = os.path.join(self.data_dir, "spans")
        cores = self.spark.sparkContext.defaultParallelism
        spansify_documents(self.spark, self.data_dir).repartition(
            cores
        ).write.mode("overwrite").parquet(path)
        self.spans = self.spark.read.parquet(path)

    def run_pass(self):
        from blackedge_ocr_spark.pipeline import extract_documents

        obs = Observation("extract_spans")
        with self.tracer.span("extract_documents"):
            out = extract_documents(self.spans, query_col="query").observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                hash_sum(
                    "doc_id", "workflow", "content", "used_secondary",
                    F.round("similarity", 6), "reason", "pages", "provider",
                    F.to_json("problems"),
                ).alias("h"),
            )
            out.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, obs) -> Checked:
        got = obs.get
        errors = []
        if got["rows"] != self.n_docs:
            errors.append(f"rows out {got['rows']} != docs in {self.n_docs}")
        return Checked(got["rows"], str(got["h"]), errors)


class CheckpointHtml(Workload):
    """The ``job.py --from-html`` path: segment raw HTML, extract, and
    commit through ``run_with_checkpoint`` three times on one output
    directory — preempted after half the batches, resumed, and resumed
    again over the completed checkpoint (a no-op)."""

    name = "checkpoint_html"
    warmup_passes = 1
    n_docs = 2000
    n_buckets = 4
    buckets_per_batch = 2

    def materialize(self, dst: str) -> None:
        inputs.write_table(
            inputs.documents_table(self.seed, self.n_docs),
            os.path.join(dst, "documents.parquet"),
        )

    def run_pass(self):
        from blackedge_ocr_spark.lineage import run_with_checkpoint
        from blackedge_ocr_spark.pipeline import extract_documents
        from blackedge_ocr_spark.segmentation import (
            htmlify_documents,
            segment_documents,
        )

        out = os.path.join(self.work_dir, "checkpoint")
        shutil.rmtree(out, ignore_errors=True)  # left behind if a pass raised
        docs = segment_documents(htmlify_documents(self.spark, self.data_dir))

        def transform(d):
            return extract_documents(d, query_col=None)

        n_batches = -(-self.n_buckets // self.buckets_per_batch)
        walls = {}
        for phase, cap in (
            ("preempted", max(n_batches // 2, 1)),
            ("resume", None),
            ("noop_resume", None),
        ):
            with self.tracer.span("run_with_checkpoint", phase=phase):
                t = time.perf_counter()
                run_with_checkpoint(
                    self.spark, docs, transform, out,
                    n_buckets=self.n_buckets,
                    buckets_per_batch=self.buckets_per_batch,
                    max_batches=cap,
                )
                walls[phase] = time.perf_counter() - t
        return out, walls

    def check(self, handle) -> Checked:
        out, walls = handle
        lineage = self.spark.read.parquet(os.path.join(out, "_lineage")).collect()
        errors = []
        n_docs = sum(r["n_docs"] for r in lineage)
        if n_docs != self.n_docs:
            errors.append(f"lineage n_docs {n_docs} != source {self.n_docs}")
        parts = sorted(r["part_id"] for r in lineage)
        if parts != list(range(self.n_buckets)):
            errors.append(f"part_ids acked {parts}, want each of 0..{self.n_buckets - 1} once")
        data = self.spark.read.parquet(os.path.join(out, "data"))
        got = data.agg(
            F.count(F.lit(1)).alias("rows"),
            hash_sum("doc_id", "workflow", "content", "used_secondary",
                     "pages", "provider", F.to_json("problems")).alias("h"),
        ).first()
        if got["rows"] != self.n_docs:
            errors.append(f"rows out {got['rows']} != docs in {self.n_docs}")
        # batch_wall_sec repeats on every bucket row of its batch
        batch_walls = sorted({(r["batch"], r["batch_wall_sec"]) for r in lineage})
        batch_s = [w for _, w in batch_walls]
        run_s = walls["preempted"] + walls["resume"] + walls["noop_resume"]
        layers = {
            "lineage.batches": float(len(batch_s)),
            "lineage.batch_s_p50": statistics.median(batch_s) if batch_s else 0.0,
            "lineage.ack_s": run_s - sum(batch_s),
            "lineage.resume_s": walls["noop_resume"],
        }
        shutil.rmtree(out)
        return Checked(n_docs, str(got["h"]), errors, layers)


class CurateDedup(Workload):
    """Curation funnel, semantic dedup and MinHash-LSH candidate pairs
    over the dup-injected corpus: shuffles, driver work between jobs
    and the engine's persist sites; no OCR and no sink."""

    name = "curate_dedup"
    warmup_passes = 1
    n_docs = 1000
    n_vectors = 1000

    def materialize(self, dst: str) -> None:
        inputs.write_table(
            inputs.documents_table(self.seed, self.n_docs),
            os.path.join(dst, "documents.parquet"),
        )
        inputs.write_table(
            inputs.embeddings_table(self.seed, self.n_vectors),
            os.path.join(dst, "embeddings.parquet"),
        )

    def run_pass(self):
        from blackedge_ocr_spark.analysis import dedup
        from blackedge_ocr_spark.analysis.semdedup import semantic_dedup
        from blackedge_ocr_spark.queries import q_curation_funnel

        with self.tracer.span("q_curation_funnel"):
            funnel = q_curation_funnel(self.spark, self.data_dir).collect()
        with self.tracer.span("semantic_dedup"):
            sd = semantic_dedup(self.spark, self.data_dir).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("is_dup").cast("long")).alias("dups"),
                hash_sum("vec_id", "is_dup").alias("h"),
            ).first()
        with self.tracer.span("lsh_candidate_pairs"):
            docs = dedup.with_dup_injection(
                self.spark.read.parquet(
                    os.path.join(self.data_dir, "documents.parquet")
                ).select("doc_id", "text")
            )
            lsh = dedup.lsh_candidate_pairs(docs).agg(
                F.count(F.lit(1)).alias("pairs"),
                F.sum(
                    (F.col("doc_b") - F.col("doc_a") == dedup.DUP_ID_OFFSET)
                    .cast("long")
                ).alias("injected"),
                hash_sum("doc_a", "doc_b", "jaccard").alias("h"),
            ).first()
        return funnel, sd, lsh

    def check(self, handle) -> Checked:
        funnel, sd, lsh = handle
        errors = []
        counts = [r["n_docs"] for r in funnel]
        # with_dup_injection copies every doc whose id is a multiple of 10
        base = inputs.id_base(self.seed)
        n_dups = sum(1 for i in range(base, base + self.n_docs) if i % 10 == 0)
        if counts[0] != self.n_docs + n_dups:
            errors.append(f"funnel ingested {counts[0]} != {self.n_docs + n_dups}")
        if any(b > a for a, b in zip(counts, counts[1:])):
            errors.append(f"funnel not monotone: {counts}")
        if sd["rows"] != self.n_vectors:
            errors.append(f"semantic_dedup rows {sd['rows']} != {self.n_vectors}")
        if lsh["injected"] != n_dups:
            errors.append(f"lsh found {lsh['injected']} of {n_dups} injected copies")
        checksum = "/".join(
            [",".join(map(str, counts)), str(sd["dups"]), str(sd["h"]),
             str(lsh["pairs"]), str(lsh["h"])]
        )
        return Checked(self.n_docs, checksum, errors)


class ServeTopk(Workload):
    """Back-to-back query batches: ``bm25_topk`` with a fixed, seeded
    external query table, then ``probe_ivfpq_index`` against an index
    built in set-up. Broadcast, exchange and driver-side planning; no
    extraction. Items are queries answered, not documents."""

    name = "serve_topk"
    warmup_passes = 2
    item, rate_metric, cost_metric = "query", "queries_per_s", "core_s_per_kq"
    n_docs = 5000
    n_vectors = 2000
    n_queries = 50

    def materialize(self, dst: str) -> None:
        inputs.write_table(
            inputs.documents_table(self.seed, self.n_docs),
            os.path.join(dst, "documents.parquet"),
        )
        inputs.write_table(
            inputs.embeddings_table(self.seed, self.n_vectors),
            os.path.join(dst, "embeddings.parquet"),
        )
        inputs.write_table(
            inputs.query_terms_table(self.seed, self.n_queries),
            os.path.join(dst, "queries.parquet"),
        )

    def prepare(self) -> None:
        from blackedge_ocr_spark.analysis import ann

        self.index = os.path.join(self.work_dir, "ivfpq")
        ann.write_ivfpq_index(self.spark, self.data_dir, self.index)
        read = self.spark.read.parquet
        self.docs = read(os.path.join(self.data_dir, "documents.parquet"))
        self.queries = read(os.path.join(self.data_dir, "queries.parquet"))

    def run_pass(self):
        from blackedge_ocr_spark.analysis import ann, retrieval

        with self.tracer.span("bm25_topk"):
            bm25 = retrieval.bm25_topk(self.docs, queries=self.queries).collect()
        with self.tracer.span("probe_ivfpq_index"):
            probe = ann.probe_ivfpq_index(self.spark, self.index).collect()
        return bm25, probe

    def check(self, handle) -> Checked:
        from blackedge_ocr_spark.analysis.ann import QUERY_EVERY

        bm25, probe = handle
        errors = []
        for name, rows, qcol, idcol in (
            ("bm25", bm25, "query_id", "doc_id"),
            ("ann", probe, "q_id", "neighbor_id"),
        ):
            ranks: dict[int, list[int]] = {}
            for r in rows:
                ranks.setdefault(r[qcol], []).append(r["rank"])
            bad = [q for q, rs in ranks.items() if sorted(rs) != list(range(1, len(rs) + 1))]
            if bad:
                errors.append(f"{name} ranks do not run 1..k for queries {bad[:5]}")
        base = inputs.id_base(self.seed)
        n_ann = sum(1 for i in range(base, base + self.n_vectors) if i % QUERY_EVERY == 0)
        got = (len({r["query_id"] for r in bm25}), len({r["q_id"] for r in probe}))
        if got != (self.n_queries, n_ann):
            errors.append(f"queries answered (bm25, ann) {got} != {(self.n_queries, n_ann)}")
        checksum = hashlib.md5(
            repr((sorted(tuple(r) for r in bm25), sorted(tuple(r) for r in probe))).encode()
        ).hexdigest()[:16]
        return Checked(sum(got), checksum, errors)


WORKLOADS = {
    w.name: w for w in (ExtractSpans, CheckpointHtml, CurateDedup, ServeTopk)
}

