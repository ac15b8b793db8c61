"""Mid-commit fault injection for the persistent-registry streaming
operators (round 4): crash the driver BETWEEN the per-batch writes —
after the sink commit, after each registry append — then restart on
the same checkpoint so foreachBatch retries the SAME batch_id, and
assert the final output has no lost and no duplicated keepers vs the
expected first-arrival semantics.

The crash points are the ``_crash_hook(stage, batch_id)`` surface the
operators expose; each test raises exactly once at one stage of
batch 0, lets the retry complete, and checks exact output parity."""

from __future__ import annotations

import os
import shutil
import time

import pytest

# RAW_DOCUMENTS_SCHEMA shape (the ingest contract of the streaming ops)
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _row(doc_id, text):
    return (doc_id, text, "en", "crawl", len(text))


def _write_batches(spark, tmp_path, inp, batches):
    """One parquet FILE per micro-batch, mtime-ordered: the file
    stream source lists files (not directories), exactly like the
    restart-parity tests stage their input."""
    inp.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(batches):
        stage = tmp_path / f"_stage{i}_{len(list(inp.iterdir()))}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        src = next(p for p in stage.iterdir() if p.suffix == ".parquet")
        dst = inp / f"file{len(list(inp.iterdir()))}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))


def _crash_once(stage: str):
    fired = {"done": False}

    def hook(s, batch_id):
        if s == stage and batch_id == 0 and not fired["done"]:
            fired["done"] = True
            raise RuntimeError(f"injected crash {s}@{batch_id}")

    return hook, fired


def _run_to_end(start_fn):
    """Start the stream, swallow the injected failure, restart until
    it drains cleanly (availableNow terminates when caught up)."""
    q = start_fn()
    try:
        q.awaitTermination()
        return False
    except Exception:
        q2 = start_fn()
        q2.awaitTermination()
        return True


DEDUP_BATCHES = [
    [
        _row(0, "alpha bravo charlie delta echo foxtrot"),
        _row(1, "alpha bravo charlie delta echo foxtrot"),  # in-batch dup of 0
        _row(2, "golf hotel india juliett kilo lima mike"),
    ],
    [
        _row(10, "golf hotel india juliett kilo lima mike"),  # cross-batch dup of 2
        _row(11, "november oscar papa quebec romeo sierra"),
    ],
]
DEDUP_KEEPERS = {0, 2, 11}


@pytest.mark.parametrize("stage", ["after_output", "after_bloom", "after_registry"])
def test_stream_dedup_crash_between_writes(spark, tmp_path, stage):
    from blackedge_ocr_spark.streaming import stream_dedup

    inp = tmp_path / "in"
    _write_batches(spark, tmp_path, inp, DEDUP_BATCHES)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    reg, bloom = str(tmp_path / "reg"), str(tmp_path / "bloom")
    hook, fired = _crash_once(stage)

    crashed = _run_to_end(
        lambda: stream_dedup(
            spark, str(inp), out, ckpt, reg, bloom_dir=bloom,
            _crash_hook=hook,
        )
    )
    assert crashed and fired["done"], "injection did not fire"
    got = spark.read.parquet(out).select("doc_id").collect()
    ids = [r["doc_id"] for r in got]
    assert sorted(ids) == sorted(set(ids)), "duplicated keeper rows"
    assert set(ids) == DEDUP_KEEPERS, "lost or extra keepers"
    # registry converged to exactly the distinct hashes, usable by a
    # later batch: a third run with a re-delivered batch emits nothing
    _write_batches(spark, tmp_path, inp, [DEDUP_BATCHES[0]])
    q3 = stream_dedup(spark, str(inp), out, ckpt, reg, bloom_dir=bloom)
    q3.awaitTermination()
    ids3 = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    assert sorted(ids3) == sorted(ids), "re-delivery emitted duplicates"


NEAR_BASE = (
    "quarterly revenue summary table northern region adjusted operating "
    "margin headcount detail prepared finance"
)
# doc 10 repeats doc 0's text verbatim: Jaccard 1.0, so it collides
# in EVERY band — the suppression is deterministic (a merely-near
# duplicate may miss all 4 bands by minhash luck; this test is about
# crash idempotence, not banding recall)
NEARDUP_BATCHES = [
    [
        _row(0, NEAR_BASE + " variant one"),
        _row(1, "completely different content about gardens and rivers flowing"),
    ],
    [
        _row(10, NEAR_BASE + " variant one"),  # dup of 0 -> suppressed
        _row(11, "another unrelated text on astronomy telescopes and optics"),
    ],
]
NEARDUP_SURVIVORS = {0, 1, 11}


@pytest.mark.parametrize("stage", ["after_output", "after_sigs", "after_bands"])
def test_stream_neardup_crash_between_writes(spark, tmp_path, stage):
    from blackedge_ocr_spark.streaming import stream_neardup

    inp = tmp_path / "in"
    _write_batches(spark, tmp_path, inp, NEARDUP_BATCHES)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    bands, sigs = str(tmp_path / "bands"), str(tmp_path / "sigs")
    hook, fired = _crash_once(stage)

    crashed = _run_to_end(
        lambda: stream_neardup(
            spark, str(inp), out, ckpt, bands, sigs, _crash_hook=hook
        )
    )
    assert crashed and fired["done"], "injection did not fire"
    ids = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    assert sorted(ids) == sorted(set(ids)), "duplicated survivor rows"
    assert set(ids) == NEARDUP_SURVIVORS, "lost or extra survivors"
    # the registries converged: no duplicate shingle rows per doc, and
    # the band positions never double-count a batch's own docs
    sig_rows = spark.read.parquet(sigs).groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in sig_rows), "duplicate shingle rows"


CDC_BATCHES = [
    [
        _row(0, "first crawl content for document zero with words"),
        _row(1, "first crawl content for document one with words"),
    ],
    [
        _row(0, "first crawl content for document zero with words"),  # unchanged
        _row(1, "CHANGED crawl content for document one with words"),
    ],
]


@pytest.mark.parametrize("stage", ["after_output", "after_registry"])
def test_stream_cdc_crash_between_writes(spark, tmp_path, stage):
    from blackedge_ocr_spark.streaming import stream_incremental_extract

    inp = tmp_path / "in"
    _write_batches(spark, tmp_path, inp, CDC_BATCHES)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    reg = str(tmp_path / "reg")
    hook, fired = _crash_once(stage)

    crashed = _run_to_end(
        lambda: stream_incremental_extract(
            spark, str(inp), out, ckpt, reg, _crash_hook=hook
        )
    )
    assert crashed and fired["done"], "injection did not fire"
    got = spark.read.parquet(out).select("doc_id", "src_md5").collect()
    keys = [(r["doc_id"], r["src_md5"]) for r in got]
    assert sorted(keys) == sorted(set(keys)), "duplicated extraction rows"
    # one row per DISTINCT (doc_id, fingerprint): doc 0 extracted once
    # (unchanged re-crawl skipped), doc 1 twice (content changed)
    by_doc = {}
    for d, _h in keys:
        by_doc[str(d)] = by_doc.get(str(d), 0) + 1
    assert by_doc == {"0": 1, "1": 2}, by_doc


def _crash_once_at(stage: str, at_batch: int):
    fired = {"done": False}

    def hook(s, batch_id):
        if s == stage and batch_id == at_batch and not fired["done"]:
            fired["done"] = True
            raise RuntimeError(f"injected crash {s}@{batch_id}")

    return hook, fired


NEARDUP_COMPACT_BATCHES = [
    [_row(0, NEAR_BASE + " variant one"),
     _row(1, "completely different content about gardens and rivers flowing")],
    [_row(10, NEAR_BASE + " variant one"),  # dup of 0 -> suppressed
     _row(11, "another unrelated text on astronomy telescopes and optics")],
    # batch 2: compaction fires here (compact_every=2) BEFORE the
    # batch's writes — folds batches 0-1 of both registries
    [_row(20, "completely different content about gardens and rivers flowing"),  # dup of 1
     _row(21, "third standalone passage regarding volcanoes basalt and ash")],
    # batch 3: dup of a doc registered AFTER the compaction
    [_row(30, "third standalone passage regarding volcanoes basalt and ash"),  # dup of 21
     _row(31, "final novel entry describing glaciers moraines and firn")],
]
NEARDUP_COMPACT_SURVIVORS = {0, 1, 11, 21, 31}


@pytest.mark.parametrize(
    "stage", ["compact_write", "compact_manifest", "compact_delete"]
)
def test_stream_neardup_crash_across_compaction(spark, tmp_path, stage):
    """Round-5: a crash at ANY stage of the registry compaction must
    neither lose nor duplicate registry history — the restarted
    stream suppresses dups of pre-compaction docs exactly as an
    uncompacted run would."""
    from blackedge_ocr_spark.streaming import stream_neardup

    inp = tmp_path / "in"
    _write_batches(spark, tmp_path, inp, NEARDUP_COMPACT_BATCHES)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    bands, sigs = str(tmp_path / "bands"), str(tmp_path / "sigs")
    hook, fired = _crash_once_at(stage, 2)

    crashed = _run_to_end(
        lambda: stream_neardup(
            spark, str(inp), out, ckpt, bands, sigs,
            _crash_hook=hook, compact_every=2,
        )
    )
    assert crashed and fired["done"], "injection did not fire"
    ids = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    assert sorted(ids) == sorted(set(ids)), "duplicated survivor rows"
    assert set(ids) == NEARDUP_COMPACT_SURVIVORS, sorted(ids)
    # registries converged: exactly one shingle row per doc through
    # the blessed view (the raw table may transiently hold covered
    # duplicates only BETWEEN manifest and delete — not at rest)
    from blackedge_ocr_spark.streaming import (
        _blessed_view,
        _read_compaction_manifest,
    )

    sig_t = spark.read.parquet(sigs)
    blessed = _blessed_view(sig_t, *_read_compaction_manifest(sigs))
    counts = blessed.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in counts), "duplicate shingle rows"


def test_stream_registries_file_count_bounded(spark, tmp_path):
    """Round-5 'Done' criterion: over a many-batch run with periodic
    compaction, registry file/partition counts stay bounded instead
    of growing O(batches), and the survivor set equals an
    uncompacted reference run on the same input."""
    import glob

    from blackedge_ocr_spark.streaming import stream_dedup, stream_neardup

    texts = [
        "alpha seed text with sufficient words for banding one",
        "beta seed text with sufficient words for banding two",
        "gamma seed text with sufficient words for banding three",
    ]
    batches = []
    for b in range(10):
        rows = []
        for j, t in enumerate(texts):
            # doc re-sent every batch: only batch-0 copies survive
            rows.append(_row(100 * b + j, t))
        rows.append(_row(100 * b + 50, f"novel content number {b} about topic {b} entirely distinct"))
        batches.append(rows)

    inp = tmp_path / "in"
    _write_batches(spark, tmp_path, inp, batches)

    # exact dedup, compacted vs reference
    outc, ckc = str(tmp_path / "oc"), str(tmp_path / "cc")
    regc, bloomc = str(tmp_path / "rc"), str(tmp_path / "bc")
    q = stream_dedup(
        spark, str(inp), outc, ckc, regc, bloom_dir=bloomc, compact_every=3
    )
    q.awaitTermination()
    outr, ckr = str(tmp_path / "or"), str(tmp_path / "cr")
    regr = str(tmp_path / "rr")
    q = stream_dedup(spark, str(inp), outr, ckr, regr)
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.read.parquet(outc).select("doc_id").collect())
    ref = sorted(r["doc_id"] for r in spark.read.parquet(outr).select("doc_id").collect())
    assert got == ref and len(got) == 3 + 10
    n_compacted = len(glob.glob(f"{regc}/*.parquet"))
    n_plain = len(glob.glob(f"{regr}/*.parquet"))
    assert n_compacted < n_plain, (n_compacted, n_plain)

    # near-dup, compacted vs reference; partition dirs bounded
    outn, ckn = str(tmp_path / "on"), str(tmp_path / "cn")
    bandsn, sigsn = str(tmp_path / "bn"), str(tmp_path / "sn")
    q = stream_neardup(
        spark, str(inp), outn, ckn, bandsn, sigsn, compact_every=3
    )
    q.awaitTermination()
    outm, ckm = str(tmp_path / "om"), str(tmp_path / "cm")
    bandsm, sigsm = str(tmp_path / "bm"), str(tmp_path / "sm")
    q = stream_neardup(spark, str(inp), outm, ckm, bandsm, sigsm)
    q.awaitTermination()
    gotn = sorted(r["doc_id"] for r in spark.read.parquet(outn).select("doc_id").collect())
    refn = sorted(r["doc_id"] for r in spark.read.parquet(outm).select("doc_id").collect())
    assert gotn == refn
    comp_dirs = len(glob.glob(f"{bandsn}/run=*/batch_id=*"))
    plain_dirs = len(glob.glob(f"{bandsm}/run=*/batch_id=*"))
    # last compaction at batch 9 folds batches <9: leaves the
    # compacted gen + batch 9 (+ nothing else)
    assert comp_dirs <= 3 < plain_dirs, (comp_dirs, plain_dirs)


def test_run_partition_reads_back_as_string(spark, tmp_path, monkeypatch):
    """A run token must stay a string when Spark infers partition
    types on read: a random hex draw that parses as a number
    (``96878067506f`` is a Java double) would type ``run`` as double,
    and the registry view's ``run != 'compact'`` filter would fail on
    the cast."""
    import secrets

    import pyspark.sql.functions as F

    from blackedge_ocr_spark import streaming

    monkeypatch.setattr(secrets, "token_hex", lambda n: "96878067506f")
    ckpt = str(tmp_path / "ckpt")
    reg = str(tmp_path / "reg")
    spark.range(3).withColumn("run", F.lit(streaming._run_token(ckpt))).withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("run", "batch_id").parquet(reg)
    t = spark.read.parquet(reg)
    assert dict(t.dtypes)["run"] == "string"
    assert streaming._blessed_view(t, None, set()).count() == 3


RERUN_FIRST = [
    [_row(0, "first run opening passage about harbors ships and cargo cranes")],
    [_row(1, "first run second passage about orchards apples and pear trees")],
    # compaction fires before this batch's writes (compact_every=2)
    [_row(2, "first run closing passage about deserts dunes and camel routes")],
]
RERUN_SECOND = [
    [_row(100, "second run opening passage on violins cellos and orchestras")],
    [_row(101, "second run opening passage on violins cellos and orchestras"),  # dup of 100
     _row(102, "second run closing passage on bridges cables and steel towers")],
]


@pytest.mark.parametrize("op", ["stream_dedup", "stream_neardup"])
def test_cleared_checkpoint_rerun_keeps_both_runs(spark, tmp_path, op):
    """Clearing a checkpoint and re-running on the same path starts a
    new stream, so it must get a new ``run=`` namespace. Were the old
    token kept, the second run's ``batch_id=0..`` partitions would
    overwrite the first run's output, and a neardup registry's old
    ``_compaction.json`` would hide them as covered, letting a dup
    inside the second run survive."""
    from blackedge_ocr_spark import streaming

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    regs = [str(tmp_path / "reg")] if op == "stream_dedup" else [
        str(tmp_path / "bands"), str(tmp_path / "sigs")]

    def run(inp):
        q = getattr(streaming, op)(
            spark, str(inp), out, ckpt, *regs, compact_every=2
        )
        q.awaitTermination()

    _write_batches(spark, tmp_path, tmp_path / "in1", RERUN_FIRST)
    run(tmp_path / "in1")
    first = streaming._run_token(ckpt)
    shutil.rmtree(ckpt)
    _write_batches(spark, tmp_path, tmp_path / "in2", RERUN_SECOND)
    run(tmp_path / "in2")

    ids = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    assert sorted(ids) == [0, 1, 2, 100, 102], sorted(ids)
    assert streaming._run_token(ckpt) != first
