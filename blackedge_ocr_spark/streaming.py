"""Structured Streaming front-end for the extraction pipeline.

The reference has no streaming surface (SURVEY §2.13) and the north
rule's resumability is satisfied by partition checkpoints
(lineage.py); this module exists because the same span schema should
also serve continuous ingest: new document files landing in a
directory are picked up incrementally and flow through the *same*
``extract_documents`` plan via ``foreachBatch`` — one codepath for
batch and streaming, which is the idiomatic Spark way to add a stream
head to a batch engine.

Checkpointing: Spark's streaming checkpoint (source offsets) plus the
engine's own lineage manifest on the sink side — restarting resumes
from the last committed micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RAW_DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)



def _run_token(checkpoint_dir: str) -> str:
    """Stable per-logical-stream partition namespace. Batch ids
    restart at 0 for a FRESH checkpoint, so keying partitions on
    batch_id alone would let a new run's dynamic overwrite REPLACE a
    previous run's committed ``batch_id=0`` partitions in a kept
    output/registry dir. Partitions are therefore
    ``run=r<md5(checkpoint)>/batch_id=N``: a same-checkpoint restart
    keeps the token (retried batches overwrite exactly their own
    partition — the crash-idempotence contract), while a fresh
    checkpoint gets a fresh namespace and old partitions survive as
    history. Re-using a CLEARED checkpoint path re-uses the token;
    start fresh runs with a fresh checkpoint dir (standard streaming
    practice, and what every test/harness here does).

    The ``r`` prefix keeps the token a string under Spark's partition
    type inference: a bare hex digest such as ``96878067506f`` or
    ``123e45678901`` parses as a number, and a ``run`` column read
    back as double fails every string comparison on it."""
    import hashlib
    import os

    return "r" + hashlib.md5(
        os.path.abspath(checkpoint_dir).encode("utf-8")
    ).hexdigest()[:12]


_COMPACT_RUN = "compact"  # reserved run namespace (never a run token)
_COMPACT_MANIFEST = "_compaction.json"


def _read_compaction_manifest(path: str):
    """(blessed_gen, covered) for a partitioned registry: the
    generation readers may trust and the (run, batch_id) source
    partitions it superseded. Missing manifest → (None, empty)."""
    import json
    import os

    try:
        with open(os.path.join(path, _COMPACT_MANIFEST)) as f:
            m = json.load(f)
        return int(m["gen"]), {(r, int(b)) for r, b in m["covered"]}
    except FileNotFoundError:
        return None, set()


def _blessed_view(t: DataFrame, gen, covered) -> DataFrame:
    """The rows of a run/batch_id-partitioned registry a reader may
    trust: hide UNBLESSED ``run=compact`` partitions (a compaction
    that crashed before its manifest rename — its data is a
    duplicate of still-present sources) and hide COVERED source
    partitions (folded into the blessed generation; their dirs may
    linger until the delete step completes). Pure partition-column
    predicates — the scan prunes, no data moves."""
    from pyspark.sql import functions as F

    if gen is None:
        cond = F.col("run") != _COMPACT_RUN
    else:
        cond = (F.col("run") != _COMPACT_RUN) | (F.col("batch_id") == gen)
    if covered:
        key = F.concat_ws("/", F.col("run"), F.col("batch_id").cast("string"))
        cond = cond & ~key.isin([f"{r}/{b}" for r, b in covered])
    return t.filter(cond)


def compact_stream_registry(
    spark: SparkSession,
    path: str,
    exclude: tuple[str, int] | None = None,
    _crash_hook=None,
    batch_id: int = -1,
) -> None:
    """Crash-safe compaction of a run/batch_id-partitioned streaming
    registry (round-5 item: the per-batch dynamic-overwrite layout
    accumulates one parquet directory per batch, so a long-running
    stream's registry reads degrade over O(batches) small files).

    Protocol — every window idempotent, readers always see exactly
    one copy of every row:

    1. WRITE the blessed view (current compacted generation + all
       uncovered source partitions, minus ``exclude`` — the calling
       batch's own partition, which a retry must still be able to
       exclude by id) into ``run=compact/batch_id=<gen+1>`` via
       dynamic-partition overwrite. Crash here: the new generation
       is unblessed (no manifest names it) and invisible; sources
       untouched; a retry overwrites a fresh generation.
    2. Atomically RENAME a manifest naming the new generation and
       every folded (run, batch_id) pair. This single POSIX rename
       is the commit point: before it readers use the old view,
       after it the new — never both copies of a row. Covered
       entries whose directories are already gone are pruned here,
       so the manifest stays O(partitions since last compaction).
    3. DELETE covered source directories and stale/orphaned compact
       generations. Idempotent; any crash prefix is invisible to
       readers (covered partitions are already hidden).

    The reserved run token 'compact' cannot collide with real run
    namespaces (those are md5 hex-12). Legacy plain-append layouts
    (no run/batch_id columns) are left untouched. At fleet scale
    this whole dance is one Iceberg rewrite-data-files commit —
    ADR-1's swap point; the manifest here is the minimal filesystem
    stand-in for that table's snapshot pointer.
    """
    import json
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    try:
        t = spark.read.parquet(path)
    except AnalysisException as e:
        if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
            raise
        return
    if "run" not in t.columns or "batch_id" not in t.columns:
        return  # legacy plain-append layout: nothing to fold safely
    gen, covered = _read_compaction_manifest(path)
    view = _blessed_view(t, gen, covered)
    if exclude is not None:
        view = view.filter(
            ~(
                (F.col("run") == exclude[0])
                & (F.col("batch_id") == int(exclude[1]))
            )
        )
    pairs = {
        (r["run"], int(r["batch_id"]))
        for r in view.select("run", "batch_id").distinct().collect()
    }
    if len(pairs) <= 1:
        return  # a single partition (or none): nothing to fold
    orphan_gens = {
        int(r["batch_id"])
        for r in t.filter(F.col("run") == _COMPACT_RUN)
        .select("batch_id")
        .distinct()
        .collect()
    }
    new_gen = max(
        [gen + 1 if gen is not None else 0]
        + [o + 1 for o in orphan_gens]
    )
    payload = [c for c in t.columns if c not in ("run", "batch_id")]
    (
        view.select(*payload)
        .withColumn("run", F.lit(_COMPACT_RUN))
        .withColumn("batch_id", F.lit(new_gen))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run", "batch_id")
        .parquet(path)
    )
    if _crash_hook is not None:
        _crash_hook("compact_write", batch_id)

    def _pdir(r: str, b: int) -> str:
        return os.path.join(path, f"run={r}", f"batch_id={b}")

    new_covered = sorted(
        p for p in (covered | pairs) if os.path.isdir(_pdir(*p))
    )
    tmp = os.path.join(path, _COMPACT_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"gen": new_gen, "covered": new_covered}, f)
    os.rename(tmp, os.path.join(path, _COMPACT_MANIFEST))  # commit
    if _crash_hook is not None:
        _crash_hook("compact_manifest", batch_id)
    for r, b in new_covered:
        shutil.rmtree(_pdir(r, b), ignore_errors=True)
    for o in orphan_gens | ({gen} if gen is not None else set()):
        if o != new_gen:
            shutil.rmtree(_pdir(_COMPACT_RUN, o), ignore_errors=True)
    if _crash_hook is not None:
        _crash_hook("compact_delete", batch_id)


def compact_flat_registry(
    spark: SparkSession, path: str, _crash_hook=None, batch_id: int = -1
) -> None:
    """Crash-safe compaction of a flat SET-semantics registry (the
    exact-dedup content-hash store, the bloom bit table, the CDC
    fingerprint store — all consumed via anti-join/distinct, so
    DUPLICATE ROWS ARE HARMLESS on every read path). That property
    makes the protocol manifest-free: snapshot the current data
    files, append ONE distinct() rewrite of them, then delete the
    snapshot files. Crash after the append: readers see rewrite +
    sources (duplicates — harmless; a retry re-snapshots whatever
    remains). Crash mid-delete: same, smaller. Only complete task
    files are ever visible (the committer renames outputs into
    place), so a partial job is just a partial-duplicate superset."""
    import os

    if not os.path.isdir(path):
        return
    snap = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
        and os.path.isfile(os.path.join(path, f))
    ]
    if len(snap) <= 1:
        return
    spark.read.parquet(*snap).distinct().write.mode("append").parquet(path)
    if _crash_hook is not None:
        _crash_hook("compact_write", batch_id)
    for f in snap:
        for victim in (
            f,
            os.path.join(
                os.path.dirname(f), "." + os.path.basename(f) + ".crc"
            ),
        ):
            try:
                os.remove(victim)
            except FileNotFoundError:
                pass
    if _crash_hook is not None:
        _crash_hook("compact_delete", batch_id)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Watch ``input_dir`` for document parquet files, run the
    spansify + extract pipeline per micro-batch, write results as
    parquet partitioned by ``run=<token>/batch_id=N`` (idempotent
    dynamic-partition overwrite — see ``_run_token``). Returns the
    StreamingQuery (await with .awaitTermination).

    READ-SIDE CONTRACT (applies to the outputs of ``stream_extract``,
    ``stream_dedup`` and ``stream_neardup`` alike): the sink carries
    two extra partition columns, ``run`` and ``batch_id``, that are
    bookkeeping, not payload — select the payload columns when
    consuming. A RE-RUN with a FRESH checkpoint into a KEPT output
    dir gets a fresh ``run=`` namespace, so the previous run's
    partitions remain as history and a naive full-directory read
    sees both runs' rows. Either scope reads to one run partition
    (``.filter(col("run") == <token>)``), or start fresh runs with a
    fresh output dir (what every test/harness here does).
    """
    from pyspark.sql import functions as F

    from blackedge_ocr_spark.pipeline import extract_documents

    raw = (
        spark.readStream.schema(RAW_DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Reuse the batch spansify logic on this micro-batch: write-
        # free conversion (spansify reads a path, so inline its span
        # construction via a temp view round-trip is avoided by just
        # re-deriving from the columns).
        spans = _spansify_batch(batch_df)
        result = extract_documents(spans, query_col="query")
        # Dynamic partition overwrite keyed on batch_id makes the sink
        # idempotent under foreachBatch's at-least-once retries: a
        # re-executed micro-batch REPLACES its own partition instead
        # of appending a duplicate copy of every row.
        (
            result.withColumn("run", F.lit(_run_token(checkpoint_dir)))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run", "batch_id")
            .parquet(output_dir)
        )

    writer = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _spansify_batch(docs: DataFrame) -> DataFrame:
    """Columnar spansify over an in-memory micro-batch — the SAME
    span-construction plan as the batch reader (datagen.spansify_frame:
    mega-doc stratum, scrambled storage, 7-way query template cycle),
    so a corpus streamed file-by-file produces byte-identical spans to
    the batch path."""
    from blackedge_ocr_spark.datagen import spansify_frame

    return spansify_frame(docs)


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start string, n_events bigint, total_value double"
)
# Pending (not-yet-finalized) events, buffered until the watermark
# proves their sessions closed: parallel arrays of epoch-micros,
# event ids (tie order) and values. Doubles are exact for both up to
# 2^53 (micros: ~year 287396; ids: 9e15).
SESSION_STATE_SCHEMA = (
    "pts array<double>, pids array<double>, pvals array<double>"
)


def _fmt(epoch_us: float) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        epoch_us / 1e6, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def _r3(x: float) -> float:
    """Scalar mirror of Spark's ``round(col, 3)``: HALF_UP over the
    SHORTEST decimal repr of the double (BigDecimal.valueOf ==
    Double.toString), NOT its exact binary expansion — the double
    2.6755 is 2.67549999…, so ``Decimal(x)`` would round to 2.675
    while Spark rounds the string "2.6755" to 2.676. Python's repr is
    the same shortest round-trip repr as Java's Double.toString, so
    ``Decimal(repr(x))`` reproduces Spark bit-for-bit on decimal
    ties. (Python's built-in round is banker's — wrong twice.)
    Unit-tested against the live JVM on tie values."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_sec: int = 1800,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    gap-based user sessionization, BUFFER-UNTIL-WATERMARK.

    Events are held in per-user state and sessionized on the sorted
    buffer each invocation; a session [first..last] is emitted — once,
    in append mode — exactly when the event-time watermark passes
    last + gap: any event that could still extend it would carry
    ts ≤ last + gap ≤ watermark and be dropped as late, so the session
    is provably final. Events above the watermark stay buffered. State
    is therefore bounded by |active users| × events inside the
    (gap + allowed-lateness) window, never the stream.

    This is the textbook design for a reason the sf1 scale probe made
    concrete: a process-on-arrival sessionizer (the previous
    implementation) assigns an out-of-order-but-not-late event — above
    the watermark, behind the user's latest buffered event, routine
    when file/partition order is not time order — to whatever session
    happened to arrive first (observed: an event merged into a session
    three weeks later), and can also die computing a timeout below the
    watermark. Buffering makes arrival order inside the lateness
    window irrelevant: output is a pure function of the event set the
    watermark admitted.

    The batch twin is ``queries.q_user_sessions`` (lag → running-sum
    session id → agg); emitted sessions agree exactly on time-ordered
    input (pytest parity + the sf1 probe). Late events below the
    watermark are dropped by Spark before the operator, mirroring the
    rollup's semantics; with ``availableNow`` the trailing sessions
    whose close time the final watermark never passes remain open (a
    live stream flushes them as the watermark advances).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        gap_us = gap_sec * 1_000_000
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend: list[tuple] = []
        if state.exists:
            pts, pids, pvals = state.get
            pend = list(zip(pts, pids, pvals))
        if not state.hasTimedOut:
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            # Integer microseconds (pandas ts.value is ns) — exact gap
            # comparison, same integer semantics as the batch twin's
            # unix_micros and the oracle's epoch_us.
            for ts, eid, v in zip(
                rows["ts"], rows["event_id"], rows["value"]
            ):
                if pd.isna(ts):
                    # no event time → nothing for the watermark to
                    # finalize against (NaT.value is int64-min
                    # garbage); skipped. The batch twin emits a
                    # NULL-start singleton for such rows — documented
                    # residual divergence, unreachable on the corpus.
                    continue
                # a NULL value arrives as NaN and stays NaN in state
                # (a valid double); the emission sum skips it below,
                # mirroring F.sum's null-skip.
                pend.append(
                    (float(ts.value // 1000), float(eid), float(v))
                )
        # (ts, event_id) — the batch twin's window order, so the
        # per-session float sum accumulates in the identical sequence.
        pend.sort(key=lambda r: (r[0], r[1]))
        sessions: list[list[tuple]] = []
        for t, eid, v in pend:
            if sessions and t - sessions[-1][-1][0] <= gap_us:
                sessions[-1].append((t, eid, v))
            else:
                sessions.append([(t, eid, v)])
        closed: list[tuple] = []
        keep: list[tuple] = []
        next_close_us = None
        for s in sessions:
            close_us = s[-1][0] + gap_us
            if close_us <= wm_us:
                total, seen = 0.0, False
                for _, _, v in s:
                    if v == v:  # skip NaN = NULL value, like F.sum
                        total += v
                        seen = True
                # round to 3 decimals on close — the batch twin's
                # contract (q_user_sessions: round(sum(value), 3));
                # n_events counts null-value rows like count(*), and
                # an all-null session totals NULL like sum(all-null)
                closed.append(
                    (user_id, _fmt(s[0][0]), len(s),
                     _r3(total) if seen else None)
                )
            else:
                keep.extend(s)
                if next_close_us is None:
                    next_close_us = close_us
        if keep:
            state.update((
                [t for t, _, _ in keep],
                [i for _, i, _ in keep],
                [v for _, _, v in keep],
            ))
            # wake this group when the watermark passes the earliest
            # still-open close time; the ms floor could collide with
            # the current watermark, which Spark rejects — clamp above
            state.setTimeoutTimestamp(
                max(int(next_close_us) // 1000,
                    state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "n_events", "total_value"],
        )

    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    writer = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, anchor string, step_reached int, "
    "wait2_us long, wait3_us long"
)
# Buffered funnel-step events awaiting finality: parallel arrays of
# epoch-micros and 0-based step indices (doubles, exact to 2^53).
FUNNEL_STATE_SCHEMA = "fts array<double>, fsteps array<double>"


def stream_funnel(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_hours: int | None = None,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Stateful streaming twin of ``queries.q_event_funnel``:
    per-user first-touch funnel progress via
    ``applyInPandasWithState``, BUFFER-UNTIL-WATERMARK like
    ``stream_sessionize``.

    A user's funnel outcome is a pure function of their step events
    inside [t1, t1 + W] where t1 = earliest step-1 event — and it is
    provably FINAL exactly when the watermark strictly passes
    t1 + W: any event that could still join the window (including an
    even-earlier anchor, which would only shift the window earlier)
    would carry ts ≤ t1 + W < watermark and be dropped as late. One
    row per user is emitted at that moment — (user_id, anchor,
    step_reached, per-step waits in exact integer microseconds, the
    batch twin's unix_micros grid) — and the state drops.

    State bounds: only FUNNEL_STEPS event types enter the operator
    (pre-groupBy filter), anchored users buffer at most their events
    inside one window, and unanchored users prune everything below
    the watermark (a buffered non-anchor event can only ever qualify
    under a future anchor t1' ≥ watermark, which requires the event
    itself to sit at or above the watermark). An anchored user's
    wake-up is an event-time timeout at t1 + W, so quiet users flush
    without new data. With ``availableNow`` the users whose window
    the final watermark never passes remain open — the
    stream_sessionize caveat, same reason.

    Out-of-order robustness (the regime the buffered design exists
    for): an earlier step-1 event arriving above the watermark
    REPLACES the anchor and re-evaluates the whole chain — a
    process-on-arrival funnel would have locked the wrong anchor.

    Repeat-anchor semantics: once a user's window emits and their
    state drops, a later step-1 event starts a FRESH funnel (one row
    per anchor window — the repeating-funnel variant products also
    ship). The batch twin computes only the global first-touch
    funnel, so its per-user chain equals the stream's FIRST emitted
    row per user (pytest parity), for input whose disorder fits the
    lateness allowance — the standard watermark guarantee class.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from blackedge_ocr_spark.queries import (
        FUNNEL_STEPS,
        FUNNEL_WINDOW_HOURS,
    )

    steps = FUNNEL_STEPS
    idx = {s: i for i, s in enumerate(steps)}
    win_us = (
        window_hours if window_hours is not None else FUNNEL_WINDOW_HOURS
    ) * 3600 * 1_000_000

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .filter(F.col("event_type").isin(*steps))
        .select("user_id", "event_type", "ts")
    )

    def funnel(key, pdf_iter, state: GroupState):
        (user_id,) = key
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend: list[tuple] = []
        if state.exists:
            fts, fsteps = state.get
            pend = list(zip(fts, fsteps))
        if not state.hasTimedOut:
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            for ts, et in zip(rows["ts"], rows["event_type"]):
                if pd.isna(ts):
                    continue  # no event time → no finality anchor
                pend.append((float(ts.value // 1000), float(idx[et])))
        anchors = [t for t, s in pend if s == 0.0]
        out: list[tuple] = []
        if anchors:
            t1 = min(anchors)
            # prune to what can still matter: the anchor itself, its
            # window, and pre-anchor non-anchor events still at/above
            # the watermark (candidates under a yet-earlier anchor)
            pend = [
                (t, s)
                for t, s in pend
                if (s == 0.0 and t == t1)
                or (t1 < t <= t1 + win_us)
                or (t < t1 and t >= wm_us)
            ]
            if wm_us > t1 + win_us:
                t_prev, waits = t1, []
                for k in range(1, len(steps)):
                    cands = [
                        t
                        for t, s in pend
                        if s == float(k)
                        and t > t_prev
                        and t <= t1 + win_us
                    ]
                    if not cands:
                        break
                    t_prev = min(cands)
                    waits.append(int(t_prev - t1))
                out.append(
                    (
                        user_id,
                        _fmt(t1),
                        1 + len(waits),
                        waits[0] if len(waits) >= 1 else None,
                        waits[1] if len(waits) >= 2 else None,
                    )
                )
                if state.exists:
                    state.remove()
                pend = []
        else:
            pend = [(t, s) for t, s in pend if t >= wm_us]
        if pend and not out:
            state.update((
                [t for t, _ in pend],
                [s for _, s in pend],
            ))
            if anchors:
                # wake when the watermark passes the window end; the
                # ms floor may collide with the current watermark,
                # which Spark rejects — clamp above (re-check inside)
                state.setTimeoutTimestamp(
                    max(
                        int(min(anchors) + win_us) // 1000 + 1,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        elif not pend and state.exists and not out:
            state.remove()
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "anchor", "step_reached",
                "wait2_us", "wait3_us",
            ],
        )

    funnels = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            funnel,
            FUNNEL_OUTPUT_SCHEMA,
            FUNNEL_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    writer = (
        funnels.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int = 2,
):
    """Watermarked hour-window event aggregation as a stream: late
    events inside the watermark fold into their window; windows emit
    (append mode) only once the watermark passes their end, so the
    sink sees each window exactly once. State is bounded by
    (watermark / window) x |event_type| — the Structured Streaming
    shape for the engine's metrics rollups.

    Residual batch divergence (same class as stream_sessionize's
    null-ts note): an event with ts=NULL has no event time for the
    watermark to reason about and is dropped by the streaming
    aggregation, while the batch twin (q_event_rollup) groups it
    under an hour=NULL row. Unreachable on the corpus (ts is
    non-null by construction); a real feed would filter or default
    null timestamps at ingest."""
    from pyspark.sql import functions as F

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    registry_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    bloom_dir: str | None = None,
    _crash_hook=None,
    compact_every: int | None = None,
):
    """Streaming exact deduplication of continuous document ingest:
    first-arrival-wins on md5(comparison-normalized text), against a
    PERSISTENT hash registry.

    The batch twin is ``dedup.exact_duplicates`` / ``q_dedup_apply``
    (keeper = min doc_id per content hash); when files arrive in
    doc_id order — the corpus layout — first-arrival IS min-id and
    the streamed survivor set equals the batch keeper set exactly
    (pytest parity). Per micro-batch:

    1. in-batch first-wins: ``min_by(row, doc_id)`` per hash —
       deterministic whatever Spark's task order;
    2. cross-batch: LEFT ANTI join against the registry parquet;
    3. append survivors to the sink, then their hashes to the
       registry.

    Why a registry and not ``dropDuplicates`` state: exact dedup
    needs ALL history, so in-memory streaming state grows without
    bound and dies with the checkpoint; a disk registry is the
    production shape (at fleet scale: an Iceberg table bucketed by
    hash — ADR-1's swap point — or a Bloom-fronted store; the
    watermark-bounded ``dropDuplicatesWithinWatermark`` only dedups
    redelivery inside the lateness window, a different guarantee).
    Restart resumability (round 4: idempotent at EVERY crash point,
    fault-injected by tests/test_stream_fault.py): the output is a
    batch_id dynamic-partition overwrite — a retried micro-batch
    replaces its own partition instead of appending a duplicate —
    and the write order is output → bloom → registry, so each gap
    replays safely: crash before the registry append recomputes the
    identical survivor set (registry unchanged) and overwrites the
    same partition; crash after it replays to an EMPTY survivor set
    (all hashes anti-joined) whose dynamic overwrite touches no
    partitions, leaving the committed output intact. Bloom rows may
    duplicate across a retry (appended before the registry so its
    no-false-negative invariant — every registered hash is in the
    bloom — survives any crash); the read path distincts them.
    ``_crash_hook(stage, batch_id)`` is the fault-injection test
    surface, invoked between the writes; production passes None.

    Bloom front (``bloom_dir``): the "Bloom-fronted store" above,
    implemented. A persistent (row, slot) occupancy table
    (sketches.bloom_bits discipline, 5-hex slots → 1M/row) mirrors
    the hash registry; each batch probes it FIRST via broadcast
    joins. Misses are DEFINITELY new (Bloom has no false negatives)
    and skip the O(all-history) registry anti-join entirely — only
    hits (true dups + the FP sliver) pay it. On a mostly-novel ingest
    the big join's probe side shrinks to the duplicate fraction,
    while output equality with the ungated path is exact (pytest
    asserts it): FPs merely route a new doc through the exact check,
    which passes it. The bloom table is bounded (depth × 1M rows at
    saturation — at which load a production job re-sizes the slot
    width), mergeable by union, and appended per batch like the
    registry.

    Read-side contract of the survivor sink: partitioned by
    ``run=<token>/batch_id=N`` — bookkeeping columns, not payload;
    select the payload columns on read, and scope reads to one
    ``run=`` partition (or use a fresh output dir per run) because a
    fresh-checkpoint rerun into a kept dir ADDS a new run namespace
    beside the old one's history. Full statement at
    ``stream_extract``'s docstring.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from blackedge_ocr_spark.functions.text import normalize_for_comparison

    raw = (
        spark.readStream.schema(RAW_DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    cols = [f.name for f in RAW_DOCUMENTS_SCHEMA.fields]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # periodic registry compaction (round 5): the hash registry
        # and bloom table append one file set per batch; fold them
        # into one distinct rewrite every ``compact_every`` batches.
        # Set semantics make every crash window a harmless
        # duplicate-superset (see compact_flat_registry).
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_flat_registry(
                spark, registry_dir, _crash_hook=_crash_hook,
                batch_id=batch_id,
            )
            if bloom_dir is not None:
                compact_flat_registry(
                    spark, bloom_dir, _crash_hook=_crash_hook,
                    batch_id=batch_id,
                )
        h = batch_df.withColumn(
            "content_hash", F.md5(normalize_for_comparison(F.col("text")))
        )
        firsts = (
            h.groupBy("content_hash")
            .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("r"))
            .select("content_hash", "r.*")
        )

        def _read_or_first_batch(path: str):
            """Registry read that treats ONLY a missing path as 'first
            batch'; a corrupt or schema-conflicting table must fail
            loudly, not silently disable dedup."""
            try:
                return spark.read.parquet(path)
            except AnalysisException as e:
                if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
                    raise
                return None

        out_cols = firsts.columns
        definitely_new = None
        probed_cache = None
        candidates = firsts
        if bloom_dir is not None:
            bits = _read_or_first_batch(bloom_dir)
            if bits is not None:
                from blackedge_ocr_spark.analysis.sketches import (
                    BLOOM_DEPTH,
                    BLOOM_GATE_HEX,
                    _bloom_slot,
                )

                # appended per batch, so dedupe on read; stays tiny
                bits = bits.distinct()
                probed, flags = firsts, []
                for i in range(BLOOM_DEPTH):
                    b = bits.filter(F.col("row") == i).select(
                        F.col("slot").alias(f"_s{i}"),
                        F.lit(True).alias(f"_h{i}"),
                    )
                    probed = probed.withColumn(
                        f"_s{i}",
                        _bloom_slot(F.col("content_hash"), i, BLOOM_GATE_HEX),
                    ).join(F.broadcast(b), f"_s{i}", "left")
                    flags.append(F.coalesce(F.col(f"_h{i}"), F.lit(False)))
                hit = flags[0]
                for fc in flags[1:]:
                    hit = hit & fc
                probed = probed.withColumn("_hit", hit).persist()
                probed_cache = probed
                definitely_new = probed.filter(~F.col("_hit")).select(out_cols)
                candidates = probed.filter(F.col("_hit")).select(out_cols)

        seen = _read_or_first_batch(registry_dir)
        if seen is not None:
            # no broadcast hint: the registry grows to O(distinct
            # corpus) — AQE broadcasts while it's small and falls back
            # to a shuffled anti-join when it isn't (the Iceberg form
            # buckets both sides by hash and prunes even that). With
            # the bloom front, only the hit sliver reaches this join.
            checked = candidates.join(
                seen.select("content_hash"), "content_hash", "left_anti"
            )
        else:
            checked = candidates
        fresh = (
            checked
            if definitely_new is None
            else definitely_new.unionByName(checked)
        )
        fresh = fresh.persist()
        # idempotent sink: retried batches replace their own
        # run-namespaced partition (see _run_token)
        (
            fresh.withColumn("run", F.lit(_run_token(checkpoint_dir)))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run", "batch_id")
            .parquet(output_dir)
        )
        if _crash_hook is not None:
            _crash_hook("after_output", batch_id)
        # bloom BEFORE registry: a crash between them leaves bloom a
        # superset of the registry (extra entries are FP-safe); the
        # reverse order could leave a registered hash the bloom
        # misses, breaking its no-false-negative gate.
        if bloom_dir is not None:
            from blackedge_ocr_spark.analysis.sketches import (
                BLOOM_DEPTH,
                BLOOM_GATE_HEX,
                _bloom_slot,
            )

            new_bits = fresh.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("row"),
                                _bloom_slot(
                                    F.col("content_hash"), i, BLOOM_GATE_HEX
                                ).alias("slot"),
                            )
                            for i in range(BLOOM_DEPTH)
                        ]
                    )
                ).alias("k")
            ).select("k.row", "k.slot").distinct()
            new_bits.write.mode("append").parquet(bloom_dir)
            if _crash_hook is not None:
                _crash_hook("after_bloom", batch_id)
        fresh.select("content_hash").write.mode("append").parquet(registry_dir)
        if _crash_hook is not None:
            _crash_hook("after_registry", batch_id)
        fresh.unpersist()
        if probed_cache is not None:
            probed_cache.unpersist()

    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bands_dir: str,
    sigs_dir: str,
    min_jaccard: float = 0.5,
    bucket_cap: int = 128,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    _crash_hook=None,
    compact_every: int | None = None,
):
    """Streaming NEAR-duplicate suppression of continuous document
    ingest: MinHash-LSH band keys against a PERSISTENT band registry,
    exact shingle-Jaccard verification against a persistent shingle
    store — the streaming twin of ``dedup.lsh_candidate_pairs``.

    Drop rule (identical to the batch pair semantics, so the twin is
    checkable): document b is suppressed iff SOME earlier document a
    (a < b, earlier batch or earlier in this batch) shares any capped
    LSH band bucket with b AND true shingle Jaccard(a, b) ≥
    ``min_jaccard``. "Earlier" means any seen document — dropped
    documents still register, exactly as every doc appears on the
    doc_a side of the batch pair set. Per micro-batch:

    1. shingle + MinHash-sign the batch once (the Arrow signature
       path), explode band keys, drop NULL keys (empty docs) — the
       batch pass discipline;
    2. cap each (band, key) bucket at ``bucket_cap`` members GLOBALLY:
       global position = registered prior count + in-batch rank by
       doc_id. With in-id-order arrival this reproduces the batch
       rule's lowest-id cap exactly (out-of-order arrival degrades
       the cap to first-arrival — documented approximation, same
       trade ``stream_dedup`` makes for min-id);
    3. candidates = (prior registered member × eligible batch doc) on
       the bucket key, plus in-bucket pairs among eligible batch
       docs; verify with the true shingle Jaccard (prior shingles
       from the store, batch shingles in hand);
    4. survivors append to the sink; ALL batch docs append their
       shingles, and their cap-eligible band rows, to the registries.

    Scale notes mirror ``stream_dedup``: registries are disk tables,
    not streaming state (near-dup history is unbounded; the Iceberg
    form buckets both by key — ADR-1's swap point — and keeps the
    per-bucket counts as a compacted stats table instead of the
    per-batch groupBy here). The shingle store is O(corpus tokens);
    a fleet trades it for signature-only verification (estimated
    Jaccard) when storage dominates — kept exact here so the batch
    twin parity is bit-checkable.

    Crash idempotence (round 4, fault-injected by
    tests/test_stream_fault.py): ALL three writes — survivors,
    shingle store, band registry — are batch_id dynamic-partition
    overwrites, and both registry READS exclude the current batch's
    partition. A retried micro-batch therefore sees exactly the
    pre-batch registry state no matter which writes of the failed
    attempt survived (in particular, a surviving band write cannot
    double-count the batch's own docs into the global bucket-cap
    positions), recomputes the identical survivor set, and replaces
    its own partitions. ``_crash_hook(stage, batch_id)`` is the
    fault-injection surface; production passes None.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from blackedge_ocr_spark.analysis.dedup import (
        jaccard,
        lsh_band_keys,
        minhash_signature_arrow,
        word_shingles,
    )

    raw = (
        spark.readStream.schema(RAW_DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    cols = [f.name for f in RAW_DOCUMENTS_SCHEMA.fields]

    def _read_or_none(path: str):
        try:
            return spark.read.parquet(path)
        except AnalysisException as e:
            if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
                raise
            return None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return

        token = _run_token(checkpoint_dir)

        # periodic registry compaction (round 5), BEFORE this batch's
        # own writes: the current batch's partition is excluded so a
        # retried batch can still subtract its failed attempt by id
        # (folding it would make it unexcludable and double-count the
        # bucket-cap positions). ``compact_every=None`` (default)
        # keeps the per-batch layout untouched.
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            for reg in (bands_dir, sigs_dir):
                compact_stream_registry(
                    spark,
                    reg,
                    exclude=(token, batch_id),
                    _crash_hook=_crash_hook,
                    batch_id=batch_id,
                )

        def _read_prior(path: str):
            """Registry state EXCLUDING this batch's own partition —
            a retried batch must not see the failed attempt's
            partial writes (a surviving band write would double-
            count the batch into the cap positions). Other runs'
            partitions are valid history and stay visible."""
            t = _read_or_none(path)
            if t is None:
                return None
            if "run" not in t.columns or "batch_id" not in t.columns:
                # pre-round-4 plain-append registry layout: no
                # partition columns to exclude, and nothing written
                # by THIS run can be in it — the whole table is
                # valid prior history (format-migration guard,
                # round-4 advice).
                return t
            # compaction blessing (round 5): hide unblessed compact
            # generations and covered source partitions, so a
            # mid-compaction crash never shows a row twice
            t = _blessed_view(t, *_read_compaction_manifest(path))
            return t.filter(
                ~((F.col("run") == token) & (F.col("batch_id") == batch_id))
            ).drop("run", "batch_id")

        def _write_part(df: DataFrame, path: str) -> None:
            (
                df.withColumn("run", F.lit(token))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run", "batch_id")
                .parquet(path)
            )

        sh = batch_df.withColumn(
            "shingles", word_shingles(F.col("text"))
        ).withColumn("sig", minhash_signature_arrow(F.col("shingles")))
        sh = sh.persist()
        banded = (
            sh.select(
                "doc_id", F.explode(lsh_band_keys(F.col("sig"))).alias("bk")
            )
            .select("doc_id", "bk.band", "bk.key")
            .filter(F.col("key").isNotNull())
        )

        prior_bands = _read_prior(bands_dir)
        if prior_bands is not None:
            counts = prior_bands.groupBy("band", "key").agg(
                F.count("*").alias("n_prior")
            )
            banded = banded.join(counts, ["band", "key"], "left").withColumn(
                "n_prior", F.coalesce("n_prior", F.lit(0))
            )
        else:
            banded = banded.withColumn("n_prior", F.lit(0))
        w = Window.partitionBy("band", "key").orderBy("doc_id")
        positioned = banded.withColumn(
            "pos", F.row_number().over(w) + F.col("n_prior")
        ).persist()
        eligible = (
            positioned.filter(F.col("pos") <= bucket_cap)
            .select("band", "key", "doc_id")
            .persist()
        )

        from blackedge_ocr_spark.analysis.banding import in_bucket_pairs

        in_batch = in_bucket_pairs(
            eligible, "doc_id", "doc_a", "doc_b", bucket_cap
        )
        # STAR TAIL (the batch rule's round-4 addition, mirrored):
        # batch members BEYOND the cap pair with the bucket HEAD —
        # the lowest id the bucket has ever seen (prior min, else
        # batch min; with in-id-order arrival that IS the batch
        # twin's global head). Without it a mirror-scale hot bucket
        # silently un-suppresses every beyond-cap copy and the
        # streamed survivor set diverges from the batch keeper set.
        beyond = positioned.filter(F.col("pos") > bucket_cap).select(
            "band", "key", F.col("doc_id").alias("doc_new")
        )
        batch_heads = positioned.groupBy("band", "key").agg(
            F.min("doc_id").alias("head")
        )
        if prior_bands is not None:
            prior_heads = prior_bands.groupBy("band", "key").agg(
                F.min("doc_id").alias("head")
            )
            heads = (
                batch_heads.unionByName(prior_heads)
                .groupBy("band", "key")
                .agg(F.min("head").alias("head"))
            )
        else:
            heads = batch_heads
        star = (
            beyond.join(heads, ["band", "key"])
            .filter(F.col("head") != F.col("doc_new"))
            .select(
                F.least("head", "doc_new").alias("doc_a"),
                F.greatest("head", "doc_new").alias("doc_b"),
            )
        )
        pairs = in_batch.unionByName(star)
        if prior_bands is not None:
            cross = (
                prior_bands.join(
                    eligible.select(
                        "band", "key", F.col("doc_id").alias("doc_new")
                    ),
                    ["band", "key"],
                )
                .filter(F.col("doc_id") != F.col("doc_new"))
                .select(
                    F.least("doc_id", "doc_new").alias("doc_a"),
                    F.greatest("doc_id", "doc_new").alias("doc_b"),
                )
            )
            pairs = pairs.unionByName(cross)
        pairs = pairs.distinct().persist()

        batch_sh = sh.select("doc_id", "shingles")
        prior_sh = _read_prior(sigs_dir)
        all_sh = (
            batch_sh
            if prior_sh is None
            else batch_sh.unionByName(prior_sh)
        )
        cand = pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        cand_sh = all_sh.join(F.broadcast(cand), "doc_id").persist()
        cand_sh.count()
        verified = (
            pairs.join(
                F.broadcast(
                    cand_sh.select(
                        F.col("doc_id").alias("doc_a"),
                        F.col("shingles").alias("sh_a"),
                    )
                ),
                "doc_a",
            )
            .join(
                F.broadcast(
                    cand_sh.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sh_b"),
                    )
                ),
                "doc_b",
            )
            .filter(
                F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                >= min_jaccard
            )
        )
        dropped = verified.select(F.col("doc_b").alias("doc_id")).distinct()
        survivors = batch_df.join(dropped, "doc_id", "left_anti").select(*cols)
        _write_part(survivors, output_dir)
        if _crash_hook is not None:
            _crash_hook("after_output", batch_id)
        # ALL batch docs register (dropped docs still anchor future
        # pairs on their doc_a side, exactly like the batch pair set)
        _write_part(sh.select("doc_id", "shingles"), sigs_dir)
        if _crash_hook is not None:
            _crash_hook("after_sigs", batch_id)
        _write_part(eligible, bands_dir)
        if _crash_hook is not None:
            _crash_hook("after_bands", batch_id)
        for df in (cand_sh, pairs, eligible, positioned, sh):
            df.unpersist()

    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    registry_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    _crash_hook=None,
    compact_every: int | None = None,
):
    """Streaming CDC extraction over continuous re-crawl ingest: the
    streaming twin of ``incremental.incremental_extract``. Each
    arriving snapshot file is spansified, content-fingerprinted
    (``incremental.with_src_hash``) and anti-joined against a
    persistent (doc_id, src_md5) registry, so the expensive Arrow OCR
    stage runs ONLY over documents whose extraction input actually
    changed since any prior crawl. Re-delivering an unchanged corpus
    extracts ZERO documents.

    Output contract: one extraction row per DISTINCT (doc_id,
    src_md5) ever seen, tagged with the micro-batch id. The current-
    snapshot view is recovered by semi-joining the latest snapshot's
    fingerprints against the output — removed docs drop out by
    construction, and a document REVERTED to earlier content needs no
    new row (its extraction is already present and bit-identical;
    the registry anti-join skips it on purpose).

    State/scale notes mirror ``stream_dedup``: the registry is a disk
    table, not streaming state (unbounded history; at fleet scale an
    Iceberg table bucketed by doc_id — ADR-1's swap point — makes
    the two writes one atomic commit). Crash idempotence at every
    gap (fault-injected by tests/test_stream_fault.py): output is a
    batch_id dynamic-partition overwrite BEFORE the registry append,
    so a retry either recomputes the identical delta and replaces
    its own partition (registry append lost) or replays to an empty
    delta that writes nothing (registry append survived).
    ``_crash_hook(stage, batch_id)`` is the fault-injection surface.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from blackedge_ocr_spark.incremental import SRC_HASH_COL, with_src_hash
    from blackedge_ocr_spark.pipeline import extract_documents

    raw = (
        spark.readStream.schema(RAW_DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # periodic fingerprint-registry compaction (round 5): the
        # (doc_id, src_md5) store is anti-join set semantics, so the
        # flat protocol's duplicate windows are harmless.
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_flat_registry(
                spark, registry_dir, _crash_hook=_crash_hook,
                batch_id=batch_id,
            )
        cur = with_src_hash(_spansify_batch(batch_df))
        try:
            seen = spark.read.parquet(registry_dir)
            # AQE broadcasts the registry while small, falls back to a
            # shuffled anti-join when it isn't (Iceberg form: both
            # sides bucketed by doc_id, the join prunes to buckets).
            delta = cur.join(seen, ["doc_id", SRC_HASH_COL], "left_anti")
        except AnalysisException as e:
            # ONLY a missing path means "first batch". A corrupt or
            # schema-conflicting registry must fail the query loudly —
            # treating it as empty would silently re-emit the corpus.
            if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
                raise
            delta = cur
        delta = delta.persist()
        if not delta.isEmpty():
            result = extract_documents(
                delta.drop(SRC_HASH_COL), query_col="query"
            ).join(delta.select("doc_id", SRC_HASH_COL), "doc_id")
            # batch_id partition overwrite: a retried micro-batch
            # replaces its own output partition (idempotent even when
            # the registry append of the failed attempt was lost).
            (
                result.withColumn(
                    "run", F.lit(_run_token(checkpoint_dir))
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run", "batch_id")
                .parquet(output_dir)
            )
            if _crash_hook is not None:
                _crash_hook("after_output", batch_id)
            delta.select("doc_id", SRC_HASH_COL).write.mode(
                "append"
            ).parquet(registry_dir)
            if _crash_hook is not None:
                _crash_hook("after_registry", batch_id)
        delta.unpersist()

    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    how: str = "inner",
):
    """Native watermarked stream-stream interval join — the one
    Structured Streaming join primitive the rest of the streaming
    surface (foreachBatch twins, session_window, stateful
    applyInPandasWithState) doesn't exercise. Views and clicks are
    two independent file streams over the same event feed; each
    click joins every same-user view it trails by 0..RANGE_WINDOW_SEC
    (the attribution band of the batch twin q_view_click_pairs,
    which answers to the naive-inequality DuckDB oracle).

    State story: both sides are watermarked and the join condition
    time-bounds click vs view, so Spark's symmetric hash join can
    evict a buffered view once the watermark passes
    view_ts + band + delay, and a buffered click once it can no
    longer match — state is O(events inside the watermark horizon),
    not O(stream). Append mode emits each matched pair exactly once.

    Residual batch divergence (same class as the rollup's note):
    null-ts rows carry no event time, so the streaming join drops
    them while the batch twin's epoch arithmetic would too (NULL
    comparison) — actually equal here; the real divergence is only
    true-late data beyond the watermark, absent from a replayed
    corpus."""
    from blackedge_ocr_spark.queries import RANGE_WINDOW_SEC

    views = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    # Views are the left/outer side: with how="left_outer" a view
    # that attracts no click emits ONCE with null click columns as
    # soon as the watermark proves no future click can match
    # (wm > v_ts + band) — the state-eviction event doubling as the
    # negative result. Inner is unchanged by the side order.
    joined = views.join(
        clicks,
        F.expr(
            f"""
            c_user = v_user
            AND c_ts >= v_ts
            AND c_ts <= v_ts + interval {RANGE_WINDOW_SEC} seconds
            """
        ),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (
            F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))
        ).cast("bigint").alias("wait_us"),
    )
    writer = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
