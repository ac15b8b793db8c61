"""The extract-then-validate pipeline over interleaved span documents.

Spark-first re-expression of the reference's workflow lifecycle
(reference: src/services/workflow_orchestrator.py:68-150 and the five
handlers under src/services/workflows/): routing, extraction,
problem detection, ordered reassembly, cross-validation, decision —
as ONE declarative projection over
``documents(doc_id, spans)``.

Scale shape: the whole pipeline is map-side. Span ordering is an
in-array sort, content assembly an in-array fold, similarity a
per-row expression — zero shuffles end-to-end, so throughput scales
linearly with executors; the only Arrow boundary is the embedded
OCR-classify stage. Skew from mega-documents is defused by the
``mega_media_chunk`` split path, which spreads their spans across
tasks.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blackedge_ocr_spark.constants import (
    CONTENT_SEPARATOR,
    PRIMARY_PROVIDER,
    SECONDARY_PROVIDER,
    SIMILARITY_THRESHOLD,
    VALIDATING_WORKFLOWS,
)
from blackedge_ocr_spark.functions.problems import problems_array
from blackedge_ocr_spark.operators.ocr import (
    fill_media_text,
    filter_media,
    first_per_offset,
    ocr_media_map,
)
from blackedge_ocr_spark.operators.routing import route_workflow


def sort_spans(spans: Column) -> Column:
    """Order spans by offset inside the array — the reference's page
    order (W1; reference: text_extraction_handler.py:115, join at :71).
    In-array comparator sort: no shuffle, no window.
    """
    return F.array_sort(
        spans,
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )


def assemble_content(spans: Column) -> Column:
    """CONTENT_SEPARATOR-joined span texts, in span order (A1;
    reference: default_handler.py:87 et al.). Empty texts are kept,
    like ``str.join`` over empty page contents.
    """
    return F.concat_ws(CONTENT_SEPARATOR, F.transform(spans, lambda s: s["text"]))


def span_problems(spans: Column) -> Column:
    """Per-span quality labels, pages with >=1 problem only, page order
    (reference: problem_detector.py:36-70)."""
    tagged = F.transform(
        spans,
        lambda s: F.struct(
            s["offset"].alias("offset"),
            problems_array(s["text"]).alias("labels"),
        ),
    )
    return F.filter(tagged, lambda p: F.size(p["labels"]) > 0)


def _map_literal(col: Column, mapping: dict, default=None) -> Column:
    out = F.when(F.lit(False), F.lit(""))
    for k, v in mapping.items():
        out = out.when(col == k, F.lit(v))
    return out.otherwise(F.lit(default))


def _extract_mega_chunked(
    mega: DataFrame,
    chunk: int,
    media_map,
    secondary_provider: Column,
    validating: Column,
    similarity_method: str,
) -> DataFrame:
    """Mega-document straggler defense, covering EVERY per-span stage.

    Round-3 chunking split only the OCR inference; content assembly,
    problem regexes and similarity still serialized a ~MB document
    into one task (BENCH/SKEW.md's 4.45 s residual). This path
    explodes a mega document's sorted spans into ``chunk``-sized
    slices, runs ALL span-linear stages per slice in separate tasks —
    OCR fill, problem detection, content segment assembly, similarity
    feature extraction — and merges the results associatively, so the
    only remaining single-task work per monster is O(n) concatenation.

    Returns one row per input document:
    (doc_id, _out_spans_m, _problems_m, _content_m, _content_sec_m
    [, _sim_m when the method is number_frequency]).

    Merge-parity arguments (each byte-checked by
    tests/test_edge_cases.py::test_mega_media_chunk_parity):

    - **Chunk boundaries never split an equal-offset run.** The
      offset→text fill gives every span of an offset run the FIRST
      ref's OCR text; a run straddling two chunks would let the
      second chunk re-elect its own first ref. Chunk ids are
      therefore min(floor(pos/chunk)) over the (doc_id, offset)
      group — the whole run takes the run head's chunk. Positions
      stay monotone across chunks (a pulled-back run tail has a
      higher pos than everything already in its chunk), so flatten
      in (ci, pos) order reproduces the global span order exactly.
    - **Content.** concat_ws skips NULL texts, so the global join has
      (non-null texts − 1) separators. Chunks with zero non-null
      texts must contribute NOTHING (not an empty string, which
      would add a separator) — the merge nulls them out and
      concat_ws's null-skipping does the rest.
    - **Similarity (number_frequency, the served default).** The
      separator contains no digits, so per-chunk ``extract_numbers``
      multisets concatenate exactly to the global multiset — and the
      cosine itself is computed RELATIONALLY (count per (doc, value),
      then one exact integer dot/magnitude agg) instead of the
      in-row sort-merge fold, which on a 20k-transcript monster is
      seconds of interpreted lambda work in one task. Counts are
      integers < 2^53, so long-sum-then-divide is bit-identical to
      the in-row float64 fold. Other methods fall back to the
      in-row path over the merged content (documented one-row linear
      cost; levenshtein is additionally 10k-truncated).

    Scale shape: three shuffles move ONLY the mega minority's span
    rows (ci assignment, chunk grouping, doc merge), plus the by-value
    count exchange for similarity. The chunk table is persisted when
    the similarity branch exists so the Arrow OCR stage never runs
    twice (a real model would otherwise pay 2× inference).
    """
    # EXPLICIT partition count: chunk rows are small, so AQE's
    # small-partition coalescing would glue every chunk back into ONE
    # task (measured: the whole monster's model work serialized
    # again, 14 s task) — a user-specified repartition N is exempt
    # from coalescing. Sized to spread chunks one-ish per core slot.
    npart = mega.sparkSession.sparkContext.defaultParallelism * 4

    ex = mega.select(
        "doc_id",
        F.col("provider").alias("_prov"),
        secondary_provider.alias("_prov_sec"),
        validating.alias("_val"),
        F.posexplode("_sorted").alias("_pos", "_sp"),
    )
    from pyspark.sql.window import Window

    # Run-safe chunk id: min over the offset group (no ordering — a
    # plain group min, tiny groups, see parity argument above).
    wrun = Window.partitionBy("doc_id", F.col("_sp")["offset"])
    ex = ex.withColumn(
        "_ci", F.min(F.floor(F.col("_pos") / F.lit(chunk))).over(wrun)
    )

    # Chunk ASSEMBLY (collect + in-array sort, cheap) runs on the
    # agg's own shuffle; the HEAVY per-chunk work — OCR inference,
    # fill, regexes — runs AFTER an explicit ROUND-ROBIN repartition,
    # which deals chunks one-per-partition instead of by hash luck: a
    # hash spread left ~6-chunk collision bins (measured 2.6 s max
    # task vs ~1 s p50 at 79 chunks into 32 bins); round-robin is
    # exact. The extra exchange moves chunk-sized slices of the mega
    # minority only.
    ch = (
        ex.groupBy("doc_id", "_ci")
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", "_sp"))).alias("_ps"),
            F.first("_prov").alias("_prov"),
            F.first("_prov_sec").alias("_prov_sec"),
            F.first("_val").alias("_val"),
        )
        .repartition(npart)
        .withColumn("_cspans", F.transform("_ps", lambda x: x["_sp"]))
        .withColumn("_cmedia", filter_media(F.col("_cspans")))
        .withColumn("_cmedia", first_per_offset(F.col("_cmedia")))
    )
    ch = ch.withColumn("_cmap", media_map(F.col("_cmedia"), F.col("_prov")))
    # Secondary inference input-gated exactly like the main path: the
    # Arrow UDF is hoisted out of CASE WHEN, so non-validating chunks
    # ship an empty media array (zero model calls) instead.
    ch = ch.withColumn(
        "_cmedia_sec",
        F.when(F.col("_val"), F.col("_cmedia")).otherwise(
            F.slice(F.col("_cmedia"), 1, 0)
        ),
    ).withColumn("_cmap_sec", media_map(F.col("_cmedia_sec"), F.col("_prov_sec")))
    ch = (
        ch.withColumn(
            "_cfilled", fill_media_text(F.col("_cspans"), F.col("_cmap"))
        )
        .withColumn(
            "_cfilled_sec",
            F.when(
                F.col("_val"),
                fill_media_text(F.col("_cspans"), F.col("_cmap_sec")),
            ),
        )
        .withColumn("_cprob", span_problems(F.col("_cfilled")))
        .withColumn("_ccont", assemble_content(F.col("_cfilled")))
        .withColumn("_ccont_sec", assemble_content(F.col("_cfilled_sec")))
        .withColumn(
            "_cn",
            F.size(F.filter(F.col("_cfilled"), lambda s: s["text"].isNotNull())),
        )
        .withColumn(
            "_cn_sec",
            F.coalesce(
                F.size(
                    F.filter(
                        F.col("_cfilled_sec"), lambda s: s["text"].isNotNull()
                    )
                ),
                F.lit(0),
            ),
        )
    )

    relational_sim = similarity_method == "number_frequency"
    if relational_sim:
        from blackedge_ocr_spark.functions.text import extract_numbers

        ch = ch.withColumn(
            "_cnum_a", F.when(F.col("_val"), extract_numbers(F.col("_ccont")))
        ).withColumn(
            "_cnum_b",
            F.when(F.col("_val"), extract_numbers(F.col("_ccont_sec"))),
        )
        # Two consumers (doc merge + similarity agg) — persist so the
        # OCR inference stage runs once. Mega rows are the skewed
        # minority; the cache holds chunk-sized slices only. Cache
        # lifecycle: the returned plan still references this table,
        # so it cannot be unpersisted here — repeated calls over the
        # SAME corpus are deduped by Spark's CacheManager (one entry
        # per distinct plan, the lsh_candidate_pairs discipline) and
        # the level is evictable MEMORY_AND_DISK, so distinct-corpus
        # sessions degrade to recompute, never to OOM.
        ch = ch.persist()

    merged = (
        ch.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_ci").alias("ci"),
                        F.col("_cfilled").alias("sp"),
                        F.col("_cprob").alias("pr"),
                        F.col("_ccont").alias("ca"),
                        F.col("_ccont_sec").alias("cb"),
                        F.col("_cn").alias("na"),
                        F.col("_cn_sec").alias("nb"),
                    )
                ),
                lambda l, r: F.when(l["ci"] < r["ci"], -1)
                .when(l["ci"] > r["ci"], 1)
                .otherwise(0),
            ).alias("_chunks")
        )
        .select(
            "doc_id",
            F.flatten(F.transform("_chunks", lambda c: c["sp"])).alias(
                "_out_spans_m"
            ),
            F.flatten(F.transform("_chunks", lambda c: c["pr"])).alias(
                "_problems_m"
            ),
            F.concat_ws(
                CONTENT_SEPARATOR,
                F.transform(
                    "_chunks", lambda c: F.when(c["na"] > 0, c["ca"])
                ),
            ).alias("_content_m"),
            F.concat_ws(
                CONTENT_SEPARATOR,
                F.transform(
                    "_chunks", lambda c: F.when(c["nb"] > 0, c["cb"])
                ),
            ).alias("_content_sec_m"),
        )
    )

    if relational_sim:
        tag = lambda arr, a, b: F.transform(
            arr,
            lambda x: F.struct(
                x.alias("k"),
                F.lit(a).alias("ca"),
                F.lit(b).alias("cb"),
            ),
        )
        # concat null-propagates for non-validating chunks (their
        # number arrays are NULL) — explode then drops them, which is
        # the gate: only validating docs reach the count agg.
        pairs = ch.select(
            "doc_id",
            F.explode(
                F.concat(tag(F.col("_cnum_a"), 1, 0), tag(F.col("_cnum_b"), 0, 1))
            ).alias("e"),
        ).select(
            "doc_id",
            F.col("e")["k"].alias("k"),
            F.col("e")["ca"].cast("long").alias("ca"),
            F.col("e")["cb"].cast("long").alias("cb"),
        )
        bykey = pairs.groupBy("doc_id", "k").agg(
            F.sum("ca").alias("ca"), F.sum("cb").alias("cb")
        )
        ta, tb = F.col("ta"), F.col("tb")
        mag = F.sqrt(F.col("ma").cast("double")) * F.sqrt(
            F.col("mb").cast("double")
        )
        sim = (
            bykey.groupBy("doc_id")
            .agg(
                F.sum(F.col("ca") * F.col("cb")).alias("dot"),
                F.sum(F.col("ca") * F.col("ca")).alias("ma"),
                F.sum(F.col("cb") * F.col("cb")).alias("mb"),
                F.sum("ca").alias("ta"),
                F.sum("cb").alias("tb"),
            )
            .select(
                "doc_id",
                F.when((ta == 0) & (tb == 0), F.lit(1.0))
                .when((ta == 0) | (tb == 0), F.lit(0.0))
                .when(mag == 0, F.lit(0.0))
                .otherwise(F.col("dot").cast("double") / mag)
                .alias("_sim_m"),
            )
        )
        merged = merged.join(sim, "doc_id", "left")
    return merged


class _Plan(NamedTuple):
    """The column plan of one ``extract_documents`` configuration:
    ``head`` stages run before the mega-document join, ``tail`` stages
    after it, then ``select`` projects RESULT_SCHEMA. ``validating`` and
    ``secondary_provider`` also feed the mega split path."""

    head: tuple[tuple[str, Column], ...]
    tail: tuple[tuple[str, Column], ...]
    select: tuple[Column | str, ...]
    validating: Column
    secondary_provider: Column


def _with_stages(df: DataFrame, stages) -> DataFrame:
    for name, col in stages:
        df = df.withColumn(name, col)
    return df


def extract_documents(
    df: DataFrame,
    query_col: str | None = "query",
    explicit_col: str | None = None,
    enable_validation=True,
    similarity_method: str = "number_frequency",
    similarity_threshold: float = SIMILARITY_THRESHOLD,
    mega_media_chunk: int | None = None,
    ocr_burn: int = 0,
) -> DataFrame:
    """documents(doc_id, spans [, query [, explicit_workflow]]) →
    RESULT_SCHEMA rows. ``enable_validation`` may be a bool or the
    name of a boolean column (per-request flag, reference:
    src/api/models.py ExtractionRequest.enable_validation).

    ``mega_media_chunk``: when set, documents with more than this many
    TOTAL spans take the split path (``_extract_mega_chunked``,
    round 4): their sorted spans explode into chunk-sized slices and
    EVERY span-linear stage — OCR inference, media fill, problem
    regexes, content segments, similarity features — runs per slice
    across tasks, merged associatively. Output is IDENTICAL (pytest
    parity); the default keeps the zero-shuffle single-projection
    plan. The value is both the trigger threshold and the slice
    size — size it to the per-task model budget, e.g. 256 on a
    cluster where one model call is ~50 ms (BENCH/SKEW.md).

    ``ocr_burn``: bench-only per-page latency emulation for the md5
    stand-in (see ``operators.ocr.fake_ocr_text``); 0 = production.

    The column expressions are built once per configuration
    (``_extract_plan``, memoized) and only applied to ``df`` here:
    building them cost ~1 s of driver time per call on a local[4]
    session (py4j round trips and lambda construction), more than
    Spark needs to run the projection over thousands of documents. A call with a configuration seen
    before only runs ``withColumn`` per stage; the plan is the same.
    The mega split path's frame is derived from ``df``, so it is built
    on every call.
    """
    plan = _extract_plan(
        query_col if query_col and query_col in df.columns else None,
        explicit_col if explicit_col and explicit_col in df.columns else None,
        enable_validation
        if isinstance(enable_validation, str)
        else bool(enable_validation),
        similarity_method,
        similarity_threshold,
        mega_media_chunk or None,
        ocr_burn,
    )
    df = _with_stages(df, plan.head)
    if mega_media_chunk:
        merged = _extract_mega_chunked(
            df.filter(F.col("_is_mega")),
            mega_media_chunk,
            lambda m, p: ocr_media_map(m, p, burn=ocr_burn),
            plan.secondary_provider,
            plan.validating,
            similarity_method,
        )
        # NO broadcast hint: the merged rows carry the LARGEST
        # documents in the job (a 100k-media doc is ~20 MB per
        # provider) — forcing a broadcast would collect exactly that
        # to the driver. AQE broadcasts at runtime while the merged
        # side is small and falls back to a shuffled join when it is
        # not; mega rows are few either way.
        df = df.join(merged, "doc_id", "left")
    return _with_stages(df, plan.tail).select(*plan.select)


@functools.lru_cache(maxsize=None, typed=True)
def _extract_plan(
    query_col: str | None,
    explicit_col: str | None,
    enable_validation: bool | str,
    similarity_method: str,
    similarity_threshold: float,
    mega_media_chunk: int | None,
    ocr_burn: int,
) -> _Plan:
    """Build ``extract_documents``' stages for one configuration.
    ``query_col``/``explicit_col`` are the names present in the input
    (None when absent). Holds Column expressions only — no DataFrame,
    no session — so the cache is bounded by the configurations used."""
    query = F.col(query_col) if query_col else F.lit("")
    if isinstance(enable_validation, str):
        validation_requested = F.col(enable_validation)
    else:
        validation_requested = F.lit(enable_validation)

    workflow = route_workflow(query, explicit_col)
    provider = _map_literal(workflow, PRIMARY_PROVIDER)
    secondary_provider = _map_literal(workflow, SECONDARY_PROVIDER)

    head = [
        ("workflow", workflow),
        ("provider", provider),
        ("_sorted", sort_spans(F.col("spans"))),
    ]

    # Embedded extraction: media refs go through the Arrow-batched
    # OCR-classify stage (§2.14-2) producing an offset→text map; the
    # span array is rebuilt JVM-side, so text spans never cross the
    # Python boundary. (The UDF must sit in its own projection —
    # Spark rejects Python UDFs nested inside HOF lambdas.)
    #
    # Every array consumed inside a downstream HOF lambda is staged
    # as a column first: inlined expressions are re-evaluated per
    # array element, which turns the fill stage quadratic in span
    # count — a 2,500-span mega-document cost 15 s/row before, linear
    # after (BENCH/SKEW.md). The OCR map comes back as a UDF output
    # attribute precisely so the optimizer CANNOT inline it into the
    # fill lambda.
    media_map = lambda m, p: ocr_media_map(m, p, burn=ocr_burn)
    head += [
        ("_media", filter_media(F.col("_sorted"))),
        ("_media", first_per_offset(F.col("_media"))),
    ]

    # Validation only exists for workflows whose handler wires a
    # secondary client (constants.VALIDATING_WORKFLOWS).
    validating = validation_requested & F.col("workflow").isin(
        list(VALIDATING_WORKFLOWS)
    )

    if mega_media_chunk:
        # Straggler defense: docs above the span threshold run every
        # span-linear stage through the chunked split path
        # (_extract_mega_chunked, joined in by the caller between head
        # and tail) and feed the direct UDF an EMPTY array (input
        # gating — a CASE WHEN around the UDF would be hoisted and
        # still run it).
        #
        # _is_mega triggers on TOTAL span count (round 4): the chunked
        # path now parallelizes content assembly, problem regexes and
        # similarity too, so a text-heavy monster with few media spans
        # also benefits. It tests the RAW spans array (O(1) array
        # length — a Filter predicate cannot reference projection
        # outputs, so a _media-based predicate would substitute the
        # whole derivation into the condition) and is a MATERIALIZED,
        # multi-referenced column: a once-referenced boolean
        # expression would be inlined into the fill transform by
        # projection collapsing and re-evaluated per span element —
        # O(spans·spans) on a mega row (thread-dumped as
        # ArrayFilter/In under the fill lambda, ~100 s on a 20k-media
        # document with the model cost at zero).
        head.append(("_is_mega", F.size(F.col("spans")) > mega_media_chunk))
        is_mega = F.col("_is_mega")
        gated_media = F.when(~is_mega, F.col("_media")).otherwise(
            F.slice(F.col("_media"), 1, 0)
        )
    else:
        is_mega = F.lit(False)
        gated_media = F.col("_media")

    tail = [
        ("_media_pri", gated_media),
        ("_ocr_direct", media_map(F.col("_media_pri"), F.col("provider"))),
    ]
    # The fill branches OUTSIDE the transform (CASE WHEN picks one
    # whole-array value per row, lazily — CaseWhen is a JVM lazy
    # expression, so mega rows never evaluate the direct fill's
    # per-span transform): the mega branch reads the chunk-merged
    # spans from the join, the normal branch the direct UDF map.
    out_spans_col = fill_media_text(F.col("_sorted"), F.col("_ocr_direct"))
    if mega_media_chunk:
        out_spans_col = F.when(
            is_mega, F.col("_out_spans_m")
        ).otherwise(out_spans_col)
    tail.append(("out_spans", out_spans_col))

    # Gate the UDF's INPUT, not its output: Spark hoists Python UDFs
    # out of CASE WHEN into an unconditional ArrowEvalPython stage, so
    # `F.when(validating, media_map(...))` would still run secondary
    # inference for every row. Feeding non-validating rows an empty
    # media array makes their Arrow batch entries empty (zero media
    # refs → zero model calls), which is the real cost gate.
    tail += [
        (
            "_media_sec",
            F.when(validating & ~is_mega, F.col("_media")).otherwise(
                F.slice(F.col("_media"), 1, 0)
            ),
        ),
        ("_ocr_sec_direct", media_map(F.col("_media_sec"), secondary_provider)),
        (
            "_secondary_spans",
            F.when(
                validating & ~is_mega,
                fill_media_text(F.col("_sorted"), F.col("_ocr_sec_direct")),
            ),
        ),
    ]

    # Mega rows take the chunk-merged content/problems from the join —
    # the per-span regex battery and the assembly fold must not re-run
    # over the monster row (that WAS the residual straggler). CaseWhen
    # evaluates lazily, so non-mega branches cost mega rows nothing.
    primary_content = assemble_content(F.col("out_spans"))
    secondary_content = assemble_content(F.col("_secondary_spans"))
    problems = span_problems(F.col("out_spans"))
    if mega_media_chunk:
        primary_content = F.when(is_mega, F.col("_content_m")).otherwise(
            primary_content
        )
        secondary_content = F.when(
            is_mega,
            F.when(validating, F.col("_content_sec_m")).otherwise(F.lit("")),
        ).otherwise(secondary_content)
        problems = F.when(is_mega, F.col("_problems_m")).otherwise(problems)

    tail += [
        ("problems", problems),
        ("_primary_content", primary_content),
        ("_secondary_content", secondary_content),
    ]

    has_problems = F.size(F.col("problems")) > 0
    # Stage 2 similarity runs only when stage 1 found no problems
    # (reference: validation_service.py:90-145). The per-method derived
    # arrays are materialized as columns first so the interpreted
    # higher-order cosine doesn't re-extract numbers per element —
    # and GATED at the input, so rows that skip validation never pay
    # the regex extraction (JVM methods) or the Arrow transfer
    # ('cosine' method, whose UDF is hoisted out of CASE WHEN like any
    # Python UDF and sees null inputs for gated rows).
    from blackedge_ocr_spark.functions import similarity as S

    sim_gate = validating & ~has_problems
    # Mega rows with the number_frequency method read the RELATIONAL
    # cosine from the chunk path's join (_sim_m) — the in-row
    # sort-merge fold over a monster's ~10⁵ numbers is seconds of
    # interpreted lambda work in one task. A validating mega doc
    # absent from the sim agg had zero numbers on both sides → 1.0
    # (the both-empty rule), hence the coalesce. Other methods run
    # the ordinary in-row path over the (merged) contents — a
    # documented one-row linear cost on the non-default methods.
    mega_relational_sim = bool(mega_media_chunk) and (
        similarity_method == "number_frequency"
    )
    sim_prep_gate = sim_gate & ~is_mega if mega_relational_sim else sim_gate
    tail += [
        (
            "_sim_a",
            F.when(
                sim_prep_gate,
                S.prepare(F.col("_primary_content"), similarity_method),
            ),
        ),
        (
            "_sim_b",
            F.when(
                sim_prep_gate,
                S.prepare(F.col("_secondary_content"), similarity_method),
            ),
        ),
    ]
    similarity = F.when(
        sim_gate,
        S.from_prepared(F.col("_sim_a"), F.col("_sim_b"), similarity_method),
    )
    if mega_relational_sim:
        similarity = F.when(
            is_mega,
            F.when(sim_gate, F.coalesce(F.col("_sim_m"), F.lit(1.0))),
        ).otherwise(similarity)
    tail.append(("similarity", similarity))

    used_secondary = validating & (
        has_problems | (F.col("similarity") < F.lit(similarity_threshold))
    )
    reason = F.when(validating & has_problems, F.lit("quality_issues")).when(
        validating & (F.col("similarity") < F.lit(similarity_threshold)),
        F.lit("low_similarity"),
    )
    content = F.when(
        used_secondary, F.col("_secondary_content")
    ).otherwise(F.col("_primary_content"))

    select = (
        "doc_id",
        "workflow",
        "out_spans",
        "problems",
        content.alias("content"),
        F.coalesce(used_secondary, F.lit(False)).alias("used_secondary"),
        "similarity",
        reason.alias("reason"),
        F.size("spans").cast("int").alias("pages"),
        "provider",
    )
    return _Plan(tuple(head), tuple(tail), select, validating, secondary_provider)
