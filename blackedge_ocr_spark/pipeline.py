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
OCR-classify stage. One document is one row, so its cost lands in
one task; every per-span stage is linear in span count
(BENCH/SKEW.md).
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


class _Plan(NamedTuple):
    """The column plan of one ``extract_documents`` configuration:
    ``stages`` are applied in order, then ``select`` projects
    RESULT_SCHEMA."""

    stages: tuple[tuple[str, Column], ...]
    select: tuple[Column | str, ...]


def extract_documents(
    df: DataFrame,
    query_col: str | None = "query",
    explicit_col: str | None = None,
    enable_validation=True,
    similarity_method: str = "number_frequency",
    similarity_threshold: float = SIMILARITY_THRESHOLD,
) -> DataFrame:
    """documents(doc_id, spans [, query [, explicit_workflow]]) →
    RESULT_SCHEMA rows. ``enable_validation`` may be a bool or the
    name of a boolean column (per-request flag, reference:
    src/api/models.py ExtractionRequest.enable_validation).

    One document is one row: the plan is a single map-side projection
    with no shuffle, so a document with many spans costs one task time
    linear in its span count (BENCH/SKEW.md).

    The column expressions are built once per configuration
    (``_extract_plan``, memoized) and only applied to ``df`` here:
    building them cost ~1 s of driver time per call on a local[4]
    session (py4j round trips and lambda construction), more than
    Spark needs to run the projection over thousands of documents. A
    call with a configuration seen before only runs ``withColumn`` per
    stage; the plan is the same.
    """
    plan = _extract_plan(
        query_col if query_col and query_col in df.columns else None,
        explicit_col if explicit_col and explicit_col in df.columns else None,
        enable_validation
        if isinstance(enable_validation, str)
        else bool(enable_validation),
        similarity_method,
        similarity_threshold,
    )
    for name, col in plan.stages:
        df = df.withColumn(name, col)
    return df.select(*plan.select)


@functools.lru_cache(maxsize=None, typed=True)
def _extract_plan(
    query_col: str | None,
    explicit_col: str | None,
    enable_validation: bool | str,
    similarity_method: str,
    similarity_threshold: float,
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
    # Validation only exists for workflows whose handler wires a
    # secondary client (constants.VALIDATING_WORKFLOWS).
    validating = validation_requested & F.col("workflow").isin(
        list(VALIDATING_WORKFLOWS)
    )

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
    stages = [
        ("workflow", workflow),
        ("provider", provider),
        ("_sorted", sort_spans(F.col("spans"))),
        ("_media", filter_media(F.col("_sorted"))),
        ("_media", first_per_offset(F.col("_media"))),
        ("_ocr_direct", ocr_media_map(F.col("_media"), F.col("provider"))),
        ("out_spans", fill_media_text(F.col("_sorted"), F.col("_ocr_direct"))),
    ]

    # Gate the UDF's INPUT, not its output: Spark hoists Python UDFs
    # out of CASE WHEN into an unconditional ArrowEvalPython stage, so
    # `F.when(validating, ocr_media_map(...))` would still run secondary
    # inference for every row. Feeding non-validating rows an empty
    # media array makes their Arrow batch entries empty (zero media
    # refs → zero model calls), which is the real cost gate.
    stages += [
        (
            "_media_sec",
            F.when(validating, F.col("_media")).otherwise(
                F.slice(F.col("_media"), 1, 0)
            ),
        ),
        ("_ocr_sec_direct", ocr_media_map(F.col("_media_sec"), secondary_provider)),
        (
            "_secondary_spans",
            F.when(
                validating,
                fill_media_text(F.col("_sorted"), F.col("_ocr_sec_direct")),
            ),
        ),
    ]
    # built in this order so the lambda variables keep their numbering
    # in printed plans (PLANS.md)
    primary_content = assemble_content(F.col("out_spans"))
    secondary_content = assemble_content(F.col("_secondary_spans"))
    stages += [
        ("problems", span_problems(F.col("out_spans"))),
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
    stages += [
        (
            "_sim_a",
            F.when(
                sim_gate,
                S.prepare(F.col("_primary_content"), similarity_method),
            ),
        ),
        (
            "_sim_b",
            F.when(
                sim_gate,
                S.prepare(F.col("_secondary_content"), similarity_method),
            ),
        ),
        (
            "similarity",
            F.when(
                sim_gate,
                S.from_prepared(F.col("_sim_a"), F.col("_sim_b"), similarity_method),
            ),
        ),
    ]

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
    return _Plan(tuple(stages), select)
