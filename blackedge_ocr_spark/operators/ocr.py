"""Embedded OCR-classify stage for media spans.

Replaces the reference's per-page HTTP provider calls
(reference: src/services/clients/mistral_client.py:88-162,
openai_client.py:132-209, gemini_client.py:84-156) with an
Arrow-batched inference UDF running inside executors — the north
star's "embedded OCR-classify stage". The real model decode is not
available in this container, so the inference body is a
deterministic, seedable stand-in keyed on (provider, media_ref).

Boundary-minimization design: ONLY the media refs cross the Python
boundary (array<string> per row), never the text spans — the merged
span array is rebuilt JVM-side via an offset-keyed map lookup. On a
media-sparse corpus (~1 media span in 9) this shrinks the Arrow
payload ~10x versus shipping whole span arrays, which is what keeps
the stage scaling with cores instead of with serialization.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blackedge_ocr_spark.constants import MEDIA_KINDS


def fake_ocr_text(provider: str, media_ref: str) -> str:
    """Deterministic stand-in for model inference on one media span.

    Shaped like a real page transcript (>=100 chars, >=20 words,
    punctuation) so it does not itself trip the quality checks; the
    embedded values are a hash of (provider, media_ref), so two
    providers disagree on numbers — which is exactly what the
    number-frequency cross-validation is built to catch.
    """
    h = hashlib.md5(f"{provider}:{media_ref}".encode("utf-8")).hexdigest()
    nums = [int(h[i : i + 4], 16) for i in range(0, 16, 4)]
    return (
        f"Extracted by {provider} ocr engine from {media_ref}. "
        f"The image region reports values {nums[0]}, {nums[1]}, "
        f"{nums[2]} and {nums[3]}. Confidence stays high for every "
        f"block detected in this scan."
    )


@F.pandas_udf(T.MapType(T.IntegerType(), T.StringType()))
def _ocr_text_map(
    offsets: pd.Series, media_refs: pd.Series, provider: pd.Series
) -> pd.Series:
    """Arrow-batched OCR-classify returning the offset→text map
    DIRECTLY, so the map reaches ``fill_media_text`` as an
    ArrowEvalPython output attribute. That placement is the point: a
    JVM-side ``map_from_arrays`` column gets inlined into the fill
    lambda by projection collapsing and is then rebuilt once per span
    element — quadratic in span count (a 2,500-span mega-document
    spent 15 s in that one row). A UDF output cannot be inlined.

    Under ``pdfplumber`` every media offset maps to empty text
    (pdfplumber cannot OCR; reference:
    src/services/workflows/text_extraction_handler.py:96-150) and no
    model would be invoked for the batch entry.
    """
    out = []
    for offs, refs, prov in zip(offsets, media_refs, provider):
        offs = list(offs) if offs is not None else []
        refs = list(refs) if refs is not None else []
        if prov == "pdfplumber":
            out.append({int(o): "" for o in offs})
        else:
            out.append({int(o): fake_ocr_text(prov, r) for o, r in zip(offs, refs)})
    return pd.Series(out)


def _is_media(s) -> Column:
    return s["kind"].isin(list(MEDIA_KINDS))


def filter_media(sorted_spans: Column) -> Column:
    """The media spans of a sorted span array. Materialize the result
    as a column before passing it to ``first_per_offset`` /
    ``ocr_media_map`` — both index into it per element, and an inlined
    filter expression would be re-evaluated per element (quadratic in
    span count). NB: a `when(isNotNull(c), c)` double-reference
    "fence" does NOT reliably prevent that inlining (later rewrites
    collapse it anyway — measured); only genuine attribute producers
    (a prior projection the optimizer must keep, or a Python UDF
    output) are safe to index from inside lambdas."""
    return F.filter(sorted_spans, _is_media)


def first_per_offset(media: Column) -> Column:
    """Keep only the first media span of each offset run.

    The documents(doc_id, spans) schema does not enforce offset
    uniqueness, and ``map_from_arrays`` under Spark's default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` fails at runtime on a
    duplicate key — so an externally supplied document with two media
    spans at one offset must be disambiguated here. The input is
    offset-sorted, so duplicates are adjacent: element i survives iff
    it is first or differs from its predecessor. ``fill_media_text``
    then gives every span at that offset the first ref's OCR text —
    documented first-wins semantics.

    ``media`` MUST be a materialized column attribute: the lambda
    indexes back into it (element_at), so an inlined expression would
    be recomputed per element.
    """
    return F.filter(
        media,
        lambda s, i: (i == F.lit(0))
        | (s["offset"] != F.element_at(media, F.greatest(i, F.lit(1)))["offset"]),
    )


def ocr_media_map(media_spans: Column, provider: Column) -> Column:
    """map<offset, ocr_text> for the (pre-filtered, offset-deduped)
    media spans of a document, produced INSIDE the Arrow UDF.

    Materialize this as its OWN column (withColumn) — Spark rejects
    Python UDFs nested inside higher-order-function lambdas, and only
    offsets + media refs should cross the Arrow boundary anyway. The
    map being a UDF output (not a JVM map_from_arrays) is what keeps
    ``fill_media_text`` linear: see ``_ocr_text_map``.
    """
    offsets = F.transform(media_spans, lambda s: s["offset"])
    refs = F.transform(media_spans, lambda s: s["media_ref"])
    return _ocr_text_map(offsets, refs, provider)


def fill_media_text(sorted_spans: Column, ocr_map: Column) -> Column:
    """Rebuild the span array with media texts from the OCR map —
    pure JVM higher-order function; pass ocr_map as a materialized
    column attribute."""
    return F.transform(
        sorted_spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(
                _is_media(s),
                F.coalesce(F.try_element_at(ocr_map, s["offset"]), F.lit("")),
            ).otherwise(s["text"]).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
