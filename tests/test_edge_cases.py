"""Edge-row behavior: empty spans, invalid explicit workflow,
single-span docs, mega-doc ordering."""

import pyspark.sql.functions as F
import pytest

from blackedge_ocr_spark.pipeline import extract_documents
from blackedge_ocr_spark.schema import DOCUMENTS_SCHEMA


def _df(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [
            T.StructField("query", T.StringType(), True),
            T.StructField("explicit_workflow", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_empty_spans_yield_empty_content(spark):
    df = _df(spark, [("e1", [], "", None)])
    out = extract_documents(df, query_col="query").collect()[0]
    assert out["content"] == ""
    assert out["pages"] == 0
    assert out["out_spans"] == []
    # empty content trips D1/D4 → problems empty (no spans to tag)
    assert out["problems"] == []


def test_invalid_explicit_workflow_is_error_row(spark):
    df = _df(
        spark,
        [("x1", [("text", "hello world, plenty of text here", "", 0)],
          "", "not_a_workflow")],
    )
    out = extract_documents(
        df, query_col="query", explicit_col="explicit_workflow"
    ).collect()[0]
    # dataflow analog of the reference ValueError: NULL workflow/provider
    assert out["workflow"] is None
    assert out["provider"] is None


def test_mega_doc_order_preserved(spark):
    spans = [("text", f"span {i}", "", i) for i in range(500)][::-1]
    df = _df(spark, [("m1", spans, "", None)])
    out = extract_documents(df, query_col="query").collect()[0]
    offs = [s["offset"] for s in out["out_spans"]]
    assert offs == list(range(500))
    assert out["content"].startswith("span 0\n---PAGE-BREAK---\nspan 1")


def test_single_media_span_doc(spark):
    df = _df(spark, [("s1", [("image", "", "m-s1-0", 0)], "", None)])
    out = extract_documents(df, query_col="query").collect()[0]
    assert out["out_spans"][0]["text"].startswith("Extracted by mistral")
    assert out["pages"] == 1


def test_duplicate_media_offsets_first_wins(spark):
    """Two media spans sharing an offset must not raise under the
    default mapKeyDedupPolicy=EXCEPTION (the documents schema does not
    enforce offset uniqueness): the map keeps the FIRST ref per offset
    and every span at that offset receives its text."""
    spans = [
        ("text", "intro words here", "", 0),
        ("image", "", "m-dup-a", 1),
        ("image", "", "m-dup-b", 1),  # same offset, different ref
        ("text", "closing words here", "", 2),
    ]
    df = _df(spark, [("dup1", spans, "", None)])
    out = extract_documents(df, query_col="query").collect()[0]
    media_texts = [
        s["text"] for s in out["out_spans"] if s["kind"] == "image"
    ]
    assert len(media_texts) == 2
    # first-wins: both spans at offset 1 carry ref m-dup-a's transcript
    assert all("m-dup-a" in t for t in media_texts)
    assert out["pages"] == 4

def _assert_matches_oracle(got, want):
    """One engine row against ``oracle.expected_result``: every
    RESULT_SCHEMA column, spans and problem labels exactly."""
    doc_id = want["doc_id"]
    assert [tuple(s) for s in got["out_spans"]] == want["out_spans"], doc_id
    assert [
        (p["offset"], list(p["labels"])) for p in got["problems"]
    ] == want["problems"], doc_id
    for col in ("workflow", "content", "used_secondary", "reason", "pages",
                "provider"):
        assert got[col] == want[col], (doc_id, col)
    if want["similarity"] is None:
        assert got["similarity"] is None, doc_id
    else:
        assert got["similarity"] == pytest.approx(
            want["similarity"], abs=1e-12
        ), doc_id


def test_many_span_docs_match_oracle(spark):
    """Documents with many spans — a late duplicate offset (first-wins),
    an equal-offset media run, validating and non-validating
    workflows — next to a small and an empty one: every row equals
    the Python oracle's."""
    from blackedge_ocr_spark import oracle

    mega_spans = []
    for i in range(97):
        if i % 3 == 0:
            mega_spans.append(("image", "", f"m-big-{i}", i))
        else:
            mega_spans.append(("text", f"body text number {i} with words", "", i))
    # duplicate offset vs the image span already at offset 0, stored
    # last: the sort must still give both spans the FIRST ref's text
    mega_spans.append(("image", "", "m-dup-late", 0))
    # two media spans share offset 7 (positions 7 and 8 of the sorted
    # array): both must carry the first ref's OCR text
    straddle_spans = [
        ("text", f"lead text value {i} here", "", i) for i in range(7)
    ] + [
        ("image", "", "m-straddle-first", 7),
        ("image", "", "m-straddle-second", 7),
    ] + [
        ("text", f"tail text value {i} and more", "", i) for i in range(8, 20)
    ]
    rows = [
        ("mega1", mega_spans, "extract data", None),          # validates (mistral)
        ("mega2", mega_spans[:60], "plain text only", None),  # text_extraction: never validates
        ("straddle", straddle_spans, "extract data", None),
        ("small", [("image", "", "m-sm-0", 0), ("text", "tiny body", "", 1)], "extract data", None),
        ("empty", [], "extract data", None),
    ]
    got = {
        r["doc_id"]: r
        for r in extract_documents(_df(spark, rows), query_col="query").collect()
    }
    assert got.keys() == {r[0] for r in rows}
    assert got["mega2"]["workflow"] == "text_extraction"
    for doc_id, spans, query, _ in rows:
        _assert_matches_oracle(
            got[doc_id], oracle.expected_result(doc_id, spans, query)
        )
    # the equal-offset run really did take the first ref's text on both spans
    run = [s for s in got["straddle"]["out_spans"] if s["offset"] == 7]
    assert len(run) == 2 and run[0]["text"] == run[1]["text"]
    assert "m-straddle-first" in run[0]["text"]


def test_duplicate_offset_media_oracle_parity(spark):
    """Engine and Python oracle agree on duplicate-offset media:
    BOTH spans of the run carry the FIRST ref's OCR text."""
    from blackedge_ocr_spark import oracle

    spans = [
        ("image", "", "refA", 1),
        ("image", "", "refB", 1),
        ("text", "plenty of ordinary text in this span here", "", 0),
    ]
    df = _df(spark, [("d1", spans, "", None)])
    out = extract_documents(df, query_col="query").collect()[0]
    want = oracle.expected_result("d1", spans, "")
    got_spans = [tuple(s) for s in out["out_spans"]]
    assert got_spans == want["out_spans"]
    assert out["content"] == want["content"]
    # and the two duplicate-offset spans really share refA's text
    media_texts = {s[1] for s in got_spans if s[0] == "image"}
    assert len(media_texts) == 1 and "refA" in next(iter(media_texts))


def test_invalid_explicit_oracle_parity(spark):
    """oracle.expected_result must express the NULL-workflow error
    row instead of raising KeyError, matching the engine."""
    from blackedge_ocr_spark import oracle

    spans = [("image", "", "refZ", 0),
             ("text", "hello world, plenty of text here", "", 1)]
    df = _df(spark, [("x1", spans, "", "not_a_workflow")])
    out = extract_documents(
        df, query_col="query", explicit_col="explicit_workflow"
    ).collect()[0]
    want = oracle.expected_result("x1", spans, "", explicit="not_a_workflow")
    assert want["workflow"] is None and want["provider"] is None
    assert out["workflow"] is None and out["provider"] is None
    assert [tuple(s) for s in out["out_spans"]] == want["out_spans"]
    assert out["content"] == want["content"]


def test_control_separator_whitespace_parity(spark):
    """U+001C-001F: Python \\s (the reference) treats them as
    whitespace; the engine's extended _WS/_EDGE_WS classes must too."""
    from blackedge_ocr_spark import oracle
    from blackedge_ocr_spark.functions.text import normalize_text

    texts = ["\x1cpadded\x1f", "a\x1d\x1eb", "\x1c\x1d\x1e\x1f", "x" * 99 + "\x1c"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, t string"
    )
    got = {
        r["id"]: r["n"]
        for r in df.select("id", normalize_text("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == oracle.normalize_text(t), repr(t)


def test_other_sim_methods_match_oracle(spark):
    """40-span validating documents under the non-default similarity
    methods equal the Python oracle's rows. Short spans trip the
    quality checks (stage 1 decides, no similarity); the prose
    document passes them, so each method's similarity decides."""
    from blackedge_ocr_spark import oracle

    short, prose = [], []
    for i in range(40):
        if i % 4 == 0:
            short.append(("image", "", f"m-os-{i}", i))
            prose.append(("image", "", f"m-os-{i}", i))
        else:
            short.append(("text", f"steady prose segment {i} with words", "", i))
            prose.append((
                "text",
                f"Paragraph {i} of the quarterly report lists revenue of "
                f"{i * 37} units and costs of {i * 11} units, with a margin "
                "that stays steady across every region we track.",
                "",
                i,
            ))
    rows = [("m1", short, "extract data", None), ("m2", prose, "extract data", None)]
    df = _df(spark, rows)
    for method in ("word_overlap", "cosine", "levenshtein"):
        got = {
            r["doc_id"]: r
            for r in extract_documents(
                df, query_col="query", similarity_method=method
            ).collect()
        }
        for doc_id, spans, query, _ in rows:
            want = oracle.expected_result(
                doc_id, spans, query, similarity_method=method
            )
            _assert_matches_oracle(got[doc_id], want)
        assert got["m1"]["reason"] == "quality_issues", method
        assert got["m2"]["similarity"] is not None, method
