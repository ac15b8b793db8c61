"""Semantics tests for textstats' quality signals on crafted corpora:
the Gopher rule battery against a pure-Python model, CCNet
perplexity bucketing, and lm_scores' carried columns. Spark-vs-DuckDB
parity is covered by the driver contract."""

import math

from pyspark.sql import Row


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lang) for i, t, lang in rows],
        "doc_id long, text string, lang string",
    )


# --- Gopher rule battery (textstats.gopher_rules) --------------------


def _gopher_df(spark, rows):
    return _docs_df(spark, [(i, t, "en") for i, t in rows])


GOOD = (
    "the data are good and we have to be sure that with care "
    + " ".join(f"word{i} extra tokens here" for i in range(12))
)


def _py_gopher(text):
    """Pure-Python mirror of gopher_rules' formulas (flags on exact
    values, micro-unit rounding for the output ratios)."""
    import re

    from blackedge_ocr_spark.analysis import textstats as ts

    words = [w for w in re.split(r"\s+", text) if w != ""]
    lines = [ln for ln in text.split("\n") if ln.strip() != ""]
    n_w, n_l = len(words), len(lines)
    mean_len = sum(len(w) for w in words) / n_w if n_w else 0.0
    n_sym = len(re.findall(r"#", text)) + len(re.findall(r"\.\.\.|…", text))
    symbol = n_sym / n_w if n_w else 0.0
    bullet = (
        sum(bool(re.search(r"^\s*[-*•]", ln)) for ln in lines) / n_l
        if n_l
        else 0.0
    )
    ell = (
        sum(bool(re.search(r"(\.\.\.|…)\s*$", ln)) for ln in lines) / n_l
        if n_l
        else 0.0
    )
    alpha = (
        sum(bool(re.search(r"[a-zA-Z]", w)) for w in words) / n_w
        if n_w
        else 0.0
    )
    lowered = [w.lower() for w in words]
    hits = sum(s in lowered for s in ts.GOPHER_STOPWORDS)
    flags = (
        ts.GOPHER_MIN_WORDS <= n_w <= ts.GOPHER_MAX_WORDS,
        ts.GOPHER_MIN_WLEN <= mean_len <= ts.GOPHER_MAX_WLEN,
        symbol <= ts.GOPHER_MAX_SYMBOL_RATIO,
        bullet <= ts.GOPHER_MAX_BULLET_FRAC,
        ell <= ts.GOPHER_MAX_ELLIPSIS_FRAC,
        alpha >= ts.GOPHER_MIN_ALPHA_FRAC,
        hits >= ts.GOPHER_MIN_STOP_HITS,
    )
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    return (
        n_w, r6(mean_len), r6(symbol), r6(bullet), r6(ell), r6(alpha),
        hits, *flags, all(flags),
    )


GOPHER_ROWS = [
    (0, GOOD),  # passes every rule
    (1, "the and short"),  # fails only the word-count rule band
    (2, GOOD + " ### ## # # # # # # # #"),  # symbol ratio
    (3, "\n".join(["- bullet line"] * 10 + ["plain"])),  # 10/11 bullets
    (4, GOOD.replace(" ", "...\n", 30)),  # ellipsis-ended lines
    (5, ""),  # empty doc
    (6, "42 7 99 " + GOOD),  # some non-alphabetic words
]


def test_gopher_rules_match_pure_python_model(spark):
    from blackedge_ocr_spark.analysis.textstats import gopher_rules

    out = {
        r["doc_id"]: tuple(r)[1:]
        for r in gopher_rules(_gopher_df(spark, GOPHER_ROWS)).collect()
    }
    for doc_id, text in GOPHER_ROWS:
        assert out[doc_id] == _py_gopher(text), f"doc {doc_id}"


def test_gopher_rules_flag_semantics(spark):
    from blackedge_ocr_spark.analysis.textstats import gopher_rules

    out = {
        r["doc_id"]: r
        for r in gopher_rules(_gopher_df(spark, GOPHER_ROWS)).collect()
    }
    assert out[0]["gopher_pass"]
    # short doc: stopword rule still passes ("the" + "and"), words fail
    assert not out[1]["r_words"] and out[1]["r_stopwords"]
    assert not out[2]["r_symbol"] and out[2]["symbol_ratio"] > 0.1
    assert not out[3]["r_bullet"] and out[3]["bullet_frac"] > 0.9
    assert not out[4]["r_ellipsis"]
    r5 = out[5]
    assert r5["n_words"] == 0 and not r5["gopher_pass"]
    assert r5["r_symbol"] and not r5["r_alpha"]


# --- CCNet perplexity bucketing (textstats.ccnet_buckets) ------------


def test_ccnet_buckets_order_and_unsampled(spark):
    import hashlib as _h

    from blackedge_ocr_spark.analysis import textstats as ts

    def in_sample(doc_id):
        return _h.md5(f"{ts.CCNET_SALT}{doc_id}".encode()).hexdigest()[
            0
        ] < f"{ts.CCNET_KEEP:x}"

    # enough en docs that the sample is non-empty and all three
    # buckets populate; an 'xx' lang built ONLY from out-of-sample ids
    # must come back 'unsampled'.
    en_ids = list(range(40))
    assert any(in_sample(i) for i in en_ids)
    xx_ids = [i for i in range(40, 400) if not in_sample(i)][:3]
    rows = [
        (i, " ".join(["common"] * (1 + i % 7) + [f"rare{i}"]), "en")
        for i in en_ids
    ] + [(i, "opaque tokens here", "xx") for i in xx_ids]
    out = ts.ccnet_buckets(_docs_df(spark, rows)).collect()
    en = [r for r in out if r["lang"] == "en"]
    order = {"tail": 0, "middle": 1, "head": 2}
    # bucket assignment must be monotone in lm_score within a lang
    en.sort(key=lambda r: r["lm_score"])
    ranks = [order[r["bucket"]] for r in en]
    assert ranks == sorted(ranks)
    assert {r["bucket"] for r in out if r["lang"] == "xx"} == {"unsampled"}


def test_lm_scores_carry_columns(spark):
    from blackedge_ocr_spark.analysis import textstats as ts

    d = _docs_df(spark, [(0, "a b c", "en"), (1, "", "de")])
    out = {r["doc_id"]: r for r in ts.lm_scores(d, carry=("lang",)).collect()}
    assert out[0]["lang"] == "en" and out[1]["lang"] == "de"
    assert out[1]["n_tokens"] == 0 and out[1]["lm_score"] == 0.0
