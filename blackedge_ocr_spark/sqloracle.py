"""DuckDB oracle SQL for every driver-contract query.

Each ``sql_*`` function returns ANSI-ish SQL runnable by DuckDB over
the driver's pre-registered parquet views (``documents`` etc.),
semantically equal to the matching ``queries.q_*`` Spark DataFrame.
SQL is *generated* from the same constants (keyword lists, labels,
thresholds, templates) as the Spark side, so the two cannot drift.

DuckDB-vs-Spark parity notes:
- ``/`` is true division in both; int casts via ``::bigint`` mirror
  ``.cast('long')``.
- RE2 (DuckDB) has no backreferences, so D3 ``(.)\\1{10,}`` becomes a
  repeat-containment scan over the distinct chars of the string
  (newline excluded: Python ``.`` does not match ``\\n``).
- Float outputs are rounded to 6 decimals on both sides; large text
  payloads are compared as md5.
"""

from __future__ import annotations

from blackedge_ocr_spark.constants import (
    AZURE_DI_KEYWORDS,
    ENCODING_ERROR_MARKERS,
    GEMINI_KEYWORDS,
    MAX_GIBBERISH_RATIO,
    MAX_REPEATED_CHAR_LENGTH,
    MIN_CONTENT_LENGTH,
    MIN_WORD_COUNT,
    OCR_KEYWORDS,
    PAGE_BREAK_MARKERS,
    PRIMARY_PROVIDER,
    PROBLEM_LABELS,
    SECONDARY_PROVIDER,
    SIMILARITY_THRESHOLD,
    TEXT_EXTRACTION_KEYWORDS,
    VALIDATING_WORKFLOWS,
    WF_AZURE,
    WF_GEMINI,
    WF_MISTRAL,
    WF_OCR,
    WF_TEXT,
)
from blackedge_ocr_spark.queries import GIBBERISH_SUFFIX, ROUTE_TEMPLATES

NL = "chr(10)"
SEP = f"{NL} || '---PAGE-BREAK---' || {NL}"  # CONTENT_SEPARATOR
NUMPAT = r"-?\d+(?:,\d{3})*(?:\.\d+)?%?"
# RE2's \w and \b are ASCII-only, but the Spark side uses Java's (?U)
# unicode classes (functions/text.py) — on corpora with non-ASCII
# words the two disagree (caught at sf0.1). The mirror relies on the
# equivalence: (?U)\b\w+\b extracts exactly the MAXIMAL runs of word
# characters, and (?U)\b[a-z0-9]+\b extracts exactly those runs that
# consist ENTIRELY of [a-z0-9] — both expressible in RE2 as a unicode
# run match plus a full-match filter, no lookaround needed.
# ≈ Java (?U)\w run. Java's UNICODE_CHARACTER_CLASS \w is
# [\p{Alpha}\p{M}\p{Digit}\p{Pc}\p{Join_Control}]; the class below
# adds \p{Nl} (letter-numbers, e.g. Roman numerals) and the two
# Join_Control characters (ZWNJ U+200C / ZWJ U+200D) that the
# round-2 mirror missed. Residual documented gap: Other_Alphabetic
# characters OUTSIDE L/M/Nl (e.g. circled letters U+24B6, category
# So) are \w in Java but not matched here — none are producible by
# the corpus generator, and tests/test_random_parity.py fuzzes the
# Nl/ZWJ cases explicitly.
WORDRUN = r"[\p{L}\p{M}\p{Nd}\p{Nl}\p{Pc}\x{200C}\x{200D}]+"
TERMPAT = r"^[a-z0-9]+$"               # filter over WORDRUN runs


def _sq(s: str) -> str:
    """SQL single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


# ------------------------------------------------------- expression kit


def norm_sql(c: str) -> str:
    """normalize_text (T1)."""
    return (
        "trim(regexp_replace(regexp_replace(lower(" + c + "), "
        r"'(\r\n|\n|\r)', ' ', 'g'), '\s+', ' ', 'g'))"
    )


def strip_len_sql(c: str) -> str:
    return r"length(regexp_replace(" + c + r", '^\s+|\s+$', '', 'g'))"


def numbers_sql(c: str) -> str:
    """extract_numbers (T2) → list<double>. `+ 0.0` folds -0.0 → 0.0
    (Counter-key merge parity, see functions/text.py)."""
    return (
        f"list_transform(regexp_extract_all({c}, {_sq(NUMPAT)}), "
        "x -> regexp_replace(replace(x, ',', ''), '%$', '')::double + 0.0)"
    )


def tokens_sql(c: str, min_length: int = 0) -> str:
    """T3 token stream over normalized text (with repeats)."""
    runs = f"regexp_extract_all({norm_sql(c)}, {_sq(WORDRUN)})"
    toks = f"list_filter({runs}, w -> regexp_matches(w, {_sq(TERMPAT)}))"
    if min_length:
        toks = f"list_filter({toks}, w -> length(w) >= {min_length})"
    return toks


def key_terms_sql(c: str, min_length: int = 3) -> str:
    return f"list_sort(list_distinct({tokens_sql(c, min_length)}))"


# --- shared lang-ID / quality fragments -------------------------------
# ONE definition each for the language-score selects, the argmax CASE
# and the composite quality formula: these appear in half a dozen
# oracles (lang_id, quality_scores, doc_features, corpus_curation,
# curation_funnel, domain_stats, lang_confusion,
# lang_rebalance, quality_sample) and hand-maintained copies WILL
# drift from textstats.predict_lang / quality_col.


def lang_score_sql(ws) -> str:
    """Stopword-hit count of one language profile over a column named
    ``toks`` — textstats.lang_scores mirror for a single profile."""
    return (
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(_sq(w) for w in ws)
        + "], t)))"
    )


def lang_scores_sel_sql() -> str:
    """``<score> AS s_<lang>, ...`` select list over ``toks``."""
    from blackedge_ocr_spark.analysis.textstats import LANG_PROFILES

    return ", ".join(
        f"{lang_score_sql(ws)} AS s_{lang}" for lang, ws in LANG_PROFILES
    )


def lang_case_sql() -> str:
    """Argmax CASE over the ``s_<lang>`` columns — priority order
    breaks ties, all-zero falls to UNKNOWN_LANG (textstats.predict_lang
    mirror)."""
    from blackedge_ocr_spark.analysis.textstats import (
        LANG_PROFILES,
        UNKNOWN_LANG,
    )

    names = [lang for lang, _ in LANG_PROFILES]
    whens = []
    for lang in names:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{o}" for o in names if o != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {_sq(lang)}")
    return "CASE " + " ".join(whens) + f" ELSE {_sq(UNKNOWN_LANG)} END"


def stop_score_sql() -> str:
    """English-profile stopword hits over ``toks`` (the quality
    signal's stop count)."""
    from blackedge_ocr_spark.analysis.textstats import LANG_PROFILES

    return lang_score_sql(LANG_PROFILES[0][1])


def measures_sql() -> str:
    """``n_words, mean_word_len, stop_ratio`` select fragment over a
    column named ``toks`` — textstats._quality_exprs measures."""
    return f"""len(toks) AS n_words,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, tk -> length(tk)::double))
                  / len(toks)::double
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN len(toks) > 0 THEN ({stop_score_sql()})::double
                  / len(toks)::double
             ELSE 0.0 END AS stop_ratio"""


QUALITY_RAW_SQL = (
    "(0.5 * least(n_words::double / 50.0, 1.0) + 0.3 * stop_ratio"
    " + 0.2 * least(mean_word_len / 8.0, 1.0))"
)
# textstats._r6 of the raw composite — the exact engine value
QUALITY_R6_SQL = f"(floor({QUALITY_RAW_SQL} * 1000000 + 0.5) / 1000000)"
# exact integer micro-units of the r6 value (q6 is a multiple of 1e-6
# by construction, so this floor recovers the integer exactly)
QUALITY_MICRO_SQL = f"floor({QUALITY_R6_SQL} * 1000000 + 0.5)::bigint"


def word_count_sql(c: str) -> str:
    return f"len(regexp_extract_all({c}, {_sq(WORDRUN)}))"


def remove_page_breaks_sql(c: str) -> str:
    for m in PAGE_BREAK_MARKERS:
        c = f"replace({c}, {_sq(m)}, ' ')"
    return rf"trim(regexp_replace({c}, '\s+', ' ', 'g'))"


def normalize_for_comparison_sql(c: str) -> str:
    c = norm_sql(remove_page_breaks_sql(c))
    return (
        rf"trim(regexp_replace(regexp_replace({c}, '[^a-z0-9\s]', ' ', 'g'), "
        r"'\s+', ' ', 'g'))"
    )


def numeric_text_sql(doc: str, text: str) -> str:
    """queries.numeric_text mirror."""
    return (
        f"{text} || ' totals ' || (({doc} * 37) % 997)::varchar"
        f" || ' and 1,234.56 plus ' || ({doc} % 100)::varchar || '%'"
    )


def variant_text_sql(doc: str, text: str) -> str:
    """queries.variant_text mirror."""
    cases = {
        1: f"'   ' || substr({text}, 1, 40) || '   '",
        2: f"{text} || ' xxxxxxxxxxxxxxx'",
        3: f"{text} || {_sq(' ' * 25)} || 'end'",
        4: f"'TABLE:' || {NL} || 'Name | Status' || {NL} || 'Widgets | ok' || {NL} || {text}",
        5: f"{text} || {_sq(' donâ€™t Ã© caf')}",
        6: f"'a | b' || {NL} || 'c | d | e | f' || {NL} || 'g | h | i' || {NL} || {text}",
        7: f"{text} || ' ' || {_sq(GIBBERISH_SUFFIX)}",
    }
    whens = "".join(f" WHEN {m} THEN {e}" for m, e in cases.items())
    return f"(CASE ({doc} % 8){whens} ELSE {text} END)"


# D1–D10 predicates ----------------------------------------------------


def d_flags_sql(c: str) -> dict[str, str]:
    """{label: boolean SQL} — problem_detector.py:131-330 parity."""
    d1 = f"({strip_len_sql(c)} < {MIN_CONTENT_LENGTH})"
    d2 = (
        f"((contains({c}, '|') OR contains(upper({c}), 'TABLE')) "
        rf"AND NOT regexp_matches({c}, '\d'))"
    )
    # D3 via repeat-containment (RE2 lacks backreferences); newline is
    # excluded because Python '.' does not match it.
    d3 = (
        f"(len(list_filter(list_distinct(str_split({c}, '')), "
        f"ch -> ch != chr(10) AND ch != '' AND contains({c}, repeat(ch, "
        f"{MAX_REPEATED_CHAR_LENGTH + 1})))) > 0)"
    )
    d4 = f"({word_count_sql(c)} < {MIN_WORD_COUNT})"
    gwords = (
        f"list_filter(regexp_extract_all({c}, {_sq(WORDRUN)}), "
        "w -> regexp_matches(w, '^[a-zA-Z]{4,}$'))"
    )
    gbad = (
        f"len(list_filter({gwords}, w -> NOT regexp_matches(lower(w), '[aeiou]') "
        "OR regexp_matches(lower(w), '[bcdfghjklmnpqrstvwxyz]{5,}')))"
    )
    d5 = (
        f"(len({gwords}) >= 10 AND ({gbad})::double / len({gwords})::double "
        f"> {MAX_GIBBERISH_RATIO})"
    )
    d6 = (
        rf"(regexp_matches({c}, '[^\x00-\x7F]{{5,}}') "
        rf"OR regexp_matches({c}, '�{{2,}}') "
        rf"OR regexp_matches({c}, '[\x00-\x08\x0B\x0C\x0E-\x1F]'))"
    )
    tl = f"list_filter(str_split({c}, chr(10)), l -> contains(l, '|'))"
    pc = f"list_transform({tl}, l -> len(str_split(l, '|')) - 1)"
    d7 = f"(len({tl}) >= 2 AND len(list_distinct({pc})) > 2)"
    triple = f"repeat(chr(10), 3)"
    d8 = (
        f"(regexp_matches({c}, ' {{20,}}') OR "
        f"(length({c}) - length(replace({c}, {triple}, ''))) / 3 > 5)"
    )
    d9 = "(" + " OR ".join(f"contains({c}, {_sq(m)})" for m in ENCODING_ERROR_MARKERS) + ")"
    punct = rf"len(regexp_extract_all({c}, '[.,!?;:]'))"
    d10 = (
        f"({word_count_sql(c)} >= 50 AND ({punct})::double "
        f"< ({word_count_sql(c)})::double / 30.0)"
    )
    return dict(zip(PROBLEM_LABELS, (d1, d2, d3, d4, d5, d6, d7, d8, d9, d10)))


def problems_list_sql(c: str) -> str:
    """array<label> of fired checks in reference order."""
    flags = d_flags_sql(c)
    elems = ", ".join(
        f"CASE WHEN {expr} THEN {_sq(label)} END" for label, expr in flags.items()
    )
    return f"list_filter([{elems}], x -> x IS NOT NULL)"


# Routing --------------------------------------------------------------


def _any_kw(q: str, kws) -> str:
    return "(" + " OR ".join(f"contains({q}, {_sq(k)})" for k in kws) + ")"


def route_sql(qexpr: str) -> str:
    """workflow_router.py:68-128 priority chain."""
    q = f"lower(coalesce({qexpr}, ''))"
    return (
        "(CASE"
        f" WHEN {_any_kw(q, TEXT_EXTRACTION_KEYWORDS)} THEN {_sq(WF_TEXT)}"
        f" WHEN {_any_kw(q, AZURE_DI_KEYWORDS)} THEN {_sq(WF_AZURE)}"
        f" WHEN {_any_kw(q, OCR_KEYWORDS)} THEN {_sq(WF_OCR)}"
        f" WHEN {_any_kw(q, GEMINI_KEYWORDS)} THEN {_sq(WF_GEMINI)}"
        f" ELSE {_sq(WF_MISTRAL)} END)"
    )


def routed_query_sql(doc: str, text: str) -> str:
    organic = f"array_to_string(list_slice(str_split({text}, ' '), 1, 6), ' ')"
    whens = "".join(
        f" WHEN {i} THEN {_sq(t)}" for i, t in enumerate(ROUTE_TEMPLATES)
    )
    return f"(CASE ({doc} % 6){whens} ELSE {organic} END)"


def _case_map(key: str, mapping: dict[str, str], default: str = "NULL") -> str:
    whens = "".join(
        f" WHEN {key} = {_sq(k)} THEN {_sq(v)}" for k, v in mapping.items()
    )
    return f"(CASE{whens} ELSE {default} END)"


# Similarity -----------------------------------------------------------


def _count_in(arr: str, k: str = "k") -> str:
    return f"len(list_filter({arr}, x -> x = {k}))::double"


def cosine_multiset_sql(a: str, b: str) -> str:
    """Counter-cosine over two list columns (names, not expressions —
    wrap inputs in a CTE first). similarity_calculator.py:227-258."""
    dot = (
        f"list_sum(list_transform(list_distinct(list_concat({a}, {b})), "
        f"k -> {_count_in(a)} * {_count_in(b)}))"
    )
    mag = lambda v: (
        f"sqrt(list_sum(list_transform(list_distinct({v}), "
        f"k -> {_count_in(v)} * {_count_in(v)})))"
    )
    return (
        f"(CASE WHEN {mag(a)} * {mag(b)} = 0 THEN 0.0 "
        f"ELSE {dot} / ({mag(a)} * {mag(b)}) END)"
    )


def _guarded_sim(a: str, b: str, core: str) -> str:
    return (
        f"(CASE WHEN len({a}) = 0 AND len({b}) = 0 THEN 1.0 "
        f"WHEN len({a}) = 0 OR len({b}) = 0 THEN 0.0 "
        f"ELSE {core} END)"
    )


def number_frequency_sim_sql(na: str, nb: str) -> str:
    return _guarded_sim(na, nb, cosine_multiset_sql(na, nb))


def word_overlap_sim_sql(ta: str, tb: str) -> str:
    """Jaccard over two already-distinct term lists."""
    core = (
        f"len(list_filter({ta}, x -> list_contains({tb}, x)))::double / "
        f"len(list_distinct(list_concat({ta}, {tb})))::double"
    )
    return _guarded_sim(ta, tb, core)


def levenshtein_sim_sql(na: str, nb: str) -> str:
    """Over comparison-normalized, 10k-truncated columns na/nb."""
    return (
        f"(CASE WHEN {na} = {nb} THEN 1.0 "
        f"WHEN length({na}) = 0 OR length({nb}) = 0 THEN 0.0 "
        f"ELSE 1.0 - levenshtein({na}, {nb})::double / "
        f"greatest(length({na}), length({nb}))::double END)"
    )


# Embedded OCR stand-in ------------------------------------------------


def fake_ocr_sql(provider: str, ref: str) -> str:
    """operators/ocr.py fake_ocr_text mirror (md5-quad values)."""
    h = f"md5({provider} || ':' || {ref})"
    num = lambda i: f"(('0x' || substr({h}, {1 + 4 * i}, 4))::int)::varchar"
    return (
        f"('Extracted by ' || {provider} || ' ocr engine from ' || {ref} || "
        f"'. The image region reports values ' || {num(0)} || ', ' || {num(1)} || "
        f"', ' || {num(2)} || ' and ' || {num(3)} || "
        "'. Confidence stays high for every block detected in this scan.')"
    )


# --------------------------------------------------- spansify CTE chain


def spansify_cte(
    words_per_span: int = 40,
    mega_every: int = 211,
    mega_factor: int = 25,
    src: str = "documents",
    suffix: str = "",
) -> str:
    """CTEs producing ``sp(doc_id, offset, kind, text, media_ref)`` and
    ``docq(doc_id, query)`` — datagen.spansify_documents mirror.
    ``src`` swaps the source relation (e.g. a snapshot CTE over
    documents) — the Spark twin is spansify_frame over any frame;
    ``suffix`` renames the CTEs (rep/spanidx/sp/docq + suffix) so two
    spansifications can coexist in one statement."""
    organic4 = "array_to_string(list_slice(str_split(d.text, ' '), 1, 4), ' ')"
    q_whens = "".join(
        f" WHEN {i + 1} THEN {_sq(t)}"
        for i, t in enumerate(
            (
                "extract data",
                "plain text only",
                "smart tables and layout",
                "scanned charts",
                "high quality extraction",
            )
        )
    )
    wps = words_per_span
    return f"""
rep{suffix} AS (
  SELECT doc_id,
         CASE WHEN doc_id % {mega_every} = 0
              THEN flatten(list_transform(range({mega_factor}), r -> str_split(text, ' ')))
              ELSE str_split(text, ' ') END AS t
  FROM {src}
),
spanidx{suffix} AS (
  SELECT doc_id, t,
         unnest(range(greatest(ceil(len(t) / {wps}.0)::int, 1))) AS i
  FROM rep{suffix}
),
sp{suffix} AS (
  SELECT doc_id, i::int AS "offset",
    CASE ((doc_id * 7 + i) % 9)
      WHEN 3 THEN 'image' WHEN 7 THEN 'table' ELSE 'text' END AS kind,
    CASE ((doc_id * 7 + i) % 9)
      WHEN 3 THEN ''
      WHEN 7 THEN 'TABLE 1:' || {NL} || array_to_string(list_slice(t, i*{wps}+1, i*{wps}+{wps}), ' | ')
      ELSE array_to_string(list_slice(t, i*{wps}+1, i*{wps}+{wps}), ' ') END AS text,
    CASE WHEN ((doc_id * 7 + i) % 9) = 3
         THEN 'm-' || doc_id::varchar || '-' || i::varchar ELSE '' END AS media_ref
  FROM spanidx{suffix}
),
docq{suffix} AS (
  SELECT doc_id,
         (CASE ((doc_id % 7) + 1){q_whens}
               WHEN 6 THEN {organic4}
               ELSE '' END) AS query
  FROM {src} d
)"""


def extracted_cte(provider_expr: str = "provider") -> str:
    """CTEs ``routed`` (doc_id, workflow, provider, secondary) and
    ``ext`` (extracted span rows under the primary provider)."""
    wf = route_sql("q.query")
    pmap = _case_map("workflow", PRIMARY_PROVIDER)
    smap = _case_map("workflow", SECONDARY_PROVIDER)
    media_fill = (
        "CASE WHEN sp.kind IN ('image', 'page') THEN "
        "  CASE WHEN r.{col} = 'pdfplumber' THEN '' "
        f"       ELSE {fake_ocr_sql('r.{col}', 'sp.media_ref')} END "
        "ELSE sp.text END"
    )
    return f"""
routed AS (
  SELECT q.doc_id, {wf} AS workflow FROM docq q
),
prov AS (
  SELECT doc_id, workflow, {pmap} AS provider, {smap} AS secondary
  FROM routed
),
ext AS (
  SELECT sp.doc_id, sp."offset", sp.kind, sp.media_ref,
         {media_fill.format(col='provider')} AS text,
         {media_fill.format(col='secondary')} AS sec_text
  FROM sp JOIN prov r ON r.doc_id = sp.doc_id
)"""


# ------------------------------------------------------- query oracles


def sql_normalize() -> str:
    return f"SELECT doc_id, {norm_sql('text')} AS norm FROM documents"


def sql_extract_numbers() -> str:
    nums = numbers_sql(numeric_text_sql("doc_id", "text"))
    return (
        f"SELECT doc_id, len({nums})::bigint AS n_numbers, "
        f"round(coalesce(list_sum({nums}), 0.0), 3) AS total FROM documents"
    )


def sql_key_term_freq() -> str:
    return (
        "SELECT term, count(*)::bigint AS n_docs FROM ("
        f"SELECT doc_id, unnest({key_terms_sql('text')}) AS term FROM documents"
        ") GROUP BY term"
    )


def sql_word_frequency() -> str:
    return (
        "SELECT doc_id, term, count(*)::bigint AS n FROM ("
        f"SELECT doc_id, unnest({tokens_sql('text', 3)}) AS term FROM documents"
        ") GROUP BY doc_id, term"
    )


def sql_problem_flags() -> str:
    v = variant_text_sql("doc_id", "text")
    flags = d_flags_sql("v")
    cols = ", ".join(f"{expr} AS {label}" for label, expr in flags.items())
    return (
        f"WITH vt AS (SELECT doc_id, {v} AS v FROM documents) "
        f"SELECT doc_id, {cols} FROM vt"
    )


def sql_problems_rollup() -> str:
    v = variant_text_sql("doc_id", "text")
    return (
        f"WITH vt AS (SELECT doc_id, {v} AS v FROM documents) "
        f"SELECT label, count(*)::bigint AS n_docs FROM ("
        f"SELECT unnest({problems_list_sql('v')}) AS label FROM vt"
        ") GROUP BY label"
    )


def sql_similarity_pairs() -> str:
    ta = numeric_text_sql("a.doc_id", "a.text")
    tb = numeric_text_sql("b.doc_id", "b.text")
    lev_trunc = lambda c: f"substr({normalize_for_comparison_sql(c)}, 1, 10000)"
    return f"""
WITH pairs AS (
  SELECT a.doc_id AS doc_id,
         {numbers_sql(ta)} AS na, {numbers_sql(tb)} AS nb,
         {key_terms_sql(ta)} AS ka, {key_terms_sql(tb)} AS kb,
         {tokens_sql(ta, 3)} AS fa, {tokens_sql(tb, 3)} AS fb,
         {lev_trunc(ta)} AS la, {lev_trunc(tb)} AS lb
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
)
SELECT doc_id,
  round({number_frequency_sim_sql('na', 'nb')}, 6) AS sim_number,
  round({word_overlap_sim_sql('ka', 'kb')}, 6) AS sim_overlap,
  round({_guarded_sim('fa', 'fb', cosine_multiset_sql('fa', 'fb'))}, 6) AS sim_cosine,
  round({levenshtein_sim_sql('la', 'lb')}, 6) AS sim_levenshtein
FROM pairs"""


def sql_routing() -> str:
    q = routed_query_sql("doc_id", "text")
    return (
        f"WITH r AS (SELECT doc_id, {q} AS query FROM documents) "
        f"SELECT doc_id, query, {route_sql('query')} AS workflow FROM r"
    )


def sql_workflow_counts() -> str:
    return (
        f"SELECT workflow, count(*)::bigint AS n_docs FROM ({sql_routing()}) "
        "GROUP BY workflow"
    )


def sql_spansify_stats() -> str:
    return f"""
WITH {spansify_cte()}
SELECT doc_id,
       count(*)::bigint AS n_spans,
       count(*) FILTER (WHERE kind = 'image')::bigint AS n_images,
       count(*) FILTER (WHERE kind = 'table')::bigint AS n_tables,
       md5(string_agg(text, {SEP} ORDER BY "offset")) AS content_md5
FROM sp GROUP BY doc_id"""


def sql_extract_content() -> str:
    return f"""
WITH {spansify_cte()}, {extracted_cte()}
SELECT e.doc_id, r.workflow, r.provider,
       md5(string_agg(e.text, {SEP} ORDER BY e."offset")) AS content_md5,
       count(*)::bigint AS pages
FROM ext e JOIN prov r ON r.doc_id = e.doc_id
GROUP BY e.doc_id, r.workflow, r.provider"""


def sql_span_problems() -> str:
    return f"""
WITH {spansify_cte()}, {extracted_cte()}
SELECT doc_id, "offset"::bigint AS "offset", unnest({problems_list_sql('text')}) AS label
FROM ext"""


def sql_validation_decision() -> str:
    validating = ", ".join(_sq(w) for w in VALIDATING_WORKFLOWS)
    any_problem = "(" + " OR ".join(d_flags_sql("e.text").values()) + ")"
    return f"""
WITH {spansify_cte()}, {extracted_cte()},
contents AS (
  SELECT e.doc_id,
         string_agg(e.text, {SEP} ORDER BY e."offset") AS pc,
         string_agg(e.sec_text, {SEP} ORDER BY e."offset") AS sc,
         bool_or({any_problem}) AS has_problems
  FROM ext e GROUP BY e.doc_id
),
decided AS (
  SELECT c.doc_id, r.workflow,
         (r.workflow IN ({validating})) AS validating,
         c.has_problems,
         CASE WHEN r.workflow IN ({validating}) AND NOT c.has_problems
              THEN {number_frequency_sim_sql(numbers_sql('c.pc'), numbers_sql('c.sc'))}
         END AS sim
  FROM contents c JOIN prov r ON r.doc_id = c.doc_id
)
SELECT doc_id, workflow,
  coalesce(validating AND (has_problems OR sim < {SIMILARITY_THRESHOLD}), FALSE)
    AS used_secondary,
  CASE WHEN validating AND has_problems THEN 'quality_issues'
       WHEN validating AND sim < {SIMILARITY_THRESHOLD} THEN 'low_similarity'
  END AS reason,
  round(sim, 6) AS similarity
FROM decided"""


def sql_pipeline_extract() -> str:
    """Flagship composite oracle: the full extract-then-validate chain
    with the span SEQUENCE itself hashed (kind, text, media_ref,
    offset in span order — the north rule's per-row invariant), plus
    the problem rollup, final content, decision and metadata. Mirrors
    queries.q_pipeline_extract's serialization byte-for-byte (unit /
    record separator chr(31)/chr(30))."""
    validating = ", ".join(_sq(w) for w in VALIDATING_WORKFLOWS)
    span_ser = (
        "kind || chr(31) || text || chr(31) || media_ref || chr(31) "
        '|| "offset"::varchar'
    )
    prob_ser = (
        'CASE WHEN len(probs) > 0 THEN "offset"::varchar || \':\' '
        "|| array_to_string(probs, ',') END"
    )
    return f"""
WITH {spansify_cte()}, {extracted_cte()},
spanrows AS (
  SELECT e.*, {problems_list_sql('e.text')} AS probs FROM ext e
),
agg AS (
  SELECT doc_id,
    md5(string_agg({span_ser}, chr(30) ORDER BY "offset")) AS spans_md5,
    md5(coalesce(string_agg({prob_ser}, ';' ORDER BY "offset"), '')) AS problems_md5,
    string_agg(text, {SEP} ORDER BY "offset") AS pc,
    string_agg(sec_text, {SEP} ORDER BY "offset") AS sc,
    bool_or(len(probs) > 0) AS has_problems,
    count(*)::bigint AS pages
  FROM spanrows GROUP BY doc_id
),
decided AS (
  SELECT a.*, r.workflow, r.provider,
    (r.workflow IN ({validating})) AS validating,
    CASE WHEN r.workflow IN ({validating}) AND NOT a.has_problems
         THEN {number_frequency_sim_sql(numbers_sql('a.pc'), numbers_sql('a.sc'))}
    END AS sim
  FROM agg a JOIN prov r ON r.doc_id = a.doc_id
)
SELECT doc_id, workflow, provider, spans_md5, problems_md5,
  md5(CASE WHEN coalesce(validating AND (has_problems OR sim < {SIMILARITY_THRESHOLD}), FALSE)
           THEN sc ELSE pc END) AS content_md5,
  coalesce(validating AND (has_problems OR sim < {SIMILARITY_THRESHOLD}), FALSE)
    AS used_secondary,
  round(sim, 6) AS similarity,
  CASE WHEN validating AND has_problems THEN 'quality_issues'
       WHEN validating AND sim < {SIMILARITY_THRESHOLD} THEN 'low_similarity'
  END AS reason,
  pages
FROM decided"""


# Registry used by __spark_entry__.oracle_sql() ------------------------

ORACLES: dict[str, str | None] = {}


def build_oracles() -> dict[str, str]:
    out = {
        "normalize": sql_normalize(),
        "extract_numbers": sql_extract_numbers(),
        "key_term_freq": sql_key_term_freq(),
        "word_frequency": sql_word_frequency(),
        "problem_flags": sql_problem_flags(),
        "problems_rollup": sql_problems_rollup(),
        "similarity_pairs": sql_similarity_pairs(),
        "routing": sql_routing(),
        "workflow_counts": sql_workflow_counts(),
        "spansify_stats": sql_spansify_stats(),
        "extract_content": sql_extract_content(),
        "span_problems": sql_span_problems(),
        "validation_decision": sql_validation_decision(),
        # training-data pipeline operators
        "dedup_exact": sql_dedup_exact(),
        "dedup_minhash": sql_dedup_minhash(),
        "dedup_lsh_pairs": sql_dedup_lsh_pairs(),
        "dedup_production_pairs": sql_dedup_production_pairs(),
        "dedup_simhash": sql_dedup_simhash(),
        "ngram_jaccard": sql_ngram_jaccard(),
        "ann_topk": sql_ann_topk(),
        "ann_topk_served": sql_ann_topk_served(),
        "ann_ivf_kmeans_topk": sql_ann_ivf_kmeans_topk(),
        "ann_recall": sql_ann_recall(),
        "dim_recall": sql_dim_recall(),
        "embedding_neardup": sql_embedding_neardup(),
        "embedding_neardup_lsh": sql_embedding_neardup_lsh(),
        "neardup_recall": sql_neardup_recall(),
        "semantic_dedup": sql_semantic_dedup(),
        "ann_ivfpq_topk": sql_ann_ivfpq_topk(),
        "hll_distinct": sql_hll_distinct(),
        "cms_topk": sql_cms_topk(),
        "bloom_probe": sql_bloom_probe(),
        "sampled_quantiles": sql_sampled_quantiles(),
        "lang_confusion": sql_lang_confusion(),
        "minhash_jaccard_est": sql_minhash_jaccard_est(),
        "source_mirror_stats": sql_source_mirror_stats(),
        "lang_id": sql_lang_id(),
        "token_counts": sql_token_counts(),
        "quality_scores": sql_quality_scores(),
        "fingerprints": sql_fingerprints(),
        "term_doc_freq": sql_term_doc_freq(),
        "corpus_stats": sql_corpus_stats(),
        "snapshot_diff": sql_snapshot_diff(),
        "segment_stats": sql_segment_stats(),
        "azure_layout": sql_azure_layout(),
        "ingest_validate": sql_ingest_validate(),
        "simhash_pairs": sql_simhash_pairs(),
        "routing_errors": sql_routing_errors(),
        "dedup_apply": sql_dedup_apply(),
        "corpus_curation": sql_corpus_curation(),
        "curation_funnel": sql_curation_funnel(),
        "final_content": sql_final_content(),
        "similarity_report": sql_similarity_report(),
        "pipeline_extract": sql_pipeline_extract(),
        # corpus curation (analysis/corpusops.py)
        "dup_ngrams": sql_dup_ngrams(),
        "decontaminate": sql_decontaminate(),
        "corpus_sample": sql_corpus_sample(),
        "token_packing": sql_token_packing(),
        "token_packing_2p": sql_token_packing(),
        # safety curation (analysis/scrub.py)
        "pii_scan": sql_pii_scan(),
        "pii_redact": sql_pii_redact(),
        "repetition_stats": sql_repetition_stats(),
        "paragraph_dedup": sql_paragraph_dedup(),
        "boilerplate_strip": sql_boilerplate_strip(),
        "url_dedup": sql_url_dedup(),
        "domain_filter": sql_domain_filter(),
        # training-order / chunking / mix rebalance / vocabulary
        "corpus_shuffle": sql_corpus_shuffle(),
        "doc_chunks": sql_doc_chunks(),
        "lang_rebalance": sql_lang_rebalance(),
        "top_terms": sql_top_terms(),
        "incremental_extract": sql_incremental_extract(),
        "span_packing": sql_span_packing(),
        "quality_sample": sql_quality_sample(),
        # tokenizer / split / mixture (corpus assembly)
        "bpe_pairs": sql_bpe_pairs(),
        "data_split": sql_data_split(),
        "mixture_weights": sql_mixture_weights(),
        "doc_features": sql_doc_features(),
        "vocab_coverage": sql_vocab_coverage(),
        "domain_stats": sql_domain_stats(),
        "lm_scores": sql_lm_scores(),
        # retrieval / collocation statistics
        "bm25_topk": sql_bm25_topk(),
        "cooccur_pmi": sql_cooccur_pmi(),
        # exact substring dedup
        "substring_dedup": sql_substring_dedup(),
        "gopher_rules": sql_gopher_rules(),
        "ccnet_buckets": sql_ccnet_buckets(),
        # C4 cleaning + global span dedup
        "c4_filters": sql_c4_filters(),
        "c4_span_dedup": sql_c4_span_dedup(),
        # unicode hygiene
        "unicode_scrub": sql_unicode_scrub(),
        # span-sequence contract audit + repair
        "span_integrity": sql_span_integrity(),
        # Gopher A1.2 repetition battery
        "gopher_repetition": sql_gopher_repetition(),
        # per-source unigram KL drift
        "source_drift": sql_source_drift(),
        # interpolated bigram LM scoring
        "lm2_scores": sql_lm2_scores(),
    }
    return out


# ---------------------------------------------------------------------
# Training-data pipeline oracles (analysis subpackage mirrors)
# ---------------------------------------------------------------------

def _dup_corpus() -> str:
    from blackedge_ocr_spark.analysis.dedup import DUP_ID_OFFSET

    return (
        "corpus AS (SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT doc_id + {DUP_ID_OFFSET}, text FROM documents "
        "WHERE doc_id % 10 = 0)"
    )


DUP_CORPUS = _dup_corpus()


def shingles_sql(c: str, n: int = 3) -> str:
    """analysis.dedup.word_shingles mirror."""
    toks = tokens_sql(c)
    sh = (
        f"list_distinct(list_transform(range(greatest(len({toks}) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')))"
    )
    return f"(CASE WHEN len({toks}) > 0 THEN {sh} ELSE []::varchar[] END)"


def shingle_hashes_sql(sh: str) -> str:
    """analysis.dedup.shingle_hashes mirror → list<varchar(64)>."""
    return f"list_transform({sh}, s -> md5('a:' || s) || md5('b:' || s))"


def minhash_sig_sql(hs: str, k: int = 12) -> str:
    """analysis.dedup.minhash_signature mirror (windowed scheme) over
    a prepared shingle-hash list column."""
    mins = ", ".join(
        f"list_aggregate(list_transform({hs}, h -> substr(h, {1 + 4 * i}, 16)), 'min')"
        for i in range(k)
    )
    return f"[{mins}]"


def jaccard_sql(a: str, b: str) -> str:
    """Set Jaccard over two distinct-element lists (1.0 both empty)."""
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))::double"
    union = f"len(list_distinct(list_concat({a}, {b})))::double"
    return (
        f"(CASE WHEN len({a}) = 0 AND len({b}) = 0 THEN 1.0 "
        f"WHEN {union} = 0 THEN 0.0 ELSE {inter} / {union} END)"
    )


def sql_dedup_exact() -> str:
    h = f"md5({normalize_for_comparison_sql('text')})"
    return (
        f"WITH {DUP_CORPUS} "
        f"SELECT {h} AS content_hash, min(doc_id) AS keep_doc_id, "
        "count(*)::bigint AS n_docs FROM corpus GROUP BY 1"
    )


def sql_dedup_minhash() -> str:
    return f"""
WITH hs AS (SELECT doc_id, {shingle_hashes_sql(shingles_sql('text'))} AS hs
            FROM documents)
SELECT doc_id, md5(array_to_string({minhash_sig_sql('hs')}, '|')) AS sig_md5
FROM hs"""


def sql_dedup_lsh_pairs(rows_per_band: int = 3, k: int = 12,
                        min_jaccard: float = 0.5,
                        bucket_cap: int = 128,
                        source: str = "corpus",
                        extra_ctes: str = "") -> str:
    """dedup.lsh_candidate_pairs mirror, including the monster-bucket
    cap: each (band, key) bucket keeps only its ``bucket_cap`` lowest
    doc_ids before pair enumeration — row_number ordered by doc_id is
    the windowed form of the Spark side's sort→slice. ``source`` /
    ``extra_ctes`` let sql_dedup_production_pairs run the identical
    chain over the exact-dedup survivors.

    The chain's CTEs are MATERIALIZED: DuckDB otherwise inlines a CTE
    at every reference, so the MinHash chain re-ran once per band of
    the ``banded`` UNION ALL and ``ranked``/``pairs`` (and the Jaccard
    over them) more than once (sf0.001: 221 s -> 1.6 s, same rows)."""
    n_bands = k // rows_per_band
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, shingles, {b} AS band, "
        f"md5(sig[{b * rows_per_band + 1}] || sig[{b * rows_per_band + 2}] || "
        f"sig[{b * rows_per_band + 3}]) AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH {DUP_CORPUS},{extra_ctes}
sh AS MATERIALIZED (SELECT doc_id, {shingles_sql('text')} AS shingles FROM {source}),
hs AS MATERIALIZED (SELECT doc_id, shingles,
       {shingle_hashes_sql('shingles')} AS hs FROM sh),
sig AS MATERIALIZED (SELECT doc_id, shingles, {minhash_sig_sql('hs')} AS sig FROM hs),
banded AS ({band_rows}),
ranked AS MATERIALIZED (
  SELECT doc_id, shingles, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
  FROM banded WHERE key IS NOT NULL),
capped AS (SELECT * FROM ranked WHERE rn <= {bucket_cap}),
pairs AS MATERIALIZED (
  SELECT DISTINCT doc_a, doc_b, sh_a, sh_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.shingles AS sh_a, b.shingles AS sh_b
    FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
    UNION ALL
    -- star tail: beyond-cap members pair with the bucket head
    -- (rn = 1, the lowest id — banding.in_bucket_pairs mirror)
    SELECT h.doc_id AS doc_a, t.doc_id AS doc_b,
           h.shingles AS sh_a, t.shingles AS sh_b
    FROM ranked t JOIN ranked h
      ON h.band = t.band AND h.key = t.key AND h.rn = 1
    WHERE t.rn > {bucket_cap})
)
SELECT doc_a, doc_b, round({jaccard_sql('sh_a', 'sh_b')}, 6) AS jaccard
FROM pairs WHERE round({jaccard_sql('sh_a', 'sh_b')}, 6) >= {min_jaccard}"""


def sql_dedup_production_pairs() -> str:
    """dedup.production_pairs mirror: exact-dedup keepers (min doc_id
    per md5 of comparison-normalized text) → the identical LSH chain
    over the survivors."""
    h = f"md5({normalize_for_comparison_sql('text')})"
    extra = f"""
keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY {h}),
surv AS (SELECT corpus.* FROM corpus JOIN keep USING (doc_id)),"""
    return sql_dedup_lsh_pairs(source="surv", extra_ctes=extra)


def sql_dedup_simhash() -> str:
    return f"""
WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
h AS (SELECT doc_id, toks, hs FROM (SELECT doc_id, toks,
      list_transform(toks, tk -> md5(tk)) AS hs FROM t))
SELECT doc_id,
  CASE WHEN len(toks) = 0 THEN repeat('0', 64) ELSE {_simhash_from_hs()} END
  AS simhash
FROM h"""


def _simhash_from_hs() -> str:
    bits = []
    for b in range(64):
        d, j = b // 4, 3 - (b % 4)
        v = f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1)"
        contrib = f"CASE WHEN (({v} >> {j}) & 1) = 1 THEN 1 ELSE -1 END"
        s = f"list_sum(list_transform(hs, h -> {contrib}))"
        bits.append(f"CASE WHEN {s} > 0 THEN '1' ELSE '0' END")
    return "(" + " || ".join(bits) + ")"


def sql_ngram_jaccard() -> str:
    return f"""
WITH sh AS (SELECT doc_id, {shingles_sql('text')} AS s FROM documents)
SELECT a.doc_id AS doc_id, round({jaccard_sql('a.s', 'b.s')}, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""


# --- embeddings -------------------------------------------------------


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(len({a})), "
        f"i -> {a}[i + 1] * {b}[i + 1]))"
    )


def cosine_sql(a: str, b: str) -> str:
    na, nb = f"sqrt({dot_sql(a, a)})", f"sqrt({dot_sql(b, b)})"
    return (
        f"(CASE WHEN {na} * {nb} = 0 THEN 0.0 "
        f"ELSE {dot_sql(a, b)} / ({na} * {nb}) END)"
    )


EMB = "e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings)"


def sql_ann_topk(k: int = 5, query_every: int = 50) -> str:
    return f"""
WITH {EMB},
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {query_every} = 0),
s AS (SELECT q_id, vec_id AS neighbor_id, round({cosine_sql('qv', 'v')}, 6) AS cos
      FROM e, q WHERE vec_id != q_id)
SELECT q_id, rank, neighbor_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {k}"""


def sql_ann_topk_served(k: int = 5, n_q: int = 8, dims: int = 64) -> str:
    """Mirror of queries.q_ann_topk_served: the EXTERNAL query table
    is rebuilt from the same integer formula as ann.served_query_set
    (((i·37 + j·11) mod 19 − 9) / 9.0) — pure bigint arithmetic then
    one double division, bit-identical in both engines. q_ids are
    negative (-1 - i) and corpus vec_ids start at 0, so no
    self-exclusion predicate is needed (kept anyway for form parity
    with sql_ann_topk)."""
    return f"""
WITH {EMB},
q AS (SELECT -1 - i AS q_id,
             list_transform(range({dims}),
                            j -> (((i*37 + j*11) % 19) - 9) / 9.0) AS qv
      FROM range({n_q}) t(i)),
s AS (SELECT q_id, vec_id AS neighbor_id, round({cosine_sql('qv', 'v')}, 6) AS cos
      FROM e, q WHERE vec_id != q_id)
SELECT q_id, rank, neighbor_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {k}"""


def sign_bucket_sql(planes: list[list[int]]) -> str:
    """DuckDB mirror of ann.sign_bucket over the given hyperplane
    rows — ONE string-builder for every sign-LSH oracle so the
    bit-for-bit projection recipe cannot drift between queries."""
    bits = []
    for row in planes:
        w = "[" + ", ".join(str(x) for x in row) + "]"
        proj = (
            f"list_sum(list_transform(range(len(v)), "
            f"i -> v[i + 1] * ({w}[i + 1])::double))"
        )
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    return "(" + " || ".join(bits) + ")"


STRIDE_SQL = (
    "(SELECT greatest(37, CAST(floor(count(*) / "
    "(4 * floor(sqrt(count(*))))) AS BIGINT)) FROM e)"
)
# ann.train_stride mirror (round 5, semdedup only): T = max(4,
# floor(stride / 16.0)) — stride/16.0 is an exact binary division of
# the integral stride, so floor-over-double matches Python exactly.
TRAIN_STRIDE_SQL = (
    "(SELECT greatest(4, CAST(floor(greatest(37, CAST(floor(count(*) / "
    "(4 * floor(sqrt(count(*))))) AS BIGINT))::DOUBLE / 16.0) AS BIGINT)) "
    "FROM e)"
)
# ann.centroid_stride mirror: C capped at ~4·sqrt(n) lists. The same
# floor-over-double-division ops in the same order — count(*) and
# floor(sqrt(n)) are integral doubles (exact < 2^53), so the divide
# and floor are bit-identical to the Python driver computation.


def _stride_expr(centroid_every: int | None) -> str:
    return str(centroid_every) if centroid_every else STRIDE_SQL


def _kmeans_assigned_parts(
    centroid_every: int | None = None, iters: int = 3,
    train_every: int | str = 4,
    prefix: str = "", vexpr: str = "v", include_emb: bool = True,
    src: str = "e", include_assign: bool = True,
) -> list[str]:
    """Shared CTE chain ending in ``scored``/``assigned``: the
    k-means-TRAINED centroids and the full-corpus nearest-centroid
    assignment. Lloyd iterations are UNROLLED as CTE chains (fixed
    iteration count → finite SQL); cross-engine bit-parity of the
    update step comes from fixed-point sums — vectors quantized to
    1e-6 bigints (floor(x·1e6+0.5), the exact op the Spark side
    applies), per-(cid,dim) sums in exact integer arithmetic
    (order-independent, unlike double sums), mean = one double
    division. Assignment is the first-max fold-order cosine of
    ann.assign_centroids. Training reads only the sampled
    every-``train_every``-th vectors (eq), matching
    ann.kmeans_centroids' sampled training; the final assignment
    still ranges over the full corpus (e). One builder feeds every
    consumer — ``sql_ann_ivf_kmeans_topk``, ``sql_ann_ivfpq_topk``
    (coarse and residual chains) and ``sql_semantic_dedup`` — so the
    trained-index recipe cannot drift between them."""
    sims = f"list_transform(cents, c -> {cosine_sql('v', 'c.cv')})"
    quant = (
        f"list_transform({vexpr}, "
        "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    )
    P = prefix
    parts = [EMB] if include_emb else []
    parts += [
        f"{P}eq AS (SELECT vec_id, {vexpr} AS v, {quant} AS qv FROM {src} "
        f"WHERE vec_id % {train_every} = 0)",
        f"{P}c0 AS (SELECT vec_id AS cid, {vexpr} AS cv FROM {src} "
        f"WHERE vec_id % {_stride_expr(centroid_every)} = 0)",
        f"{P}carr0 AS (SELECT list(struct_pack(cid := cid, cv := cv) "
        f"ORDER BY cid) AS cents FROM {P}c0)",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"""{P}a{i} AS (
  SELECT vec_id, qv, (cents[list_position(sims, list_max(sims))]).cid AS cid
  FROM (SELECT vec_id, qv, cents, {sims} AS sims
        FROM {P}eq, {P}carr{i - 1}))""",
            f"{P}s{i} AS (SELECT cid, unnest(range(len(qv))) AS pos, "
            f"unnest(qv) AS q FROM {P}a{i})",
            f"{P}g{i} AS (SELECT cid, pos, sum(q) AS s, count(*) AS n "
            f"FROM {P}s{i} GROUP BY cid, pos)",
            f"{P}c{i} AS (SELECT cid, "
            f"list(s::DOUBLE / (n::DOUBLE * 1000000.0) "
            f"ORDER BY pos) AS cv FROM {P}g{i} GROUP BY cid)",
            f"{P}carr{i} AS (SELECT list(struct_pack(cid := cid, cv := cv) "
            f"ORDER BY cid) AS cents FROM {P}c{i})",
        ]
    if include_assign:
        parts += [
            f"{P}scored AS (SELECT vec_id, v, cents, {sims} AS sims "
            f"FROM (SELECT vec_id, {vexpr} AS v FROM {src}), {P}carr{iters})",
            f"""{P}assigned AS (
  SELECT vec_id, v,
         (cents[list_position(sims, list_max(sims))]).cid AS cid
  FROM {P}scored)""",
        ]
    return parts


def sql_ann_ivf_kmeans_topk(
    k: int = 5, query_every: int = 50, centroid_every: int | None = None,
    probe: int = 3, iters: int = 3, train_every: int = 4,
) -> str:
    """analysis.ann.ivf_kmeans_topk mirror: the same IVF search over
    k-means-TRAINED centroids (CTE chain shared with
    ``sql_semantic_dedup`` via ``_kmeans_assigned_parts``); probe the
    ``probe`` closest trained lists, exact cosine re-rank."""
    parts = _kmeans_assigned_parts(centroid_every, iters, train_every)
    parts += [
        f"""qp AS (
  SELECT vec_id AS q_id, v AS qv,
         unnest(list_transform(
           list_sort(list_transform(range(len(sims)),
             i -> struct_pack(ns := -sims[i + 1], cid := (cents[i + 1]).cid)
           ))[1:{probe}],
           s -> s.cid)) AS cid
  FROM scored WHERE vec_id % {query_every} = 0)""",
        f"""s AS (SELECT q_id, a.vec_id AS neighbor_id,
             round({cosine_sql('qv', 'a.v')}, 6) AS cos
      FROM assigned a JOIN qp ON a.cid = qp.cid
      WHERE a.vec_id != qp.q_id)""",
    ]
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT q_id, rank, neighbor_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {k}"""


def sql_ann_ivfpq_topk(
    k: int = 5, query_every: int = 50, centroid_every: int | None = None,
    probe: int = 3, shortlist: int = 40, iters: int = 3,
    train_every: int = 4, dims: int = 64,
) -> str:
    """analysis.ann.ivfpq_topk mirror — IVF+PQ serving composition:
    the coarse k-means chain (shared builder) assigns lists; residuals
    (v − coarse centroid, per-index double subtract) feed PQ_M
    independent residual-codebook chains (the SAME builder over the
    ``res`` source); recon = coarse centroid + concatenated assigned
    residual sub-centroids; queries probe the ``probe`` closest
    coarse lists, ADC-score the probed lists against recon (fold-order
    cosine, rounded), keep a ``shortlist``-deep short-list per query,
    and exact-re-rank it on the raw vectors."""
    from blackedge_ocr_spark.analysis.ann import PQ_M

    sub = dims // PQ_M
    parts = _kmeans_assigned_parts(centroid_every, iters, train_every)
    parts += [
        # MATERIALIZED: four residual-codebook chains reference res in
        # three CTEs each — DuckDB inlines plain CTEs per reference,
        # re-running the whole coarse chain ~12x (measured 230 s vs
        # <1 s materialized).
        f"""res AS MATERIALIZED (
  SELECT a.vec_id, a.v, a.cid,
         list_transform(range(len(a.v)), i -> a.v[i + 1] - c.cv[i + 1]) AS r
  FROM assigned a JOIN c{iters} c ON c.cid = a.cid)""",
    ]
    for m in range(PQ_M):
        lo, hi = m * sub + 1, (m + 1) * sub
        parts += _kmeans_assigned_parts(
            centroid_every, iters, train_every,
            prefix=f"r{m}_", vexpr=f"r[{lo}:{hi}]", include_emb=False,
            src="res",
        )
    joins = " ".join(
        f"JOIN r{m}_assigned a{m} ON a{m}.vec_id = a0.vec_id"
        for m in range(1, PQ_M)
    )
    cvj = " ".join(
        f"JOIN r{m}_c{iters} rc{m} ON rc{m}.cid = a{m}.cid"
        for m in range(PQ_M)
    )
    rv = " || ".join(f"rc{m}.cv" for m in range(PQ_M))
    parts += [
        f"rcodes AS (SELECT a0.vec_id, {rv} AS rv "
        f"FROM r0_assigned a0 {joins} {cvj})",
        f"""reconf AS (
  SELECT res.vec_id, res.cid, res.v,
         list_transform(range(len(res.v)),
                        i -> c.cv[i + 1] + rc.rv[i + 1]) AS recon
  FROM res JOIN c{iters} c ON c.cid = res.cid
           JOIN rcodes rc ON rc.vec_id = res.vec_id)""",
        f"""qp AS (
  SELECT vec_id AS q_id, v AS qv,
         unnest(list_transform(
           list_sort(list_transform(range(len(sims)),
             i -> struct_pack(ns := -sims[i + 1], cid := (cents[i + 1]).cid)
           ))[1:{probe}],
           s -> s.cid)) AS cid
  FROM scored WHERE vec_id % {query_every} = 0)""",
        f"""sa AS (SELECT q_id, r.vec_id AS neighbor_id, qv, r.v,
             round({cosine_sql('qv', 'recon')}, 6) AS adc
      FROM reconf r JOIN qp ON r.cid = qp.cid
      WHERE r.vec_id != qp.q_id)""",
        f"""sl AS (SELECT q_id, neighbor_id, qv, v FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY adc DESC, neighbor_id) AS srank
  FROM sa) WHERE srank <= {shortlist})""",
        f"""s AS (SELECT q_id, neighbor_id,
             round({cosine_sql('qv', 'v')}, 6) AS cos FROM sl)""",
    ]
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT q_id, rank, neighbor_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {k}"""


def sql_semantic_dedup(
    threshold: float | None = None, cluster_cap: int | None = None,
) -> str:
    """analysis.semdedup.semantic_dedup mirror: within each trained
    k-means cluster (the SAME unrolled Lloyd chain as
    ``sql_ann_ivf_kmeans_topk`` — shared builder), cap members to the
    ``cluster_cap`` lowest vec_ids (row_number, the banding-cap
    rule), score in-cluster (a < b) pairs with the fold-order cosine,
    and mark b a duplicate iff some lower-id member reaches the
    rounded threshold. First-wins by vec_id, a plain EXISTS — exactly
    the Spark keeper rule."""
    from blackedge_ocr_spark.analysis import ann, semdedup

    tau = (
        threshold
        if threshold is not None
        else ann.NEARDUP_CONTRACT_THRESHOLD
    )
    cap = (
        cluster_cap
        if cluster_cap is not None
        else semdedup.SEMDEDUP_CLUSTER_CAP
    )
    # Round 5: assignment is the deterministic 2-LEVEL quantizer
    # (ann._two_level_structure / _two_level_assign — coarse reps =
    # every ceil(√C)-th trained centroid in cid order; membership =
    # first-max cosine vs reps, ∪ each rep itself; vector = first-max
    # coarse rep, then first-max centroid within that rep's members).
    # Both levels use the same fold-order cosine and first-max tie
    # rule as the flat argmax they replace, so the mirror is exact.
    parts = _kmeans_assigned_parts(
        include_assign=False, train_every=TRAIN_STRIDE_SQL
    )
    parts += [
        """params AS (
  SELECT CAST(ceil(sqrt(len(cents)::DOUBLE)) AS BIGINT) AS cs
  FROM carr3)""",
        """cent AS (
  SELECT pos, (cents[pos]).cid AS cid, (cents[pos]).cv AS cv
  FROM (SELECT unnest(range(1, len(cents) + 1)) AS pos, cents
        FROM carr3))""",
        """reparr AS (
  SELECT list(struct_pack(g := (pos - 1) // cs, cv := cv)
              ORDER BY pos) AS reps
  FROM cent, params WHERE (pos - 1) % cs = 0)""",
        f"""member AS (
  SELECT DISTINCT pos, g FROM (
    SELECT pos,
           (reps[list_position(rsims, list_max(rsims))]).g AS g
    FROM (SELECT pos, reps,
                 list_transform(reps, r -> {cosine_sql('cv', 'r.cv')})
                   AS rsims
          FROM cent, reparr)
    UNION ALL
    SELECT pos, (pos - 1) // cs AS g
    FROM cent, params WHERE (pos - 1) % cs = 0))""",
        f"""vcoarse AS (
  SELECT vec_id, v,
         (reps[list_position(vs, list_max(vs))]).g AS g
  FROM (SELECT vec_id, v, reps,
               list_transform(reps, r -> {cosine_sql('v', 'r.cv')}) AS vs
        FROM (SELECT vec_id, v FROM e), reparr))""",
        f"""assigned2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vc.vec_id, vc.v, ct.cid,
           row_number() OVER (PARTITION BY vc.vec_id
             ORDER BY {cosine_sql('vc.v', 'ct.cv')} DESC, ct.cid ASC)
             AS rn
    FROM vcoarse vc
    JOIN member m ON m.g = vc.g
    JOIN cent ct ON ct.pos = m.pos)
  WHERE rn = 1)""",
        f"""capped AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
    FROM assigned2) WHERE rn <= {cap})""",
        f"""dup AS (
  SELECT DISTINCT b.vec_id
  FROM capped a JOIN capped b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({cosine_sql('a.v', 'b.v')}, 6) >= {tau!r})""",
    ]
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT a.vec_id, a.cid, (dup.vec_id IS NOT NULL) AS is_dup
FROM assigned2 a LEFT JOIN dup ON a.vec_id = dup.vec_id"""


def sql_ann_recall(k: int = 5) -> str:
    """ann.recall_vs_exact mirror: micro-averaged recall@k of the two
    IVF searches against the exact baseline. The three top-k queries
    are reused verbatim as derived tables (nested WITH), so any future
    tuning of probes stays in one place."""
    return f"""
WITH exact AS (SELECT q_id, neighbor_id FROM ({sql_ann_topk(k)})),
ivfk AS (SELECT q_id, neighbor_id FROM ({sql_ann_ivf_kmeans_topk(k)})),
ivfpq AS (SELECT q_id, neighbor_id FROM ({sql_ann_ivfpq_topk(k)})),
u AS (SELECT 'ivf_kmeans' AS method, q_id, neighbor_id FROM ivfk
      UNION ALL
      SELECT 'ivfpq' AS method, q_id, neighbor_id FROM ivfpq),
methods AS (SELECT unnest(['ivf_kmeans', 'ivfpq']) AS method),
hit0 AS (SELECT method, count(*)::bigint AS hits
         FROM u SEMI JOIN exact USING (q_id, neighbor_id)
         GROUP BY method),
-- LEFT JOIN from the method list: a method with ZERO hits must show
-- recall 0.0, not vanish from the report
hits AS (SELECT m.method, coalesce(h.hits, 0)::bigint AS hits
         FROM methods m LEFT JOIN hit0 h USING (method)),
nq AS (SELECT count(DISTINCT q_id)::bigint AS n_queries FROM exact)
SELECT method, n_queries, hits,
       floor(hits::double / (n_queries * {k})::double * 1e6 + 0.5) / 1e6
         AS recall
FROM hits, nq"""


def sql_dim_recall(
    k: int = 5, query_every: int = 50, cuts: tuple[int, ...] | None = None
) -> str:
    """ann.dim_recall mirror: recall@k of each prefix-cut exact scan
    vs the full-dim baseline. Each cut's CTE slices the vectors
    (v[1:c]) and reruns the standard fold-order cosine + (cos DESC,
    id) top-k — the slice fold is the same partial sum the engine
    snapshots mid-accumulation, so both sides are bit-identical per
    cut. Cuts default to the live ann constant (no-drift rule)."""
    from blackedge_ocr_spark.analysis.ann import DIM_RECALL_CUTS

    cut_list = sorted(
        {int(c) for c in (cuts if cuts is not None else DIM_RECALL_CUTS)}
    )
    parts = [
        EMB,
        f"q AS (SELECT vec_id AS q_id, v AS qv FROM e "
        f"WHERE vec_id % {query_every} = 0)",
        f"exact AS (SELECT q_id, neighbor_id "
        f"FROM ({sql_ann_topk(k, query_every)}))",
    ]
    unions = []
    for c in cut_list:
        parts += [
            f"e{c} AS (SELECT vec_id, v[1:{c}] AS v FROM e)",
            f"q{c} AS (SELECT q_id, qv[1:{c}] AS qv FROM q)",
            f"""s{c} AS (SELECT q_id, vec_id AS neighbor_id,
        round({cosine_sql('qv', 'v')}, 6) AS cos
      FROM e{c}, q{c} WHERE vec_id != q_id)""",
            f"""t{c} AS (SELECT q_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM s{c}) WHERE rank <= {k})""",
        ]
        unions.append(
            f"SELECT {c}::integer AS dims, q_id, neighbor_id FROM t{c}"
        )
    cut_vals = ", ".join(f"{c}::integer" for c in cut_list)
    parts += [
        "u AS (" + " UNION ALL ".join(unions) + ")",
        f"cuts AS (SELECT unnest([{cut_vals}]) AS dims)",
        """hit0 AS (SELECT dims, count(*)::bigint AS hits
         FROM u SEMI JOIN exact USING (q_id, neighbor_id)
         GROUP BY dims)""",
        """hits AS (SELECT c.dims, coalesce(h.hits, 0)::bigint AS hits
         FROM cuts c LEFT JOIN hit0 h USING (dims))""",
        "nq AS (SELECT count(DISTINCT q_id)::bigint AS n_queries FROM exact)",
    ]
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT dims, n_queries, hits,
       floor(hits::double / (n_queries * {k})::double * 1e6 + 0.5) / 1e6
         AS recall
FROM hits, nq"""


def sql_embedding_neardup() -> str:
    from blackedge_ocr_spark.analysis.ann import NEARDUP_THRESHOLD

    return f"""
WITH {EMB}
SELECT a.vec_id AS vec_id, round({cosine_sql('a.v', 'b.v')}, 6) AS cos,
       round({cosine_sql('a.v', 'b.v')}, 6) >= {NEARDUP_THRESHOLD} AS is_neardup
FROM e a JOIN e b ON b.vec_id = a.vec_id + 1"""


def _neardup_band_ctes(
    bands: int, planes_per_band: int, bucket_cap: int
) -> str:
    """Shared banded-candidate CTE chain for the bucketed near-dup
    oracles: banded (one row per vector per band, key = the band's
    sign-bucket bit-string, built by the same ``sign_bucket_sql`` the
    top-k LSH oracle uses) → capped (rank-by-vec_id ≤ cap — the
    windowed form of the Spark sort→slice) → pairs (DISTINCT in-bucket
    id pairs, a < b)."""
    from blackedge_ocr_spark.analysis.ann import hyperplane_weights

    planes = hyperplane_weights(bands * planes_per_band)
    band_rows = []
    for b in range(bands):
        bucket = sign_bucket_sql(
            planes[b * planes_per_band : (b + 1) * planes_per_band]
        )
        band_rows.append(f"SELECT vec_id, {b} AS band, {bucket} AS key FROM e")
    banded = " UNION ALL ".join(band_rows)
    return f"""
banded AS ({banded}),
ranked AS (
  SELECT vec_id, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY vec_id) AS rn
  FROM banded),
capped AS (SELECT * FROM ranked WHERE rn <= {bucket_cap}),
pairs AS (
  SELECT DISTINCT vec_id_a, vec_id_b FROM (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
    FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key
    WHERE a.vec_id < b.vec_id
    UNION ALL
    -- star tail: beyond-cap members pair with the bucket head
    -- (rn = 1, the lowest id — banding.in_bucket_pairs mirror)
    SELECT h.vec_id AS vec_id_a, t.vec_id AS vec_id_b
    FROM ranked t JOIN ranked h
      ON h.band = t.band AND h.key = t.key AND h.rn = 1
    WHERE t.rn > {bucket_cap})
)"""


def _neardup_params(
    threshold, bands, planes_per_band, bucket_cap, sample_every=None
):
    """Resolve None → the live ann constants, so the oracle literals
    track N_PLANES / NEARDUP_* tuning by construction (the same
    no-drift rule every other oracle follows)."""
    from blackedge_ocr_spark.analysis import ann

    return [
        threshold if threshold is not None else ann.NEARDUP_CONTRACT_THRESHOLD,
        bands if bands is not None else ann.NEARDUP_BANDS,
        planes_per_band if planes_per_band is not None else ann.N_PLANES,
        bucket_cap if bucket_cap is not None else ann.NEARDUP_BUCKET_CAP,
        sample_every if sample_every is not None else ann.NEARDUP_SAMPLE_EVERY,
    ]


def sql_embedding_neardup_lsh(
    threshold: float | None = None,
    bands: int | None = None,
    planes_per_band: int | None = None,
    bucket_cap: int | None = None,
) -> str:
    """ann.neardup_bucket_pairs mirror: OR-of-bands sign-bucket
    candidates, exact cosine verify, cap via rank-by-id. Defaults
    track the ann constants (contract threshold included)."""
    threshold, bands, planes_per_band, bucket_cap, _ = _neardup_params(
        threshold, bands, planes_per_band, bucket_cap
    )
    cos = f"round({cosine_sql('ea.v', 'eb.v')}, 6)"
    return f"""
WITH {EMB},
{_neardup_band_ctes(bands, planes_per_band, bucket_cap)}
SELECT p.vec_id_a, p.vec_id_b, {cos} AS cos, {cos} >= {threshold} AS is_neardup
FROM pairs p
JOIN e ea ON ea.vec_id = p.vec_id_a
JOIN e eb ON eb.vec_id = p.vec_id_b"""


def sql_neardup_recall(
    threshold: float | None = None,
    sample_every: int | None = None,
    bands: int | None = None,
    planes_per_band: int | None = None,
    bucket_cap: int | None = None,
) -> str:
    """ann.neardup_recall mirror: truth = exact all-pairs over the
    1/sample_every sample at the threshold; found = the banded
    candidates restricted to the sample that verify; recall = the
    exact integer ratio, r6 floor-rounded like ann_recall. Defaults
    track the ann constants."""
    threshold, bands, planes_per_band, bucket_cap, sample_every = (
        _neardup_params(
            threshold, bands, planes_per_band, bucket_cap, sample_every
        )
    )
    tcos = f"round({cosine_sql('a.v', 'b.v')}, 6)"
    fcos = f"round({cosine_sql('ea.v', 'eb.v')}, 6)"
    return f"""
WITH {EMB},
{_neardup_band_ctes(bands, planes_per_band, bucket_cap)},
s AS (SELECT vec_id, v FROM e WHERE vec_id % {sample_every} = 0),
truth AS (
  SELECT count(*) AS true_pairs
  FROM s a JOIN s b ON a.vec_id < b.vec_id
  WHERE {tcos} >= {threshold}),
found AS (
  SELECT count(*) AS found_pairs
  FROM pairs p
  JOIN e ea ON ea.vec_id = p.vec_id_a
  JOIN e eb ON eb.vec_id = p.vec_id_b
  WHERE p.vec_id_a % {sample_every} = 0 AND p.vec_id_b % {sample_every} = 0
    AND {fcos} >= {threshold})
SELECT true_pairs, found_pairs,
       CASE WHEN true_pairs > 0 THEN
         floor(found_pairs::double / true_pairs::double * 1e6 + 0.5) / 1e6
       END AS recall
FROM truth, found"""


# --- text analysis ----------------------------------------------------


def lang_sel_sql(alias: str = "predicted_lang") -> str:
    """``SELECT doc_id, <lang> FROM documents`` — the textstats
    language-ID mirror, shared by sql_lang_id and sql_lang_rebalance."""
    toks = tokens_sql("text")
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
        f"s AS (SELECT doc_id, {lang_scores_sel_sql()} FROM t) "
        f"SELECT doc_id, {lang_case_sql()} AS {alias} FROM s"
    )


def sql_lang_id() -> str:
    return lang_sel_sql()


def sql_token_counts() -> str:
    from blackedge_ocr_spark.analysis.textstats import BPE_PATTERN

    norm = norm_sql("text")
    return f"""
WITH n AS (SELECT doc_id, {norm} AS norm FROM documents)
SELECT doc_id,
  (CASE WHEN length(norm) = 0 THEN 0 ELSE len(str_split(norm, ' ')) END)::bigint
    AS ws_tokens,
  len(regexp_extract_all(norm, {_sq(BPE_PATTERN)}))::bigint AS bpe_tokens
FROM n"""


def sql_quality_scores() -> str:
    toks = tokens_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
m AS (SELECT doc_id, {measures_sql()}
  FROM t
)
SELECT doc_id, n_words::bigint AS n_words,
  floor(mean_word_len * 1000000 + 0.5) / 1000000 AS mean_word_len,
  floor(stop_ratio * 1000000 + 0.5) / 1000000 AS stopword_ratio,
  {QUALITY_R6_SQL} AS quality
FROM m"""


def sql_fingerprints() -> str:
    from blackedge_ocr_spark.analysis.textstats import FP_STRIDE, FP_WINDOW

    norm = norm_sql("text")
    return f"""
WITH n AS (SELECT doc_id, {norm} AS norm FROM documents),
w AS (SELECT doc_id, norm,
        greatest(ceil((length(norm) - {FP_WINDOW}) / {FP_STRIDE}.0)::int + 1, 1)
          AS n_win FROM n)
SELECT doc_id,
  list_aggregate(list_transform(range(n_win),
    i -> md5(substr(norm, i * {FP_STRIDE} + 1, {FP_WINDOW}))), 'min')
  AS fingerprint
FROM w"""


# --- segmentation -----------------------------------------------------


def sql_segment_stats(words_per_para: int = 30, min_chars: int = 25) -> str:
    """Mirror of q_segment_stats: predicts the segmenter's output on
    the deterministic htmlify corpus — heading kept, paragraphs kept
    iff >= min_chars, nav/footer dropped (pure link blocks), img every
    3rd doc, table every 5th."""
    para = (
        f"array_to_string(list_slice(toks, i * {words_per_para} + 1, "
        f"i * {words_per_para} + {words_per_para}), ' ') || '.'"
    )
    table_text = (
        "'k | v' || chr(10) || 'id | ' || doc_id::varchar || chr(10) || "
        "'chars | ' || n_chars::varchar"
    )
    return f"""
WITH base AS (
  SELECT doc_id, n_chars, str_split(text, ' ') AS toks FROM documents
),
p AS (
  SELECT doc_id, n_chars, toks,
         greatest(ceil(len(toks) / {words_per_para}.0)::int, 1) AS np
  FROM base
),
k AS (
  SELECT doc_id, n_chars,
    list_filter(list_transform(range(np), i -> {para}),
                t -> length(t) >= {min_chars}) AS kept,
    (doc_id % 3 = 0) AS has_img,
    (doc_id % 5 = 0) AS has_table
  FROM p
)
SELECT doc_id::varchar AS doc_id,
  (1 + len(kept) + has_img::int + has_table::int)::bigint AS n_spans,
  (1 + len(kept))::bigint AS n_text,
  has_table::int::bigint AS n_tables,
  has_img::int::bigint AS n_images,
  md5(array_to_string(
    list_concat(
      list_concat(['Document ' || doc_id::varchar], kept),
      list_concat(CASE WHEN has_img THEN [''] ELSE []::varchar[] END,
                  CASE WHEN has_table THEN [{table_text}] ELSE []::varchar[] END)
    ), chr(31))) AS content_md5
FROM k"""


# --- layout + ingest --------------------------------------------------


def sql_azure_layout(lines_per_page: int = 3, words_per_line: int = 10) -> str:
    """Mirror of q_azure_layout: expected page texts computed directly
    (the JSON round-trip is Spark-side machinery; semantics are what
    is compared)."""
    lpp, wpl = lines_per_page, words_per_line
    line_text = (
        f"array_to_string(list_slice(toks, (pg*{lpp}+j)*{wpl}+1, "
        f"(pg*{lpp}+j)*{wpl}+{wpl}), ' ')"
    )
    page_text = (
        f"array_to_string(list_transform("
        f"range(least({lpp}, n_lines - pg*{lpp})), j -> {line_text}), chr(10))"
        f" || CASE WHEN pg = 0 AND doc_id % 4 = 0 THEN "
        f"chr(10) || 'TABLE:' || chr(10) || 'k | v' || chr(10) || 'id | ' || doc_id::varchar "
        f"ELSE '' END"
    )
    return f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
n AS (SELECT doc_id, toks,
        greatest(ceil(len(toks) / {wpl}.0)::int, 1) AS n_lines FROM base),
p AS (SELECT doc_id, toks, n_lines,
        ceil(n_lines / {lpp}.0)::int AS n_pages FROM n)
SELECT doc_id, n_pages::bigint AS n_pages,
  md5(array_to_string(list_transform(range(n_pages), pg -> {page_text}),
      chr(31))) AS content_md5
FROM p"""


def sql_ingest_validate() -> str:
    payload = (
        "(CASE WHEN doc_id % 5 = 0 THEN 'NOTPDF ' || text "
        "ELSE '%PDF-1.7 ' || text END)"
    )
    fname = "'doc:' || doc_id::varchar || '?*.pdf'"
    # extension-preserving truncation, mirroring ingest.sanitize_filename
    s = f"regexp_replace({fname}, '[/\\:*?\"<>|]', '_', 'g')"
    return f"""
WITH sane AS (
  SELECT doc_id, {payload} AS payload, {s} AS s FROM documents
),
sx AS (
  SELECT doc_id, payload, s,
         regexp_extract(s, '^.+(\\.[^.]+)$', 1) AS ext
  FROM sane
)
SELECT doc_id,
  starts_with(payload, '%PDF-') AS valid_header,
  length(payload) <= 50 * 1024 * 1024 AS valid_size,
  CASE WHEN length(s) > 255 THEN
    substr(substr(s, 1, length(s) - length(ext)),
           1, greatest(0, 255 - length(ext))) || ext
  ELSE s END AS safe_filename,
  md5(payload) AS payload_md5
FROM sx"""


# --- simhash pairs + routing errors ----------------------------------


def sql_simhash_pairs(
    max_hamming: int = 3, bands: int = 4, bucket_cap: int | None = None
) -> str:
    if bucket_cap is None:
        from blackedge_ocr_spark.analysis.dedup import BUCKET_CAP

        bucket_cap = BUCKET_CAP
    width = 64 // bands
    hamming = (
        "len(list_filter(range(64), i -> "
        "substr(sa, i + 1, 1) != substr(sb, i + 1, 1)))::bigint"
    )
    return f"""
WITH {DUP_CORPUS},
t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM corpus),
h AS (SELECT doc_id,
        CASE WHEN len(toks) = 0 THEN repeat('0', 64)
             ELSE {_simhash_from_hs()} END AS simhash
      FROM (SELECT doc_id, toks, list_transform(toks, tk -> md5(tk)) AS hs
            FROM t)),
bx AS (SELECT doc_id, simhash, unnest(range({bands})) AS band FROM h),
banded AS (SELECT doc_id, simhash,
                  band, substr(simhash, band * {width} + 1, {width}) AS key
           FROM bx),
ranked AS (
  SELECT doc_id, simhash, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
  FROM banded),
capped AS (SELECT * FROM ranked WHERE rn <= {bucket_cap}),
pairs AS (
  SELECT DISTINCT doc_a, doc_b, sa, sb FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sa, b.simhash AS sb
    FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
    UNION ALL
    -- star tail: beyond-cap members pair with the bucket head
    -- (rn = 1, the lowest id — banding.in_bucket_pairs mirror)
    SELECT h.doc_id AS doc_a, t.doc_id AS doc_b,
           h.simhash AS sa, t.simhash AS sb
    FROM ranked t JOIN ranked h
      ON h.band = t.band AND h.key = t.key AND h.rn = 1
    WHERE t.rn > {bucket_cap})
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, {hamming} AS hamming FROM pairs
) WHERE hamming <= {max_hamming}"""


def sql_routing_errors() -> str:
    from blackedge_ocr_spark.constants import WORKFLOW_ALIASES, WORKFLOWS

    cases = ("'AZURE-DI '", "'text'", "'bogus_flow'", "''",
             "'  gemini  '", "'default'", "'ocr'")
    whens = "".join(
        f" WHEN {i + 1} THEN {c}" for i, c in enumerate(cases)
    )
    explicit = f"(CASE (doc_id % 7) + 1{whens} END)"
    mapping = dict(WORKFLOW_ALIASES)
    for wf in WORKFLOWS:
        mapping.setdefault(wf, wf)
    alias_whens = "".join(
        f" WHEN {_sq(a)} THEN {_sq(t)}" for a, t in mapping.items()
    )
    # Python str.strip() parity (ASCII subset — the corpus's explicit
    # values are ASCII; same residual Unicode-\\s gap as WORDRUN)
    stripped = r"regexp_replace(explicit_workflow, '^\s+|\s+$', '', 'g')"
    resolved = f"(CASE lower({stripped}){alias_whens} END)"
    return f"""
WITH e AS (SELECT doc_id, {explicit} AS explicit_workflow FROM documents)
SELECT doc_id, explicit_workflow,
  CASE WHEN explicit_workflow != '' THEN {resolved}
       ELSE 'mistral' END AS workflow,
  CASE WHEN explicit_workflow != '' AND {resolved} IS NULL
       THEN 'invalid_workflow' END AS error_kind
FROM e"""


def sql_dedup_apply() -> str:
    h = f"md5({normalize_for_comparison_sql('text')})"
    return f"""
WITH {DUP_CORPUS},
hashed AS (SELECT doc_id, {h} AS content_hash FROM corpus),
groups AS (SELECT content_hash, min(doc_id) AS keep_doc_id
           FROM hashed GROUP BY content_hash)
SELECT h.doc_id FROM hashed h
JOIN groups g ON h.content_hash = g.content_hash
            AND h.doc_id = g.keep_doc_id"""


def sql_corpus_curation() -> str:
    flags = d_flags_sql("text")
    clean = "NOT (" + " OR ".join(flags.values()) + ")"
    toks = tokens_sql("text")
    # quality via the shared floor micro-round (QUALITY_R6_SQL) — the
    # exact _r6 the engine computes; the earlier round(...,6) form
    # agreed only when no value sat on a .5 boundary in binary.
    return f"""
WITH t AS (SELECT doc_id, source, text, {toks} AS toks FROM documents),
s AS (SELECT doc_id, source, text, toks, {lang_scores_sel_sql()} FROM t),
m AS (
  SELECT doc_id, source, text,
    ({lang_case_sql()}) AS lang_pred,
    {measures_sql()}
  FROM s
),
k AS (
  SELECT doc_id, source,
    (({clean}) AND lang_pred = 'en' AND
     {QUALITY_R6_SQL} >= 0.5) AS keep
  FROM m
)
SELECT source, count(*)::bigint AS n_docs,
       coalesce(sum(keep::int), 0)::bigint AS n_kept
FROM k GROUP BY source"""


def sql_curation_funnel() -> str:
    """queries.q_curation_funnel mirror: cumulative gate counts over
    the dup-injected + PII-staged corpus. Dedup key = md5 of the
    comparison-normalized PRE-staging text; keeper flags via
    arg_min(flag, doc_id) — semantically the keeper's flag, same as
    Spark's min over the packed (doc_id*16 + flag bits) long, since
    doc_id is distinct per group.
    Quality threshold through the shared floor(x*1e6+0.5)/1e6
    micro-round (textstats._r6)."""
    h = f"md5({normalize_for_comparison_sql('text')})"
    flags = d_flags_sql("text")
    clean = "NOT (" + " OR ".join(flags.values()) + ")"
    toks = tokens_sql("text")
    cnt, _ = _pii_chain_sql()
    pii_total = " + ".join(cnt.values())
    return f"""
WITH {DUP_CORPUS},
src AS (SELECT doc_id, {h} AS h,
               {pii_text_sql('doc_id', 'text')} AS text
        FROM corpus),
t AS (SELECT doc_id, h, text, {toks} AS toks FROM src),
m AS (SELECT doc_id, h, text,
        {lang_scores_sel_sql()},
        {measures_sql()}
      FROM t),
f AS (SELECT doc_id, h,
        (({lang_case_sql()}) = 'en') AS en,
        ({QUALITY_R6_SQL} >= 0.5) AS gq,
        ({clean}) AS cl,
        (({pii_total}) = 0) AS pf
      FROM m),
g AS (SELECT h, count(*) AS n_all,
             arg_min(en, doc_id) AS en, arg_min(gq, doc_id) AS gq,
             arg_min(cl, doc_id) AS cl, arg_min(pf, doc_id) AS pf
      FROM f GROUP BY h),
s AS (SELECT sum(n_all)::bigint AS s1, count(*)::bigint AS s2,
             sum(en::int)::bigint AS s3,
             sum((en AND gq)::int)::bigint AS s4,
             sum((en AND gq AND cl)::int)::bigint AS s5,
             sum((en AND gq AND cl AND pf)::int)::bigint AS s6
      FROM g)
SELECT 'ingested' AS stage, s1 AS n_docs FROM s
UNION ALL SELECT 'exact_dedup', s2 FROM s
UNION ALL SELECT 'lang_en', s3 FROM s
UNION ALL SELECT 'quality', s4 FROM s
UNION ALL SELECT 'clean', s5 FROM s
UNION ALL SELECT 'pii_free', s6 FROM s"""


def sql_final_content() -> str:
    """Full extract-then-validate chain, final content as md5."""
    validating = ", ".join(_sq(w) for w in VALIDATING_WORKFLOWS)
    any_problem = "(" + " OR ".join(d_flags_sql("e.text").values()) + ")"
    return f"""
WITH {spansify_cte()}, {extracted_cte()},
contents AS (
  SELECT e.doc_id,
         string_agg(e.text, {SEP} ORDER BY e."offset") AS pc,
         string_agg(e.sec_text, {SEP} ORDER BY e."offset") AS sc,
         bool_or({any_problem}) AS has_problems
  FROM ext e GROUP BY e.doc_id
),
decided AS (
  SELECT c.doc_id, c.pc, c.sc,
         (r.workflow IN ({validating})) AS validating,
         c.has_problems,
         CASE WHEN r.workflow IN ({validating}) AND NOT c.has_problems
              THEN {number_frequency_sim_sql(numbers_sql('c.pc'), numbers_sql('c.sc'))}
         END AS sim
  FROM contents c JOIN prov r ON r.doc_id = c.doc_id
)
SELECT doc_id,
  coalesce(validating AND (has_problems OR sim < {SIMILARITY_THRESHOLD}), FALSE)
    AS used_secondary,
  md5(CASE WHEN coalesce(validating AND (has_problems OR sim < {SIMILARITY_THRESHOLD}), FALSE)
           THEN sc ELSE pc END) AS content_md5
FROM decided"""


def sql_similarity_report() -> str:
    from blackedge_ocr_spark.constants import LEVENSHTEIN_REPORT_MAX

    grown = (
        "(CASE WHEN doc_id % 7 = 0 THEN "
        "array_to_string(list_transform(range(20), r -> text), ' ') "
        "ELSE text END)"
    )
    ta = numeric_text_sql("a.doc_id", f"a.g")
    tb = numeric_text_sql("b.doc_id", f"b.g")
    lev_trunc = lambda c: f"substr({normalize_for_comparison_sql(c)}, 1, 10000)"
    m = LEVENSHTEIN_REPORT_MAX
    return f"""
WITH g AS (SELECT doc_id, {grown} AS g FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_id,
         length({ta}) AS len_a, length({tb}) AS len_b,
         {numbers_sql(ta)} AS na, {numbers_sql(tb)} AS nb,
         {key_terms_sql(ta)} AS ka, {key_terms_sql(tb)} AS kb,
         {tokens_sql(ta, 3)} AS fa, {tokens_sql(tb, 3)} AS fb,
         {lev_trunc(ta)} AS la, {lev_trunc(tb)} AS lb
  FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
)
SELECT doc_id,
  round({number_frequency_sim_sql('na', 'nb')}, 6) AS number_frequency,
  round({word_overlap_sim_sql('ka', 'kb')}, 6) AS word_overlap,
  round({_guarded_sim('fa', 'fb', cosine_multiset_sql('fa', 'fb'))}, 6) AS cosine,
  round(CASE WHEN len_a < {m} AND len_b < {m}
             THEN {levenshtein_sim_sql('la', 'lb')} END, 6) AS levenshtein
FROM pairs"""


# ---------------------------------------------------------------------
# Corpus-curation oracles (analysis/corpusops.py mirrors)
# ---------------------------------------------------------------------


def sql_dup_ngrams() -> str:
    """corpusops.dup_ngram_stats mirror: distinct word trigrams via
    shingles_sql, gram doc-counts, LEFT JOIN back from the
    un-exploded side so empty docs keep n_grams = 0 / dup_frac 0."""
    from blackedge_ocr_spark.analysis.corpusops import NGRAM_N

    grams = shingles_sql("text", NGRAM_N)
    return f"""
WITH t AS (SELECT doc_id, {grams} AS grams FROM documents),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM t),
c AS (SELECT gram, count(*) AS nd FROM ex GROUP BY gram),
d AS (SELECT ex.doc_id, sum((c.nd >= 2)::int)::bigint AS dup_grams
      FROM ex JOIN c USING (gram) GROUP BY ex.doc_id)
SELECT t.doc_id, len(t.grams)::bigint AS n_grams,
  coalesce(d.dup_grams, 0)::bigint AS dup_grams,
  CASE WHEN len(t.grams) > 0
       THEN floor(coalesce(d.dup_grams, 0)::double / len(t.grams)::double
                  * 1000000 + 0.5) / 1000000
       ELSE 0.0 END AS dup_frac
FROM t LEFT JOIN d USING (doc_id)"""


def sql_decontaminate() -> str:
    """corpusops.decontaminate mirror (benchmark = doc_id % MOD = 0)."""
    from blackedge_ocr_spark.analysis.corpusops import BENCH_MOD, NGRAM_N

    grams = shingles_sql("text", NGRAM_N)
    return f"""
WITH t AS (SELECT doc_id, {grams} AS grams FROM documents),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM t),
b AS (SELECT DISTINCT gram FROM ex WHERE doc_id % {BENCH_MOD} = 0)
SELECT doc_id, count(*)::bigint AS n_shared
FROM ex JOIN b USING (gram)
WHERE doc_id % {BENCH_MOD} <> 0
GROUP BY doc_id"""


def sql_corpus_sample() -> str:
    """corpusops.corpus_sample mirror: md5 hex-prefix predicate."""
    from blackedge_ocr_spark.analysis.corpusops import SAMPLE_HEX_LT

    return f"""
WITH k AS (SELECT source,
  (substr(md5(doc_id::varchar), 1, 2) < {_sq(SAMPLE_HEX_LT)})::int AS kept
  FROM documents)
SELECT source, count(*)::bigint AS n_docs, sum(kept)::bigint AS n_kept,
  floor(sum(kept)::double / count(*)::double * 1000000 + 0.5) / 1000000
    AS kept_frac
FROM k GROUP BY source"""


def sql_token_packing() -> str:
    """corpusops.token_packing mirror: per-source cumsum window with
    an explicit ROWS frame (doc_id is unique, but the frame is spelled
    out so both engines run the identical window)."""
    from blackedge_ocr_spark.analysis.corpusops import PACK_CAP

    toks = tokens_sql("text")
    return f"""
WITH t AS (SELECT source, doc_id, len({toks})::bigint AS tok FROM documents),
c AS (SELECT source, tok,
        sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT source,
  floor((cum - tok)::double / {PACK_CAP}.0)::bigint AS shard,
  count(*)::bigint AS n_docs,
  sum(tok)::bigint AS shard_tokens
FROM c GROUP BY source, shard"""


# ------------------------------------------------------------------
# Scrub / safety-curation oracles (analysis/scrub.py mirrors)
# ------------------------------------------------------------------


def pii_text_sql(doc: str, text: str) -> str:
    """queries._pii_text mirror — variant order must stay in
    lockstep with the Spark array."""
    num4 = f"lpad((({doc} * 7) % 10000)::varchar, 4, '0')"
    o1 = f"({doc} % 200)::varchar"
    o2 = f"(({doc} % 254) + 1)::varchar"
    cases = {
        0: f"' contact user' || {doc}::varchar || '@example.com now'",
        1: f"' server at 10.23.' || {o1} || '.' || {o2} || ' up'",
        2: f"' call (415) 555-' || {num4} || ' today'",
        3: f"' ssn 219-09-' || {num4} || ' card 4111 1111 1111 ' || {num4}",
        4: "''",
    }
    whens = "".join(f" WHEN {m} THEN {e}" for m, e in cases.items())
    return f"({text} || (CASE ({doc} % 5){whens} END))"


def lined_text_sql(doc: str, text: str) -> str:
    """queries._lined_text mirror: 4 x 60-char chunks + doc_id % 4
    copies of the pool line. repeat(s, 0) = '' in DuckDB too."""
    chunks = ", ".join(
        f"substr({text}, {1 + 60 * i}, 60)" for i in range(4)
    )
    rep = f"'dup line ' || ({doc} % 7)::varchar"
    return (
        f"(concat_ws(chr(10), {chunks})"
        f" || repeat(chr(10) || {rep}, ({doc} % 4)::int))"
    )


def url_sql(doc: str) -> str:
    """queries._url_col mirror over scrub.URL_HOSTS."""
    from blackedge_ocr_spark.analysis.scrub import URL_HOSTS

    whens = "".join(
        f" WHEN {i} THEN {_sq(h)}" for i, h in enumerate(URL_HOSTS)
    )
    return (
        f"('https://' || (CASE ({doc} % {len(URL_HOSTS)}){whens} END)"
        f" || '/p/' || {doc}::varchar)"
    )


def messy_url_sql(doc: str) -> str:
    """queries._messy_url mirror — variant order in lockstep."""
    from blackedge_ocr_spark.analysis.scrub import URL_HOSTS

    page = f"({doc} // 2)"
    host_whens = "".join(
        f" WHEN {i} THEN {_sq(h)}" for i, h in enumerate(URL_HOSTS)
    )
    host = f"(CASE ({page} % {len(URL_HOSTS)}){host_whens} END)"
    pv = f"{page}::varchar"
    base = f"('https://' || {host} || '/p/' || {pv})"
    return f"""(CASE ({doc} % 8)
  WHEN 0 THEN {base}
  WHEN 1 THEN 'HTTPS://' || upper({host}) || '/p/' || {pv} || '#frag'
  WHEN 2 THEN 'https://u@' || {host} || ':443/p/' || {pv}
  WHEN 3 THEN {base} || '?utm_source=feed&utm_campaign=x'
  WHEN 4 THEN {base} || '?b=2&a=1'
  WHEN 5 THEN {base} || '?a=1&utm_medium=em&b=2'
  WHEN 6 THEN 'https://' || {host} || './p/' || {pv}
  ELSE 'https://' || {host}
END)"""


def url_canon_sql(src: str, idcol: str, urlexpr: str) -> str:
    """scrub.url_canonical mirror as a full ``SELECT {idcol}, canon
    FROM {src}`` query — the same part-wise canonicalization (every
    regex single-match-at-most, so DuckDB's first-match
    regexp_replace equals Spark's global one), list_sort ==
    array_sort (binary string order in both engines), coalesce
    around array_to_string (NULL for an empty list in DuckDB where
    Spark's array_join gives '')."""
    from blackedge_ocr_spark.analysis.scrub import TRACKING_PARAM_RE

    return f"""
WITH s AS (SELECT {idcol}, trim({urlexpr}) AS u
           FROM {src}),
a AS (SELECT {idcol}, u,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
          AS scheme,
        regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
      FROM s),
b0 AS (SELECT {idcol}, scheme,
        lower(regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
                             '^.*@', '')) AS hp,
        regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
                       '#.*$', '') AS pe
      FROM a),
b AS (SELECT {idcol}, scheme, pe,
        (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
              THEN name ELSE name || ':' || port END) AS host
      FROM (SELECT {idcol}, scheme, pe,
              regexp_replace(regexp_extract(hp, '^([^:]*)', 1),
                             '\\.+$', '') AS name,
              regexp_extract(hp, '^[^:]*:([0-9]+)$', 1) AS port
            FROM b0) hb),
c AS (SELECT {idcol}, scheme, host,
        CASE WHEN regexp_extract(pe, '^([^?]*)', 1) = '' THEN '/'
             ELSE regexp_extract(pe, '^([^?]*)', 1) END AS path,
        coalesce(array_to_string(
          list_sort(list_filter(
            str_split(regexp_extract(pe, '\\?(.*)$', 1), '&'),
            p -> p <> '' AND NOT regexp_matches(p, {_sq(TRACKING_PARAM_RE)})
          )), '&'), '') AS q2
      FROM b)
SELECT {idcol},
  CASE WHEN scheme = '' OR host = '' THEN ''
       ELSE scheme || '://' || host || path ||
            (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
  END AS canon
FROM c"""


def sql_url_dedup() -> str:
    """scrub.url_dedup mirror: url_canon_sql over the messy-URL
    staging, first-wins keeper by min doc_id per canonical."""
    inner = url_canon_sql(
        "documents", "doc_id", messy_url_sql("doc_id")
    )
    return f"""
WITH k AS ({inner})
SELECT doc_id, canon,
  (canon = '' OR doc_id = min(doc_id) OVER (PARTITION BY canon))
    AS is_keeper
FROM k"""


def _pii_chain_sql() -> tuple[dict[str, str], str]:
    """({rule: count_expr}, redacted_expr) over a column named
    ``text`` — the sequential-semantics mirror of scrub.pii_chain:
    each rule counts AFTER earlier rules redacted ('g' flag == Spark's
    always-global regexp_replace)."""
    from blackedge_ocr_spark.analysis.scrub import PII_RULES

    cur = "text"
    cnt: dict[str, str] = {}
    for name, pat, tok in PII_RULES:
        cnt[name] = f"len(regexp_extract_all({cur}, {_sq(pat)}))"
        cur = f"regexp_replace({cur}, {_sq(pat)}, {_sq(tok)}, 'g')"
    return cnt, cur


def sql_pii_scan() -> str:
    """scrub.pii_scan mirror — sequential counts from _pii_chain_sql."""
    cnt, _ = _pii_chain_sql()
    cols = ",\n  ".join(
        f"{c}::bigint AS n_{name}" for name, c in cnt.items()
    )
    total = " + ".join(cnt.values())
    return f"""
WITH t AS (SELECT doc_id, {pii_text_sql('doc_id', 'text')} AS text
           FROM documents)
SELECT doc_id,
  {cols},
  ({total})::bigint AS n_pii
FROM t"""


def sql_pii_redact() -> str:
    """scrub.pii_redact mirror — same sequential chain; n_pii equals
    the number of replacements performed."""
    cnt, red = _pii_chain_sql()
    total = " + ".join(cnt.values())
    return f"""
WITH t AS (SELECT doc_id, {pii_text_sql('doc_id', 'text')} AS text
           FROM documents)
SELECT doc_id,
  ({total})::bigint AS n_pii,
  (({total}) = 0) AS clean,
  md5({red}) AS redacted_md5
FROM t"""


def sql_repetition_stats() -> str:
    """scrub.repetition_stats mirror: same union-of-units two-level
    aggregation; bigrams are NON-distinct consecutive token pairs."""
    lined = lined_text_sql("doc_id", "text")
    toks = tokens_sql("text")
    bigrams = (
        "list_transform(range(1, greatest(len(toks), 1)), "
        "i -> toks[i] || ' ' || toks[i + 1])"
    )
    r6 = lambda num, den: (
        f"CASE WHEN {den} > 0 THEN floor({num}::double / {den}::double"
        f" * 1000000 + 0.5) / 1000000 ELSE 0.0 END"
    )
    return f"""
WITH t AS (SELECT doc_id, {lined} AS text FROM documents),
lx AS (SELECT doc_id, 'line' AS kind,
              unnest(str_split(text, chr(10))) AS unit FROM t),
tk AS (SELECT doc_id, {toks} AS toks FROM t),
gx AS (SELECT doc_id, 'gram' AS kind, unnest({bigrams}) AS unit FROM tk),
u AS (SELECT * FROM lx UNION ALL SELECT * FROM gx),
pu AS (SELECT doc_id, kind, unit, count(*) AS n
       FROM u GROUP BY doc_id, kind, unit),
a AS (SELECT doc_id,
  sum(CASE WHEN kind = 'line' THEN n END)::bigint AS n_lines,
  coalesce(sum(CASE WHEN kind = 'line' AND n >= 2 THEN n END), 0)::bigint
    AS dup_lines,
  coalesce(sum(CASE WHEN kind = 'line' AND n >= 2 THEN n * length(unit) END),
           0)::bigint AS dup_chars,
  coalesce(sum(CASE WHEN kind = 'line' THEN n * length(unit) END), 0)::bigint
    AS tot_chars,
  coalesce(sum(CASE WHEN kind = 'gram' THEN n END), 0)::bigint AS n_bigrams,
  coalesce(max(CASE WHEN kind = 'gram' THEN n END), 0)::bigint AS top_bigram_n
FROM pu GROUP BY doc_id)
SELECT doc_id, n_lines,
  {r6('dup_lines', 'n_lines')} AS dup_line_frac,
  {r6('dup_chars', 'tot_chars')} AS dup_char_frac,
  n_bigrams,
  {r6('top_bigram_n', 'n_bigrams')} AS top_bigram_frac
FROM a"""


def sql_paragraph_dedup() -> str:
    """scrub.paragraph_dedup mirror: first-wins by (doc_id, idx) via
    row_number over the paragraph value (== Spark's min-struct over
    its md5 — equality of paragraph text and of its md5 coincide)."""
    lined = lined_text_sql("doc_id", "text")
    return f"""
WITH t AS (SELECT doc_id, str_split({lined}, chr(10)) AS lst FROM documents),
ex AS (SELECT doc_id, i - 1 AS idx, lst[i] AS para
       FROM t, unnest(range(1, len(lst) + 1)) AS r(i)),
k AS (SELECT doc_id, idx, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
      FROM ex)
SELECT doc_id, count(*)::bigint AS n_paras,
  sum((rn = 1)::int)::bigint AS n_kept,
  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                          ORDER BY idx), '')) AS kept_md5
FROM k GROUP BY doc_id"""


def sql_boilerplate_strip() -> str:
    """scrub.boilerplate_strip mirror: distinct-doc frequency per
    line VALUE (== per line md5 — equality of the text and of its
    hash coincide), keep = under the shared threshold, surviving text
    re-joined in idx order (all-NULL string_agg coalesces to '',
    matching Spark's empty collect_list)."""
    from blackedge_ocr_spark.analysis.scrub import BOILERPLATE_MIN_DOCS

    lined = lined_text_sql("doc_id", "text")
    return f"""
WITH t AS (SELECT doc_id, str_split({lined}, chr(10)) AS lst FROM documents),
ex AS (SELECT doc_id, i - 1 AS idx, lst[i] AS line
       FROM t, unnest(range(1, len(lst) + 1)) AS r(i)),
c AS (SELECT line, count(DISTINCT doc_id) AS nd FROM ex GROUP BY line),
f AS (SELECT ex.doc_id, ex.idx, ex.line,
             (c.nd < {BOILERPLATE_MIN_DOCS}) AS keep
      FROM ex JOIN c USING (line))
SELECT doc_id, count(*)::bigint AS n_lines,
  sum(keep::int)::bigint AS n_kept,
  md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                          ORDER BY idx), '')) AS kept_md5
FROM f GROUP BY doc_id"""


def sql_domain_filter() -> str:
    """scrub.domain_filter mirror: NOT IN over BLOCKED_DOMAINS (the
    Spark side broadcasts the blocklist; the oracle only needs the
    set semantics)."""
    from blackedge_ocr_spark.analysis.scrub import BLOCKED_DOMAINS, DOMAIN_RE

    blocked = ", ".join(_sq(d) for d in BLOCKED_DOMAINS)
    return f"""
WITH t AS (SELECT doc_id, {url_sql('doc_id')} AS url FROM documents),
d AS (SELECT doc_id,
             regexp_replace(
               regexp_extract(lower(url), {_sq(DOMAIN_RE)}, 1),
               '\\.+$', '') AS domain
      FROM t)
SELECT doc_id, domain FROM d WHERE domain NOT IN ({blocked})"""


def sql_term_doc_freq() -> str:
    """textstats.term_doc_freq mirror: distinct key terms per doc
    unnested, counted per term, idf = r6(ln(n_docs / df))."""
    kt = key_terms_sql("text")
    return f"""
WITH ex AS (SELECT unnest({kt}) AS term FROM documents),
n AS (SELECT count(*)::double AS n_docs FROM documents)
SELECT term, count(*)::bigint AS df,
  floor(ln((SELECT n_docs FROM n) / count(*)::double) * 1000000 + 0.5)
    / 1000000 AS idf
FROM ex GROUP BY term"""


def sql_corpus_stats() -> str:
    """textstats.corpus_token_stats mirror: identical rank-selection
    percentile formula (idx = p*(n-1), interpolate floor/ceil ranks)
    spelled out over the same ws_tokens expression."""
    from blackedge_ocr_spark.analysis.textstats import PCTS

    norm = norm_sql("text")
    ws = (
        f"(CASE WHEN length({norm}) = 0 THEN 0 "
        f"ELSE len(str_split({norm}, ' ')) END)::bigint"
    )
    idx_cols = ", ".join(
        f"{p} * (n - 1)::double AS i{int(p * 100)}" for p in PCTS
    )
    pieces = []
    for p in PCTS:
        t = int(p * 100)
        lo = f"max(CASE WHEN r = floor(i{t}) THEN v END)::double"
        hi = f"max(CASE WHEN r = ceil(i{t}) THEN v END)::double"
        frac = f"(max(i{t}) - floor(max(i{t})))"
        v = f"({lo} + {frac} * ({hi} - {lo}))"
        pieces.append(
            f"floor({v} * 1000000 + 0.5) / 1000000 AS p{t}_tokens"
        )
    sel = ",\n  ".join(pieces)
    return f"""
WITH tc AS (SELECT doc_id, source, {ws} AS v FROM documents),
r0 AS (SELECT source, v, doc_id,
        row_number() OVER (PARTITION BY source ORDER BY v, doc_id) - 1 AS r,
        count(*) OVER (PARTITION BY source) AS n
      FROM tc),
r AS (SELECT source, v, r, n, {idx_cols} FROM r0)
SELECT source, max(n)::bigint AS n_docs,
  {sel}
FROM r GROUP BY source"""


def sql_snapshot_diff() -> str:
    """corpusops.snapshot_diff mirror: the same deterministic snapshot
    views, hash compare over a full outer join, status rollup."""
    from blackedge_ocr_spark.analysis.corpusops import (
        DIFF_ADD,
        DIFF_DEL,
        DIFF_MOD,
        DIFF_REV_MOD,
        DIFF_REV_SUFFIX,
    )

    return f"""
WITH a AS (SELECT doc_id, md5(coalesce(text, '')) AS h_a FROM documents
           WHERE doc_id % {DIFF_MOD} <> {DIFF_ADD}),
b AS (SELECT doc_id,
        md5(coalesce(CASE WHEN doc_id % {DIFF_REV_MOD} = 0
                 THEN text || {_sq(DIFF_REV_SUFFIX)} ELSE text END, ''))
          AS h_b
      FROM documents WHERE doc_id % {DIFF_MOD} <> {DIFF_DEL}),
j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, h_a, h_b
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT CASE WHEN h_a IS NULL THEN 'added'
            WHEN h_b IS NULL THEN 'removed'
            WHEN h_a <> h_b THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*)::bigint AS n_docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM j GROUP BY 1"""


def sql_corpus_shuffle() -> str:
    """corpusops.corpus_shuffle mirror — the oracle ranks with ONE
    window over the whole shard (the semantics); the engine's
    two-phase prefix-sum rank must equal it exactly."""
    from blackedge_ocr_spark.analysis.corpusops import SHUFFLE_SEED

    key = f"md5({_sq(SHUFFLE_SEED + ':')} || doc_id::varchar)"
    return f"""
WITH k AS (SELECT doc_id, {key} AS key FROM documents)
SELECT doc_id, substr(key, 1, 2) AS shard,
  row_number() OVER (PARTITION BY substr(key, 1, 2)
                     ORDER BY key, doc_id)::bigint AS pos
FROM k"""


def sql_doc_chunks() -> str:
    """corpusops.doc_chunks mirror: identical integer chunk-count
    formula; DuckDB list_slice(begin, end) is end-inclusive, matching
    Spark slice(start, length) with end = start + length - 1."""
    from blackedge_ocr_spark.analysis.corpusops import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    toks = tokens_sql("text")
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
e AS (SELECT doc_id, toks,
        unnest(range(0, ((greatest(n - {c}, 0) + {s - 1}) // {s}) + 1))
          AS chunk_id
      FROM nz),
sl AS (SELECT doc_id, chunk_id,
         list_slice(toks, chunk_id * {s} + 1, chunk_id * {s} + {c}) AS sl
       FROM e)
SELECT doc_id, chunk_id::bigint AS chunk_id,
  len(sl)::bigint AS n_toks,
  md5(array_to_string(sl, ' ')) AS chunk_md5
FROM sl"""


def sql_lang_rebalance() -> str:
    """corpusops.lang_rebalance mirror: same histogram → same integer
    cap → same double-rounded threshold → same fixed-width-hex
    compare. cap/n_l * 2^32 stays in IEEE double on both engines
    (exact-rounded ops — bit-identical), floor() then hex-pads."""
    from blackedge_ocr_spark.analysis.corpusops import (
        REBALANCE_DIVISOR,
        REBALANCE_SEED,
    )

    h = f"substr(md5({_sq(REBALANCE_SEED + ':')} || doc_id::varchar), 1, 8)"
    return f"""
WITH l AS ({lang_sel_sql('lang')}),
g AS (SELECT lang, count(*)::bigint AS n_l FROM l GROUP BY lang),
c AS (SELECT greatest(1, floor(sum(n_l)::double
        / ({REBALANCE_DIVISOR} * count(*)))::bigint) AS cap FROM g),
thr AS (SELECT lang,
          CASE WHEN n_l > cap THEN
            lpad(lower(hex(floor(cap::double / n_l::double
                                 * 4294967296.0)::bigint)), 8, '0')
          END AS thr
        FROM g, c),
k AS (SELECT l.lang,
        (thr.thr IS NULL OR {h} < thr.thr)::int AS kept
      FROM l JOIN thr ON l.lang = thr.lang)
SELECT lang, count(*)::bigint AS n_docs, sum(kept)::bigint AS n_kept,
  floor(sum(kept)::double / count(*)::double * 1000000 + 0.5) / 1000000
    AS kept_frac
FROM k GROUP BY lang"""


def sql_top_terms() -> str:
    """textstats.top_terms mirror: total order (n DESC, term ASC)
    makes the K-boundary deterministic in both engines."""
    from blackedge_ocr_spark.analysis.textstats import TOP_K_TERMS

    toks = tokens_sql("text")
    return f"""
WITH e AS (SELECT unnest({toks}) AS term FROM documents)
SELECT term, count(*)::bigint AS n FROM e
GROUP BY term ORDER BY n DESC, term ASC LIMIT {TOP_K_TERMS}"""


def sql_source_mirror_stats() -> str:
    """dedup.source_mirror_stats mirror: the identical LSH pair chain
    over the corpus + 'mirror' stratum, sources attached per pair
    side, mean jaccard via exact micro-unit sums."""
    from blackedge_ocr_spark.analysis.dedup import DUP_ID_OFFSET

    extra = f"""
mcorp AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + {DUP_ID_OFFSET}, text FROM documents
          WHERE doc_id % 10 = 0),"""
    inner = sql_dedup_lsh_pairs(source="mcorp", extra_ctes=extra)
    return f"""
WITH mc AS (SELECT doc_id, source FROM documents
            UNION ALL
            SELECT doc_id + {DUP_ID_OFFSET}, 'mirror' FROM documents
            WHERE doc_id % 10 = 0),
p AS ({inner})
SELECT sa.source AS source_a, sb.source AS source_b,
       count(*)::BIGINT AS n_pairs,
       floor(sum(floor(jaccard * 1000000 + 0.5))::DOUBLE
             / count(*)::DOUBLE + 0.5) / 1000000 AS mean_jaccard
FROM p JOIN mc sa ON p.doc_a = sa.doc_id
       JOIN mc sb ON p.doc_b = sb.doc_id
GROUP BY sa.source, sb.source"""


def sql_hll_distinct() -> str:
    """sketches.hll_distinct mirror: same md5-hex register recipe
    (bucket = 2-hex prefix, rho from the leading-zero run of the
    13-hex window via regexp + nibble CASE), Σ2^(-M) scaled to exact
    int64 arithmetic (1 << (53 - m), in-range at the rho cap), the
    shared HLL_NUMER double
    literal, micro-rounded ln in the linear-counting branch."""
    from blackedge_ocr_spark.analysis.sketches import (
        HLL_M,
        HLL_NUMER,
        HLL_RHO_CAP,
        HLL_WINDOW,
    )

    toks = tokens_sql("text")
    shift = HLL_RHO_CAP
    return f"""
WITH tok AS (SELECT source, unnest({toks}) AS term FROM documents),
hh AS (SELECT source, md5(term) AS h FROM tok),
rr AS (SELECT source, substr(h, 1, 2) AS bucket,
              length(regexp_extract(substr(h, 3, {HLL_WINDOW}),
                                    '^(0*)', 1)) AS zeros,
              substr(substr(h, 3, {HLL_WINDOW}),
                     length(regexp_extract(substr(h, 3, {HLL_WINDOW}),
                                           '^(0*)', 1)) + 1, 1) AS nib
       FROM hh),
rho AS (SELECT source, bucket,
               CASE WHEN zeros = {HLL_WINDOW} THEN {HLL_RHO_CAP}
                    ELSE zeros * 4 +
                         (CASE WHEN nib = '1' THEN 3
                               WHEN nib IN ('2', '3') THEN 2
                               WHEN nib IN ('4', '5', '6', '7') THEN 1
                               ELSE 0 END) + 1 END AS rho
        FROM rr),
regs AS (SELECT source, bucket, max(rho) AS m FROM rho
         GROUP BY source, bucket),
agg AS (SELECT source,
               sum(1::BIGINT << ({shift} - m))::BIGINT AS s_present,
               count(*)::BIGINT AS n_regs
        FROM regs GROUP BY source),
est AS (SELECT source,
               {HLL_M} - n_regs AS v,
               {HLL_NUMER!r} /
                 (s_present + ({HLL_M} - n_regs) * (1::BIGINT << {shift})
                 )::DOUBLE AS e_raw
        FROM agg),
hll AS (SELECT source,
               floor((CASE WHEN e_raw <= {2.5 * HLL_M!r} AND v > 0
                      THEN {float(HLL_M)!r} *
                           (floor(ln({float(HLL_M)!r} / v::DOUBLE)
                                  * 1000000 + 0.5) / 1000000)
                      ELSE e_raw END) * 1000000 + 0.5) / 1000000 AS n_hll
        FROM est),
exact AS (SELECT source, count(DISTINCT term)::BIGINT AS n_exact
          FROM tok GROUP BY source)
SELECT source, n_exact, n_hll,
       floor(abs(n_hll - n_exact::DOUBLE) / n_exact::DOUBLE
             * 1000000 + 0.5) / 1000000 AS rel_err
FROM exact JOIN hll USING (source)"""


def sql_cms_topk() -> str:
    """sketches.cms_topk mirror: salted-md5 3-hex slots, exact
    integer counters, min-over-rows estimate for the exact top-K
    terms — pure integer arithmetic end-to-end."""
    from blackedge_ocr_spark.analysis.sketches import (
        CMS_DEPTH,
        CMS_SLOT_HEX,
        CMS_TOP_K,
    )

    toks = tokens_sql("text")
    rows = "\n   UNION ALL ".join(
        f"SELECT {i} AS row, substr(md5('{i}:' || term), 1, "
        f"{CMS_SLOT_HEX}) AS slot FROM tok"
        for i in range(CMS_DEPTH)
    )
    probe_rows = "\n   UNION ALL ".join(
        f"SELECT term, n_exact, {i} AS row, "
        f"substr(md5('{i}:' || term), 1, {CMS_SLOT_HEX}) AS slot FROM exact"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH tok AS (SELECT unnest({toks}) AS term FROM documents),
c AS (SELECT row, slot, count(*)::BIGINT AS n FROM (
   {rows}) GROUP BY row, slot),
exact AS (SELECT term, count(*)::BIGINT AS n_exact FROM tok
          GROUP BY term ORDER BY n_exact DESC, term LIMIT {CMS_TOP_K}),
probes AS (
   {probe_rows}),
est AS (SELECT term, n_exact, min(n)::BIGINT AS n_cms
        FROM probes JOIN c USING (row, slot) GROUP BY term, n_exact)
SELECT term, n_exact, n_cms, n_cms - n_exact AS overcount FROM est"""


def sql_incremental_extract() -> str:
    """queries.q_incremental_extract mirror: the oracle extracts
    snapshot B FROM SCRATCH (spansify + routing + OCR fill over the
    revised/filtered corpus) and derives ``refreshed`` from actual
    span-array equality between the two spansified snapshots — NOT
    from the revision arithmetic: a revision appending a token that
    lands inside an image span leaves the extraction input unchanged,
    and the engine's content fingerprint rightly carries the doc
    forward (caught live at sf0.01: docs 17/255/323). A
    carried-forward row that should have been recomputed (or vice
    versa) fails the hash compare."""
    from blackedge_ocr_spark.analysis.corpusops import (
        DIFF_ADD,
        DIFF_DEL,
        DIFF_MOD,
        DIFF_REV_MOD,
        DIFF_REV_SUFFIX,
    )

    span_ser = (
        "kind || chr(31) || text || chr(31) || media_ref || chr(31) "
        '|| "offset"::varchar'
    )
    raw_md5 = f"md5(string_agg({span_ser}, chr(30) ORDER BY \"offset\"))"
    return f"""
WITH snapa AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {DIFF_MOD} <> {DIFF_ADD}
),
snapb AS (
  SELECT doc_id,
    CASE WHEN doc_id % {DIFF_REV_MOD} = 0
         THEN text || {_sq(DIFF_REV_SUFFIX)} ELSE text END AS text
  FROM documents WHERE doc_id % {DIFF_MOD} <> {DIFF_DEL}
),
{spansify_cte(src='snapa', suffix='_a')},
{spansify_cte(src='snapb')}, {extracted_cte()},
raw_a AS (SELECT doc_id, {raw_md5} AS h FROM sp_a GROUP BY doc_id),
raw_b AS (SELECT doc_id, {raw_md5} AS h FROM sp GROUP BY doc_id),
agg AS (
  SELECT doc_id,
    md5(string_agg({span_ser}, chr(30) ORDER BY "offset")) AS spans_md5
  FROM ext GROUP BY doc_id
)
SELECT a.doc_id, p.workflow, a.spans_md5,
  (ra.h IS NULL OR ra.h <> rb.h) AS refreshed
FROM agg a
JOIN prov p ON p.doc_id = a.doc_id
JOIN raw_b rb ON rb.doc_id = a.doc_id
LEFT JOIN raw_a ra ON ra.doc_id = a.doc_id"""


def sql_span_packing() -> str:
    """corpusops.span_packing mirror: one window cumsum over the sp
    span rows in offset order, identical cost model (media span =
    IMG_TOKEN_COST, else whitespace token count)."""
    from blackedge_ocr_spark.analysis.corpusops import (
        IMG_TOKEN_COST,
        SEQ_BUDGET,
    )
    from blackedge_ocr_spark.constants import MEDIA_KINDS

    media_kinds = ", ".join(_sq(k) for k in MEDIA_KINDS)
    return f"""
WITH {spansify_cte()},
c AS (
  SELECT doc_id, "offset",
    (kind IN ({media_kinds}))::bigint AS is_media,
    (CASE WHEN kind IN ({media_kinds}) THEN {IMG_TOKEN_COST}
          WHEN length(text) = 0 THEN 0
          ELSE len(str_split(text, ' ')) END)::bigint AS cost
  FROM sp
),
cm AS (
  SELECT doc_id, is_media, cost,
    sum(cost) OVER (PARTITION BY doc_id ORDER BY "offset"
                    ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
)
SELECT doc_id,
  floor((cum - cost)::double / {SEQ_BUDGET})::bigint AS seq_id,
  count(*)::bigint AS n_spans,
  sum(is_media)::bigint AS n_media,
  sum(cost)::bigint AS seq_tokens
FROM cm GROUP BY doc_id, seq_id"""


def sql_quality_sample() -> str:
    """textstats.quality_sample mirror: same r6 quality composite as
    sql_quality_scores, same seeded 24-bit hex threshold."""
    from blackedge_ocr_spark.analysis.textstats import QS_SEED

    toks = tokens_sql("text")
    h = f"substr(md5({_sq(QS_SEED + ':')} || doc_id::varchar), 1, 6)"
    return f"""
WITH t AS (SELECT doc_id, source, {toks} AS toks FROM documents),
m AS (
  SELECT doc_id, source, {measures_sql()}
  FROM t
),
q AS (
  SELECT doc_id, source, {QUALITY_R6_SQL} AS q6
  FROM m
),
k AS (
  SELECT source,
    CASE WHEN q6 >= 1.0 THEN 1
         ELSE ({h} < lpad(lower(hex(floor(q6 * 16777216.0)::bigint)), 6, '0'))::int
    END AS kept
  FROM q
)
SELECT source, count(*)::bigint AS n_docs, sum(kept)::bigint AS n_kept,
  floor(sum(kept)::double / count(*)::double * 1000000 + 0.5) / 1000000
    AS kept_frac
FROM k GROUP BY source"""


def sql_bpe_pairs() -> str:
    """textstats.bpe_pairs mirror: adjacent-char pairs over DISTINCT
    words weighted by word frequency; total order (n DESC, pair ASC)
    pins the K boundary. range(1, len) is [1, len-1] (end-exclusive)
    so a 1-char word emits no pairs — matching the engine's guarded
    sequence()."""
    from blackedge_ocr_spark.analysis.textstats import BPE_TOP_K

    toks = tokens_sql("text")
    return f"""
WITH w AS (SELECT unnest({toks}) AS word FROM documents),
f AS (SELECT word, count(*)::bigint AS freq FROM w GROUP BY word),
p AS (SELECT unnest(list_transform(range(1, length(word)),
          i -> substr(word, i::int, 2))) AS pair, freq
      FROM f WHERE length(word) > 1)
SELECT pair, sum(freq)::bigint AS n FROM p
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {BPE_TOP_K}"""


def sql_data_split() -> str:
    """corpusops.data_split mirror: same seeded 24-bit hash-prefix
    thresholds (identical hex literals via the shared constants)."""
    from blackedge_ocr_spark.analysis.corpusops import (
        SPLIT_SEED,
        _VAL_HEX,
        _VALTEST_HEX,
    )

    h = f"substr(md5('{SPLIT_SEED}:' || doc_id::varchar), 1, 6)"
    toks = tokens_sql("text")
    return f"""
WITH s AS (SELECT
    CASE WHEN {h} < '{_VAL_HEX}' THEN 'val'
         WHEN {h} < '{_VALTEST_HEX}' THEN 'test'
         ELSE 'train' END AS split,
    len({toks})::bigint AS n_toks
  FROM documents),
g AS (SELECT split, count(*)::bigint AS n_docs,
             sum(n_toks)::bigint AS n_tokens
      FROM s GROUP BY split)
SELECT split, n_docs, n_tokens,
  floor(n_docs::double / (sum(n_docs) OVER ())::double * 1000000 + 0.5)
    / 1000000 AS doc_share
FROM g"""


def sql_mixture_weights() -> str:
    """corpusops.mixture_weights mirror: uniform token target per
    source; min(1, target/observed) downweighting."""
    toks = tokens_sql("text")
    return f"""
WITH s AS (SELECT source, len({toks})::bigint AS n_toks FROM documents),
g AS (SELECT source, count(*)::bigint AS n_docs,
             sum(n_toks)::bigint AS n_tokens
      FROM s GROUP BY source),
t AS (SELECT source, n_docs, n_tokens,
        (sum(n_tokens) OVER ())::double AS tot,
        (count(*) OVER ())::double AS n_src
      FROM g)
SELECT source, n_docs, n_tokens,
  floor(n_tokens::double / tot * 1000000 + 0.5) / 1000000 AS token_share,
  floor(CASE WHEN n_tokens > 0
             THEN least(1.0, (tot / n_src) / n_tokens::double)
             ELSE 1.0 END * 1000000 + 0.5) / 1000000 AS weight
FROM t"""


def sql_doc_features() -> str:
    """textstats.doc_features mirror: the standalone operators' exact
    fragments (lang argmax, quality composite, token counts, PII
    chain) composed over ONE staged text — the engine's fused
    projection recomputed piecewise."""
    from blackedge_ocr_spark.analysis.textstats import BPE_PATTERN

    toks = tokens_sql("text")
    norm = norm_sql("text")
    cnt, _ = _pii_chain_sql()
    pii_total = " + ".join(cnt.values())
    return f"""
WITH src AS (SELECT doc_id, {pii_text_sql('doc_id', 'text')} AS text
             FROM documents),
t AS (SELECT doc_id, text, {toks} AS toks, {norm} AS norm FROM src),
m AS (SELECT doc_id, text, toks, norm, {lang_scores_sel_sql()},
        {measures_sql()}
      FROM t)
SELECT doc_id,
  {lang_case_sql()} AS lang,
  {QUALITY_R6_SQL} AS quality,
  (CASE WHEN length(norm) = 0 THEN 0
        ELSE len(str_split(norm, ' ')) END)::bigint AS ws_tokens,
  len(regexp_extract_all(norm, {_sq(BPE_PATTERN)}))::bigint AS bpe_tokens,
  ({pii_total})::bigint AS n_pii
FROM m"""


def sql_vocab_coverage() -> str:
    """textstats.vocab_coverage mirror: same term counts, same
    (n DESC, term ASC) top-K boundary, same r6 coverage."""
    from blackedge_ocr_spark.analysis.textstats import TOP_K_TERMS

    toks = tokens_sql("text")
    return f"""
WITH e AS (SELECT unnest({toks}) AS term FROM documents),
c AS (SELECT term, count(*)::bigint AS n FROM e GROUP BY term),
v AS (SELECT term FROM c ORDER BY n DESC, term ASC LIMIT {TOP_K_TERMS})
SELECT {TOP_K_TERMS} AS vocab_k,
  sum(n)::bigint AS total_tokens,
  sum(CASE WHEN term IN (SELECT term FROM v) THEN n ELSE 0 END)::bigint
    AS in_vocab_tokens,
  floor(sum(CASE WHEN term IN (SELECT term FROM v) THEN n ELSE 0 END)::double
        / sum(n)::double * 1000000 + 0.5) / 1000000 AS coverage
FROM c"""


def sql_domain_stats() -> str:
    """scrub.domain_stats mirror: identical micro-unit quality sum
    (order-free long arithmetic) and host extraction."""
    from blackedge_ocr_spark.analysis.scrub import BLOCKED_DOMAINS, DOMAIN_RE

    toks = tokens_sql("text")
    blocked = ", ".join(_sq(d) for d in BLOCKED_DOMAINS)
    return f"""
WITH s AS (SELECT {url_sql('doc_id')} AS url, text FROM documents),
t AS (SELECT url, {toks} AS toks FROM s),
m AS (SELECT url, {measures_sql()}
      FROM t),
q AS (SELECT
        regexp_replace(
          regexp_extract(lower(url), {_sq(DOMAIN_RE)}, 1),
          '\\.+$', '') AS domain,
        {QUALITY_MICRO_SQL} AS qi
      FROM m)
SELECT domain, count(*)::bigint AS n_docs,
  floor(sum(qi)::double / (count(*)::double * 1000000.0)
        * 1000000 + 0.5) / 1000000 AS mean_quality,
  domain IN ({blocked}) AS blocked
FROM q GROUP BY domain"""


def sql_lm_scores() -> str:
    """textstats.lm_scores mirror: same top-V boundary, same per-term
    micro-unit ln rounding, same exact long sums."""
    from blackedge_ocr_spark.analysis.textstats import LM_VOCAB_K

    toks = tokens_sql("text")
    return f"""
WITH e AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
c AS (SELECT term, count(*)::bigint AS n FROM e GROUP BY term),
t AS (SELECT sum(n)::double AS tot FROM c),
v AS (SELECT term,
        floor(ln(n::double / (SELECT tot FROM t)) * 1000000 + 0.5)::bigint
          AS li
      FROM c ORDER BY n DESC, term ASC LIMIT {LM_VOCAB_K}),
s AS (SELECT e.doc_id,
        coalesce(v.li,
          floor(ln(1.0 / (SELECT tot FROM t)) * 1000000 + 0.5)::bigint)
          AS li
      FROM e LEFT JOIN v ON e.term = v.term),
g AS (SELECT doc_id, count(*)::bigint AS n_toks, sum(li)::bigint AS s
      FROM s GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(g.n_toks, 0)::bigint AS n_tokens,
  CASE WHEN g.n_toks > 0
       THEN floor(g.s::double / (g.n_toks::double * 1000000.0)
                  * 1000000 + 0.5) / 1000000
       ELSE 0.0 END AS lm_score
FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id"""


def sql_bm25_topk() -> str:
    """retrieval.bm25_topk mirror: identical postings/df/idf tables,
    the per-(term, doc) partial micro-unit-rounded once, exact long
    sums, same rank tie-break. Float constants are emitted with
    repr() of the Python-computed doubles so DuckDB parses back the
    bit-identical values Spark folded into its expression tree."""
    from blackedge_ocr_spark.analysis.retrieval import (
        BM25_B,
        BM25_K1,
        BM25_QRY_ADD,
        BM25_QRY_MOD,
        BM25_QRY_TERMS,
        BM25_TOP_K,
    )

    toks = tokens_sql("text")
    kt = key_terms_sql("text")
    k1p1 = repr(BM25_K1 + 1.0)
    one_b = repr(1.0 - BM25_B)
    denom = (
        f"(tf::double + {BM25_K1!r} * "
        f"({one_b} + {BM25_B!r} * len_d::double / avg_len))"
    )
    part = (
        f"floor(idf_u::double * (tf::double * {k1p1} / {denom})"
        f" + 0.5)::bigint"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
post AS (SELECT doc_id, term, count(*)::bigint AS tf
         FROM ex GROUP BY doc_id, term),
dlen AS (SELECT doc_id, sum(tf)::bigint AS len_d FROM post GROUP BY doc_id),
na AS (SELECT count(*)::double AS n_docs,
              sum(len_d)::double / count(*)::double AS avg_len FROM dlen),
q AS (SELECT doc_id AS query_id,
             unnest(({kt})[1:{BM25_QRY_TERMS}]) AS term
      FROM documents
      WHERE doc_id % {BM25_QRY_MOD} = {BM25_QRY_ADD}),
qt AS (SELECT DISTINCT term FROM q),
m AS (SELECT post.* FROM post JOIN qt USING (term)),
idf AS (SELECT term,
          floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                * 1000000 + 0.5)::bigint AS idf_u,
          avg_len
        FROM (SELECT term, count(*)::double AS df FROM m GROUP BY term), na),
s AS (SELECT q.query_id, m.doc_id, sum({part}) AS s_u
      FROM m JOIN dlen USING (doc_id) JOIN idf USING (term)
             JOIN q USING (term)
      GROUP BY 1, 2)
SELECT query_id, doc_id, rank, s_u::double / 1000000 AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY s_u DESC, doc_id) AS rank
  FROM s) WHERE rank <= {BM25_TOP_K}"""


def sql_cooccur_pmi() -> str:
    """textstats.cooccur_pmi mirror: position self-join replaces the
    array pair expression (same forward (i, i+1..i+w] pairs), same
    exact-long counts, same probability-ratio shape, same micro-unit
    ln rounding, same selection tie-break."""
    from blackedge_ocr_spark.analysis.textstats import (
        PMI_MIN_PAIR,
        PMI_TOP_K,
        PMI_WINDOW,
    )

    toks = tokens_sql("text")
    ratio = (
        "(n_pair::double / np::double) / "
        "((ua.n::double / nt::double) * (ub.n::double / nt::double))"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term,
               unnest(range(len(toks))) AS i FROM t),
pr AS (SELECT x.term AS a, y.term AS b
       FROM tok x JOIN tok y
         ON x.doc_id = y.doc_id AND y.i > x.i AND y.i <= x.i + {PMI_WINDOW}),
pc AS (SELECT a, b, count(*)::bigint AS n_pair FROM pr GROUP BY a, b),
uni AS (SELECT term, count(*)::bigint AS n FROM tok GROUP BY term),
np AS (SELECT sum(n_pair)::bigint AS np FROM pc),
nt AS (SELECT sum(n)::bigint AS nt FROM uni),
sel AS (SELECT * FROM pc WHERE n_pair >= {PMI_MIN_PAIR}
        ORDER BY n_pair DESC, a, b LIMIT {PMI_TOP_K})
SELECT sel.a AS term_a, sel.b AS term_b, sel.n_pair,
  floor(ln({ratio}) * 1000000 + 0.5) / 1000000 AS pmi
FROM sel
JOIN uni ua ON ua.term = sel.a
JOIN uni ub ON ub.term = sel.b, np, nt"""


def sql_minhash_jaccard_est() -> str:
    """dedup.minhash_jaccard_audit mirror: signature agreement
    fraction vs exact shingle Jaccard over consecutive-id pairs.
    NULL signature components (empty-shingle docs) drop out of the
    lambda filter in both engines."""
    from blackedge_ocr_spark.analysis.dedup import MINHASH_K

    return f"""
WITH sh AS (SELECT doc_id, {shingles_sql('text')} AS sh FROM documents),
hs AS (SELECT doc_id, sh, {shingle_hashes_sql('sh')} AS hs FROM sh),
sig AS (SELECT doc_id, sh, {minhash_sig_sql('hs')} AS sig FROM hs),
p AS (SELECT a.doc_id AS doc_a, a.doc_id + 1 AS doc_b,
             a.sh AS sh_a, b.sh AS sh_b, a.sig AS sig_a, b.sig AS sig_b
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1),
m AS (SELECT doc_a, doc_b,
        round({jaccard_sql('sh_a', 'sh_b')}, 6) AS j_exact,
        round(len(list_filter(range(1, {MINHASH_K + 1}),
                              i -> sig_a[i] = sig_b[i]))
              / {MINHASH_K}.0, 6) AS j_est
      FROM p)
SELECT doc_a, doc_b, j_exact, j_est,
       round(abs(j_est - j_exact), 6) AS abs_err
FROM m"""


def sql_bloom_probe() -> str:
    """sketches.bloom_probe mirror: salted-md5 hex-prefix slots over
    the content-hash key, per-row occupancy sets, hit = AND over the
    depth membership tests."""
    from blackedge_ocr_spark.analysis.sketches import (
        BLOOM_DEPTH,
        BLOOM_SLOT_HEX,
    )

    key_expr = f"md5({normalize_for_comparison_sql('text')})"
    bit_ctes = ",\n".join(
        f"b{i} AS (SELECT DISTINCT substr(md5('bf{i}:' || key), 1, "
        f"{BLOOM_SLOT_HEX}) AS slot FROM keyed)"
        for i in range(BLOOM_DEPTH)
    )
    hit = " AND ".join(
        f"substr(md5('bf{i}:' || key), 1, {BLOOM_SLOT_HEX}) "
        f"IN (SELECT slot FROM b{i})"
        for i in range(BLOOM_DEPTH)
    )
    return f"""
WITH keyed AS (SELECT doc_id, {key_expr} AS key FROM documents),
probes AS (
  SELECT doc_id, 'member' AS kind, key FROM keyed
  UNION ALL
  SELECT doc_id, 'absent' AS kind, md5(key || ':absent') AS key FROM keyed),
{bit_ctes},
m AS (SELECT doc_id, kind, ({hit}) AS hit FROM probes)
SELECT doc_id, kind, hit, (kind = 'absent' AND hit) AS false_pos FROM m"""


def _pct_select_sql(rel: str, n_alias: str, prefix: str) -> str:
    """Rank-selection percentile block (textstats.rank_percentiles
    mirror — same formula sql_corpus_stats spells out) over relation
    ``rel`` with (source, v, doc_id) columns, emitting
    (source, {n_alias}, {prefix}50, {prefix}90, {prefix}99)."""
    from blackedge_ocr_spark.analysis.textstats import PCTS

    idx_cols = ", ".join(
        f"{p} * (n - 1)::double AS i{int(p * 100)}" for p in PCTS
    )
    pieces = []
    for p in PCTS:
        t = int(p * 100)
        lo = f"max(CASE WHEN r = floor(i{t}) THEN v END)::double"
        hi = f"max(CASE WHEN r = ceil(i{t}) THEN v END)::double"
        frac = f"(max(i{t}) - floor(max(i{t})))"
        v = f"({lo} + {frac} * ({hi} - {lo}))"
        pieces.append(f"floor({v} * 1000000 + 0.5) / 1000000 AS {prefix}{t}")
    sel = ",\n  ".join(pieces)
    return f"""SELECT source, max(n)::bigint AS {n_alias},
  {sel}
FROM (SELECT source, v, r, n, {idx_cols}
      FROM (SELECT source, v, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY v, doc_id) - 1
                AS r,
              count(*) OVER (PARTITION BY source) AS n
            FROM {rel}))
GROUP BY source"""


def sql_sampled_quantiles() -> str:
    """sketches.sampled_quantiles mirror: deterministic md5 hex-bound
    doc sample, identical rank-selection percentiles on both sides, long
    format with NULL est for unsampled sources."""
    from blackedge_ocr_spark.analysis.sketches import (
        QSAMPLE_KEEP,
        QSAMPLE_SALT,
    )
    from blackedge_ocr_spark.analysis.textstats import PCTS

    norm = norm_sql("text")
    ws = (
        f"(CASE WHEN length({norm}) = 0 THEN 0 "
        f"ELSE len(str_split({norm}, ' ')) END)::bigint"
    )
    member = (
        f"substr(md5('{QSAMPLE_SALT}' || doc_id), 1, 1) "
        f"< '{QSAMPLE_KEEP:x}'"
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT source, n_docs, coalesce(n_sample, 0) AS n_sample, "
        f"{int(p * 100)} AS pct, x{int(p * 100)} AS exact, "
        f"e{int(p * 100)} AS est, "
        f"floor(abs(e{int(p * 100)} - x{int(p * 100)}) * 1000000 + 0.5) "
        f"/ 1000000 AS abs_err FROM j"
        for p in PCTS
    )
    return f"""
WITH tc AS (SELECT doc_id, source, {ws} AS v FROM documents),
sm AS (SELECT * FROM tc WHERE {member}),
ex AS ({_pct_select_sql('tc', 'n_docs', 'x')}),
es AS ({_pct_select_sql('sm', 'n_sample', 'e')}),
j AS (SELECT ex.source, ex.n_docs, ex.x50, ex.x90, ex.x99,
             es.n_sample, es.e50, es.e90, es.e99
      FROM ex LEFT JOIN es ON ex.source = es.source)
{rows}"""


def sql_lang_confusion() -> str:
    """textstats.lang_confusion mirror: the shared lang_sel_sql
    prediction joined to the ground-truth column, counted per cell."""
    return f"""
WITH pred AS ({lang_sel_sql()}),
d AS (SELECT doc_id, lang AS true_lang FROM documents)
SELECT true_lang, predicted_lang, count(*)::bigint AS n
FROM d JOIN pred USING (doc_id)
GROUP BY 1, 2"""


# ---------------------------------------------------------------------
# Exact substring dedup (analysis/scrub.py)
# ---------------------------------------------------------------------


def sql_substring_dedup() -> str:
    """scrub.substring_dedup mirror: quote-injected corpus, duplicated
    k-gram starts, the identical interval-union fold, and the same
    gap-slice survivor reassembly as the engine — O(n + runs) per
    row on BOTH sides (a per-position containment scan here would
    hang the parity check on exactly the adversarial doc the
    engine-side fix defuses, BENCH/SKEW.md)."""
    from blackedge_ocr_spark.analysis.scrub import (
        QUOTE_EVERY,
        QUOTE_ID_OFFSET,
        QUOTE_START,
        QUOTE_WIDTH,
        SUB_GRAM_K,
    )

    k = SUB_GRAM_K
    toks = tokens_sql("text")
    slice_hi = QUOTE_START + QUOTE_WIDTH - 1
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {QUOTE_ID_OFFSET},
         'quoted passage follows ' ||
         array_to_string(({toks})[{QUOTE_START}:{slice_hi}], ' ')
  FROM documents WHERE doc_id % {QUOTE_EVERY} = 0),
t AS (SELECT doc_id, {toks} AS toks FROM corpus),
ex AS (SELECT doc_id, toks,
              unnest(CASE WHEN len(toks) >= {k}
                          THEN range(1, len(toks) - {k} + 2)
                          ELSE [] END) AS p
       FROM t),
gr AS (SELECT doc_id, p,
              md5(array_to_string(toks[p:p + {k - 1}], ' ')) AS g
       FROM ex),
cnt AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
pd AS (SELECT doc_id, list_sort(list(p)) AS ps
       FROM gr JOIN cnt USING (g) GROUP BY doc_id),
jj AS (SELECT t.doc_id, t.toks, coalesce(pd.ps, []) AS ps
       FROM t LEFT JOIN pd USING (doc_id)),
iv AS (SELECT doc_id, toks,
  CASE WHEN len(ps) = 0 THEN CAST([] AS STRUCT(s BIGINT, e BIGINT)[])
  ELSE list_reduce(list_transform(ps, p -> [{{'s': p, 'e': p + {k}}}]),
    (acc, x) -> CASE
      WHEN len(acc) > 0 AND x[1].s <= acc[-1].e
      THEN list_concat(acc[1:len(acc)-1],
                       [{{'s': acc[-1].s,
                          'e': greatest(acc[-1].e, x[1].e)}}])
      ELSE list_concat(acc, x) END) END AS ivs
  FROM jj),
ke AS (SELECT doc_id, len(toks)::bigint AS n_tokens,
              len(ivs)::bigint AS n_runs,
              flatten(list_transform(range(0, len(ivs) + 1), i ->
                toks[(CASE WHEN i = 0 THEN 1 ELSE ivs[i].e END) :
                     (CASE WHEN i = len(ivs) THEN len(toks)
                           ELSE ivs[i + 1].s - 1 END)])) AS kept
       FROM iv)
SELECT doc_id, n_tokens,
       (n_tokens - len(kept))::bigint AS dup_tokens,
       CASE WHEN n_tokens > 0
            THEN floor((n_tokens - len(kept))::double / n_tokens::double
                       * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS dup_frac,
       n_runs,
       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
FROM ke"""


# ---------------------------------------------------------------------
# Gopher rules + CCNet perplexity buckets (analysis/textstats.py)
# ---------------------------------------------------------------------


def sql_gopher_rules() -> str:
    """textstats.gopher_rules mirror: raw whitespace words, blank
    lines dropped, identical exact-integer ratios and published
    thresholds; micro-unit rounding applies to output columns only
    while the flags compare the exact values."""
    from blackedge_ocr_spark.analysis.textstats import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WLEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WLEN,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')
      AS words,
    list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) <> '')
      AS lines,
    text
  FROM documents),
m AS (
  SELECT doc_id,
    len(words)::bigint AS n_words,
    coalesce(list_sum(list_transform(words, w -> length(w))), 0)::bigint
      AS sum_len,
    (len(regexp_extract_all(text, '#'))
     + len(regexp_extract_all(text, '\\.\\.\\.|…')))::bigint AS n_sym,
    len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::bigint
      AS n_bullet,
    len(list_filter(lines,
        l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::bigint
      AS n_ell_end,
    len(lines)::bigint AS n_lines,
    len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::bigint
      AS n_alpha,
    len(list_filter([{stops}],
        s -> list_contains(list_transform(words, w -> lower(w)), s)))
      ::bigint AS stop_hits
  FROM t),
r AS (
  SELECT doc_id, n_words, stop_hits,
    CASE WHEN n_words > 0 THEN sum_len::double / n_words::double
         ELSE 0.0 END AS mean_len,
    CASE WHEN n_words > 0 THEN n_sym::double / n_words::double
         ELSE 0.0 END AS symbol_ratio,
    CASE WHEN n_lines > 0 THEN n_bullet::double / n_lines::double
         ELSE 0.0 END AS bullet_frac,
    CASE WHEN n_lines > 0 THEN n_ell_end::double / n_lines::double
         ELSE 0.0 END AS ellipsis_frac,
    CASE WHEN n_words > 0 THEN n_alpha::double / n_words::double
         ELSE 0.0 END AS alpha_frac
  FROM m)
SELECT doc_id, n_words,
  floor(mean_len * 1000000 + 0.5) / 1000000 AS mean_word_len,
  floor(symbol_ratio * 1000000 + 0.5) / 1000000 AS symbol_ratio,
  floor(bullet_frac * 1000000 + 0.5) / 1000000 AS bullet_frac,
  floor(ellipsis_frac * 1000000 + 0.5) / 1000000 AS ellipsis_frac,
  floor(alpha_frac * 1000000 + 0.5) / 1000000 AS alpha_frac,
  stop_hits,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
    AS r_words,
  (mean_len >= {GOPHER_MIN_WLEN} AND mean_len <= {GOPHER_MAX_WLEN})
    AS r_mean_len,
  (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS r_symbol,
  (bullet_frac <= {GOPHER_MAX_BULLET_FRAC}) AS r_bullet,
  (ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}) AS r_ellipsis,
  (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS r_alpha,
  (stop_hits >= {GOPHER_MIN_STOP_HITS}) AS r_stopwords,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
   AND mean_len >= {GOPHER_MIN_WLEN} AND mean_len <= {GOPHER_MAX_WLEN}
   AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
   AND bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
   AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}
   AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
   AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS gopher_pass
FROM r"""


def sql_ccnet_buckets() -> str:
    """textstats.ccnet_buckets mirror: the lm_scores query nested as
    a CTE, the identical md5 hash-sample membership, the identical
    interpolated tercile rank selection per language, and the same
    exact-double bucket comparisons."""
    from blackedge_ocr_spark.analysis.textstats import (
        CCNET_KEEP,
        CCNET_PCTS,
        CCNET_SALT,
    )

    p1, p2 = (repr(p) for p in CCNET_PCTS)
    return f"""
WITH lm AS ({sql_lm_scores()}),
s AS (SELECT lm.doc_id, d.lang, lm.n_tokens, lm.lm_score
      FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
sm AS (SELECT lang, lm_score AS v, doc_id FROM s
       WHERE substr(md5('{CCNET_SALT}' || doc_id), 1, 1)
             < '{CCNET_KEEP:x}'),
rk AS (SELECT lang, v,
              row_number() OVER (PARTITION BY lang ORDER BY v, doc_id)
                - 1 AS r,
              count(*) OVER (PARTITION BY lang) AS n
       FROM sm),
th AS (SELECT lang,
         max(CASE WHEN r = floor({p1} * (n - 1)::double) THEN v END)
           AS lo33,
         max(CASE WHEN r = ceil({p1} * (n - 1)::double) THEN v END)
           AS hi33,
         max({p1} * (n - 1)::double
             - floor({p1} * (n - 1)::double)) AS fr33,
         max(CASE WHEN r = floor({p2} * (n - 1)::double) THEN v END)
           AS lo66,
         max(CASE WHEN r = ceil({p2} * (n - 1)::double) THEN v END)
           AS hi66,
         max({p2} * (n - 1)::double
             - floor({p2} * (n - 1)::double)) AS fr66
       FROM rk GROUP BY lang),
t AS (SELECT lang, lo33 + fr33 * (hi33 - lo33) AS t33,
             lo66 + fr66 * (hi66 - lo66) AS t66
      FROM th)
SELECT s.doc_id, s.lang, s.n_tokens, s.lm_score,
  CASE WHEN t.t66 IS NULL THEN 'unsampled'
       WHEN s.lm_score >= t.t66 THEN 'head'
       WHEN s.lm_score >= t.t33 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM s LEFT JOIN t ON s.lang = t.lang"""


def sentenced_text_sql(doc: str, text: str) -> str:
    """queries._sentenced_text mirror: eight 24-char chunks as
    period-terminated sentences + the doc_id%3-keyed shared trio on
    even doc_ids."""
    base = ", ".join(
        f"trim(substr({text}, {1 + 24 * i}, 24)) || '.'" for i in range(8)
    )
    k = f"({doc} % 3)::varchar"
    trio = (
        f"'shared span one ' || {k} || '. shared span two ' || {k}"
        f" || '. shared span three ' || {k} || '.'"
    )
    return (
        f"(CASE WHEN {doc} % 2 = 0"
        f" THEN concat_ws(' ', {base}) || ' ' || {trio}"
        f" ELSE concat_ws(' ', {base}) END)"
    )


def c4_text_sql(doc: str, text: str) -> str:
    """queries._c4_text mirror: the four staged lines plus the
    doc_id-keyed rule-fail injections, appended in the same order."""
    c = [f"trim(substr({text}, {1 + 36 * i}, 36))" for i in range(6)]
    l0 = f"{c[0]} || '. ' || {c[1]} || '.'"
    body = f"{c[3]} || '. ' || {c[4]} || '. ' || {c[5]} || '.'"
    l3 = f"(CASE WHEN {doc} % 19 = 0 THEN {c[3]} ELSE {body} END)"
    out = f"concat_ws(chr(10), {l0}, {c[2]}, 'too short.', {l3})"
    inject = (
        (5, "enable javascript to view this."),
        (11, "lorem ipsum dolor sit amet."),
        (13, "function() { return 1; }"),
        (17, "this page mentions badword1 openly."),
    )
    for mod, line in inject:
        out = (
            f"({out} || CASE WHEN {doc} % {mod} = 0"
            f" THEN chr(10) || '{line}' ELSE '' END)"
        )
    return out


# shared sentence-splitting SQL fragment (scrub.sentence_array mirror)
def _sents_sql(text: str) -> str:
    from blackedge_ocr_spark.analysis.scrub import SENT_RE

    return (
        f"list_filter(list_transform(regexp_extract_all({text}, "
        f"{_sq(SENT_RE)}), x -> trim(x)), x -> x <> '')"
    )


def sql_c4_filters() -> str:
    """scrub.c4_filters mirror: identical line-keep lambda (terminal
    regex + min-words + javascript), sentence count over the KEPT
    text, page flags over the ORIGINAL text, same composed keep."""
    from blackedge_ocr_spark.analysis.scrub import (
        C4_BADWORD_RE,
        C4_MIN_LINE_WORDS,
        C4_MIN_SENTENCES,
        C4_TERMINAL_RE,
    )

    staged = c4_text_sql("doc_id", "text")
    keep_l = (
        f"l -> regexp_matches(l, {_sq(C4_TERMINAL_RE)})"
        f" AND len(list_filter(regexp_split_to_array(l, '\\s+'),"
        f" w -> w <> '')) >= {C4_MIN_LINE_WORDS}"
        f" AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
WITH t AS (SELECT doc_id, {staged} AS text FROM documents),
m AS (SELECT doc_id, text,
        str_split(text, chr(10)) AS lines,
        list_filter(list_transform(str_split(text, chr(10)),
                                   l -> trim(l)), {keep_l}) AS kept
      FROM t),
r AS (SELECT doc_id,
        len(lines)::bigint AS n_lines,
        len(kept)::bigint AS n_kept_lines,
        len({_sents_sql("array_to_string(kept, chr(10))")})::bigint
          AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{{') AS has_brace,
        regexp_matches(text, {_sq(C4_BADWORD_RE)}) AS has_badword,
        md5(array_to_string(kept, chr(10))) AS kept_md5
      FROM m)
SELECT doc_id, n_lines, n_kept_lines, n_sentences,
  has_lorem, has_brace, has_badword, kept_md5,
  (n_sentences >= {C4_MIN_SENTENCES} AND NOT has_lorem
   AND NOT has_brace AND NOT has_badword) AS c4_keep
FROM r"""


def sql_c4_span_dedup() -> str:
    """scrub.c4_span_dedup mirror: in-list span hashes, first-wins by
    (doc_id, pos) via row_number (== Spark's min-struct), overlapping
    three-sentence deletions, space-joined survivor md5."""
    staged = sentenced_text_sql("doc_id", "text")
    return f"""
WITH t AS (SELECT doc_id, {staged} AS text FROM documents),
s AS (SELECT doc_id, {_sents_sql("text")} AS sents FROM t),
se AS (SELECT doc_id, i - 1 AS pos, sents[i] AS sent
       FROM s, unnest(range(1, len(sents) + 1)) AS r(i)),
sp AS (SELECT doc_id, i - 1 AS pos,
         md5(sents[i] || chr(31) || sents[i + 1] || chr(31)
             || sents[i + 2]) AS h
       FROM s, unnest(range(1, greatest(len(sents) - 2, 0) + 1)) AS r(i)),
w AS (SELECT doc_id, pos,
        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM sp),
d AS (SELECT DISTINCT w.doc_id, w.pos + o.o AS pos
      FROM w, unnest([0, 1, 2]) AS o(o) WHERE rn > 1),
f AS (SELECT se.doc_id, se.pos, se.sent, (d.pos IS NOT NULL) AS del
      FROM se LEFT JOIN d ON se.doc_id = d.doc_id AND se.pos = d.pos)
SELECT s.doc_id,
  count(f.pos)::bigint AS n_sents,
  coalesce(sum((NOT f.del)::int), 0)::bigint AS n_kept,
  md5(coalesce(string_agg(CASE WHEN NOT f.del THEN f.sent END, ' '
                          ORDER BY f.pos), '')) AS kept_md5
FROM s LEFT JOIN f ON s.doc_id = f.doc_id
GROUP BY s.doc_id"""


def unicode_text_sql(doc: str, text: str) -> str:
    """queries._unicode_text mirror — the suffix SQL is GENERATED
    from the shared UNICODE_STAGE literals (non-ASCII/control chars
    become chr() calls), so staging cannot drift between engines."""
    from blackedge_ocr_spark.queries import UNICODE_STAGE

    def lit(s: str) -> str:
        parts, buf = [], ""
        for ch in s:
            if 32 <= ord(ch) < 127:
                buf += ch
            else:
                if buf:
                    parts.append(_sq(buf))
                    buf = ""
                parts.append(f"chr({ord(ch)})")
        if buf:
            parts.append(_sq(buf))
        return " || ".join(parts)

    out = f"trim(substr({text}, 1, 40))"
    for mod, suffix in UNICODE_STAGE:
        out = (
            f"({out} || CASE WHEN {doc} % {mod} = 0"
            f" THEN {lit(suffix)} ELSE '' END)"
        )
    return out


def sql_unicode_scrub() -> str:
    """scrub.unicode_scrub mirror: identical strip classes (RE2
    \\x{{...}} == Java), utf8proc NFC == unicodedata NFC (pinned by
    tests/test_unicode.py), same changed/md5/length contract."""
    from blackedge_ocr_spark.analysis.scrub import (
        CTRL_RE,
        REPL_RE,
        UNICODE_STRIP_RE,
        ZW_RE,
    )

    staged = unicode_text_sql("doc_id", "text")
    return f"""
WITH t AS (SELECT doc_id, {staged} AS text FROM documents),
c AS (SELECT doc_id, text,
        nfc_normalize(regexp_replace(text, {_sq(UNICODE_STRIP_RE)},
                                     '', 'g')) AS cleaned
      FROM t)
SELECT doc_id,
  (length(text) - length(regexp_replace(text, {_sq(CTRL_RE)}, '', 'g')))
    ::bigint AS n_ctrl,
  (length(text) - length(regexp_replace(text, {_sq(ZW_RE)}, '', 'g')))
    ::bigint AS n_zw,
  (length(text) - length(regexp_replace(text, {_sq(REPL_RE)}, '', 'g')))
    ::bigint AS n_repl,
  (cleaned <> text) AS changed,
  length(cleaned)::bigint AS n_chars,
  md5(cleaned) AS clean_md5
FROM c"""


def corrupt_spans_cte() -> str:
    """queries._corrupt_spans mirror over the sp span rows: same four
    doc_id-modulus corruptions, conditions on ORIGINAL values."""
    return """
spx AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 23 = 0 AND "offset" = 1
          THEN 0 ELSE "offset" END)::int AS off2,
    CASE WHEN doc_id % 29 = 0 AND "offset" = 2
         THEN 'widget' ELSE kind END AS kind2,
    text,
    CASE WHEN doc_id % 31 = 0 AND kind = 'image' THEN ''
         WHEN doc_id % 37 = 0 AND "offset" = 0 AND kind = 'text'
         THEN 'm-bogus'
         ELSE media_ref END AS ref2
  FROM sp
)"""


def sql_span_integrity() -> str:
    """corpusops.span_integrity mirror: identical kind/ref predicates,
    duplicate-offset first-wins by content md5 (row_number ==
    in-array sorted adjacent-dedup), completeness via offset ==
    dense 0-based rank, same chr(31)/chr(30) digest framing."""
    from blackedge_ocr_spark.analysis.corpusops import TEXT_KINDS
    from blackedge_ocr_spark.constants import MEDIA_KINDS

    media = ", ".join(_sq(k) for k in MEDIA_KINDS)
    allowed = ", ".join(_sq(k) for k in TEXT_KINDS + MEDIA_KINDS)
    ident = "kind2 || chr(31) || text || chr(31) || ref2"
    return f"""
WITH {spansify_cte()}, {corrupt_spans_cte()},
v AS (
  SELECT doc_id, off2, kind2, text, ref2,
    kind2 IN ({allowed}) AS kok,
    CASE WHEN kind2 IN ({media}) THEN ref2 <> ''
         ELSE ref2 = '' END AS rok
  FROM spx
),
base AS (
  SELECT doc_id,
    count(*)::bigint AS n_spans,
    sum((NOT kok)::int)::bigint AS n_bad_kind,
    sum((kok AND NOT rok)::int)::bigint AS n_ref_bad,
    sum((kok AND rok)::int)::bigint AS n_valid
  FROM v GROUP BY doc_id
),
sv AS (
  SELECT doc_id, off2, kind2, text, ref2, md5({ident}) AS key
  FROM v WHERE kok AND rok
),
kp AS (
  SELECT * FROM (
    SELECT sv.*, row_number() OVER (
      PARTITION BY doc_id, off2 ORDER BY key) AS rn
    FROM sv) WHERE rn = 1
),
ord_k AS (
  SELECT doc_id, off2, kind2, text, ref2,
    row_number() OVER (PARTITION BY doc_id ORDER BY off2) - 1 AS rk
  FROM kp
),
repair AS (
  SELECT doc_id,
    count(*)::bigint AS n_kept,
    bool_and(off2 = rk) AS complete,
    md5(string_agg({ident}, chr(30) ORDER BY off2)) AS repaired_md5
  FROM ord_k GROUP BY doc_id
)
SELECT b.doc_id, b.n_spans, b.n_bad_kind, b.n_ref_bad,
  (b.n_valid - coalesce(r.n_kept, 0))::bigint AS n_dup,
  coalesce(r.n_kept, 0)::bigint AS n_kept,
  coalesce(r.complete, TRUE) AS complete,
  (b.n_bad_kind = 0 AND b.n_ref_bad = 0
   AND b.n_valid = coalesce(r.n_kept, 0)
   AND coalesce(r.complete, TRUE)) AS ok,
  coalesce(r.repaired_md5, md5('')) AS repaired_md5
FROM base b LEFT JOIN repair r ON b.doc_id = r.doc_id"""


def rep_text_sql() -> str:
    """queries._rep_text mirror: same append order, same literals
    (imported — cannot drift), conditions on doc_id only."""
    from blackedge_ocr_spark.queries import (
        REP_2GRAM_REPS,
        REP_2GRAM_UNIT,
        REP_LINE_INJ,
        REP_PARA_PREFIX,
        REP_PARA_SUBSTR,
        REP_PHRASE_REPS,
        REP_PHRASE_UNIT,
    )

    line_blk = "chr(10) || " + " || chr(10) || ".join(
        [_sq(REP_LINE_INJ)] * 3
    )
    para = (
        f"{_sq(REP_PARA_PREFIX)} || "
        f"substr(coalesce(text, ''), 1, {REP_PARA_SUBSTR})"
    )
    return f"""
base AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 7 = 0 THEN {line_blk} ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN chr(10) || chr(10) || {para} || chr(10) || chr(10) || {para}
         ELSE '' END
    || CASE WHEN doc_id % 13 = 0
         THEN ' ' || repeat({_sq(REP_2GRAM_UNIT)}, {REP_2GRAM_REPS})
         ELSE '' END
    || CASE WHEN doc_id % 17 = 0
         THEN ' ' || repeat({_sq(REP_PHRASE_UNIT)}, {REP_PHRASE_REPS})
         ELSE '' END
    AS text
  FROM documents)"""


def sql_gopher_repetition() -> str:
    """textstats.gopher_repetition mirror: same unit semantics
    (trimmed \\n / \\n\\n units, empties dropped, duplicates =
    occurrences after the first), the same (count, gram-chars)
    packed argmax for top n-grams, and the identical interval-union
    fold for dup-n-gram char coverage; flags compare exact doubles,
    micro-unit rounding on output only."""
    from blackedge_ocr_spark.analysis.textstats import (
        REP_LEN_PACK,
        REP_MAX_DUP_LINE_CHAR_FRAC,
        REP_MAX_DUP_LINE_FRAC,
        REP_MAX_DUP_NGRAM_FRAC,
        REP_MAX_DUP_PARA_CHAR_FRAC,
        REP_MAX_DUP_PARA_FRAC,
        REP_MAX_TOP_NGRAM_FRAC,
    )

    pk = REP_LEN_PACK
    top_ns = sorted(REP_MAX_TOP_NGRAM_FRAC)
    cov_ns = sorted(REP_MAX_DUP_NGRAM_FRAC)
    all_ns = ", ".join(str(n) for n in top_ns + cov_ns)
    tg_piv = ",\n    ".join(
        f"max(CASE WHEN n = {n} THEN chars END) AS tc{n}" for n in top_ns
    )
    cv_piv = ",\n    ".join(
        f"max(CASE WHEN n = {n} THEN cvr END) AS cv{n}" for n in cov_ns
    )
    r6 = lambda x: f"floor(({x}) * 1e6 + 0.5) / 1e6"  # noqa: E731
    fr = lambda num, den: (  # noqa: E731
        f"CASE WHEN {den} > 0 THEN ({num})::double / ({den})::double "
        "ELSE 0.0 END"
    )
    fracs = [
        ("dup_line_frac", fr("coalesce(l.d, 0)", "coalesce(l.m, 0)"),
         REP_MAX_DUP_LINE_FRAC),
        ("dup_para_frac", fr("coalesce(q.d, 0)", "coalesce(q.m, 0)"),
         REP_MAX_DUP_PARA_FRAC),
        ("dup_line_char_frac", fr("coalesce(l.dc, 0)", "coalesce(l.tc, 0)"),
         REP_MAX_DUP_LINE_CHAR_FRAC),
        ("dup_para_char_frac", fr("coalesce(q.dc, 0)", "coalesce(q.tc, 0)"),
         REP_MAX_DUP_PARA_CHAR_FRAC),
    ]
    for n in top_ns:
        fracs.append((
            f"top_{n}gram_frac",
            fr(f"coalesce(tp.tc{n}, 0)", "tt.t"),
            REP_MAX_TOP_NGRAM_FRAC[n],
        ))
    for n in cov_ns:
        fracs.append((
            f"dup_{n}gram_frac",
            fr(f"coalesce(cp.cv{n}, 0)", "tt.t"),
            REP_MAX_DUP_NGRAM_FRAC[n],
        ))
    frac_sel = ",\n  ".join(f"{r6(v)} AS {name}" for name, v, _ in fracs)
    flag_sel = ",\n  ".join(
        f"(({v}) <= {thr}) AS r_{name[:-5]}" for name, v, thr in fracs
    )
    rep_pass = " AND ".join(f"(({v}) <= {thr})" for _, v, thr in fracs)
    return f"""
WITH {rep_text_sql()},
t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')
      AS words,
    list_filter(list_transform(string_split(text, chr(10)),
                               u -> trim(u)), u -> u <> '') AS lines,
    list_filter(list_transform(string_split(text, chr(10) || chr(10)),
                               u -> trim(u)), u -> u <> '') AS paras
  FROM base),
tt AS (
  SELECT doc_id, len(words)::bigint AS nw,
    (coalesce(list_sum(list_transform(words, w -> length(w))), 0)
     + greatest(len(words) - 1, 0))::bigint AS t
  FROM t),
lu AS (SELECT doc_id, unnest(lines) AS u FROM t),
lg AS (SELECT doc_id, u, count(*) AS c, length(u) AS lc
       FROM lu GROUP BY doc_id, u),
lst AS (SELECT doc_id, sum(c)::bigint AS m, sum(c - 1)::bigint AS d,
               sum((c - 1) * lc)::bigint AS dc, sum(c * lc)::bigint AS tc
        FROM lg GROUP BY doc_id),
pu AS (SELECT doc_id, unnest(paras) AS u FROM t),
pg AS (SELECT doc_id, u, count(*) AS c, length(u) AS lc
       FROM pu GROUP BY doc_id, u),
pst AS (SELECT doc_id, sum(c)::bigint AS m, sum(c - 1)::bigint AS d,
               sum((c - 1) * lc)::bigint AS dc, sum(c * lc)::bigint AS tc
        FROM pg GROUP BY doc_id),
nn AS (SELECT unnest([{all_ns}]) AS n),
gl AS (
  SELECT doc_id, n,
    CASE WHEN len(words) >= n
         THEN list_transform(range(0, len(words) - n + 1),
                p -> struct_pack(p := p,
                       g := array_to_string(words[p + 1 : p + n], ' ')))
         ELSE [] END AS occ
  FROM t CROSS JOIN nn),
og AS (SELECT doc_id, n, unnest(occ) AS o FROM gl),
oc AS (SELECT doc_id, n, o.p AS p, o.g AS g FROM og),
cnt AS (SELECT doc_id, n, g, count(*) AS c, length(g) AS lg
        FROM oc GROUP BY doc_id, n, g),
tg AS (SELECT doc_id, n,
         max(c * {pk} + least(lg, {pk - 1})) AS pkv
       FROM cnt WHERE n <= {max(top_ns)} GROUP BY doc_id, n),
tp AS (SELECT doc_id, {tg_piv}
       FROM (SELECT doc_id, n,
                    ((pkv // {pk}) * (pkv % {pk}))::bigint AS chars
             FROM tg)
       GROUP BY doc_id),
dp AS (SELECT oc.doc_id, oc.n, oc.p
       FROM oc JOIN cnt USING (doc_id, n, g)
       WHERE cnt.c >= 2 AND oc.n >= {min(cov_ns)}),
pdl AS (SELECT doc_id, n, list_sort(list(p)) AS ps
        FROM dp GROUP BY doc_id, n),
iv AS (SELECT doc_id, n,
         list_reduce(list_transform(ps, p -> [{{'s': p, 'e': p + n}}]),
           (acc, x) -> CASE
             WHEN len(acc) > 0 AND x[1].s <= acc[-1].e
             THEN list_concat(acc[1:len(acc) - 1],
                              [{{'s': acc[-1].s,
                                 'e': greatest(acc[-1].e, x[1].e)}}])
             ELSE list_concat(acc, x) END) AS ivs
       FROM pdl),
cov AS (SELECT iv.doc_id, iv.n,
          list_sum(list_transform(ivs, v ->
            list_sum(list_transform(t.words[v.s + 1 : v.e],
                                    w -> length(w)))
            + (v.e - v.s - 1)))::bigint AS cvr
        FROM iv JOIN t USING (doc_id)),
cp AS (SELECT doc_id, {cv_piv} FROM cov GROUP BY doc_id)
SELECT tt.doc_id, tt.nw AS n_words,
  coalesce(l.m, 0)::bigint AS n_lines,
  coalesce(q.m, 0)::bigint AS n_paras,
  {frac_sel},
  {flag_sel},
  ({rep_pass}) AS rep_pass
FROM tt
LEFT JOIN lst l ON tt.doc_id = l.doc_id
LEFT JOIN pst q ON tt.doc_id = q.doc_id
LEFT JOIN tp ON tt.doc_id = tp.doc_id
LEFT JOIN cp ON tt.doc_id = cp.doc_id"""


def sql_source_drift() -> str:
    """corpusops.source_drift mirror: identical (source, term) count
    table, the same p*ln(p/q) op order rounded once to nano-units,
    exact bigint sums, micro-unit output rounding."""
    from blackedge_ocr_spark.analysis.corpusops import KL_UNIT

    toks = tokens_sql("text")
    return f"""
WITH ex AS (
  SELECT source, unnest({toks}) AS term FROM documents),
st AS (SELECT source, term, count(*) AS n FROM ex GROUP BY source, term),
q AS (SELECT term, sum(n) AS nq FROM st GROUP BY term),
stot AS (SELECT source, sum(n) AS ns FROM st GROUP BY source),
tot AS (SELECT sum(n) AS nt FROM st),
j AS (
  SELECT st.source, st.n, stot.ns, q.nq, tot.nt,
    floor((st.n::double / stot.ns::double)
          * ln((st.n::double / stot.ns::double)
               / (q.nq::double / tot.nt::double))
          * {KL_UNIT} + 0.5)::bigint AS contrib
  FROM st
  JOIN q USING (term)
  JOIN stot USING (source)
  CROSS JOIN tot)
SELECT source,
  max(ns)::bigint AS n_tokens,
  count(*)::bigint AS n_terms,
  floor((sum(contrib)::double / {KL_UNIT}.0) * 1e6 + 0.5) / 1e6
    AS kl_nats
FROM j GROUP BY source"""


def sql_lm2_scores() -> str:
    """textstats.lm2_scores mirror: same top-V boundary, identical
    interpolation arithmetic (exact-double weights), per-model-row
    micro-unit ln rounding, exact long sums."""
    from blackedge_ocr_spark.analysis.textstats import (
        LM2_L0,
        LM2_L1,
        LM_VOCAB_K,
    )

    toks = tokens_sql("text")
    t = "(SELECT tot FROM t)"
    return f"""
WITH e AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
c AS (SELECT term, count(*)::bigint AS n FROM e GROUP BY term),
t AS (SELECT sum(n)::double AS tot FROM c),
v AS (SELECT term, n AS nv,
        floor(ln(n::double / {t}) * 1000000 + 0.5)::bigint AS li_uni,
        floor(ln({LM2_L0} * (n::double / {t})) * 1000000 + 0.5)::bigint
          AS li_back
      FROM c ORDER BY n DESC, term ASC LIMIT {LM_VOCAB_K}),
tk AS (SELECT doc_id, {toks} AS toks FROM documents),
pr AS (SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                THEN list_transform(range(2, len(toks) + 1),
                       i -> struct_pack(a := toks[i - 1], b := toks[i]))
                ELSE [] END) AS p
       FROM tk),
bg AS (SELECT p.a AS a, p.b AS b, va.nv AS na, vb.nv AS nb,
              count(*)::bigint AS c
       FROM pr
       JOIN v va ON p.a = va.term
       JOIN v vb ON p.b = vb.term
       GROUP BY p.a, p.b, va.nv, vb.nv),
bm AS (SELECT a, b,
         floor(ln({LM2_L1} * (c::double / na::double)
                  + {LM2_L0} * (nb::double / {t}))
               * 1000000 + 0.5)::bigint AS li_pair
       FROM bg),
st AS (SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 1
                THEN list_transform(range(1, len(toks) + 1),
                       i -> struct_pack(
                         prev := CASE WHEN i > 1 THEN toks[i - 1] END,
                         cur := toks[i]))
                ELSE [] END) AS s
       FROM tk),
sx AS (SELECT doc_id, s.prev AS prev, s.cur AS cur FROM st),
sc AS (SELECT sx.doc_id,
         CASE WHEN sx.prev IS NULL
              THEN coalesce(v.li_uni,
                     floor(ln(1.0 / {t}) * 1000000 + 0.5)::bigint)
              ELSE coalesce(bm.li_pair, v.li_back,
                     floor(ln({LM2_L0} * (1.0 / {t}))
                           * 1000000 + 0.5)::bigint)
         END AS li,
         (bm.li_pair IS NOT NULL)::int AS hit
       FROM sx
       LEFT JOIN v ON sx.cur = v.term
       LEFT JOIN bm ON sx.prev = bm.a AND sx.cur = bm.b),
g AS (SELECT doc_id, count(*)::bigint AS n_toks,
             sum(hit)::bigint AS hits, sum(li)::bigint AS s
      FROM sc GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(g.n_toks, 0)::bigint AS n_tokens,
  coalesce(g.hits, 0)::bigint AS n_pair_hits,
  CASE WHEN g.n_toks > 0
       THEN floor(g.s::double / (g.n_toks::double * 1000000.0)
                  * 1000000 + 0.5) / 1000000
       ELSE 0.0 END AS lm2_score
FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id"""
