"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure built-in projections (whole-stage codegen, zero shuffle,
embarrassingly parallel at any scale); every constant is shared with
the DuckDB oracle generator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blackedge_ocr_spark.functions.text import normalize_text, tokens

# Stopword profiles for the n-gram/stopword language heuristic.
# Priority order breaks score ties: the FIRST profile whose score is
# positive and >= every other wins (see predict_lang) — en beats de
# on an exact tie.
LANG_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "and", "of", "to", "is", "in")),
    ("de", ("der", "die", "das", "und", "ist", "ein")),
    ("es", ("el", "la", "los", "y", "es", "un")),
    ("fr", ("le", "la", "les", "et", "est", "un")),
)
UNKNOWN_LANG = "und"

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

FP_WINDOW = 16  # fingerprint shingle width (chars)
FP_STRIDE = 8


def _stop_count(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(col) -> list[tuple[str, Column]]:
    toks = tokens(col)
    return [(lang, _stop_count(toks, ws)) for lang, ws in LANG_PROFILES]


def predict_lang(col) -> Column:
    """argmax of stopword hits, profile priority order breaking ties
    (a when-chain: the first profile whose score is positive and >=
    every other wins); all-zero → 'und'."""
    scores = lang_scores(col)
    out = None
    for i, (lang, s) in enumerate(scores):
        cond = s > 0
        for j, (_, o) in enumerate(scores):
            if j != i:
                cond = cond & (s >= o)
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.otherwise(F.lit(UNKNOWN_LANG))


def language_id(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", predict_lang(F.col("text")).alias("predicted_lang")
    )


def ws_tokens_col(col) -> Column:
    """Whitespace-token count over the normalized text with the
    empty-string guard (split('') is [''], size 1 — an empty doc must
    count 0). THE one definition, shared by token_counts,
    corpus_token_stats and doc_features so the guard cannot drift."""
    norm = normalize_text(col)
    return (
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ", -1)))
        .cast("long")
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens vs BPE-ish pre-tokens per doc."""
    norm = normalize_text(F.col("text"))
    bpe = F.size(F.regexp_extract_all(norm, F.lit(BPE_PATTERN), 0)).cast("long")
    return docs.select(
        "doc_id",
        ws_tokens_col(F.col("text")).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )


def _r6(c: Column) -> Column:
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): Spark rounds the
    # exact decimal expansion of the double (HALF_UP on BigDecimal)
    # while DuckDB rounds after an inexact multiply, so a value near a
    # .5 boundary (seen at sf0.1) flips between the two. Spelling the
    # multiply-floor out makes both engines run the SAME IEEE ops on
    # the same double — bit-identical by construction (values are
    # non-negative here).
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def seeded_hex(seed: str, key, nchars: int) -> Column:
    """First ``nchars`` hex digits of md5("seed:key") — the shared
    per-doc uniform draw every deterministic sampling operator uses;
    distinct seeds are independent streams. Engine-portable: DuckDB's
    md5() emits the identical lowercase hex."""
    return F.substring(
        F.md5(F.concat(F.lit(seed + ":"), key.cast("string"))), 1, nchars
    )


def hex_threshold(frac, nchars: int) -> Column:
    """floor(frac * 16^nchars) as a zero-padded ``nchars``-wide
    lowercase hex literal — fixed-width string compare against
    ``seeded_hex`` output keeps the whole keep-decision in portable
    integer/hex ops (the float product is exact-rounded IEEE, bit-
    identical across engines).

    frac >= 1 saturates to the sentinel "g" (> every hex digit, so
    ``seeded_hex(...) < threshold`` is always true — keep ALL rows).
    Without the guard, lpad TRUNCATED 16^nchars's nchars+1 hex digits
    to a ~6% threshold — a catastrophic silent keep-rate for any
    caller that didn't re-derive quality_sample's ad-hoc q >= 1
    short-circuit. (Current callers all pre-guard; the helper now
    owns the invariant.)"""
    i = F.floor(frac * F.lit(float(16**nchars))).cast("long")
    return F.when(i >= 16**nchars, F.lit("g")).otherwise(
        F.lpad(F.lower(F.hex(i)), nchars, "0")
    )


def kept_rollup(staged: DataFrame, key: str) -> DataFrame:
    """(key, n_docs, n_kept, kept_frac r6) manifest — the shared
    rollup tail of the sampling operators. ``staged``: one row per
    doc with ``key`` and a boolean ``kept``. One combinable agg."""
    return staged.groupBy(key).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    ).select(
        key,
        "n_docs",
        "n_kept",
        _r6(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
        ).alias("kept_frac"),
    )


def _quality_exprs(col) -> tuple[Column, Column, Column, Column]:
    """(n_words, mean_len, stop_ratio, score) as raw expressions over
    one text column — shared by the per-doc report and the inline
    curation predicate (which therefore needs no join)."""
    toks = tokens(col)
    n_words = F.size(toks)
    stop = _stop_count(toks, LANG_PROFILES[0][1])
    mean_len = F.when(
        n_words > 0,
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_words > 0, stop.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    score = (
        0.5 * F.least(n_words.cast("double") / 50.0, F.lit(1.0))
        + 0.3 * stop_ratio
        + 0.2 * F.least(mean_len / 8.0, F.lit(1.0))
    )
    return n_words, mean_len, stop_ratio, score


def quality_col(col) -> Column:
    """The r6-rounded composite quality score as a single inline
    column expression — lets downstream filters stay on the scan
    (zero shuffle) instead of joining quality_scores() back."""
    return _r6(_quality_exprs(col)[3])


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / word-shape / stopword quality score in [0, 1]:
    0.5·min(words/50, 1) + 0.3·stopword_ratio + 0.2·min(mean_len/8, 1)."""
    n_words, mean_len, stop_ratio, score = _quality_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        _r6(mean_len).alias("mean_word_len"),
        _r6(stop_ratio).alias("stopword_ratio"),
        _r6(score).alias("quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min md5 over char
    FP_WINDOW-grams at FP_STRIDE over the normalized text (winnowing
    with a single global window — order-free, engine-portable)."""
    norm = normalize_text(F.col("text"))
    n_win = F.greatest(
        F.ceil((F.length(norm) - F.lit(FP_WINDOW)) / F.lit(FP_STRIDE)).cast("int")
        + 1,
        F.lit(1),
    )
    hashes = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.md5(F.substring(norm, i * FP_STRIDE + 1, FP_WINDOW)),
    )
    return docs.select("doc_id", F.array_min(hashes).alias("fingerprint"))


def term_doc_freq(docs: DataFrame) -> DataFrame:
    """Corpus-level document frequency / inverse document frequency
    per key term (length >= 3, the same distinct-term definition as
    key_terms): (term, df, idf = r6(ln(n_docs / df))).

    The table behind TF-IDF quality scoring and stopword discovery at
    corpus scale. Shape: explode distinct terms per doc → ONE
    map-side-combinable hash agg on term (the exchange carries
    O(distinct (doc, term)) partial counts, never raw tokens); the
    corpus row count rides in as a broadcast scalar (1-row crossJoin,
    no driver collect). Skew note: a term's partial counts combine
    map-side, so even a term in every document lands on one reducer
    as ~n_partitions rows, not n_docs."""
    from blackedge_ocr_spark.functions.text import key_terms

    n = docs.agg(F.count("*").alias("n_docs"))
    df_tab = (
        docs.select(F.explode(key_terms(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    return df_tab.crossJoin(F.broadcast(n)).select(
        "term",
        "df",
        _r6(
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
        ).alias("idf"),
    )


# percentile levels for corpus_token_stats, shared with the oracle
PCTS: tuple[float, ...] = (0.5, 0.9, 0.99)


def rank_percentiles(vals: DataFrame) -> DataFrame:
    """EXACT percentile_cont-style p50/p90/p99 over (source, v,
    doc_id) rows via distributed rank selection — a per-source sorted
    window, never a driver collect or single-node sort. Interpolation
    (idx = p·(n-1); v[floor] + frac·(v[ceil] - v[floor])) is spelled
    out identically in the DuckDB oracle. ONE exchange on source
    serves both the rank window and the final agg. Shared by
    corpus_token_stats (full corpus) and sketches.sampled_quantiles
    (hash-sample estimate), so the percentile definition cannot drift
    between the exact and sketch paths."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("v", "doc_id")
    ranked = vals.select(
        "source",
        "v",
        (F.row_number().over(w) - 1).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    aggs = [F.max("n").alias("n_docs")]
    for p in PCTS:
        idx = F.lit(p) * (F.col("n") - 1).cast("double")
        lo, hi = F.floor(idx), F.ceil(idx)
        aggs.append(
            F.max(F.when(F.col("r") == lo, F.col("v"))).alias(
                f"_lo{int(p * 100)}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("r") == hi, F.col("v"))).alias(
                f"_hi{int(p * 100)}"
            )
        )
        aggs.append(F.max(idx - lo.cast("double")).alias(f"_fr{int(p * 100)}"))
    agged = ranked.groupBy("source").agg(*aggs)
    cols = [F.col("source"), F.col("n_docs").cast("long").alias("n_docs")]
    for p in PCTS:
        t = int(p * 100)
        v = F.col(f"_lo{t}").cast("double") + F.col(f"_fr{t}") * (
            F.col(f"_hi{t}").cast("double") - F.col(f"_lo{t}").cast("double")
        )
        cols.append(_r6(v).alias(f"p{t}_tokens"))
    return agged.select(*cols)


def corpus_token_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus shape report: doc count plus EXACT
    p50/p90/p99 of whitespace token counts (rank_percentiles). At
    100 TB per-source value sets, swap the window for a two-pass
    bucketed rank selection — the output contract is unchanged;
    sketches.sampled_quantiles is the cheap estimate with an error
    audit against this exact path."""
    # ws_tokens is a pure projection (the shared ws_tokens_col
    # expression token_counts emits) — compute it inline on the scan
    # rather than joining token_counts(docs) back on doc_id, which
    # would shuffle the full corpus twice for zero information.
    ws = ws_tokens_col(F.col("text"))
    return rank_percentiles(docs.select("source", ws.alias("v"), "doc_id"))


TOP_K_TERMS = 100  # vocabulary head size, shared with the oracle


def top_terms(docs: DataFrame) -> DataFrame:
    """Exact corpus top-K terms by raw occurrence count — the
    vocabulary-head / stopword-list builder. Total order (n DESC,
    term ASC) makes the K-th boundary deterministic across engines.

    Shape at scale: explode tokens → ONE combinable hash agg on term
    → global top-K. Spark plans the limit as TakeOrderedAndProject:
    every partition keeps only its local top-K heap and the driver
    merges P*K rows — O(K) memory, no global sort, no second
    shuffle. The agg's exchange carries partial counts (map-side
    combine absorbs hot terms), never raw tokens."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(TOP_K_TERMS)
    )


QS_SEED = "qs"  # quality-sampling hash seed (independent stream)


def quality_sample(docs: DataFrame) -> DataFrame:
    """Quality-weighted deterministic downsampling: each doc is kept
    with probability equal to its (r6-rounded) quality score — the
    soft curation a training mix applies instead of a hard threshold,
    so mid-quality text is represented proportionally rather than
    cliff-dropped. Keep decision = seeded 24-bit hash prefix compared
    against floor(q * 2^24) as fixed-width hex; q >= 1 short-circuits
    to keep (2^24 would be 7 hex digits and lpad would truncate).

    Zero shuffle before the final per-source agg: quality is the
    inline expression (quality_col), the hash is a pure projection,
    and both sides of the threshold are engine-portable integer/hex
    ops (the r6 quality itself is proven bit-identical by the
    quality_scores contract row)."""
    q6 = quality_col(F.col("text"))
    h = seeded_hex(QS_SEED, F.col("doc_id"), 6)
    thr = hex_threshold(q6, 6)
    kept = F.when(q6 >= 1.0, F.lit(True)).otherwise(h < thr)
    return kept_rollup(docs.select("source", kept.alias("kept")), "source")


BPE_TOP_K = 100  # reported head of the pair-frequency table


def bpe_pairs(docs: DataFrame) -> DataFrame:
    """First BPE merge step of tokenizer training: corpus-wide
    frequency of ADJACENT CHARACTER PAIRS inside word tokens,
    weighted by word frequency — the statistic the first iteration
    of byte-pair encoding (Sennrich et al. 2016, public algorithm)
    maximizes. Total order (n DESC, pair ASC) pins the K-th boundary.

    Shape at scale — the key move is that pair generation runs on
    the DISTINCT-WORD table, never the raw token stream:
    explode tokens -> groupBy(word).count() is ONE combinable hash
    agg (map-side combine absorbs the Zipf head; the shuffle carries
    distinct words + partial counts, a vanishing fraction of the
    corpus), then each distinct word emits its len-1 adjacent pairs
    weighted by freq -> second combinable agg on pair (alphabet^2
    keys) -> exact global top-K via TakeOrderedAndProject (per-
    partition heaps, O(K) driver merge — no global sort).

    sequence() is guarded for 1-char words: sequence(1, 0) is the
    DESCENDING [1, 0] in Spark, not an empty array, and would emit
    two bogus pairs per single-letter word.
    """
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    idx = F.when(
        F.length("word") > 1,
        F.sequence(F.lit(1), F.length("word") - 1),
    ).otherwise(F.array().cast("array<int>"))
    pair_list = F.transform(
        idx, lambda i: F.col("word").substr(i, F.lit(2))
    )
    return (
        words.select(F.explode(pair_list).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP_K)
    )


def doc_features(docs: DataFrame) -> DataFrame:
    """One-scan curation feature table: language, composite quality,
    token counts and PII totals as a SINGLE fused projection — the
    pass a production curation pipeline runs once per corpus instead
    of five separate jobs re-reading 100 TB each. Every constituent
    expression is the same Column used by its standalone operator
    (predict_lang / quality_col / token_counts / scrub.pii_chain), so
    the features are individually bit-proven by those contract rows;
    fusing them is free — Catalyst collapses the whole row into one
    codegen stage over a (doc_id, text)-pruned scan. Zero shuffle.
    """
    from blackedge_ocr_spark.analysis.scrub import _sum_counts, pii_chain

    norm = normalize_text(F.col("text"))
    ws = ws_tokens_col(F.col("text"))
    bpe = F.size(F.regexp_extract_all(norm, F.lit(BPE_PATTERN), 0)).cast(
        "long"
    )
    counts, _ = pii_chain(F.col("text"))
    return docs.select(
        "doc_id",
        predict_lang(F.col("text")).alias("lang"),
        quality_col(F.col("text")).alias("quality"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        _sum_counts(counts).cast("long").alias("n_pii"),
    )


def vocab_coverage(docs: DataFrame, k: int = TOP_K_TERMS) -> DataFrame:
    """Coverage of the corpus token stream by the exact top-``k``
    vocabulary — the OOV-rate statistic a tokenizer builder checks
    before freezing a vocab (single row: vocab_k, total_tokens,
    in_vocab_tokens, r6 coverage).

    Shape at scale: ONE combinable term agg over the exploded stream
    (the same shuffle top_terms pays — the term-count table is
    persisted so vocab selection and coverage both read it without a
    second corpus pass), then the K-row vocabulary broadcasts back
    for a LEFT SEMI over the O(vocabulary) count table. The corpus is
    scanned once; everything after the term agg is
    vocabulary-sized."""
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        # one row per DISTINCT corpus term (see lm_scores' twin note);
        # read by both the vocab head and the coverage sum below
        .persist()
    )
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("term"))
        .limit(k)
        .select("term")
    )
    total = counts.agg(F.sum("n").alias("total_tokens"))
    in_vocab = counts.join(F.broadcast(vocab), "term", "left_semi").agg(
        F.sum("n").alias("in_vocab_tokens")
    )
    return total.crossJoin(in_vocab).select(
        F.lit(k).alias("vocab_k"),
        "total_tokens",
        "in_vocab_tokens",
        _r6(
            F.col("in_vocab_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )


LM_VOCAB_K = 512  # top-V unigram-LM vocabulary size


def lm_scores(
    docs: DataFrame, v: int = LM_VOCAB_K, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Unigram-LM mean log-probability per document — the
    perplexity-proxy quality signal (CCNet-style LM filtering, public
    method) with the corpus's own top-``v`` unigram distribution as
    the model; OOV tokens get the 1/total floor probability.

    Exact arithmetic: each term's log-prob is micro-unit-rounded ONCE
    on the O(v) vocabulary table (floor(ln(p)*1e6+0.5) as long — the
    per-term ln discipline term_doc_freq proved engine-identical);
    per-doc sums are exact long adds, order-free under any
    partitioning; one division at the end. A float mean would drift
    with summation order and break cross-engine parity.

    Shape at scale: two corpus passes, exactly like a real LM filter
    (pass 1 trains the model: one combinable term agg; pass 2 scores:
    explode + LEFT join against the BROADCAST v-row vocabulary — the
    corpus never shuffles on term — then a combinable doc agg).
    Zero-token docs survive via the final left join (score 0.0).
    """
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        # one row per DISTINCT corpus term — unbounded but orders of
        # magnitude below the token stream; evictable MEMORY_AND_DISK,
        # released by catalog.clearCache() in long-lived sessions
        # (dup_ngram_stats discipline). Feeds total + top-V below.
        .persist()
    )
    total = counts.agg(F.sum("n").alias("tot"))
    li_expr = F.floor(
        F.log(F.col("n").cast("double") / F.col("tot").cast("double"))
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("term"))
        .limit(v)
        .crossJoin(F.broadcast(total))
        .select("term", li_expr.alias("li"))
    )
    oov_li = F.floor(
        F.log(F.lit(1.0) / F.col("tot").cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")
    ex = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    scored = (
        ex.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.coalesce(F.col("li"), oov_li).alias("li"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"), F.sum("li").alias("s")
    )
    # _r6 over a negative mean: floor(x*1e6+0.5)/1e6 rounds half
    # toward +inf on both engines — identical ops, parity holds.
    mean = _r6(
        F.col("s").cast("double") / (F.col("n_toks").cast("double") * 1e6)
    )
    return (
        docs.select("doc_id", *carry)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_tokens"),
            F.when(F.col("n_toks") > 0, mean)
            .otherwise(F.lit(0.0))
            .alias("lm_score"),
            *carry,
        )
    )


# PMI co-occurrence: forward window size and output bounds.
PMI_WINDOW = 2
PMI_MIN_PAIR = 5
PMI_TOP_K = 100


def cooccur_pmi(
    docs: DataFrame,
    w: int = PMI_WINDOW,
    min_pair: int = PMI_MIN_PAIR,
    k: int = PMI_TOP_K,
) -> DataFrame:
    """Top-``k`` within-window token co-occurrence pairs with PMI —
    the GloVe/word2vec-style corpus statistic an embedding or
    collocation pass computes before training: (term_a, term_b,
    n_pair, pmi) for ordered forward pairs (a at position i, b at
    position i+1..i+w) with n_pair >= min_pair, top-k by n_pair desc
    then (a, b) asc.

        pmi = r6(ln( (c_ab / N_pairs) / ((c_a / N_tok) * (c_b / N_tok)) ))

    Shape at scale: pair generation is a PURE per-row array
    expression (transform-with-index + slice + flatten) — the token
    stream is never self-joined on position, which would shuffle it
    twice on (doc, pos) for zero information. The corpus is touched
    by two combinable hash aggs (pairs, unigrams); the selected K
    pairs broadcast into two joins against the O(vocabulary) unigram
    table; totals ride as broadcast scalars. Intermediate blow-up is
    bounded at w x tokens per row.

    Determinism: counts are exact longs; the probability ratio is
    pure IEEE arithmetic over exact longs written identically in the
    DuckDB oracle; ln is micro-unit-rounded once per output pair
    (the lm_scores ln discipline)."""
    toks = tokens(F.col("text"))
    pairs = F.flatten(
        F.transform(
            toks,
            lambda t, i: F.transform(
                F.slice(toks, i + F.lit(2), w),
                lambda u: F.struct(t.alias("a"), u.alias("b")),
            ),
        )
    )
    pc = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
        .persist()  # O(observed pairs); feeds total + selection below
    )
    uni = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .persist()  # O(vocabulary); feeds total + two probe joins
    )
    n_pairs = pc.agg(F.sum("n_pair").alias("np"))
    n_tok = uni.agg(F.sum("n").alias("nt"))
    sel = (
        pc.filter(F.col("n_pair") >= min_pair)
        .orderBy(F.col("n_pair").desc(), "a", "b")
        .limit(k)
    )
    # probe direction: the K-row selection broadcasts; the unigram
    # table streams against it map-side and never shuffles
    j1 = uni.selectExpr("term AS a", "n AS n_a").join(F.broadcast(sel), "a")
    j2 = uni.selectExpr("term AS b", "n AS n_b").join(F.broadcast(j1), "b")
    ratio = (F.col("n_pair").cast("double") / F.col("np").cast("double")) / (
        (F.col("n_a").cast("double") / F.col("nt").cast("double"))
        * (F.col("n_b").cast("double") / F.col("nt").cast("double"))
    )
    return (
        j2.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            "n_pair",
            _r6(F.log(ratio)).alias("pmi"),
        )
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation against the corpus ground-truth ``lang``
    column: the (true_lang, predicted_lang, n) confusion matrix — the
    table a user reads before trusting the n-gram heuristic to drive
    lang_rebalance / filtering decisions at corpus scale.

    Shape: the prediction is a pure per-row expression computed
    INLINE on the scan (no join back on doc_id — the corpus_curation
    lesson), so the whole query is a zero-shuffle projection into one
    combinable agg over a |langs|² key space."""
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            predict_lang(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


# Gopher quality-filter rule battery (Rae et al. 2021, appendix A1.1
# — public method). Thresholds are the published constants; flags are
# True when the rule KEEPS the document.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WLEN = 3.0
GOPHER_MAX_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-document Gopher rule flags + the keep conjunction.

    Words are RAW whitespace runs (not normalized tokens) and lines
    are newline-delimited with blank lines ignored — the paper's
    units, distinct from every other operator's token stream. All
    ratios divide exact integer counts once (no float accumulation),
    so the rule comparisons are bit-identical across engines; the
    ratios are micro-unit-rounded only for OUTPUT, while flags
    compare the exact values.

    Shape at scale: pure built-ins, one projection over the scan,
    zero shuffle, zero Python — the cheapest possible corpus gate,
    exactly what a 100 TB first-pass filter must be.
    """
    text = F.col("text")
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("long")
    nf = n_words.cast("double")
    lines = F.filter(F.split(text, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines).cast("long")
    lf = n_lines.cast("double")
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.when(n_words > 0, sum_len.cast("double") / nf).otherwise(
        F.lit(0.0)
    )
    n_sym = (
        F.size(F.regexp_extract_all(text, F.lit("#"), 0))
        + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\.|…"), 0))
    ).cast("long")
    symbol_ratio = F.when(
        n_words > 0, n_sym.cast("double") / nf
    ).otherwise(F.lit(0.0))
    n_bullet = F.size(
        F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))
    ).cast("long")
    bullet_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / lf
    ).otherwise(F.lit(0.0))
    n_ell_end = F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("long")
    ellipsis_frac = F.when(
        n_lines > 0, n_ell_end.cast("double") / lf
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("long")
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / nf
    ).otherwise(F.lit(0.0))
    lowered = F.transform(words, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lowered, s),
        )
    ).cast("long")
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mean = (mean_len >= GOPHER_MIN_WLEN) & (mean_len <= GOPHER_MAX_WLEN)
    r_symbol = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    r_bullet = bullet_frac <= GOPHER_MAX_BULLET_FRAC
    r_ellipsis = ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC
    r_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    r_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        _r6(mean_len).alias("mean_word_len"),
        _r6(symbol_ratio).alias("symbol_ratio"),
        _r6(bullet_frac).alias("bullet_frac"),
        _r6(ellipsis_frac).alias("ellipsis_frac"),
        _r6(alpha_frac).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        r_words.alias("r_words"),
        r_mean.alias("r_mean_len"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        (
            r_words & r_mean & r_symbol & r_bullet & r_ellipsis
            & r_alpha & r_stop
        ).alias("gopher_pass"),
    )


# CCNet-style perplexity bucketing (Wenzek et al. 2020 — public).
CCNET_SALT = "ccb:"   # threshold-sample hash salt (independent stream)
CCNET_KEEP = 0x4      # keep 4/16 of docs in the threshold sample
CCNET_PCTS = (1 / 3, 2 / 3)


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """Per-language head/middle/tail split of the corpus by the
    unigram-LM score — the CCNet binning (Wenzek et al. 2020, public
    method; the paper buckets on Wikipedia-LM perplexity, here the
    corpus's own unigram model from lm_scores stands in; HIGHER mean
    log-prob = LOWER perplexity = head).

    Thresholds are the interpolated 1/3 and 2/3 percentiles of the
    score over a DETERMINISTIC md5 hash-sample per language (the
    quantile_sample discipline) — never a full-corpus per-language
    sort: the only rank window runs on the keep/16 sample, the
    |langs|-row threshold table BROADCASTS back, and the bucket
    assignment is a pure projection over the scored corpus. Languages
    whose sample is empty get bucket 'unsampled' (the audit-exposes-
    gaps rule) rather than a silent default.

    Interpolation (idx = p·(n-1); lo + frac·(hi - lo)) is spelled out
    identically in the DuckDB oracle — the rank_percentiles idiom —
    and compares the exact doubles; lm_score itself is the r6 value
    both engines already agree on.
    """
    from pyspark.sql import Window

    # Staged once (the substring_dedup discipline): the scored corpus
    # feeds BOTH the threshold sample and the final assignment —
    # without the persist the two-pass LM scoring would run twice.
    # MEMORY_AND_DISK + LRU-evictable; at 100 TB this becomes a
    # scratch-table write.
    scored = lm_scores(docs, carry=("lang",)).persist()
    member = (
        F.substring(
            F.md5(
                F.concat(F.lit(CCNET_SALT), F.col("doc_id").cast("string"))
            ),
            1,
            1,
        )
        < F.lit(f"{CCNET_KEEP:x}")
    )
    samp = scored.filter(member).select(
        "lang", F.col("lm_score").alias("v"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("v", "doc_id")
    ranked = samp.select(
        "lang",
        "v",
        (F.row_number().over(w) - 1).alias("r"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    aggs = []
    for p, name in zip(CCNET_PCTS, ("t33", "t66")):
        idx = F.lit(p) * (F.col("n") - 1).cast("double")
        lo, hi = F.floor(idx), F.ceil(idx)
        aggs.append(
            F.max(F.when(F.col("r") == lo, F.col("v"))).alias(f"_lo{name}")
        )
        aggs.append(
            F.max(F.when(F.col("r") == hi, F.col("v"))).alias(f"_hi{name}")
        )
        aggs.append(F.max(idx - lo.cast("double")).alias(f"_fr{name}"))
    thr = ranked.groupBy("lang").agg(*aggs)
    for name in ("t33", "t66"):
        thr = thr.withColumn(
            name,
            F.col(f"_lo{name}")
            + F.col(f"_fr{name}") * (F.col(f"_hi{name}") - F.col(f"_lo{name}")),
        )
    thr = thr.select("lang", "t33", "t66")
    bucket = (
        F.when(F.col("t66").isNull(), F.lit("unsampled"))
        .when(F.col("lm_score") >= F.col("t66"), F.lit("head"))
        .when(F.col("lm_score") >= F.col("t33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(thr), "lang", "left").select(
        "doc_id",
        "lang",
        "n_tokens",
        "lm_score",
        bucket.alias("bucket"),
    )


# Gopher repetition-filter rule battery (Rae et al. 2021, appendix
# A1.2 — public method; thresholds are the published Table A1
# constants). Flags are True when the rule KEEPS the document.
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_DUP_PARA_FRAC = 0.30
REP_MAX_DUP_LINE_CHAR_FRAC = 0.20
REP_MAX_DUP_PARA_CHAR_FRAC = 0.20
REP_MAX_TOP_NGRAM_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
REP_MAX_DUP_NGRAM_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                          9: 0.11, 10: 0.10}
# (run-length, gram-char-len) argmax packing for the top-n-gram rule:
# ties in BOTH components give the identical chars product, so the
# packed max is deterministic without a gram-string tie-break. Gram
# char length saturates at the 2^20-1 cap (a single 1M-char n-gram is
# already 10x the whole Gopher word-length budget).
REP_LEN_PACK = 1 << 20


def _dup_after_first(srt: Column) -> Column:
    """Occurrences beyond the first of each distinct value, over a
    MATERIALIZED sorted string array (adjacent compare — element_at
    is 1-based, so element_at(srt, i) is the 0-based lambda index
    i's predecessor)."""
    return F.filter(
        srt, lambda x, i: (i > 0) & (x == F.element_at(srt, i))
    )


def _chars(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _frac(num: Column, den: Column) -> Column:
    return F.when(
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """Per-document Gopher repetition rule battery: duplicate line /
    paragraph fractions (occurrence and character weighted), the
    top-{2,3,4}-gram character fractions, and the duplicated-
    {5..10}-gram character-coverage fractions, each flagged against
    the published threshold, plus the keep conjunction.

    Unit semantics (spelled identically in the DuckDB oracle):
    lines split on \\n and paragraphs on \\n\\n, trimmed, empties
    dropped; a duplicate is every occurrence AFTER the first of a
    distinct unit; character fractions divide by the summed unit
    lengths. Words are RAW whitespace runs (the A1.1 battery's
    unit); n-grams join n consecutive words with single spaces; the
    character denominator for the gram rules is the space-joined
    word text length. The top-n-gram numerator is count x gram
    chars for the (count, gram-chars)-argmax gram; the dup-n-gram
    numerator counts characters covered by ANY occurrence of a
    within-doc duplicated n-gram ONCE (positional interval union —
    the substring_dedup fold), so overlapping duplicated grams
    cannot double-count.

    Shape at scale: the ENTIRE battery is in-array — zero shuffle,
    zero Python, no join, no window; per row it is O(T log T) for
    the nine per-n occurrence sorts (T = words) plus linear folds,
    never the per-row O(distinct x T) HOF-rescan class. Gram
    occurrences carry (md5, char-len, pos) structs, not gram
    strings, so the transient row stays ~44 bytes x 9T instead of
    O(n x T) text copies. A mega-doc is one task (the engine-wide
    in-array bound — BENCH/SKEW.md); the audit rides the scan.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    # NOTE: transform(arr, F.trim) is WRONG — transform feeds the
    # element index as trim's optional second (trim-chars) argument.
    units = lambda sep: F.array_sort(  # noqa: E731
        F.filter(
            F.transform(F.split(text, sep), lambda u: F.trim(u)),
            lambda u: u != "",
        )
    )

    def occ(n: int) -> Column:
        w, m = F.col("w"), F.size(F.col("w"))

        def one(i: Column) -> Column:
            gram = F.array_join(F.slice(w, i + 1, n), " ")
            return F.struct(
                F.md5(gram).alias("h"),
                F.least(
                    F.length(gram), F.lit(REP_LEN_PACK - 1)
                ).alias("l"),
                i.cast("int").alias("p"),
            )

        return F.when(
            m >= n, F.array_sort(F.transform(F.sequence(F.lit(0), m - n), one))
        ).otherwise(
            F.array().cast("array<struct<h:string,l:int,p:int>>")
        )

    s1 = docs.select(
        "doc_id",
        words.alias("w"),
        units("\n").alias("ls"),
        units("\n\n").alias("ps"),
    )
    ns = sorted(REP_MAX_TOP_NGRAM_FRAC) + sorted(REP_MAX_DUP_NGRAM_FRAC)
    s1 = s1.select(
        "doc_id", "w", "ls", "ps", *[occ(n).alias(f"o{n}") for n in ns]
    )

    # stage 2: unit-stat scalars; per-n run starts (top rules) and
    # sorted duplicated-occurrence positions (coverage rules)
    def run_starts(n: int) -> Column:
        so = F.col(f"o{n}")
        m = F.size(so)
        idx = F.when(m > 0, F.sequence(F.lit(0), m - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.filter(
            idx,
            lambda i: (i == 0)
            | (
                F.element_at(so, i + 1)["h"]
                != F.element_at(so, i)["h"]
            ),
        )

    def dup_pos(n: int) -> Column:
        so = F.col(f"o{n}")
        m = F.size(so)
        dups = F.filter(
            so,
            lambda x, i: (
                (i > 0) & (x["h"] == F.element_at(so, i)["h"])
            )
            | (
                (i < m - 1)
                & (x["h"] == F.element_at(so, i + 2)["h"])
            ),
        )
        return F.array_sort(F.transform(dups, lambda x: x["p"]))

    unit_cols = []
    for name, arr in (("line", F.col("ls")), ("para", F.col("ps"))):
        dups = _dup_after_first(arr)
        unit_cols += [
            F.size(arr).cast("long").alias(f"n_{name}s"),
            F.size(dups).cast("long").alias(f"_d_{name}"),
            _chars(dups).alias(f"_dc_{name}"),
            _chars(arr).alias(f"_tc_{name}"),
        ]
    s2 = s1.select(
        "doc_id",
        "w",
        F.size("w").cast("long").alias("n_words"),
        (
            _chars(F.col("w"))
            + F.greatest(F.size("w") - 1, F.lit(0)).cast("long")
        ).alias("_t"),
        *unit_cols,
        *[F.col(f"o{n}").alias(f"o{n}") for n in sorted(REP_MAX_TOP_NGRAM_FRAC)],
        *[run_starts(n).alias(f"st{n}") for n in sorted(REP_MAX_TOP_NGRAM_FRAC)],
        *[dup_pos(n).alias(f"dp{n}") for n in sorted(REP_MAX_DUP_NGRAM_FRAC)],
    )

    # stage 3: top-gram packed argmax; coverage interval folds
    def top_chars(n: int) -> Column:
        so, st = F.col(f"o{n}"), F.col(f"st{n}")
        k = F.size(st)
        idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )

        def packed(j: Column) -> Column:
            s = F.element_at(st, j + 1)
            nxt = F.when(j == k - 1, F.size(so)).otherwise(
                F.element_at(st, j + 2)
            )
            runlen = (nxt - s).cast("long")
            return runlen * REP_LEN_PACK + F.element_at(so, s + 1)["l"]

        top = F.coalesce(
            F.array_max(F.transform(idx, packed)), F.lit(0).cast("long")
        )
        return (
            (top / F.lit(REP_LEN_PACK)).cast("long")
            * (top % F.lit(REP_LEN_PACK))
        ).alias(f"tc{n}")

    iv_t = "array<struct<s:int,e:int>>"

    def fold_ivs(n: int) -> Column:
        last = lambda acc: F.element_at(acc, -1)  # noqa: E731
        return F.aggregate(
            F.col(f"dp{n}"),
            F.array().cast(iv_t),
            lambda acc, p: F.when(
                (F.size(acc) > 0) & (p <= last(acc)["e"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            last(acc)["s"].alias("s"),
                            F.greatest(
                                last(acc)["e"], p + n
                            ).cast("int").alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(
                        F.struct(
                            p.cast("int").alias("s"),
                            (p + n).cast("int").alias("e"),
                        )
                    ),
                )
            ),
        ).alias(f"iv{n}")

    keep2 = [
        "doc_id", "n_words", "_t",
        "n_lines", "_d_line", "_dc_line", "_tc_line",
        "n_paras", "_d_para", "_dc_para", "_tc_para",
    ]
    s3 = s2.select(
        *keep2,
        "w",
        *[top_chars(n) for n in sorted(REP_MAX_TOP_NGRAM_FRAC)],
        *[fold_ivs(n) for n in sorted(REP_MAX_DUP_NGRAM_FRAC)],
    )

    # stage 4: covered chars per n (gap-free: merged runs are
    # disjoint, so the per-run word-slice sums total O(T) per row)
    def covered(n: int) -> Column:
        w = F.col("w")
        return F.aggregate(
            F.col(f"iv{n}"),
            F.lit(0).cast("long"),
            lambda acc, iv: acc
            + F.aggregate(
                F.slice(w, iv["s"] + 1, iv["e"] - iv["s"]),
                F.lit(0).cast("long"),
                lambda a, x: a + F.length(x),
            )
            + (iv["e"] - iv["s"] - 1).cast("long"),
        ).alias(f"cv{n}")

    s4 = s3.select(
        *keep2,
        *[F.col(f"tc{n}") for n in sorted(REP_MAX_TOP_NGRAM_FRAC)],
        *[covered(n) for n in sorted(REP_MAX_DUP_NGRAM_FRAC)],
    )

    fracs: list[tuple[str, Column, bool, float]] = [
        # (name, exact value, keep-if-<=, threshold)
        ("dup_line_frac",
         _frac(F.col("_d_line"), F.col("n_lines")),
         True, REP_MAX_DUP_LINE_FRAC),
        ("dup_para_frac",
         _frac(F.col("_d_para"), F.col("n_paras")),
         True, REP_MAX_DUP_PARA_FRAC),
        ("dup_line_char_frac",
         _frac(F.col("_dc_line"), F.col("_tc_line")),
         True, REP_MAX_DUP_LINE_CHAR_FRAC),
        ("dup_para_char_frac",
         _frac(F.col("_dc_para"), F.col("_tc_para")),
         True, REP_MAX_DUP_PARA_CHAR_FRAC),
    ]
    for n, thr in sorted(REP_MAX_TOP_NGRAM_FRAC.items()):
        fracs.append(
            (f"top_{n}gram_frac",
             _frac(F.col(f"tc{n}"), F.col("_t")), True, thr)
        )
    for n, thr in sorted(REP_MAX_DUP_NGRAM_FRAC.items()):
        fracs.append(
            (f"dup_{n}gram_frac",
             _frac(F.col(f"cv{n}"), F.col("_t")), True, thr)
        )
    out_cols = [F.col("doc_id"), F.col("n_words"), F.col("n_lines"),
                F.col("n_paras")]
    flag_exprs = []
    for name, val, _, thr in fracs:
        out_cols.append(_r6(val).alias(name))
        flag_exprs.append((val <= thr).alias(f"r_{name[:-5]}"))
    rep_pass = None
    for name, val, _, thr in fracs:
        c = val <= thr
        rep_pass = c if rep_pass is None else rep_pass & c
    return s4.select(
        *out_cols, *flag_exprs, rep_pass.alias("rep_pass")
    )


# Interpolated bigram LM (the CCNet-style filter one order up from
# the unigram lm_scores proxy). Both weights are exactly
# representable doubles so the two engines' literals cannot differ.
LM2_L1 = 0.75   # bigram MLE weight
LM2_L0 = 0.25   # unigram backoff weight


def lm2_scores(docs: DataFrame, v: int = LM_VOCAB_K) -> DataFrame:
    """Interpolated-bigram-LM mean log-probability per document:
    P(w_i | w_{i-1}) = L1 * c(w_{i-1} w_i)/n(w_{i-1})
                     + L0 * p_uni(w_i),
    with the corpus's own top-``v`` unigram vocabulary, bigrams kept
    only when BOTH words are in-vocab (the pruned-LM move that
    bounds the model at V^2 rows), first tokens scored by the pure
    unigram, out-of-model pairs backing off to L0 * p_uni, and OOV
    tokens floored at 1/total. n(a) is a's corpus unigram count, so
    the conditional is the (slightly deficient) within-doc MLE —
    doc-final occurrences of a start no bigram.

    Exact arithmetic (the lm_scores discipline): every distinct
    log-prob is computed and micro-unit-rounded ONCE on a model
    table (V-row vocab, <=V^2-row bigram table), per-doc sums are
    exact long adds, one division at the end.

    Shape at scale: pass 1 trains — one combinable term agg + one
    combinable in-vocab pair agg (pairs pre-filtered by two
    broadcast semi-joins, so the pair shuffle carries in-vocab
    bigrams only); pass 2 scores — per-doc (prev, cur) structs are
    built IN-ARRAY (the exploded row carries one pair, never the
    whole token array), then two broadcast left joins and a
    combinable doc agg. The corpus never shuffles on a term key.
    """
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .persist()  # feeds total + vocab + pair conditionals
    )
    total = counts.agg(F.sum("n").alias("tot"))
    tot = F.col("tot").cast("double")
    mic = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    p_uni = F.col("n").cast("double") / tot
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("term"))
        .limit(v)
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.col("n").alias("nv"),
            mic(F.log(p_uni)).alias("li_uni"),
            mic(F.log(F.lit(LM2_L0) * p_uni)).alias("li_back"),
        )
    )

    pairs_arr = lambda t: F.when(  # noqa: E731
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(t)),
            lambda i: F.struct(
                F.element_at(t, i - 1).alias("a"),
                F.element_at(t, i).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    ex_pairs = docs.select(
        F.explode(pairs_arr(tokens(F.col("text")))).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    va = vocab.select(
        F.col("term").alias("a"), F.col("nv").alias("na")
    )
    vb = vocab.select(
        F.col("term").alias("b"), F.col("nv").alias("nb")
    )
    bigram = (
        ex_pairs.join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            mic(
                F.log(
                    F.lit(LM2_L1)
                    * (F.col("c").cast("double") / F.col("na").cast("double"))
                    + F.lit(LM2_L0) * (F.col("nb").cast("double") / tot)
                )
            ).alias("li_pair"),
        )
    )

    steps = lambda t: F.when(  # noqa: E731
        F.size(t) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(t, i - 1)).alias("prev"),
                F.element_at(t, i).alias("cur"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<prev:string,cur:string>>")
    )
    ex = docs.select(
        "doc_id", F.explode(steps(tokens(F.col("text")))).alias("s")
    ).select(
        "doc_id",
        F.col("s.prev").alias("prev"),
        F.col("s.cur").alias("cur"),
    )
    oov_uni = mic(F.log(F.lit(1.0) / tot))
    oov_back = mic(F.log(F.lit(LM2_L0) * (F.lit(1.0) / tot)))
    scored = (
        ex.join(
            F.broadcast(vocab.select(F.col("term").alias("cur"),
                                     "li_uni", "li_back")),
            "cur",
            "left",
        )
        .join(
            F.broadcast(bigram.select(F.col("a").alias("prev"),
                                      F.col("b").alias("cur"),
                                      "li_pair")),
            ["prev", "cur"],
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("prev").isNull(),
                F.coalesce(F.col("li_uni"), oov_uni),
            )
            .otherwise(
                F.coalesce(
                    F.col("li_pair"), F.col("li_back"), oov_back
                )
            )
            .alias("li"),
            F.col("li_pair").isNotNull().cast("long").alias("hit"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        F.sum("hit").alias("hits"),
        F.sum("li").alias("s"),
    )
    mean = _r6(
        F.col("s").cast("double") / (F.col("n_toks").cast("double") * 1e6)
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("n_pair_hits"),
            F.when(F.col("n_toks") > 0, mean)
            .otherwise(F.lit(0.0))
            .alias("lm2_score"),
        )
    )
