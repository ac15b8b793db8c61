"""Corpus-level curation operators a large-scale training-data
pipeline runs between dedup and tokenization: duplicated-n-gram
quality stats, benchmark decontamination, deterministic stratified
sampling, and token-budget shard packing.

All four are expressed over the shared term tokenizer
(functions/text.tokens — the same Java ``(?U)`` regex every other
term consumer uses) so their DuckDB oracles reuse ``tokens_sql``.
Scale notes per operator live in the docstrings; none of them uses a
Python UDF — everything is built-ins + shuffles with map-side
combine.

Reference analog: none (the reference is a per-document service,
src/workflows/*). These extend the engine the way the brief's
"training-data pipeline" section requires, alongside dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blackedge_ocr_spark.analysis.dedup import word_shingles
from blackedge_ocr_spark.functions.text import tokens

# Shared with sqloracle (generated into the DuckDB SQL — cannot drift).
NGRAM_N = 3  # word n-gram width for dup stats + decontamination
PACK_CAP = 4096  # token budget per training shard
SAMPLE_HEX_LT = "40"  # keep if first md5 byte < 0x40 (= 25% rate)
BENCH_MOD = 50  # doc_id % BENCH_MOD == 0 -> held-out benchmark doc

# Gram builder: analysis.dedup.word_shingles (DISTINCT overlapping
# word n-grams; < n-token docs yield their full token join as one
# gram; empty docs yield []) — the same column expression the MinHash
# path shingles with, mirrored by sqloracle.shingles_sql.


def dup_ngram_stats(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the Gopher/Dolma
    quality signal: of a doc's DISTINCT word n-grams, what share also
    appears in at least one other document.

    Shape at scale: explode distinct (doc_id, gram) → hash-agg gram
    counts (map-side combine absorbs hot grams — a gram in 10^9 docs
    partial-aggregates per task) → join counts back on gram (AQE
    skew-join splits the hot-gram partitions) → hash-agg per doc.
    Two combinable shuffles + one skew-handled join; no window over
    the gram partition (a window would SORT every row of a hot gram
    in one task). The exploded grams are eagerly staged (the LSH
    candidate-staging discipline, analysis/dedup.py) so the count agg
    and the join read ONE tokenize+shingle pass instead of two
    recomputed lineages; at 100 TB the persist becomes a write to a
    scratch table. Measured sf1 cost is shuffle-bound (the gram rows
    themselves), not lineage-bound — the honest floor for a
    corpus-wide gram count. The staged cache cannot be unpersisted
    here (the return is lazy); blocks are MEMORY_AND_DISK and LRU-
    evictable, and a long-lived session repeating this operator
    should release them via ``spark.catalog.clearCache()`` (the
    bench harness runs one process per measurement).

    Empty documents survive with n_grams = 0 and dup_frac = 0.0
    (explode_outer + left join — mirrored by the oracle's LEFT JOIN
    from the un-exploded side).
    """
    g = docs.select(
        "doc_id", word_shingles(F.col("text"), n).alias("grams")
    )
    ex = g.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    ).persist()
    counts = (
        ex.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count("*").alias("nd"))
    )
    j = ex.join(counts, "gram", "left")
    agg = j.groupBy("doc_id", "n_grams").agg(
        F.sum(
            F.when(F.col("nd") >= 2, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("dup_grams")
    )
    from blackedge_ocr_spark.analysis.textstats import _r6

    frac = F.when(
        F.col("n_grams") > 0,
        F.col("dup_grams").cast("double") / F.col("n_grams").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "dup_grams",
        _r6(frac).alias("dup_frac"),
    )


def decontaminate(
    docs: DataFrame, n: int = NGRAM_N, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style, word
    n-grams): docs with ``doc_id % bench_mod == 0`` form the held-out
    benchmark; every OTHER doc sharing at least one distinct n-gram
    with any benchmark doc is reported with its shared-gram count.

    Shape at scale: the benchmark gram set is the RELATIVELY small
    side (1/bench_mod of the corpus, distinct grams only) and
    broadcasts here, so the training corpus never shuffles: one scan,
    map-side hash-join, one combinable agg. HONEST LIMIT: relative
    size is not absolute size — a real web-scale benchmark suite's
    distinct grams can exceed the 8 GB broadcast ceiling; the
    production fallbacks are (a) a Bloom filter over benchmark grams
    broadcast in place of the exact set (false-positive docs get an
    exact recheck) or (b) dropping the hint so AQE falls back to a
    shuffled hash join — the same escape-hatch discipline as
    token_packing_2p. Real benchmark suites (the actual use case) are
    MB-scale and broadcast fine.
    """
    g = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), n)).alias("gram")
    )
    bench = (
        g.filter(F.col("doc_id") % bench_mod == 0).select("gram").distinct()
    )
    train = g.filter(F.col("doc_id") % bench_mod != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def corpus_sample(docs: DataFrame) -> DataFrame:
    """Deterministic hash-based sampling report per source stratum:
    a doc is kept iff the first md5 byte of its doc_id string is
    below 0x40 (a fixed 25% rate — reproducible across engines,
    cluster layouts and reruns, unlike rand()-based sampling).

    Pure per-row predicate + one combinable agg on source: zero
    shuffle before the final hash agg at any scale."""
    from blackedge_ocr_spark.analysis.textstats import kept_rollup

    kept = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        < F.lit(SAMPLE_HEX_LT)
    )
    return kept_rollup(docs.select("source", kept.alias("kept")), "source")


def token_packing(docs: DataFrame, cap: int = PACK_CAP) -> DataFrame:
    """Contiguous token-budget shard packing: within each source, in
    doc_id order, assign each doc to shard floor(tokens_before / cap)
    — the deterministic sharding a tokenizer fleet uses to emit
    ~cap-token training shards without a driver loop. (Contiguous
    fill, not bin packing: a doc larger than cap owns its shard
    boundary — stated, not hidden.)

    Shape at scale: the window partitions by source — shards build in
    parallel across sources, never a global sort. A single mega
    source would serialize its cumsum into one task; the fix is the
    two-phase split of ``token_packing_2p`` (pre-aggregate per
    (source, bucket), prefix-sum the bucket totals) — not needed at
    the benched scales (BENCH/SKEW.md discipline)."""
    tok = F.size(tokens(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "source", "doc_id", tok.alias("tok"), F.sum(tok).over(w).alias("cum")
    )
    return _shards_from_cumsum(staged, cap)


def _shards_from_cumsum(staged: DataFrame, cap: int) -> DataFrame:
    """(source, tok, cum) → per-(source, shard) rollup; shard =
    floor(tokens_before / cap). Shared by both packing variants."""
    shard = F.floor(
        (F.col("cum") - F.col("tok")).cast("double") / F.lit(float(cap))
    )
    return (
        staged.select("source", "tok", shard.alias("shard"))
        .groupBy("source", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tok").alias("shard_tokens"),
        )
    )


PACK_BUCKET_IDS = 4096  # phase-1 doc_id range per prefix-sum bucket


def token_packing_2p(
    docs: DataFrame, cap: int = PACK_CAP, bucket_ids: int = PACK_BUCKET_IDS
) -> DataFrame:
    """Two-phase token_packing — the mega-source skew defense: a
    classic distributed prefix sum instead of one serialized cumsum
    task per source.

    Phase 1 cumsums WITHIN (source, doc_id-range bucket) partitions —
    a source with 10^9 docs spreads across 10^9/bucket_ids tasks.
    Phase 2 prefix-sums the per-bucket TOTALS (one row per bucket —
    orders of magnitude smaller) and broadcasts the bucket offsets
    back; offset + local cumsum == the single-phase cumsum exactly,
    so the oracle is the very same sql_token_packing — equality by
    oracle, not by construction argument alone."""
    tok = F.size(tokens(F.col("text"))).cast("long")
    e = docs.select(
        "source",
        "doc_id",
        tok.alias("tok"),
        F.floor(F.col("doc_id") / F.lit(bucket_ids)).alias("_bkt"),
    )
    w1 = (
        Window.partitionBy("source", "_bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = e.select(
        "source", "_bkt", "tok", F.sum("tok").over(w1).alias("_lcum")
    )
    # Totals come from `e` (plain combinable groupBy), NOT from the
    # window output — deriving them as max(_lcum) would recompute the
    # whole window for the broadcast branch (measured 2.5x slower).
    # The tokenizer runs once per branch; it is map-side and fully
    # parallel, unlike the window sort this operator exists to split.
    totals = e.groupBy("source", "_bkt").agg(F.sum("tok").alias("_btot"))
    w2 = (
        Window.partitionBy("source")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "_bkt",
        F.coalesce(F.sum("_btot").over(w2), F.lit(0)).alias("_off"),
    )
    staged = local.join(F.broadcast(offsets), ["source", "_bkt"]).select(
        "source", "tok", (F.col("_lcum") + F.col("_off")).alias("cum")
    )
    return _shards_from_cumsum(staged, cap)


# snapshot_diff: deterministic re-crawl simulation, shared with the
# oracle. A-snapshot drops doc_id % DIFF_MOD == DIFF_ADD (so those
# docs are "added" in B); B-snapshot drops % == DIFF_DEL ("removed")
# and revises the text of doc_id % DIFF_REV_MOD == 0 ("changed").
DIFF_MOD = 50
DIFF_ADD = 3
DIFF_DEL = 7
DIFF_REV_MOD = 17
DIFF_REV_SUFFIX = " rev2"


def snapshot_views(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic corpus snapshots derived from one table — the
    test stand-in for consecutive crawl snapshots of the same lake."""
    a = docs.filter(F.col("doc_id") % DIFF_MOD != DIFF_ADD).select(
        "doc_id", "text"
    )
    b = docs.filter(F.col("doc_id") % DIFF_MOD != DIFF_DEL).select(
        "doc_id",
        F.when(
            F.col("doc_id") % DIFF_REV_MOD == 0,
            F.concat(F.col("text"), F.lit(DIFF_REV_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return a, b


def snapshot_diff(docs: DataFrame) -> DataFrame:
    """Incremental re-crawl merge: classify every doc_id across two
    snapshots as added / removed / changed / unchanged by content
    hash, rolled up to counts. The operator an incremental ingestion
    job runs to process ONLY the delta instead of re-extracting the
    full corpus.

    Shape: each side reduces to (doc_id, md5, side) on the scan and
    the full-outer join is expressed as a tagged UNION + ONE hash agg
    on doc_id (conditional max per side) — half the shuffle of a
    two-sided sort-merge join, no sort, and hash-only payloads (never
    text). The status rollup then combines map-side. On an Iceberg
    lake the union becomes a changelog/snapshot-diff scan
    (incremental read between snapshot ids) and the hash column is
    already in the manifest; the classification and rollup are
    unchanged."""
    a, b = snapshot_views(docs)
    # coalesce before md5: md5(NULL) is NULL, and a null-text doc in
    # BOTH snapshots would read as "added" (h_a null) — the same
    # null-text discipline every other operator applies
    h_of = lambda: F.md5(F.coalesce(F.col("text"), F.lit("")))
    tagged = a.select(
        "doc_id", h_of().alias("h"), F.lit("a").alias("side")
    ).unionByName(
        b.select("doc_id", h_of().alias("h"), F.lit("b").alias("side"))
    )
    j = tagged.groupBy("doc_id").agg(
        F.max(F.when(F.col("side") == "a", F.col("h"))).alias("h_a"),
        F.max(F.when(F.col("side") == "b", F.col("h"))).alias("h_b"),
    )
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), "doc_id")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ------------------------------------------------------------------
# Training-order shuffle, context-window chunking, language rebalance
# ------------------------------------------------------------------

SHUFFLE_SEED = "epoch0"  # training-epoch seed: new seed = new order
CHUNK_TOKENS = 64  # context-window chunk width (tokens)
CHUNK_STRIDE = 48  # chunk start stride (overlap = CHUNK - STRIDE)
REBALANCE_DIVISOR = 4  # per-language cap = total // (DIV * n_langs)
REBALANCE_SEED = "rebal"  # independent of SAMPLE_HEX_LT's hash use


def _shuffle_key(doc_id):
    """Seeded content-independent permutation key. A new epoch seed
    yields an entirely different (but reproducible) global order —
    unlike rand(), identical across engines, reruns and cluster
    layouts."""
    return F.md5(
        F.concat(F.lit(SHUFFLE_SEED + ":"), doc_id.cast("string"))
    )


def corpus_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic training-order shuffle + shard assignment:
    every doc gets a seeded hash key; shard = first key byte (256
    hash-balanced output shards); pos = the doc's 1-based rank within
    its shard in key order. Writing each shard sorted by pos yields
    the globally shuffled training order a dataloader consumes.

    Shape at scale — a distributed rank WITHOUT a global sort: the
    rank window partitions by (shard, bucket = second key byte), so
    the largest sort any task performs is n/65536 rows; per-bucket
    counts (65536 rows total) prefix-sum into bucket offsets and
    broadcast back. Within a shard the key's bucket byte is a prefix
    of the key itself, so offset + local rank equals the one-window
    rank EXACTLY — the oracle checks the equality rather than trusting
    the argument (same discipline as token_packing_2p)."""
    key = _shuffle_key(F.col("doc_id"))
    staged = docs.select(
        "doc_id",
        key.alias("key"),
        F.substring(key, 1, 2).alias("shard"),
        F.substring(key, 3, 2).alias("_bkt"),
    )
    w1 = Window.partitionBy("shard", "_bkt").orderBy("key", "doc_id")
    local = staged.select(
        "doc_id", "shard", "_bkt", F.row_number().over(w1).alias("_rk")
    )
    counts = staged.groupBy("shard", "_bkt").agg(
        F.count("*").alias("_n")
    )
    w2 = (
        Window.partitionBy("shard")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard",
        "_bkt",
        F.coalesce(F.sum("_n").over(w2), F.lit(0)).alias("_off"),
    )
    return local.join(F.broadcast(offsets), ["shard", "_bkt"]).select(
        "doc_id",
        "shard",
        (F.col("_off") + F.col("_rk")).cast("long").alias("pos"),
    )


def doc_chunks(docs: DataFrame) -> DataFrame:
    """Context-window chunking: split each document's token stream
    into CHUNK_TOKENS-wide chunks whose starts advance by
    CHUNK_STRIDE (so consecutive chunks overlap by CHUNK - STRIDE
    tokens — the standard long-document training treatment). Output
    one row per chunk: (doc_id, chunk_id, n_toks, chunk_md5).

    Pure per-row projection + explode — ZERO shuffle at any scale;
    chunk count is data-derived so a 10^6-token doc fans out to
    ~20k rows in its own task without a driver loop. Token-free
    documents produce no chunks (inner explode — stated, not hidden).
    The sequence() is guarded n_chunks > 0 because Spark's
    sequence(0, -1) DESCENDS to [0, -1] instead of yielding an empty
    array."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # n_chunks = 1 + ceil(max(n - CHUNK, 0) / STRIDE), integer math.
    n_chunks = (
        F.floor(
            (F.greatest(n - CHUNK_TOKENS, F.lit(0)) + (CHUNK_STRIDE - 1))
            / CHUNK_STRIDE
        )
        + 1
    )
    ids = F.when(n > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1))
    staged = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.explode(ids).alias("chunk_id"),
    )
    sl = F.slice(
        F.col("_toks"),
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_TOKENS,
    )
    return staged.select(
        "doc_id",
        "chunk_id",
        F.size(sl).cast("long").alias("n_toks"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


def lang_rebalance(docs: DataFrame) -> DataFrame:
    """Language-mix rebalancing: cap every language at
    cap = max(1, total // (REBALANCE_DIVISOR * n_langs)) expected
    docs, keeping a deterministic seeded-hash subsample of
    over-represented languages and all of under-represented ones —
    the flattening step a multilingual training mix applies so one
    dominant language cannot swamp the corpus.

    The keep decision is a pure hash THRESHOLD (first 4 key bytes,
    compared as fixed-width hex against floor(cap/n_l * 2^32)), not a
    per-language rank: a rank window would sort the hottest
    language's every row in one task, while the threshold needs only
    the tiny language histogram — one combinable agg over |langs|
    rows, broadcast back, then a per-row predicate. Expected (not
    exact) cap compliance is the stated trade: binomial deviation is
    O(sqrt(cap)), negligible at training scale. cap/n_l * 2^32 is
    evaluated in IEEE double (exact-rounded, engine-independent) to
    dodge the bigint overflow of cap * 2^32 at 10^12 docs."""
    from blackedge_ocr_spark.analysis.textstats import (
        hex_threshold,
        kept_rollup,
        predict_lang,
        seeded_hex,
    )

    tagged = docs.select(
        "doc_id", predict_lang(F.col("text")).alias("lang")
    )
    langs = tagged.groupBy("lang").agg(F.count("*").alias("n_l"))
    # |langs| rows — a scalar, not a shuffle. Constant non-foldable
    # key (lang is a non-null classifier output): a window with an
    # empty partition spec logs Spark's "No Partition Defined" WARN,
    # and that channel stays reserved for genuinely unbounded windows.
    w = Window.partitionBy(F.least(F.length("lang"), F.lit(0)))
    cap = F.greatest(
        F.lit(1).cast("long"),
        F.floor(
            F.sum("n_l").over(w)
            / (F.lit(REBALANCE_DIVISOR) * F.count("*").over(w))
        ),
    )
    thr = F.when(
        F.col("n_l") > F.col("cap"),
        hex_threshold(
            F.col("cap").cast("double") / F.col("n_l").cast("double"), 8
        ),
    )
    thresholds = langs.select("lang", "n_l", cap.alias("cap")).select(
        "lang", thr.alias("thr")
    )
    h = seeded_hex(REBALANCE_SEED, F.col("doc_id"), 8)
    kept = F.col("thr").isNull() | (h < F.col("thr"))
    staged = tagged.join(F.broadcast(thresholds), "lang").select(
        "lang", kept.alias("kept")
    )
    return kept_rollup(staged, "lang")


# ------------------------------------------------------------------
# Interleaved multimodal sequence packing (span-level)
# ------------------------------------------------------------------

SEQ_BUDGET = 120  # token budget per training sequence
IMG_TOKEN_COST = 16  # fixed token cost of a media span (patch budget)


def span_packing(spansified: DataFrame) -> DataFrame:
    """Pack each document's ORDERED interleaved span sequence (text +
    media, the north-star payload) into training sequences of
    ~SEQ_BUDGET tokens: a text/table span costs its whitespace token
    count, a media span costs the fixed IMG_TOKEN_COST patch budget;
    span i joins sequence floor(tokens_before_i / SEQ_BUDGET). Span
    order is preserved within and across sequences — the construction
    a multimodal trainer uses to build context windows without
    splitting a document's narrative.

    Shape at scale: explode spans → running cost sum windowed per
    doc_id (the spansified frame is already hash-distributed on
    doc_id, so the window adds a LOCAL sort, no new exchange) → one
    combinable hash agg on (doc_id, seq_id). The per-task sort is
    bounded by max spans/doc (the mega-doc stratum is a bounded 25x);
    a pathological 10^6-span doc would take the two-phase split of
    ``token_packing_2p``. Contrast with token_packing (doc-level corpus
    sharding); this packs WITHIN documents and keeps media interleaved.
    """
    from blackedge_ocr_spark.constants import MEDIA_KINDS

    ex = spansified.select("doc_id", F.explode("spans").alias("s"))
    # media = the SHARED MEDIA_KINDS contract ('image' AND 'page' —
    # an image-only test dropped scanned-page spans to the text
    # branch, costing 1 bogus token instead of the patch budget);
    # text cost = the guarded whitespace count (split('') is [''],
    # size 1 — an empty span must cost 0, not 1)
    is_media_span = F.col("s.kind").isin(*MEDIA_KINDS)
    ws = F.when(
        F.length(F.col("s.text")) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.col("s.text"), " ")))
    cost = (
        F.when(is_media_span, F.lit(IMG_TOKEN_COST))
        .otherwise(ws)
        .cast("long")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("s.offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = ex.select(
        "doc_id",
        is_media_span.cast("long").alias("is_media"),
        cost.alias("cost"),
        F.sum(cost).over(w).alias("cum"),
    )
    seq = F.floor((F.col("cum") - F.col("cost")) / SEQ_BUDGET)
    return (
        staged.select("doc_id", seq.alias("seq_id"), "is_media", "cost")
        .groupBy("doc_id", "seq_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("is_media").alias("n_media"),
            F.sum("cost").alias("seq_tokens"),
        )
    )


# ------------------------------------------------------------------
# Train/val/test split + source-mixture weights (corpus assembly)

SPLIT_SEED = "split"  # independent hash stream from SHUFFLE/REBAL/QS
VAL_FRAC = 0.02
TEST_FRAC = 0.02
# 24-bit hash-prefix thresholds as fixed-width hex (the proven
# lang_rebalance/quality_sample trick); int() truncation of the IEEE
# product is deterministic and the SAME literal lands in the oracle.
_VAL_HEX = format(int(VAL_FRAC * 16777216), "06x")
_VALTEST_HEX = format(int((VAL_FRAC + TEST_FRAC) * 16777216), "06x")


def data_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment + per-split manifest
    (docs, token sum, doc share). Membership is a pure function of
    doc_id — stable across reruns, cluster sizes and partitionings,
    so a doc can never migrate between splits when the corpus is
    re-sharded (the property a random() split lacks).

    Shape: zero shuffle before a <=3-row combinable agg; the share
    denominator is a scalar window over those 3 rows, not a second
    pass over the corpus.
    """
    from blackedge_ocr_spark.analysis.textstats import _r6, seeded_hex

    h = seeded_hex(SPLIT_SEED, F.col("doc_id"), 6)
    split = (
        F.when(h < F.lit(_VAL_HEX), F.lit("val"))
        .when(h < F.lit(_VALTEST_HEX), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    staged = docs.select(
        split.alias("split"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    g = staged.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    # <=3 rows — a scalar, not a shuffle; constant non-foldable key
    # (split names are non-null), see lang_rebalance note
    w = Window.partitionBy(F.least(F.length("split"), F.lit(0)))
    return g.select(
        "split",
        "n_docs",
        "n_tokens",
        _r6(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("doc_share"),
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-source sampling weights that flatten the training mixture
    toward a uniform token budget per source: weight_s = min(1,
    target / tokens_s) with target = total_tokens / n_sources — the
    downsampling factor a mixture builder applies to over-represented
    sources (under-represented ones keep weight 1; upsampling is an
    epochs decision, not a filter). Published mixture practice (e.g.
    The Pile / Dolma source weighting) made deterministic.

    Shape: one combinable agg on source (tiny key space), then a
    scalar window over |sources| rows. The corpus itself never
    shuffles.
    """
    from blackedge_ocr_spark.analysis.textstats import _r6

    g = (
        docs.select(
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )
    # |sources| rows; constant non-foldable key, see lang_rebalance note
    w = Window.partitionBy(F.least(F.length("source"), F.lit(0)))
    target = (
        F.sum("n_tokens").over(w).cast("double")
        / F.count("*").over(w).cast("double")
    )
    weight = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1.0), target / F.col("n_tokens").cast("double")),
    ).otherwise(F.lit(1.0))
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        _r6(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
        ).alias("token_share"),
        _r6(weight).alias("weight"),
    )


# ------------------------------------------------------------------
# Span-sequence integrity audit + repair (extraction QA)
# ------------------------------------------------------------------

# The lake contract for interleaved documents (north star): spans is
# an array<struct<kind,text,media_ref,offset>> where kind comes from
# this closed set, media spans carry a media_ref and text/table spans
# don't, and offsets are exactly the permutation {0..n-1} (storage
# order is deliberately scrambled — order is CLAIMED by offset, never
# by array position). This operator is the ingest-time QA gate a
# 10^12-document lake runs before trusting that contract.
TEXT_KINDS = ("text", "table")
US = "\x1f"  # field separator inside one span's identity string
RS = "\x1e"  # span separator in the repaired-sequence digest


def _span_key(s) -> "F.Column":
    """Content identity of one span — the ORDER-FREE tie-break for
    duplicate offsets (storage order is scrambled, so 'first in the
    array' is meaningless; lowest content-md5 is deterministic in
    both engines and independent of physical order)."""
    return F.md5(F.concat_ws(US, s["kind"], s["text"], s["media_ref"]))


def span_integrity(spansified: DataFrame) -> DataFrame:
    """Per-document span-sequence audit and repair over the stored
    (scrambled) spans array: count contract violations, then repair —
    drop invalid spans, keep one span per duplicate offset (lowest
    content-md5), order by offset — and emit the repaired sequence's
    digest plus a completeness flag (surviving offsets are exactly
    0..k-1, i.e. no gaps).

    Violation classes:
      n_bad_kind — kind outside TEXT_KINDS ∪ MEDIA_KINDS;
      n_ref_bad  — media span with empty media_ref, or text/table
                   span carrying one;
      n_dup      — valid spans dropped as duplicate-offset losers.

    Shape at scale: everything is IN-ARRAY (filter / array_sort /
    index-lambda adjacent compare — all linear in spans-per-doc
    except the one O(s log s) sort): zero shuffle, zero Python, zero
    join; the audit rides the same scan that loads the lake. The
    repaired digest gives idempotence — rerunning on repaired output
    must yield ok=true with the same md5.
    """
    from blackedge_ocr_spark.constants import MEDIA_KINDS

    sp = F.col("spans")
    is_media = lambda s: s["kind"].isin(*MEDIA_KINDS)  # noqa: E731
    kind_ok = lambda s: s["kind"].isin(*(TEXT_KINDS + MEDIA_KINDS))  # noqa: E731
    ref_ok = lambda s: F.when(  # noqa: E731
        is_media(s), s["media_ref"] != ""
    ).otherwise(s["media_ref"] == "")

    n_bad_kind = F.size(F.filter(sp, lambda s: ~kind_ok(s)))
    n_ref_bad = F.size(F.filter(sp, lambda s: kind_ok(s) & ~ref_ok(s)))
    valid = F.filter(sp, lambda s: kind_ok(s) & ref_ok(s))
    # (offset, content-md5) sort key: lexicographic array_sort over
    # leading struct fields = ORDER BY offset, key in the oracle
    keyed = F.transform(
        valid,
        lambda s: F.struct(
            s["offset"].alias("offset"),
            _span_key(s).alias("key"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    staged = spansified.select(
        "doc_id",
        F.size(sp).alias("n_spans"),
        n_bad_kind.cast("long").alias("n_bad_kind"),
        n_ref_bad.cast("long").alias("n_ref_bad"),
        F.array_sort(keyed).alias("sorted"),
    )
    srt = F.col("sorted")
    # adjacent compare on the MATERIALIZED sorted attribute (linear;
    # element_at is 1-based so element_at(srt, i) is the predecessor
    # of the 0-based lambda index i)
    dedup = F.filter(
        srt,
        lambda s, i: (i == F.lit(0))
        | (s["offset"] != F.element_at(srt, i)["offset"]),
    )
    out = staged.select(
        "doc_id",
        "n_spans",
        "n_bad_kind",
        "n_ref_bad",
        (F.size(srt) - F.size(dedup)).cast("long").alias("n_dup"),
        F.size(dedup).cast("long").alias("n_kept"),
        dedup.alias("dedup"),
    )
    d = F.col("dedup")
    # vacuously complete when repair dropped everything (sequence
    # would otherwise zip a null pad element in)
    complete = F.when(F.size(d) == 0, F.lit(True)).otherwise(
        F.forall(
            F.zip_with(
                d,
                F.sequence(F.lit(0), F.greatest(F.size(d), F.lit(1)) - 1),
                lambda s, i: s["offset"] == i,
            ),
            lambda x: x,
        )
    )
    repaired_md5 = F.md5(
        F.array_join(
            F.transform(
                d, lambda s: F.concat_ws(US, s["kind"], s["text"], s["media_ref"])
            ),
            RS,
        )
    )
    ok = (
        (F.col("n_bad_kind") == 0)
        & (F.col("n_ref_bad") == 0)
        & (F.col("n_dup") == 0)
        & complete
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_bad_kind",
        "n_ref_bad",
        "n_dup",
        "n_kept",
        complete.alias("complete"),
        ok.alias("ok"),
        repaired_md5.alias("repaired_md5"),
    )


# ------------------------------------------------------------------
# Per-source distribution drift (unigram KL vs the corpus mixture)
# ------------------------------------------------------------------

# Nano-unit (1e9) fixed-point for per-term KL contributions: each
# p*ln(p/q) term is far below 1 nat, so micro units would quantize
# most of the vocabulary tail to 0; |contrib| < ~30 nats keeps the
# long sum under 2^63 for any vocabulary.
KL_UNIT = 1_000_000_000


def source_drift(docs: DataFrame) -> DataFrame:
    """Unigram-distribution drift per source stratum: KL(P_s || Q)
    where P_s is the source's term distribution and Q the whole
    corpus's — the mixture-monitoring number a curation job tracks
    per domain (a drifting source is re-weighted or re-crawled; see
    mixture_weights for the acting side).

    Exact arithmetic: every per-term contribution p*ln(p/q) is
    computed once on the O(sources x vocab) count table with the
    identical divide/ln/multiply op order in both engines, rounded
    to nano-units as a long, and summed exactly — a float sum would
    drift with partition order. Q's support contains every source
    term by construction (Q aggregates the same counts), so the log
    is always finite.

    Shape at scale: ONE corpus tokenize pass -> combinable
    (source, term) hash agg; the term-level Q table derives from
    that same O(S x V) table (no second corpus pass), the totals
    are broadcast scalars, and the final join + agg touch
    vocabulary-sized tables only. The corpus never shuffles.
    """
    from blackedge_ocr_spark.analysis.textstats import _r6

    st = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("n"))
        # O(sources x vocab) rows; feeds P_s, Q and both totals —
        # persist so the corpus is tokenized exactly once
        # (dup_ngram_stats discipline).
        .persist()
    )
    q = st.groupBy("term").agg(F.sum("n").alias("nq"))
    stot = st.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = st.agg(F.sum("n").alias("nt"))
    p_s = F.col("n").cast("double") / F.col("ns").cast("double")
    q_t = F.col("nq").cast("double") / F.col("nt").cast("double")
    contrib = F.floor(
        p_s * F.log(p_s / q_t) * KL_UNIT + F.lit(0.5)
    ).cast("long")
    joined = (
        st.join(q, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
    )
    return (
        joined.groupBy("source")
        .agg(
            F.max("ns").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_terms"),
            F.sum(contrib).alias("_kl"),
        )
        .select(
            "source",
            "n_tokens",
            "n_terms",
            _r6(F.col("_kl").cast("double") / F.lit(float(KL_UNIT))).alias(
                "kl_nats"
            ),
        )
    )
