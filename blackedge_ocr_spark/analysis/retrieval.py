"""Corpus retrieval: BM25 scoring over an inverted posting table.

The search primitive a training-data pipeline uses for targeted
corpus mining (pull documents matching a topic query set) and for
retrieval-based decontamination audits. Re-expressed Spark-first:
postings are ONE combinable (doc_id, term) hash agg over the exploded
token stream; the query set and all per-term statistics (df, idf) are
broadcast; the corpus itself never shuffles on term. Reference
analog: the keyword scoring in
/root/reference/src/services/workflow_router.py:24-58 is the same
match-terms-against-text primitive, scaled from one request to a
corpus-wide ranked search.

Determinism discipline (shared with textstats.lm_scores /
term_doc_freq): ln once per term micro-unit-rounded on an O(terms)
table, per-(term, doc) partial scores micro-unit-rounded ONCE, then
exact long sums — order-free under any partitioning, identical in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blackedge_ocr_spark.functions.text import key_terms, tokens

# BM25 shape parameters (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
# Deterministic query synthesis: every doc with
# doc_id % BM25_QRY_MOD == BM25_QRY_ADD contributes a query made of
# its first BM25_QRY_TERMS sorted-distinct key terms (same derived-
# query-set trick as corpusops.decontaminate's benchmark split).
BM25_QRY_MOD = 50
BM25_QRY_ADD = 7
BM25_QRY_TERMS = 3
BM25_TOP_K = 5


def postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) inverted postings — one map-side-combinable
    hash agg over the exploded token stream. The exchange carries
    O(distinct (doc, term)) partial counts, never raw tokens."""
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def query_set(docs: DataFrame) -> DataFrame:
    """Deterministic (query_id, term) query table derived from the
    corpus — a 1/BM25_QRY_MOD sample, each contributing its first
    BM25_QRY_TERMS key terms. Tiny by construction: broadcasts."""
    sel = docs.filter(F.col("doc_id") % BM25_QRY_MOD == BM25_QRY_ADD)
    qterms = F.slice(key_terms(F.col("text")), 1, BM25_QRY_TERMS)
    return sel.select(
        F.col("doc_id").alias("query_id"), F.explode(qterms).alias("term")
    )


# Term-hash shard count of the on-disk postings index, shared by the
# build and the scorer so both always hash terms to the same
# ``shard=`` directories. 16 bounds per-shard state at sf100 (~500M
# postings / 16 ≈ 31M rows/shard) while keeping the scorer's
# partition-pruned scan coarse enough to batch well.
POSTINGS_SHARDS = 16


def _term_shard(term: Column) -> Column:
    """Owning shard of a term: pmod(xxhash64(term), POSTINGS_SHARDS).
    xxhash64 is seed-fixed in Spark, so the assignment is stable
    across runs, cluster layouts, and build/query sessions."""
    return F.pmod(F.xxhash64(term), F.lit(POSTINGS_SHARDS))


def _reclaim_shuffles(spark) -> None:
    """Drop dead Python refs and nudge the JVM so ContextCleaner
    reclaims the shuffle files of the action that just finished before
    the next one starts — what bounds peak scratch in the sequential
    loops of ``bm25_topk`` and ``write_postings_index``."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _corpus_matched(docs: DataFrame, q: DataFrame):
    """Corpus source: (matched (doc_id, term, tf), dlen (doc_id, len_d),
    the persisted frame both derive from).

    The full O(distinct (doc, term)) postings table is never
    materialized (round 5, the sf100 spill wall, BENCH/BASELINE.md
    note 3). The corpus is tokenized ONCE; each token maps to
    ``(doc_id, mterm)`` where mterm = the term if it is a query term
    (InSet literal over the collected query-term list) else NULL, and
    ONE whole-stage-codegen hash count over that pair collapses every
    unmatched token of a doc into a single NULL row. The exchange
    carries O(docs + matched (doc, term) pairs) partial counts — never
    the vocabulary — with full map-side combining (no collect_list:
    typed-imperative aggs fall back to sort-based aggregation past 128
    groups/task and were measured 2× slower here). Doc length = sum of
    the doc's counts; tf = the non-null rows. Docs with no tokens
    appear in neither."""
    qlist = [r["term"] for r in q.select("term").distinct().collect()]
    in_q = F.col("term").isin(qlist) if qlist else F.lit(False)
    base = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .select("doc_id", F.when(in_q, F.col("term")).alias("mterm"))
        .groupBy("doc_id", "mterm")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    dlen = base.groupBy("doc_id").agg(F.sum("c").alias("len_d"))
    matched = base.filter(F.col("mterm").isNotNull()).select(
        "doc_id", F.col("mterm").alias("term"), F.col("c").alias("tf")
    )
    return matched, dlen, base


def _index_matched(spark, path: str, q: DataFrame):
    """Index source (a ``write_postings_index`` table): same triple as
    ``_corpus_matched``. Only the shards owning a query term are read:
    their ids are computed Spark-side with the build's hash, collected
    as O(distinct query terms) ints and inlined as a literal IN, so the
    file-source planner prunes every other ``shard=`` directory."""
    base = path.rstrip("/")
    dlen = spark.read.parquet(f"{base}/doclens")
    q_shards = sorted(
        r["s"]
        for r in q.select(_term_shard(F.col("term")).alias("s"))
        .distinct()
        .collect()
    )
    post = spark.read.parquet(f"{base}/postings").filter(
        F.col("shard").isin(q_shards)
    )
    held = post.join(
        F.broadcast(q.select("term").distinct()), "term", "left_semi"
    ).persist()
    return held.select("doc_id", "term", "tf"), dlen, held


def _bm25_range(docs, q: DataFrame, k: int):
    """Lazy top-``k`` (query_id, doc_id, rank, score) for the query
    table ``q`` over either source, plus the persisted frame it stages
    (the caller releases it after its one action).

    Determinism: idf is micro-unit-rounded once per term (O(query
    terms) rows); each (term, doc) partial score is micro-unit-
    rounded once; per-(query, doc) totals are exact long sums —
    order-free, engine-identical. The tf-normalization ratio is pure
    IEEE arithmetic over exact integers (tf, len_d) and the one
    shared avg_len double, written identically in the DuckDB oracle.
    df is counted over the PRUNED postings: a term's df is identical
    either way, since postings hold every doc containing it."""
    if isinstance(docs, str):
        matched, dlen, held = _index_matched(q.sparkSession, docs, q)
    else:
        matched, dlen, held = _corpus_matched(docs, q)
    n_avg = F.broadcast(
        dlen.agg(
            F.count("*").alias("n_docs"),
            (
                F.sum("len_d").cast("double")
                / F.count("*").cast("double")
            ).alias("avg_len"),
        )
    )
    idf_micro = F.floor(
        F.log(
            (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1.0
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    idf = F.broadcast(
        matched.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(n_avg)
        .select("term", idf_micro.alias("idf_u"), "avg_len")
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("len_d").cast("double") / F.col("avg_len")
    )
    part_u = F.floor(
        F.col("idf_u").cast("double") * (tf_d * (BM25_K1 + 1.0) / denom)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        matched.join(dlen, "doc_id")
        .join(idf, "term")
        .join(F.broadcast(q), "term")
        .select("query_id", "doc_id", part_u.alias("part_u"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part_u").alias("s_u"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s_u").desc(), F.col("doc_id")
    )
    top = scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(w).alias("rank"),
        (F.col("s_u").cast("double") / 1e6).alias("score"),
    ).filter(F.col("rank") <= k)
    return top, held


def bm25_topk(
    docs,
    k: int = BM25_TOP_K,
    queries: DataFrame | None = None,
    query_ranges: int = 1,
) -> DataFrame:
    """Top-``k`` documents per query by BM25:

        score(q, d) = sum_t idf(t) * tf * (k1+1)
                              / (tf + k1 * (1 - b + b * len_d/avg_len))
        idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)

    Output: (query_id, doc_id, rank, score) — rank 1-based by score
    desc, doc_id asc; score is the exact long micro-unit sum / 1e6.

    ``docs``: the corpus (doc_id, text) DataFrame, or the path of a
    ``write_postings_index`` table — the repeated-query serving shape,
    where the corpus was tokenized once at build time and each query
    workload pays only a partition-pruned scan of the shards owning
    its terms. Both sources give identical rows (pytest parity).

    ``queries``: an external (query_id, term) table — the serving
    shape, where |Q| is FIXED and independent of the corpus. The
    default (None, corpus source only) derives the contract fixture
    from the corpus itself (1/mod sample), which makes |Q| grow WITH
    n: on a replicated corpus the matched-postings volume then grows
    as |Q|·docs-per-term ≈ K² (round-4 growth table,
    BENCH/BASELINE.md).

    Shape at scale: everything query-side is broadcast (the query
    term set, df/idf); the per-(query, doc) agg and per-query top-k
    window run over matched rows only, so a 100 TB corpus with a
    1k-term query set moves only its matching postings through the
    last two exchanges.

    ``query_ranges``: score that many disjoint query ranges
    (pmod(xxhash64(query_id))) one after another, each as its own
    Spark action. Every range collects its O(|range|·k) top-k rows on
    the driver and releases its staged frame before the next begins,
    so ContextCleaner reclaims that range's shuffle files and peak
    scratch is ~1/query_ranges of the single action. Queries are
    independent in BM25 — df/idf/avg_len depend only on the corpus
    and the term — so the result does not depend on the range count.
    At high match density the scoring tail materializes O(Σ_q |docs
    matching q|) pairs (~10⁹ at sf100 with 1000 dense queries), which
    needs more scratch than one box has (measured ENOSPC at ~76 GB);
    on a cluster that volume spreads over executors and 1 is right.

    Nothing is left behind: the returned frame holds only the
    collected top-k rows, and every staged persist is released."""
    if query_ranges < 1:
        raise ValueError(f"query_ranges must be >= 1, got {query_ranges}")
    if isinstance(docs, str):
        if queries is None:
            raise ValueError("an index source needs an explicit queries table")
        spark = queries.sparkSession
    else:
        spark = docs.sparkSession
    q = query_set(docs) if queries is None else queries
    in_range = F.pmod(F.xxhash64(F.col("query_id")), F.lit(query_ranges))
    rows, schema = [], None
    for r in range(query_ranges):
        top, held = _bm25_range(
            docs, q if query_ranges == 1 else q.filter(in_range == r), k
        )
        schema = top.schema
        try:
            rows += top.collect()
        finally:
            held.unpersist()
        if query_ranges > 1:
            del top, held
            _reclaim_shuffles(spark)
    return spark.createDataFrame(rows, schema)


def write_postings_index(
    docs: DataFrame, path: str, loop_groups: int = 1
) -> None:
    """Materialize the inverted index the way a production search
    stack stores it: the postings table parquet-partitioned by
    ``shard=pmod(xxhash64(term), POSTINGS_SHARDS)`` plus the
    doc-length table alongside. ``bm25_topk(path, queries=...)``
    scores against it.

    Scale shape: ONE exploded-token pass; the (doc, term) agg's
    exchange hash-partitions partials across the cluster with
    map-side combine, and each reduce task streams its rows straight
    into at most POSTINGS_SHARDS open parquet writers — no persist,
    no O(vocabulary) state held anywhere; shuffle spill is
    disk-native. Doc lengths reduce from a second narrow projection
    (``size(tokens)``, no explode through a shuffle).

    ``loop_groups``: split the build into that many sequential
    ACTIONS, each aggregating and writing only the term shards it
    owns. The one-pass build shuffles every distinct (doc, term) pair
    at once — ~10⁹ rows at sf100, measured ENOSPC against a ~76 GB
    scratch disk — while the loop caps in-flight shuffle at
    ~1/loop_groups for loop_groups extra tokenize passes (~3 s per
    500k docs each). On a cluster, scratch scales with executors and
    loop_groups=1 is right."""
    base = path.rstrip("/")
    sharded = postings(docs).withColumn("shard", _term_shard(F.col("term")))
    if loop_groups <= 1:
        sharded.write.mode("overwrite").partitionBy("shard").parquet(
            f"{base}/postings"
        )
    else:
        for g in range(loop_groups):
            (
                sharded.filter(F.col("shard") % loop_groups == g)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
                .parquet(f"{base}/postings")
            )
            _reclaim_shuffles(docs.sparkSession)
    (
        docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("len_d")
        )
        .filter(F.col("len_d") > 0)
        .write.mode("overwrite")
        .parquet(f"{base}/doclens")
    )
