"""BM25 retrieval and PMI collocation: values vs an independent
pure-Python mirror, plus the shape contracts (rank density, bounds).
"""

from __future__ import annotations

import math
import re

import pytest

from blackedge_ocr_spark.analysis import retrieval, textstats


def _py_tokens(text: str) -> list[str]:
    # mirror of functions.text.tokens over simple ascii inputs
    return re.findall(r"[a-z0-9]+", text.lower())


def _py_bm25(corpus: dict[int, str], queries: dict[int, list[str]], k1, b):
    post = {}
    for d, text in corpus.items():
        for t in _py_tokens(text):
            post.setdefault(d, {}).setdefault(t, 0)
            post[d][t] += 1
    dlen = {d: sum(tfs.values()) for d, tfs in post.items() if tfs}
    post = {d: tfs for d, tfs in post.items() if tfs}
    n = len(dlen)
    avg = sum(dlen.values()) / n
    out = {}
    for qid, terms in queries.items():
        for t in terms:
            df = sum(1 for tfs in post.values() if t in tfs)
            if df == 0:
                continue
            idf_u = math.floor(
                math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5
            )
            for d, tfs in post.items():
                if t not in tfs:
                    continue
                tf = tfs[t]
                denom = tf + k1 * (1 - b + b * dlen[d] / avg)
                part = math.floor(idf_u * (tf * (k1 + 1.0) / denom) + 0.5)
                out[(qid, d)] = out.get((qid, d), 0) + part
    return {kk: v / 1e6 for kk, v in out.items()}


def test_bm25_matches_python_mirror(spark):
    # query docs: doc_id % BM25_QRY_MOD == BM25_QRY_ADD → id 7 here.
    corpus = {
        7: "apple banana cherry",  # the query doc
        1: "apple apple apple apple",  # high tf, short
        2: "apple banana apple banana cherry date elder fig grape",
        3: "date elder fig",  # no query terms
        4: "cherry",  # single-token doc
    }
    d = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in retrieval.bm25_topk(d).collect()
    }
    want = _py_bm25(
        corpus,
        {7: sorted({"apple", "banana", "cherry"})[: retrieval.BM25_QRY_TERMS]},
        retrieval.BM25_K1,
        retrieval.BM25_B,
    )
    assert set(got) == set(want)  # doc 3 never scores
    for key, score in want.items():
        assert got[key][1] == score
    # ranks are dense 1..n ordered by score desc then doc_id
    ranked = sorted(got.values())
    assert [r for r, _ in ranked] == list(range(1, len(got) + 1))
    scores = [v[1] for _, v in sorted(got.items(), key=lambda kv: kv[1][0])]
    assert scores == sorted(scores, reverse=True)
    # the query doc matches all three terms: it must rank first
    assert got[(7, 7)][0] == 1


def test_bm25_no_queries_yields_empty(spark):
    d = spark.createDataFrame(
        [(1, "apple"), (2, "banana")], "doc_id long, text string"
    )
    assert retrieval.bm25_topk(d).count() == 0


def test_cooccur_pmi_counts_and_values(spark):
    # w=2 forward pairs of "a b c a b": (a,b)x2 (a,c) (b,c) (b,a)
    # (c,a) (c,b) — 7 pairs total; unigrams a:2 b:2 c:1, 5 tokens.
    d = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    rows = textstats.cooccur_pmi(d, w=2, min_pair=1, k=100).collect()
    got = {(r["term_a"], r["term_b"]): (r["n_pair"], r["pmi"]) for r in rows}
    counts = {
        ("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1,
        ("b", "a"): 1, ("c", "a"): 1, ("c", "b"): 1,
    }
    assert {k: v[0] for k, v in got.items()} == counts
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    for (a, b), n in counts.items():
        uni = {"a": 2, "b": 2, "c": 1}
        want = r6(math.log((n / 7) / ((uni[a] / 5) * (uni[b] / 5))))
        assert got[(a, b)][1] == want, (a, b)


def test_cooccur_pmi_min_pair_and_topk_bound(spark):
    d = spark.createDataFrame(
        [(i, "x y x y z q") for i in range(10)], "doc_id long, text string"
    )
    rows = textstats.cooccur_pmi(d, w=1, min_pair=10, k=2).collect()
    # adjacent pairs per doc: (x,y) (y,x) (x,y) (y,z) (z,q) → x10 docs
    # min_pair=10 keeps all five kinds; k=2 keeps the top two by
    # count desc then (a, b) asc → (x,y) n=20, then (y,x) n=10
    got = [(r["term_a"], r["term_b"], r["n_pair"]) for r in rows]
    assert sorted(got) == [("x", "y", 20), ("y", "x", 10)]


def test_cooccur_and_bm25_random_parity(spark):
    # Randomized ascii word-soup corpus vs the pure-Python mirrors —
    # pins the windowed pair generation and the postings/df/idf
    # arithmetic on larger, unstructured input (the adversarial
    # unicode tokenizer edge cases live in test_random_parity).
    import random
    from collections import Counter

    rng = random.Random(20260819)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    corpus = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for i in range(120)
    }
    d = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )

    # --- cooccur_pmi ---
    w, min_pair, k = 2, 3, 25
    pair_c, uni_c = Counter(), Counter()
    for text in corpus.values():
        toks = _py_tokens(text)
        uni_c.update(toks)
        for i, t in enumerate(toks):
            for u in toks[i + 1 : i + 1 + w]:
                pair_c[(t, u)] += 1
    np_, nt = sum(pair_c.values()), sum(uni_c.values())
    sel = sorted(
        (p for p in pair_c.items() if p[1] >= min_pair),
        key=lambda kv: (-kv[1], kv[0]),
    )[:k]
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    want = {
        (a, b): (n, r6(math.log((n / np_) / ((uni_c[a] / nt) * (uni_c[b] / nt)))))
        for (a, b), n in sel
    }
    got = {
        (r["term_a"], r["term_b"]): (r["n_pair"], r["pmi"])
        for r in textstats.cooccur_pmi(d, w=w, min_pair=min_pair, k=k).collect()
    }
    assert got == want

    # --- bm25_topk: scores match for every emitted (query, doc) ---
    queries = {
        i: sorted(
            {t for t in _py_tokens(text) if len(t) >= 3}
        )[: retrieval.BM25_QRY_TERMS]
        for i, text in corpus.items()
        if i % retrieval.BM25_QRY_MOD == retrieval.BM25_QRY_ADD
    }
    want_scores = _py_bm25(
        corpus, queries, retrieval.BM25_K1, retrieval.BM25_B
    )
    rows = retrieval.bm25_topk(d).collect()
    assert rows, "query docs exist by construction"
    for r in rows:
        assert r["score"] == want_scores[(r["query_id"], r["doc_id"])]
    # per-query: emitted set = top-k of the mirror with the same
    # (score desc, doc_id asc) tie-break
    by_q = {}
    for (qid, doc), s in want_scores.items():
        by_q.setdefault(qid, []).append((-s, doc))
    for qid, lst in by_q.items():
        topk = [doc for _, doc in sorted(lst)[: retrieval.BM25_TOP_K]]
        got_docs = [
            r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        assert got_docs == topk, qid


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bm25_src(spark, tmp_path_factory):
    """(docs, fixture query table, postings-index path) at sf0.001; the
    index is built in 4 loop groups so every index-source test also
    covers the bounded-scratch build."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path_factory.mktemp("bm25") / "ix")
    retrieval.write_postings_index(d, path, loop_groups=4)
    return d, retrieval.query_set(d), path


def _want_topk(d, q):
    """The pure-Python mirror's (query_id, doc_id, rank, score) top-k."""
    corpus = {r["doc_id"]: r["text"] for r in d.collect()}
    queries = {}
    for r in q.collect():
        queries.setdefault(r["query_id"], []).append(r["term"])
    scores = _py_bm25(corpus, queries, retrieval.BM25_K1, retrieval.BM25_B)
    by_q = {}
    for (qid, doc), sc in scores.items():
        by_q.setdefault(qid, []).append((-sc, doc))
    return sorted(
        (qid, doc, rank, -neg)
        for qid, lst in by_q.items()
        for rank, (neg, doc) in enumerate(sorted(lst)[: retrieval.BM25_TOP_K], 1)
    )


@pytest.mark.parametrize(
    "source,ranges", [("corpus", 1), ("corpus", 3), ("index", 1), ("index", 3)]
)
def test_bm25_entry_point_matches_mirror(spark, bm25_src, source, ranges):
    """bm25_topk over either source (the corpus, or a write_postings_index
    table) and any query-range count returns the same rows as the
    pure-Python mirror — queries are independent in BM25, so splitting
    them into ranges changes nothing."""
    d, q, path = bm25_src
    src = d if source == "corpus" else path
    got = sorted(
        map(tuple, retrieval.bm25_topk(src, queries=q, query_ranges=ranges).collect())
    )
    assert got == _want_topk(d, q) and len(got) > 0


def test_postings_index_loop_build_equals_one_pass(spark, bm25_src, tmp_path):
    """write_postings_index(loop_groups>1) writes exactly the postings
    of the one-pass build."""
    d, _q, path = bm25_src
    one = str(tmp_path / "one")
    retrieval.write_postings_index(d, one)
    for table in ("postings", "doclens"):
        a = sorted(map(tuple, spark.read.parquet(f"{one}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{path}/{table}").collect()))
        assert a == b and len(a) > 0, table


def test_bm25_index_scan_prunes_shards(spark, bm25_src):
    """With a single-term query the per-range scorer's postings scan
    touches exactly the one shard owning that term: the shard filter
    appears as a PartitionFilter in the scan node (same proof shape as
    the IVF index pruning test)."""
    import pyspark.sql.functions as F

    from blackedge_ocr_spark import plans

    _d, q, path = bm25_src
    one = q.limit(1)
    term = one.collect()[0]["term"]
    owned = spark.createDataFrame([(term,)], "term string").select(
        retrieval._term_shard(F.col("term")).alias("s")
    ).collect()[0]["s"]
    top, held = retrieval._bm25_range(path, one, retrieval.BM25_TOP_K)
    try:
        fp = plans.formatted_plan(top)
    finally:
        held.unpersist()
    assert "PartitionFilters" in fp
    assert re.search(rf"shard#\d+ IN \({owned}\)", fp) or re.search(
        rf"shard#\d+ = {owned}", fp
    ), fp[:4000]


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return int(fld.get(cm).size())


def test_bm25_leaves_only_callers_cache(spark, bm25_src):
    """bm25_topk releases everything it stages and leaves the caller's
    cached frames alone, over both sources and any range count."""
    d, q, path = bm25_src
    spark.catalog.clearCache()  # start from frames earlier tests left
    marker = spark.range(7).persist()
    marker.count()
    try:
        for src in (d, path):
            for ranges in (1, 3):
                retrieval.bm25_topk(src, queries=q, query_ranges=ranges).collect()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert _cache_entries(spark) == 1
        assert cm.lookupCachedData(marker._jdf).isDefined()
    finally:
        marker.unpersist()


def test_bm25_empty_query_ranges(spark, bm25_src):
    """An empty query table, or more query ranges than queries, must not
    break the range loop: empty ranges contribute 0 rows and the result
    keeps the (query_id, doc_id, rank, score) schema."""
    import pyspark.sql.functions as F

    d, q, path = bm25_src
    cols = ["query_id", "doc_id", "rank", "score"]
    empty = spark.createDataFrame([], q.schema)
    qid = q.first()["query_id"]
    single = q.filter(F.col("query_id") == qid)
    for src in (d, path):
        for ranges in (1, 3):
            out = retrieval.bm25_topk(src, queries=empty, query_ranges=ranges)
            assert out.columns == cols and out.count() == 0
        out = retrieval.bm25_topk(src, queries=single, query_ranges=5)
        rows = out.collect()
        assert out.columns == cols
        assert sorted(map(tuple, rows)) == _want_topk(d, single) and rows
    with pytest.raises(ValueError):
        retrieval.bm25_topk(path)
