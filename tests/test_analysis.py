"""Tests for the training-data pipeline operators (analysis/)."""

import hashlib

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup_finds_injected_duplicates(spark, docs):
    from blackedge_ocr_spark.analysis import dedup

    corpus = dedup.with_dup_injection(docs.select("doc_id", "text"))
    groups = dedup.exact_duplicates(corpus)
    dup_groups = groups.filter(F.col("n_docs") >= 2)
    n_injected = docs.filter(F.col("doc_id") % 10 == 0).count()
    # every injected copy forms a group of exactly 2, keeper = original
    assert dup_groups.count() == n_injected
    assert dup_groups.filter(F.col("n_docs") != 2).count() == 0
    assert dup_groups.filter(F.col("keep_doc_id") >= dedup.DUP_ID_OFFSET).count() == 0


def test_lsh_pairs_recover_injected_duplicates(spark, docs):
    from blackedge_ocr_spark.analysis import dedup

    corpus = dedup.with_dup_injection(docs.select("doc_id", "text"))
    pairs = dedup.lsh_candidate_pairs(corpus).collect()
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    injected = [r["doc_id"] for r in
                docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect()]
    for d in injected:
        assert found.get((d, d + dedup.DUP_ID_OFFSET)) == 1.0, f"missing dup pair for {d}"


def test_minhash_arrow_matches_jvm(spark, docs):
    """The Arrow fast path (_minhash_sig_arrow) must be bit-identical
    to the engine-portable JVM composition it replaces in the hot
    path, including the empty-document edge ([None]*k vs null-per-
    window)."""
    from blackedge_ocr_spark.analysis import dedup

    corpus = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([(998877, "")], ["doc_id", "text"])
    )
    staged = corpus.select(
        "doc_id", dedup.word_shingles(F.col("text")).alias("shingles")
    )
    both = staged.select(
        "doc_id",
        dedup.minhash_signature(
            dedup.shingle_hashes(F.col("shingles"))
        ).alias("jvm"),
        dedup.minhash_signature_arrow(F.col("shingles")).alias("arrow"),
    )
    diff = both.filter(
        ~(
            (F.col("jvm").isNull() & F.col("arrow").isNull())
            | (F.col("jvm") == F.col("arrow"))
            # element-wise null-safe compare: == is null if any
            # element is null, so fall back to zip_with
            | F.forall(
                F.zip_with(
                    "jvm", "arrow", lambda a, b: a.eqNullSafe(b)
                ),
                lambda x: x,
            )
        )
    )
    assert diff.count() == 0


def test_simhash_matches_python_oracle(spark, docs):
    """Bit-for-bit parity of the Arrow UDF against a direct Python
    recompute on the same token stream."""
    import numpy as np

    from blackedge_ocr_spark.analysis import dedup
    from blackedge_ocr_spark.functions.text import tokens

    sample = (
        docs.limit(5)
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .collect()
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs.limit(5)).collect()
    }
    for row in sample:
        sums = np.zeros(64, dtype=int)
        for t in row["toks"]:
            v = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            for b in range(64):
                bit = (v >> (63 - b)) & 1
                sums[b] += 1 if bit else -1
        expected = "".join("1" if s > 0 else "0" for s in sums)
        assert got[row["doc_id"]] == expected


def test_ann_topk_shape(spark):
    from blackedge_ocr_spark.analysis import ann

    rows = ann.brute_force_topk(spark, SF, k=5).collect()
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["q_id"]
        assert -1.0 <= r["cos"] <= 1.0
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        ordered = sorted(rs, key=lambda r: r["rank"])
        cos = [r["cos"] for r in ordered]
        assert cos == sorted(cos, reverse=True)


def test_lang_id_and_quality(spark, docs):
    from blackedge_ocr_spark.analysis import textstats

    langs = textstats.language_id(docs).collect()
    assert {r["predicted_lang"] for r in langs} <= {"en", "de", "es", "fr", "und"}
    q = textstats.quality_scores(docs).collect()
    for r in q:
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_words"] > 0


def test_fingerprint_deterministic_and_shift_sensitive(spark, docs):
    from blackedge_ocr_spark.analysis import textstats

    a = {r["doc_id"]: r["fingerprint"]
         for r in textstats.fingerprints(docs.limit(20)).collect()}
    b = {r["doc_id"]: r["fingerprint"]
         for r in textstats.fingerprints(docs.limit(20)).collect()}
    assert a == b
    assert all(len(v) == 32 for v in a.values())


def test_kmeans_centroids_match_numpy_reference(spark):
    """The distributed Lloyd implementation must agree BIT-FOR-BIT
    with an independent sequential numpy implementation of the same
    spec (quantize → first-max cosine assign → exact-int mean). This
    is the property that lets the DuckDB oracle unroll it in SQL, and
    what makes index builds reproducible across cluster layouts."""
    import numpy as np

    from blackedge_ocr_spark.analysis import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb], dtype=np.int64)
    V = np.array([r["embedding"] for r in emb], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    Q = np.floor(V * 1e6 + 0.5).astype(np.int64)

    def cos_fold(a, b):
        # sequential per-dimension fold, same order as ann.cosine
        d = na = nb = 0.0
        for j in range(len(a)):
            d += a[j] * b[j]
            na += a[j] * a[j]
            nb += b[j] * b[j]
        den = np.sqrt(na) * np.sqrt(nb)
        return 0.0 if den == 0 else d / den

    cents = {int(i): V[n] for n, i in enumerate(ids) if i % ann.CENTROID_EVERY == 0}
    for _ in range(ann.KMEANS_ITERS):
        sums, counts = {}, {}
        ckeys = sorted(cents)
        for n in range(len(ids)):
            if ids[n] % ann.TRAIN_EVERY:  # sampled training set only
                continue
            sims = [cos_fold(V[n], cents[c]) for c in ckeys]
            best = ckeys[int(np.argmax(sims))]  # first max, like array_position
            sums[best] = sums.get(best, np.zeros(Q.shape[1], np.int64)) + Q[n]
            counts[best] = counts.get(best, 0) + 1
        cents = {
            c: sums[c].astype(np.float64) / (float(counts[c]) * 1e6)
            for c in sums
        }

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # BOTH engines behind the dispatcher must match the independent
    # scalar reference — the cutover is a cost choice, never a result
    # choice.
    for impl in (ann._kmeans_local, ann._kmeans_distributed):
        got = {
            r["cid"]: r["cv"]
            for r in impl(
                corpus, ann.KMEANS_ITERS, ann.CENTROID_EVERY, ann.TRAIN_EVERY
            ).collect()
        }
        assert set(got) == set(cents), impl.__name__
        for c in cents:
            assert got[c] == list(cents[c]), f"{impl.__name__}: {c} diverged"


def test_ivf_kmeans_neighbors_exactly_scored(spark):
    """Trained-IVF results carry exact cosines (spot-check vs the
    brute-force score map) and per-query dense ranks."""
    from blackedge_ocr_spark.analysis import ann

    exact = {
        (r["q_id"], r["neighbor_id"]): r["cos"]
        for r in ann.brute_force_topk(spark, SF, k=1000000).collect()
    }
    approx = ann.ivf_kmeans_topk(spark, SF, k=5).collect()
    assert approx, "ivf_kmeans returned nothing"
    by_q = {}
    for r in approx:
        assert exact[(r["q_id"], r["neighbor_id"])] == r["cos"]
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_monster_bucket_capped(spark):
    """Adversarial duplicate mega-cluster: 300 bit-identical docs land
    in ONE bucket per band. Uncapped that is C(300,2) = 44,850 pairs
    from a single group row; with bucket_cap=16:

    - **intra-cap no-false-negatives**: ALL C(16,2) = 120 pairs among
      the bucket's 16 lowest ids are enumerated — the cap never drops
      a pair whose BOTH members are within the kept head;
    - **star tail**: each of the 284 beyond-cap members pairs with
      the bucket head (doc 0) exactly once — linear, and it keeps
      every member connected to the head for duplicate-CLUSTER
      assembly (union-find reaches the whole cluster).

    Total 404 pairs: O(cap² + m) per bucket regardless of cluster
    size, with full cluster connectivity."""
    from blackedge_ocr_spark.analysis import dedup

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").alias("text"),
    )
    pairs = dedup.lsh_candidate_pairs(docs, bucket_cap=16).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    intra = {p for p in got if p[1] < 16}
    want_intra = {(a, b) for a in range(16) for b in range(a + 1, 16)}
    assert intra == want_intra  # no intra-cap false negatives
    star = got - intra
    assert star == {(0, b) for b in range(16, 300)}
    assert all(r["jaccard"] == 1.0 for r in pairs)
    # connectivity: every doc appears in >=1 verified pair
    members = {d for p in got for d in p}
    assert members == set(range(300))


def test_centroid_stride_matches_duckdb_rule():
    """The adaptive IVF stride (C capped at ~4·sqrt(n)) must compute
    bit-identically in the Python driver and the oracle's SQL
    (STRIDE_SQL) — same floor-over-double-division, so ann_ivf_*
    queries and their oracles pick the SAME centroid set at ANY
    corpus size, not just the sf where both sit on the 37 floor."""
    import duckdb

    from blackedge_ocr_spark.analysis.ann import centroid_stride

    ns = (
        list(range(1, 2000, 7))
        + [10 ** k for k in range(2, 15)]
        # greatest() flip points — the rule is NON-monotonic around
        # isqrt boundaries: first reaches 38 at n = 600·38 = 22800
        # (isqrt 150), drops back to 37 at 22801 (isqrt becomes 151,
        # denominator 604), rises again at 604·38 = 22952
        + [22800 + i for i in range(-3, 4)]
        + [22952 + i for i in range(-6, 7)]
        + [500, 2000, 20000, 35000, 200000, 2 ** 53 - 1]
    )
    rows = duckdb.sql(
        "SELECT n, greatest(37, CAST(floor(n / (4 * floor(sqrt(n)))) "
        "AS BIGINT)) AS s FROM (SELECT unnest(?) AS n)",
        params=[ns],
    ).fetchall()
    assert rows and all(centroid_stride(n) == s for n, s in rows)
    # the contract corpora all sit on the floor: results unchanged
    assert centroid_stride(500) == centroid_stride(20000) == 37
    # the non-monotonic flip region, both isqrt-boundary edges
    assert centroid_stride(22799) == 37
    assert centroid_stride(22800) == 38
    assert centroid_stride(22801) == 37
    assert centroid_stride(22951) == 37
    assert centroid_stride(22952) == 38
    # past the crossover C stays O(sqrt(n))
    assert centroid_stride(200000) == 111


def test_production_pairs_equal_naive_pairs_between_keepers(spark, docs):
    """exact-dedup → LSH must lose NO near-dup information about the
    surviving representatives: its pair set equals the naive full-
    corpus LSH pair set restricted to keeper doc_ids (no bucket here
    exceeds the cap, so candidate generation is identical per doc)."""
    from blackedge_ocr_spark.analysis import dedup

    corpus = dedup.with_dup_injection(docs.select("doc_id", "text"))
    keepers = {
        r["keep_doc_id"]
        for r in dedup.exact_duplicates(corpus).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.lsh_candidate_pairs(corpus).collect()
    }
    prod = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.production_pairs(corpus).collect()
    }
    expected = {
        p: j for p, j in naive.items()
        if p[0] in keepers and p[1] in keepers
    }
    assert prod == expected
    # and the injected exact-duplicate pairs are exactly what it drops
    assert all(p not in prod for p in naive if p[1] - p[0] == dedup.DUP_ID_OFFSET)


def test_pairwise_cosine_null_and_ragged_rows_yield_null(spark):
    """pairwise_cosine must mirror the JVM expression on degenerate
    rows — NULL vector or length mismatch → NULL cos, never a task
    failure — while healthy rows in the same batch keep the exact
    block-kernel value."""
    from blackedge_ocr_spark.analysis import ann

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),   # exact match → 1.0
            (2, None, [1.0, 0.0]),          # null side → NULL
            (3, [1.0, 0.0], [1.0]),         # ragged → NULL (zip_with pad)
            (4, [0.0, 0.0], [0.0, 0.0]),    # zero norms → 0.0 guard
            # ragged with a zero-norm side: the JVM na·nb==0 guard
            # runs on SELF-dots (no zip), so it fires BEFORE the
            # null-padded cross dot → 0.0, not NULL
            (5, [0.0, 0.0], [1.0]),
            (6, [2.0, 0.0], [0.0]),
        ],
        "id long, va array<double>, vb array<double>",
    )
    got = {
        r["id"]: r["cos"]
        for r in ann.pairwise_cosine(df, "va", "vb", keep=["id"]).collect()
    }
    jvm = {
        r["id"]: r["cos"]
        for r in df.select(
            "id", ann.cosine(F.col("va"), F.col("vb")).alias("cos")
        ).collect()
    }
    assert got == jvm == {1: 1.0, 2: None, 3: None, 4: 0.0, 5: 0.0, 6: 0.0}


def test_neardup_bucketed_recovers_injected_and_is_subquadratic(spark):
    """The banded near-dup (scale path) must (a) deterministically
    recover planted EXACT duplicates — identical vectors project to
    identical sign-buckets in every band, so the pair is a candidate
    with probability 1, not 1-(1-p^P)^B — (b) emit only exactly-
    verified cosines (is_neardup ⇔ cos >= threshold), and (c) score
    far fewer pairs than the n² cross join."""
    from blackedge_ocr_spark.analysis import ann

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    dups = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    corpus = e.unionByName(dups)
    pairs = ann.neardup_bucket_pairs_df(corpus, threshold=0.9).collect()

    found = {(r["vec_id_a"], r["vec_id_b"]): r for r in pairs}
    for r in e.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect():
        key = (r["vec_id"], r["vec_id"] + 1_000_000)
        assert key in found, f"planted duplicate pair {key} not a candidate"
        assert found[key]["cos"] == 1.0
        assert found[key]["is_neardup"]

    for r in pairs:
        assert r["is_neardup"] == (r["cos"] >= 0.9)

    n = corpus.count()
    assert len(pairs) < 0.5 * n * (n - 1) / 2, "candidate set ~quadratic"


def test_neardup_recall_found_bounded_by_truth(spark):
    """recall ∈ [0,1] (or NULL when the sample has no true pairs) and
    found <= true by the subset-by-construction property."""
    from blackedge_ocr_spark.analysis import ann

    row = ann.neardup_recall(
        spark, SF, threshold=0.2, sample_every=5
    ).collect()[0]
    assert row["found_pairs"] <= row["true_pairs"]
    if row["true_pairs"] == 0:
        assert row["recall"] is None
    else:
        assert 0.0 <= row["recall"] <= 1.0


def test_neardup_bucket_cap_fires_exactly_like_oracle(spark, tmp_path):
    """Mirror-swamped bucket: 300 identical vectors land in ONE bucket
    per band, above the 256 cap — enumeration must keep exactly the
    lowest 256 ids fully paired (C(256,2)) PLUS one star pair
    (head, member) for each beyond-cap member (round-4 star tail:
    linear, keeps cluster connectivity), and the DuckDB oracle's
    windowed row_number form must produce the identical pair set on
    the same parquet."""
    import duckdb

    from blackedge_ocr_spark.analysis import ann
    from blackedge_ocr_spark.sqloracle import sql_embedding_neardup_lsh

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    rows = [(i, base) for i in range(300)]
    # plus a lone distinct vector that shares no bucket duplicates
    rows.append((9_000, [float(-x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    corpus = df.select("vec_id", F.col("embedding").alias("v"))
    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in ann.neardup_bucket_pairs_df(corpus, threshold=0.9).collect()
    }
    expect = {(a, b) for a in range(256) for b in range(a + 1, 256)}
    expect |= {(0, b) for b in range(256, 300)}  # star tail to the head
    assert got == expect

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    oracle = {
        (a, b)
        for a, b, _cos, _nd in con.execute(
            sql_embedding_neardup_lsh(threshold=0.9)
        ).fetchall()
    }
    assert oracle == expect


def test_ann_recall_reports_every_method_even_with_zero_hits(spark):
    """The recall audit must emit one row per approximate method —
    a method whose probed lists hold no true neighbors shows recall
    0.0, it does not vanish from the report (previously the groupBy
    after the semi-join dropped zero-hit groups)."""
    from blackedge_ocr_spark.analysis import ann

    rows = ann.recall_vs_exact(spark, SF).collect()
    assert {r["method"] for r in rows} == {"ivf_kmeans", "ivfpq"}
    for r in rows:
        assert 0 <= r["hits"] <= r["n_queries"] * 5
        assert 0.0 <= r["recall"] <= 1.0


def test_ann_recall_trains_the_coarse_quantizer_once(spark, monkeypatch):
    """Both searches of the recall audit probe one coarse quantizer,
    trained by ONE ``kmeans_centroids`` call (IVF-PQ's residual
    codebooks, trained per subspace in ``_train_books``, are not
    coarse training)."""
    import sys

    from blackedge_ocr_spark.analysis import ann

    coarse = []
    train = ann.kmeans_centroids

    def counted(*args, **kwargs):
        if sys._getframe(1).f_code.co_name != "_train_books":
            coarse.append(args)
        return train(*args, **kwargs)

    monkeypatch.setattr(ann, "kmeans_centroids", counted)
    ann.recall_vs_exact(spark, SF)
    assert len(coarse) == 1


def test_prefix_topk_snapshots_equal_standalone_scans(spark):
    """The one-pass Matryoshka kernel's per-cut results must be
    bit-identical to standalone scans: full-dim rows == the plain
    brute force, and each truncated cut == a brute-force scan of the
    sliced vectors (the ``dims`` knob) — proving the mid-accumulation
    snapshot is the same partial sum as folding the slice."""
    from blackedge_ocr_spark.analysis import ann

    pt = ann.prefix_topk(spark, SF, cuts=(8, 32)).collect()
    by_cut = {}
    for r in pt:
        key = "full" if r["is_full"] else r["dims"]
        by_cut.setdefault(key, set()).add(
            (r["q_id"], r["rank"], r["neighbor_id"], r["cos"])
        )
    full = {
        (r["q_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in ann.brute_force_topk(spark, SF).collect()
    }
    assert by_cut["full"] == full
    for c in (8, 32):
        sliced = {
            (r["q_id"], r["rank"], r["neighbor_id"], r["cos"])
            for r in ann.brute_force_topk(spark, SF, dims=c).collect()
        }
        assert by_cut[c] == sliced


def test_served_queries_see_every_corpus_vector(spark, tmp_path):
    """Served (external) query ids must never equal a corpus vec_id:
    self-exclusion drops ``vec_id == q_id``, so a collision silently
    removes a real neighbour. The corpus holds vec_id 1,000,000 (an
    sf30 corpus has 1.5M vectors); with k = corpus size every served
    query must rank every corpus vector."""
    from blackedge_ocr_spark.analysis import ann

    ids = [0, 1, 2, 999_999, 1_000_000, 1_000_001, 1_000_007]
    corpus = spark.createDataFrame(
        [(v, [float((v + j) % 5 - 2) for j in range(64)]) for v in ids],
        "vec_id long, embedding array<float>",
    )
    sf = str(tmp_path / "sf")
    corpus.write.parquet(f"{sf}/embeddings.parquet")
    rows = ann.brute_force_topk(
        spark, sf, k=len(ids), queries=ann.served_query_set(spark)
    ).collect()
    seen = {}
    for r in rows:
        seen.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    assert len(seen) == ann.SERVED_Q_N
    assert all(s == set(ids) for s in seen.values()), seen


def test_dim_recall_curve_shape(spark):
    """One row per cut; recall within [0,1]; the widest cut beats the
    narrowest on the contract corpus. (Strict monotonicity is NOT
    asserted: the synthetic embeddings are i.i.d. noise, so adjacent
    cuts can jitter — e.g. 0.08 @ 8 dims vs 0.06 @ 16 at sf0.001 —
    unlike real Matryoshka-trained vectors.)"""
    from blackedge_ocr_spark.analysis import ann

    rows = sorted(
        ann.dim_recall(spark, SF).collect(), key=lambda r: r["dims"]
    )
    assert [r["dims"] for r in rows] == sorted(set(ann.DIM_RECALL_CUTS))
    for r in rows:
        assert 0 <= r["hits"] <= r["n_queries"] * 5
        assert 0.0 <= r["recall"] <= 1.0
    assert rows[-1]["recall"] >= rows[0]["recall"]


def test_dim_recall_leaves_no_cached_frame(spark):
    """dim_recall persists its prefix snapshots for one action and
    releases them: the session's CacheManager is empty afterwards."""
    from blackedge_ocr_spark import plans
    from blackedge_ocr_spark.analysis import ann

    spark.catalog.clearCache()  # start from frames earlier tests left
    assert len(ann.dim_recall(spark, SF).collect()) == len(ann.DIM_RECALL_CUTS)
    assert plans.cached_frame_count(spark) == 0


def test_quality_sample_rate_tracks_quality(spark):
    """High-quality docs keep at ~their quality rate; empty docs
    (quality 0) are never kept."""
    from pyspark.sql import Row

    from blackedge_ocr_spark.analysis.textstats import quality_sample

    rich = (
        "the quick brown fox jumps over the lazy dog and then "
        "describes a complete sentence with common stopwords in it "
    ) * 3
    rows = [Row(doc_id=i, text=rich, source="rich") for i in range(300)]
    rows += [Row(doc_id=1000 + i, text="", source="empty") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in quality_sample(d).collect()}
    assert out["empty"]["n_kept"] == 0
    # rich quality is high (>= 0.7); binomial 3-sigma band around 300*q
    assert out["rich"]["n_kept"] >= 150
    # deterministic across reruns
    again = {r["source"]: r["n_kept"] for r in quality_sample(d).collect()}
    assert again["rich"] == out["rich"]["n_kept"]


def test_minhash_audit_estimator_structure(spark):
    """Identical neighbors estimate 1.0 exactly; disjoint neighbors
    estimate 0.0; the est column is always a multiple of 1/K."""
    from blackedge_ocr_spark.analysis import dedup

    same = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine ten"
    rows = [(0, same), (1, same), (2, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_a"]: r for r in dedup.minhash_jaccard_audit(df).collect()}
    assert out[0]["j_exact"] == 1.0 and out[0]["j_est"] == 1.0
    assert out[0]["abs_err"] == 0.0
    assert out[1]["j_exact"] == 0.0 and out[1]["j_est"] == 0.0
    for r in out.values():
        k = dedup.MINHASH_K
        assert abs(r["j_est"] * k - round(r["j_est"] * k)) < 1e-6

