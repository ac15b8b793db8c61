"""Similarity search over the embeddings table.

Top-k entry points, all returning (q_id, rank, neighbor_id, cos) —
one search per regime:
- ``brute_force_topk`` — the exact cosine top-k (the reference every
  recall number is measured against). It runs ``_scan_topk``: the
  (small) query matrix rides a broadcast and each corpus partition is
  scored in place, so the corpus never shuffles; only each query's
  partition-local winners reach the rank. ``served_query_set`` is its
  external, serving-shaped query table.
- ``prefix_topk`` — the exact scan at several prefix dimension cuts
  in one pass (``dim_recall``'s kernel).
- ``ivf_kmeans_topk`` — inverted lists over k-means-trained centroids
  (``kmeans_centroids``), searched by ``_ivf_search``; IVF-PQ's recall
  ceiling at the same probe.
- ``ivfpq_topk`` / ``write_ivfpq_index`` + ``probe_ivfpq_index`` —
  IVF + residual PQ, in memory or as a cid-partitioned index table,
  both searched by ``_ivfpq_search``.

Audits: ``recall_vs_exact`` (the two approximate searches vs the
exact scan) and ``dim_recall`` (prefix cuts vs full dims). Embedding
near-dup: ``neardup_pairs``, ``neardup_bucket_pairs`` (sign-hyperplane
bands, ``band_keys``) and ``neardup_recall``. ``kmeans_centroids`` and
``assign_centroids`` are also semantic_dedup's quantizer.

Shared pieces: ``_cos_block`` is the one cosine-matrix kernel,
``_local_cut`` the one partition-local top-k cut and ``_rank_topk``
the one r6 rank tail. All arithmetic is double-precision with a fixed
fold order, so Spark and DuckDB agree bit-for-bit before the final
round(…, 6).
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 6  # hyperplanes per near-dup band: 64 buckets per band. A
              # pair at cosine c shares a band with p^6, p = 1 −
              # arccos(c)/π; more planes = fewer candidate pairs and
              # lower recall (``neardup_bucket_pairs``).
DEFAULT_K = 5
QUERY_EVERY = 50  # vec_id % QUERY_EVERY == 0 → query point


def hyperplane_weights(n_planes: int, dims: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes: w[p][j] = md5-derived int in
    [-32768, 32767]. Pure function of (p, j) — identical in the SQL
    oracle."""
    return [
        [
            int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:4], 16) - 32768
            for j in range(dims)
        ]
        for p in range(n_planes)
    ]


def _vecd(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    na, nb = F.sqrt(dot(a, a)), F.sqrt(dot(b, b))
    return F.when(na * nb == 0, F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def _fold_cos(a, b):
    """Scalar mirror of the JVM ``cosine`` expression, guard order
    included: the ``na·nb == 0`` check runs on SELF-dots (no zip, so a
    length mismatch cannot null it) BEFORE the cross dot — a ragged
    pair with a zero-norm side is therefore 0.0, while a ragged pair
    with nonzero norms nulls out through zip_with's null padding, and
    a NULL side nulls the whole expression. Each accumulator folds its
    products in element order (one IEEE mul+add per step), bit-equal
    to the JVM fold and the numpy block kernels."""
    import math

    if a is None or b is None:
        return None
    na_ = 0.0
    for x in a:
        na_ += x * x
    nb_ = 0.0
    for y in b:
        nb_ += y * y
    den = math.sqrt(na_) * math.sqrt(nb_)
    if den == 0.0:
        return 0.0
    if len(a) != len(b):
        return None  # zip_with null-pads → the cross dot folds to null
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc / den


def pairwise_cosine(df: DataFrame, a: str, b: str, keep: list[str]) -> DataFrame:
    """Per-row cosine of two vector columns as a numpy block kernel:
    returns ``df[keep]`` + unrounded ``cos`` (double).

    The re-rank stage of every candidate-list path scores |candidates|
    (query, vector) pairs; the ``cosine`` HOF fold costs ~4·dims
    interpreted lambda evaluations per ROW — the same class of cost
    the block kernels removed from brute-force scoring and centroid
    assignment, and it grows with query count × list size at scale.
    Here each Arrow batch is scored vectorized with the identical
    dim-ordered discipline (product then add per dimension, one IEEE
    mul+add elementwise — numpy does not fuse), sqrt/mul/divide the
    same correctly-rounded ops, and the ``na·nb == 0 → 0.0`` guard on
    the PRODUCT, so results are bit-identical to the JVM fold and the
    DuckDB oracle. Costs one Arrow boundary carrying the two vectors;
    rounding stays at the caller. Degenerate rows (NULL vector, or a
    length mismatch) route through ``_fold_cos`` — the scalar mirror
    of the JVM expression INCLUDING its guard order (a zero-norm
    ragged pair is 0.0, other ragged/null rows are NULL) — while the
    healthy rows of the same batch still vectorize through the block
    kernel, grouped by dimension."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    fields = [df.schema[c] for c in keep]
    fields.append(T.StructField("cos", T.DoubleType()))
    out_schema = T.StructType(fields)

    def _kernel(A, B):
        acc = np.zeros(len(A))
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        denom = _row_norms(A) * _row_norms(B)
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.where(denom == 0.0, 0.0, acc / denom)

    def blocks(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va, vb = list(pdf[a]), list(pdf[b])
            n = len(va)
            by_dims: dict[int, list[int]] = {}
            degenerate: list[int] = []
            for i in range(n):
                x, y = va[i], vb[i]
                if x is None or y is None or len(x) != len(y):
                    degenerate.append(i)
                else:
                    by_dims.setdefault(len(x), []).append(i)
            out = pdf[keep].copy()
            if not degenerate and len(by_dims) == 1:
                A = np.array(va, dtype=np.float64)
                B = np.array(vb, dtype=np.float64)
                out["cos"] = _kernel(A, B)
            else:
                vals: list = [None] * n
                for idxs in by_dims.values():
                    A = np.array([va[i] for i in idxs], dtype=np.float64)
                    B = np.array([vb[i] for i in idxs], dtype=np.float64)
                    cos = _kernel(A, B)
                    for pos, i in enumerate(idxs):
                        vals[i] = float(cos[pos])
                for i in degenerate:
                    vals[i] = _fold_cos(va[i], vb[i])
                out["cos"] = pd.array(vals, dtype="Float64")
            yield out

    return df.select(*keep, a, b).mapInPandas(blocks, schema=out_schema)


def _row_norms(M):
    """Per-row L2 norm, dim-ordered: sqrt of Σ_j m_j·m_j folded one
    IEEE mul+add per dimension step (the JVM/DuckDB left fold)."""
    import numpy as np

    acc = np.zeros(len(M))
    for j in range(M.shape[1]):
        acc = acc + M[:, j] * M[:, j]
    return np.sqrt(acc)


def _cos_block(V, vnorm, Cb):
    """(rows × |Cb|) cosine block, dim-ordered — the ONE fold whose
    per-element op sequence every matrix scorer's bit-parity rests on
    (one IEEE mul+add per dimension step, sqrt/mul/divide the same
    correctly-rounded ops, zero denominators → 0.0). ``vnorm`` is
    ``_row_norms(V)``, passed in so a caller scoring many blocks
    against the same rows folds it once. Slicing either axis —
    contiguous centroid blocks OR an arbitrary gathered candidate
    subset — touches no element's arithmetic, so block results equal
    the corresponding entries of the full (rows × C) matrix exactly."""
    import numpy as np

    acc = np.zeros((len(V), len(Cb)))
    # NOTE: allocating `acc = acc + outer(...)` measures ~2x FASTER
    # than `outer(..., out=tmp); acc += tmp` — ufunc.outer into a
    # preallocated out with strided column views takes a slow path
    # (same-session A/B at sf10: 45s vs 70-105s, BENCH/logs). Keep
    # the allocating form.
    for j in range(V.shape[1]):
        acc = acc + np.multiply.outer(V[:, j], Cb[:, j])
    denom = np.multiply.outer(vnorm, _row_norms(Cb))
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(denom == 0.0, 0.0, acc / denom)


def _local_cut(cos, q_ids, vid, k: int):
    """Partition-local top-k cut of a non-empty (|Q| × batch) raw
    score block → (qi, vi) index arrays: self pairs (q_id == vec_id)
    are excluded, and every entry within 2e-6 of its query's k-th raw
    score is kept — which provably covers any candidate that could
    still win after the HALF_UP r6 rounding + id tie-break of
    ``_rank_topk``."""
    import numpy as np

    self_mask = np.equal.outer(q_ids, vid)
    cos_sel = np.where(self_mask, -np.inf, cos)
    kth = np.sort(cos_sel, axis=1)[:, -min(k, len(vid))]
    # ~self_mask is required, not redundant: in a batch with n <= k
    # rows the k-th value IS the -inf self entry and -inf >= -inf - eps
    # holds, leaking the self row.
    return np.nonzero((cos_sel >= (kth[:, None] - 2e-6)) & ~self_mask)


def _rank_topk(
    scored: DataFrame, k: int, score: str = "cos", part=("q_id",)
) -> DataFrame:
    """The one rank tail: round ``score`` to 6 decimals (HALF_UP, the
    oracle's round) and keep the first ``k`` rows per ``part`` in
    (score desc, neighbor_id asc) order — a total order, so ties at
    the k-th score break identically in DuckDB. Returns the input
    columns with ``rank`` placed before ``neighbor_id``."""
    w = Window.partitionBy(*part).orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    head = [c for c in scored.columns if c not in ("neighbor_id", score)]
    return (
        scored.withColumn(score, F.round(F.col(score), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*head, "rank", "neighbor_id", score)
    )


def _rerank(cand: DataFrame, k: int) -> DataFrame:
    """Exact r6 top-k of candidate pairs (q_id, vec_id|neighbor_id,
    qv, v) — the re-rank stage of both IVF searches."""
    if "vec_id" in cand.columns:
        cand = cand.withColumnRenamed("vec_id", "neighbor_id")
    return _rank_topk(
        pairwise_cosine(cand, "qv", "v", keep=["q_id", "neighbor_id"]), k
    )


def sign_bucket(vec: Column, weights: list[list[int]]) -> Column:
    """Bit-string bucket: bit p = sign of <w_p, vec>.

    The plane is sliced to the VECTOR's length before the fold: the
    oracle (``sign_bucket_sql``) sums over ``range(len(v))``, and an
    unsliced ``zip_with`` null-pads a shorter vector to plane width —
    the whole projection null-propagates and every bucket bit
    collapses to '0' (every vector lands in ONE bucket). Invisible on
    the 64-dim corpora; caught by the 8-dim star-tail fixture."""
    bits = []
    for row in weights:
        w = F.slice(F.array(*[F.lit(v) for v in row]), 1, F.size(vec))
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wv: x * wv.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _load_raw(spark, sf_dir: str) -> DataFrame:
    """(vec_id, v) straight off the parquet — no exchange; for plans
    whose corpus side never needs a shuffle (broadcast-join verifies,
    ids-only banding)."""
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    return df.select("vec_id", _vecd("embedding").alias("v"))


def _spread(df: DataFrame) -> DataFrame:
    from blackedge_ocr_spark.session import spread_if_starved

    return spread_if_starved(df)


def _load(spark, sf_dir: str) -> DataFrame:
    return _load_raw(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism * 2, "vec_id"
    )


def _query_rows(df: DataFrame, query_every: int) -> list:
    """The contract query slice — every ``query_every``-th vec_id —
    collected as driver Rows (vec_id, v)."""
    return (
        df.filter(F.col("vec_id") % query_every == 0)
        .select("vec_id", "v")
        .collect()
    )


def _query_matrix(qsrc: DataFrame):
    """(q_ids int64[|Q|], Q float64[|Q|, dims]) of a (vec_id, v)
    query frame. The collect is O(|Q|) — the brute-force contract's
    |Q| ≪ corpus assumption."""
    import numpy as np

    rows = qsrc.select("vec_id", "v").collect()
    return (
        np.array([r["vec_id"] for r in rows], dtype=np.int64),
        np.array([list(r["v"]) for r in rows], dtype=np.float64),
    )


def _scan_topk(corpus: DataFrame, q_ids, Q, k: int) -> DataFrame:
    """The broadcast-queries × partitioned-corpus exact top-k scan
    behind ``brute_force_topk``.

    Shape: the query matrix (|Q| ≪ corpus by the brute-force
    contract; at scale where that fails, use the IVF paths) rides a
    broadcast variable; ``mapInPandas`` scans each corpus partition
    as Arrow batches, ``_cos_block`` scores the whole (queries ×
    batch) raw cosine block, and ``_local_cut`` emits only each
    query's partition-local top-k (+ rounding-tie slack). The corpus
    never shuffles; the final ``_rank_topk`` window ranks parts × |Q|
    × ~k rows instead of |Q| × corpus. A per-pair JVM fold is ~400
    interpreted lambda evaluations per (query, vector) — two orders
    slower at sf1."""
    import numpy as np
    import pandas as pd

    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, Q))

    def blocks(batches):
        ids, qm = bq.value
        if qm.size == 0:  # empty query set: a (0,) array cannot
            return        # unpack into (nq, dims) — nothing to score
        qn = _row_norms(qm)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.array(list(pdf["v"]), dtype=np.float64)
            cos = _cos_block(qm, qn, V)
            qi, vi = _local_cut(cos, ids, vid, k)
            yield pd.DataFrame(
                {"q_id": ids[qi], "neighbor_id": vid[vi], "cos": cos[qi, vi]}
            )

    return _rank_topk(
        corpus.mapInPandas(
            blocks, schema="q_id long, neighbor_id long, cos double"
        ),
        k,
    )


def brute_force_topk(
    spark,
    sf_dir: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    dims: int | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k per query vector (self excluded) — block
    matrix math over ``_scan_topk``, not per-pair expressions.

    Bit-parity with the JVM fold and the DuckDB oracle: ``_cos_block``
    accumulates over DIMENSIONS in order (acc += q_j * v_j, one IEEE
    mul + add per step — numpy does not fuse), so every partial sum
    matches the sequential fold exactly; sqrt/mul/divide are the same
    correctly-rounded ops.

    ``queries``: an EXTERNAL (vec_id, v) table — the serving shape,
    where |Q| is fixed and tiny regardless of corpus size. The default
    derives the contract fixture from the corpus (a 1/query_every
    slice), which at a 100 TB corpus would not fit on the driver.
    ``dims``: truncated-dimension scan (the Matryoshka-style cost
    knob, see dim_recall), sliced SPARK-side so the Arrow transfer
    shrinks with the scan, not just the math.
    """
    corpus = _load(spark, sf_dir)
    qsrc = (
        corpus.filter(F.col("vec_id") % query_every == 0)
        if queries is None
        else queries
    )
    if dims is not None:
        corpus = corpus.select("vec_id", F.slice("v", 1, dims).alias("v"))
        qsrc = qsrc.select("vec_id", F.slice("v", 1, dims).alias("v"))
    q_ids, Q = _query_matrix(qsrc)
    return _scan_topk(corpus, q_ids, Q, k)


SERVED_Q_N = 8  # external fixture query count (|Q|)


def served_query_set(spark, n: int = SERVED_Q_N, dims: int = 64) -> DataFrame:
    """The EXTERNAL query-table fixture for the serving-shaped ANN
    contract row (round-5 item): |Q| fixed query vectors that do NOT
    derive from the corpus — the deployment shape, where query
    traffic is its own stream and |Q| stays constant as the corpus
    grows to 10^12 vectors (the corpus-derived contract default
    collects corpus/50 rows, which at 100 TB would not fit on a
    driver).

    Deterministic and engine-exact by construction: component j of
    query i is ``((i·37 + j·11) mod 19 − 9) / 9.0`` — pure integer
    arithmetic then one correctly-rounded double division, so the
    DuckDB oracle (``sql_ann_topk_served``) rebuilds bit-identical
    vectors from the same formula with no float literals to drift.
    q_ids are negative (-1 - i) and corpus vec_ids start at 0, so the
    self-exclusion rule never fires for served queries at any corpus
    size."""
    rows = [
        (-1 - i, [((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(dims)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


CENTROID_EVERY = 37  # k-means seeds: every 37th vector (floor stride)
LISTS_PER_SQRT = 4   # adaptive list count target: C ≈ 4·√n


def centroid_stride(
    n: int,
    floor_stride: int = CENTROID_EVERY,
    lists_per_sqrt: int = LISTS_PER_SQRT,
) -> int:
    """Adaptive centroid stride: C = n/stride lists, capped at
    ~``lists_per_sqrt``·√n.

    A FIXED stride makes C grow linearly with the corpus, so map-side
    assignment degenerates to O(n²/stride) — measured as the dominant
    term at sf10 (200k vectors → 5,405 lists). Production IVF keeps
    C = O(√n) (probe/C — the per-query scan fraction — is the tuned
    constant), making assignment O(n·√n). Below the crossover the
    stride stays at ``floor_stride``, so every sf ≤ 1 result —
    including the sf0.01 contract corpus — is unchanged.

    Arithmetic is floor-over-double-division, expressible identically
    in the DuckDB oracle: greatest(floor_stride,
    floor(n / (lists_per_sqrt · floor(sqrt(n))))). All intermediates
    are exact in IEEE doubles for n < 2^53."""
    import math

    if n <= 0:
        return floor_stride
    denom = lists_per_sqrt * math.floor(math.sqrt(float(n)))
    return max(floor_stride, int(math.floor(n / denom)))


TRAIN_PER_STRIDE = 16  # adaptive training sample: ~16·C vectors


def train_stride(n: int, floor_every: int | None = None) -> int:
    """Adaptive Lloyd TRAINING stride (round 5): every T-th vector
    with T = max(TRAIN_EVERY, floor(stride/16)) — algebraically a
    sample of ~TRAIN_PER_STRIDE·C vectors (n/T = 16·n/stride =
    16·C), so per-iteration training work is 16·C² = O(n) at
    C ≈ 4√n instead of the fixed-stride sample's O(n·C) = O(n^1.5).
    Below the crossover (stride < 5·16, i.e. n ≲ 100k) T stays at
    TRAIN_EVERY and nothing changes — every contract corpus
    (≤ 20k vectors) is far below it. stride/16.0
    is an exact binary division of an int, so floor-over-double is
    bit-identical to the DuckDB mirror (TRAIN_STRIDE_SQL)."""
    import math

    if floor_every is None:
        floor_every = TRAIN_EVERY  # defined below (module layout)
    return max(
        floor_every,
        int(math.floor(centroid_stride(n) / float(TRAIN_PER_STRIDE))),
    )


def _corpus_count(spark, sf_dir: str) -> int:
    """Row count straight off the parquet (no repartition in the
    plan — a column-free metadata-cheap scan)."""
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet").count()


def _collect_centroids(cents: DataFrame):
    """(cid, cv) rows → (cids int64[C], Cm float64[C, dims]), sorted by
    cid — the exact order ``array_sort(collect_list(struct(cid, cv)))``
    yields (cids are unique, so the struct sort never reaches cv)."""
    import numpy as np

    rows = sorted(cents.collect(), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    Cm = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    return cids, Cm


# Centroid-block width for the corpus-side assignment kernels: bounds
# per-worker peak memory at O(arrow_batch × CENT_BLOCK) doubles
# regardless of C (which grows as 4·√n).
CENT_BLOCK = 1024


def _first_max_assign(V, Cm, block: int = CENT_BLOCK):
    """First-max nearest-centroid assignment, streamed over centroid
    BLOCKS: per block the usual dim-ordered cosine (``_cos_block`` —
    identical per-element arithmetic to the full matrix), then a
    running strictly-greater argmax. Scanning blocks in index order
    with strict > keeps the FIRST maximum, exactly ``np.argmax``
    over the full row, at peak memory O(rows × block) instead of
    O(rows × C). Shared by the IVF assignment, the Lloyd training
    step and the IVF-PQ encoder — one implementation so the memory
    bound and the tie rule cannot drift."""
    import numpy as np

    n = len(V)
    vnorm = _row_norms(V)
    best = np.full(n, -np.inf)
    besti = np.zeros(n, dtype=np.int64)
    for c0 in range(0, len(Cm), block):
        sims = _cos_block(V, vnorm, Cm[c0:c0 + block])
        bi = np.argmax(sims, axis=1)
        bv = sims[np.arange(n), bi]
        upd = bv > best
        best[upd] = bv[upd]
        besti[upd] = bi[upd] + c0
    return besti


def _two_level_structure(cids, Cm):
    """Driver-side build of the deterministic 2-level (coarse→fine)
    quantizer over a trained centroid set (round 5; the public
    inverted-multi-index / hierarchical-k-means decomposition,
    Babenko & Lempitsky 2012): coarse reps are every
    ``ceil(sqrt(C))``-th centroid in cid order (positions 0, CS,
    2·CS, …), each centroid belongs to its first-max-cosine coarse
    rep, and group index lists are ascending. Everything is a pure
    function of the centroid table, so the DuckDB oracle rebuilds
    the identical structure from the same trained centroids."""
    import math

    import numpy as np

    C = len(Cm)
    cs = int(math.ceil(math.sqrt(C)))
    rep_pos = np.arange(0, C, cs, dtype=np.int64)
    reps = Cm[rep_pos]
    member = _first_max_assign(Cm, reps)
    # each group always contains its OWN rep centroid (union, then
    # dedup): with exactly-duplicated trained centroids the rep's
    # first-max membership can land in an earlier group, which would
    # otherwise leave a coarse-reachable group empty — the rule below
    # is the one the DuckDB oracle mirrors (membership ∪ rep-self)
    gidx = [
        np.unique(
            np.append(np.nonzero(member == g)[0], rep_pos[g])
        ).astype(np.int64)
        for g in range(len(rep_pos))
    ]
    return reps, gidx


def _two_level_assign(V, Cm, reps, gidx):
    """Coarse→fine first-max assignment: pick the first-max-cosine
    coarse rep (O(√C) evals), then the first-max-cosine centroid
    WITHIN that rep's member group (O(C/√C) expected). Total
    O(2·√C) cosine evals per vector instead of C — and unlike an
    exact triangle-inequality prune, the win does not depend on the
    data being clustered (measured: such a prune recovered nothing
    on the near-isotropic synthetic embeddings, where all pairwise
    distances concentrate — BENCH/BASELINE.md round-5 note). The
    trade is semantic: assignment is the 2-level quantizer's, not
    the flat argmax — mirrored exactly by the DuckDB oracle, which
    defines the contract. All cosine evals share ``_cos_block``'s
    dim-ordered arithmetic; both levels take the first max (lowest
    cid on exact ties), so both engines agree bit-for-bit."""
    import numpy as np

    coarse = _first_max_assign(V, reps)
    out = np.zeros(len(V), dtype=np.int64)
    for g in range(len(reps)):
        rows = np.nonzero(coarse == g)[0]
        if len(rows) == 0:
            continue
        members = gidx[g]  # never empty: always contains its rep
        local = _first_max_assign(V[rows], Cm[members])
        out[rows] = members[local]
    return out


def assign_centroids(
    df: DataFrame,
    cents: DataFrame,
    keep: list[str],
    vec_col: str = "v",
    two_level: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment as a numpy block kernel: returns
    ``df[keep]`` + ``cid``.

    This is the IVF hot loop — every corpus vector × every centroid —
    and the interpreted ``transform(cents, c -> cosine(v, c.cv))``
    fold costs ~dims·4 lambda evaluations per (vector, centroid):
    ~2 minutes for 20k×540×64d at sf1 where this kernel takes ~1 s.
    Bit-parity with the JVM fold: ``_first_max_assign`` scores with
    ``_cos_block`` and takes the FIRST max exactly like
    ``array_position(sims, array_max(sims))``. The centroid matrix is
    O(C·dims) — driver-collected and broadcast, never joined.

    ``two_level=True``: assign through the 2-level coarse→fine
    quantizer (``_two_level_assign``). Used by semantic_dedup, whose
    C ≈ 4√n makes the flat scan the pipeline's n^1.5 term."""
    import numpy as np

    from pyspark.sql import types as T

    spark = df.sparkSession
    cids_, Cm_ = _collect_centroids(cents)
    tl_ = _two_level_structure(cids_, Cm_) if two_level else None
    bc = spark.sparkContext.broadcast((cids_, Cm_, tl_))

    in_df = df.select(*keep) if vec_col in keep else df.select(*keep, vec_col)
    fields = [in_df.schema[c] for c in keep]
    fields.append(T.StructField("cid", T.LongType()))
    out_schema = T.StructType(fields)

    def blocks(batches):
        cids, Cm, tl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            out = pdf[keep].copy()
            if tl is not None:
                # 2-level coarse→fine quantizer (round 5): O(2·√C)
                # evals per vector; the oracle mirrors the 2-level
                # rule, which defines the assignment semantics
                out["cid"] = cids[_two_level_assign(V, Cm, *tl)]
            else:
                # C grows as 4·√n, so a full (batch × C) sims matrix
                # is O(batch·√n) doubles PER WORKER — measured killing
                # Python workers at sf30 (1.5M vectors, C≈4900).
                # _first_max_assign streams centroid blocks, memory
                # bounded by the block width.
                out["cid"] = cids[_first_max_assign(V, Cm)]
            yield out

    return in_df.mapInPandas(blocks, schema=out_schema)
PROBE_LISTS = 3      # clusters probed per query


def _cent_rows(cents: DataFrame) -> list:
    """Centroid table (cid, cv) collected as cid-sorted driver Rows."""
    return sorted(cents.collect(), key=lambda r: r["cid"])


def _ivf_search(
    spark, assigned: DataFrame, qrows, cents, k: int, probe: int
) -> DataFrame:
    """The IVF search of ``ivf_kmeans_topk``: the driver plans the
    probe set (``_plan_probes`` — queries × their ``probe`` nearest
    centroids, O(|Q|·C) on collected centroid rows, tiny),
    ``assigned`` (vec_id, v, cid) is filtered with ``cid IN (<literal
    probes>)``, and the candidates broadcast-join the per-query probe
    map and re-rank exactly.

    ``qrows``: Row(vec_id, v) queries; ``cents``: cid-sorted
    Row(cid, cv)."""
    qv_by_id = {int(r["vec_id"]): list(r["v"]) for r in qrows}
    plan = [
        (q_id, cid, qv_by_id[q_id])
        for q_id, cid in _plan_probes(qrows, cents, probe)
    ]
    qdf = spark.createDataFrame(
        plan, "q_id long, cid bigint, qv array<double>"
    )
    cand = (
        assigned.filter(F.col("cid").isin(sorted({c for _, c, _v in plan})))
        .join(F.broadcast(qdf), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _rerank(cand, k)


KMEANS_ITERS = 3   # unrolled Lloyd iterations (fixed → reproducible)
QUANT = 1_000_000  # fixed-point scale for order-independent mean sums


def quantize(vec: Column) -> Column:
    """array<double> → array<bigint> at 1e-6 resolution, HALF_UP via
    floor(x·1e6 + 0.5) — the same op the SQL oracle applies, so both
    engines quantize identically."""
    return F.transform(
        vec, lambda x: F.floor(x * F.lit(float(QUANT)) + F.lit(0.5)).cast("long")
    )


TRAIN_EVERY = 4  # Lloyd trains on every 4th vector (sampled training)
KMEANS_LOCAL_CELLS = 20_000_000  # sample×C cutover: driver-local ↔ distributed


def kmeans_centroids(
    corpus: DataFrame,
    iters: int = KMEANS_ITERS,
    centroid_every: int = CENTROID_EVERY,
    train_every: int = TRAIN_EVERY,
    n: int | None = None,
) -> DataFrame:
    """Lloyd's k-means IVF training over a sample of (vec_id, v),
    returning (cid, cv) — the coarse quantizer of ``ivf_kmeans_topk``,
    the IVF-PQ index and semantic_dedup.

    Training is SAMPLED (every ``train_every``-th vector; the seeds
    are every ``centroid_every``-th of the full corpus) and runs on
    one of two BIT-IDENTICAL engines, dispatched on the Lloyd
    work-matrix size sample×C:

    - ``_kmeans_local`` (sample×C ≤ KMEANS_LOCAL_CELLS): collect the
      sample once — bounded by the strides — and iterate in numpy on
      the driver with ZERO Spark jobs per iteration. The distributed
      loop pays three full job launches per iteration (assign →
      explode → shuffle → collect) to move <3 MB; below the cutover
      that overhead dwarfs the compute (sf1: 13.1 s → ~2.5 s).
    - ``_kmeans_distributed`` (above it): map-side block assignment
      of the persisted sample (the centroid array rides a broadcast;
      the sample never shuffles), per-(cid,dim) exact-int partial
      sums through one tiny exchange, centroids driver-resident
      between iterations (Spark MLlib's shape). A single core loses
      to 32 once the (sample × C) matrix leaves cache: at sf10
      (50k × 1802) driver-local costs ~92 s vs ~15 s distributed.

    Both engines compute the identical fixed-point update, so the
    cutover is purely a cost choice — results never depend on it
    (asserted by test_kmeans_centroids_match_numpy_reference, which
    checks BOTH against an independent scalar-fold reference). The
    final full-corpus assignment happens exactly once, in the search/
    index stage (``assign_centroids``/``_residual_frame``), not here. At
    10^12 rows the stride would be chosen (hash-stride) to keep the
    sample at a fixed size; the modulus form is what the DuckDB
    oracle can mirror exactly.

    Determinism across engines (the property that makes a DuckDB
    oracle possible, and that a real fleet needs for reproducible
    index builds): floating-point SUMS are order-dependent — so the
    update step never sums doubles. Each vector is quantized ONCE to
    1e-6 fixed point (same op as ``quantize``); per-(cid, dim) sums
    are exact INT64 arithmetic (order-independent; headroom: |q| ≤
    ~1e6·dim scale, so ~9e12 members per list before overflow), and
    the mean is one double division sum/(n·1e6) — bit-identical in
    any engine. Assignment = first-max cosine over the cid-sorted
    centroid array accumulated over dimensions IN ORDER, the same
    fold the JVM ``cosine`` and ``assign_centroids`` kernel apply —
    vectorizing over all sample rows at once is elementwise-identical
    to the batched kernel. Seeds = every ``centroid_every``-th vector
    of the FULL corpus; empty lists drop out (cid keys are stable
    seed ids, never re-indexed), exactly like the oracle's GROUP BY.
    Verified bit-for-bit against an independent scalar-fold numpy
    reference (test_kmeans_centroids_match_numpy_reference) and the
    unrolled-SQL DuckDB Lloyd (``sql_ann_ivf_kmeans_topk``).

    Reference analog: none — the reference has no vector index; this
    extends its similarity surface
    (src/services/validation/similarity_calculator.py) to the
    embedding column per the training-data-pipeline brief.
    """
    if n is None:
        n = corpus.count()
    sample = n // train_every + 1
    c_est = n // centroid_every + 1
    if sample * c_est <= KMEANS_LOCAL_CELLS:
        return _kmeans_local(corpus, iters, centroid_every, train_every)
    return _kmeans_distributed(corpus, iters, centroid_every, train_every)


def _kmeans_local(
    corpus: DataFrame, iters: int, centroid_every: int, train_every: int
) -> DataFrame:
    """Driver-local Lloyd engine — see ``kmeans_centroids``."""
    import numpy as np

    spark = corpus.sparkSession
    rows = (
        corpus.filter(
            (F.col("vec_id") % train_every == 0)
            | (F.col("vec_id") % centroid_every == 0)
        )
        .select("vec_id", "v")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    V = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    seed = ids % centroid_every == 0
    cids, Cm = ids[seed], V[seed]  # ascending cid order
    T = V[ids % train_every == 0]
    Q = np.floor(T * 1e6 + 0.5).astype(np.int64)
    for _ in range(iters):
        C = len(Cm)
        best = _first_max_assign(T, Cm)  # first max, like array_position
        sums = np.zeros((C, T.shape[1]), dtype=np.int64)
        np.add.at(sums, best, Q)  # exact int adds, order-independent
        counts = np.bincount(best, minlength=C)
        keep = counts > 0
        cids = cids[keep]
        Cm = sums[keep].astype(np.float64) / (
            counts[keep, None].astype(np.float64) * 1e6
        )
    return spark.createDataFrame(
        [(int(c), [float(x) for x in cv]) for c, cv in zip(cids, Cm)],
        "cid long, cv array<double>",
    )


def _kmeans_distributed(
    corpus: DataFrame, iters: int, centroid_every: int, train_every: int
) -> DataFrame:
    """Distributed Lloyd engine — see ``kmeans_centroids``. Map-side
    block assignment of the persisted sample; per-(cid, dim) sums are
    exact INT64 through one O(C·dims)-row exchange after map-side
    combine; centroids collected between iterations (O(C·dims)
    doubles — without the collect, iteration i's lazy plan nests
    iterations 1..i-1 and every broadcast re-executes the chain)."""
    spark = corpus.sparkSession
    train = (
        corpus.filter(F.col("vec_id") % train_every == 0)
        .select("v", quantize(F.col("v")).alias("qv"))
        .persist()
    )
    cents = corpus.filter(F.col("vec_id") % centroid_every == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = assign_centroids(train, cents, keep=["qv"])
        sums = (
            assigned.select("cid", F.posexplode("qv").alias("pos", "q"))
            .groupBy("cid", "pos")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        agg = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda r: r["s"].cast("double")
                / (r["n"].cast("double") * F.lit(float(QUANT))),
            ).alias("cv")
        )
        cents = spark.createDataFrame(
            [(r["cid"], list(r["cv"])) for r in agg.collect()],
            "cid long, cv array<double>",
        )
    train.unpersist()
    return cents


def ivf_kmeans_topk(
    spark,
    sf_dir: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    centroid_every: int | None = None,
    probe: int = PROBE_LISTS,
    iters: int = KMEANS_ITERS,
    train_every: int = TRAIN_EVERY,
) -> DataFrame:
    """IVF top-k over k-means-TRAINED centroid lists: train with
    ``kmeans_centroids`` (Lloyd, fixed-point-deterministic, sampled
    training set), assign the corpus map-side, probe the ``probe``
    nearest lists per query and re-rank their members exactly
    (``_ivf_search``). Scores full-precision vectors in the same
    lists IVF-PQ probes, so its recall is IVF-PQ's ceiling. Default
    seed stride is adaptive (``centroid_stride``): C = O(√n), never
    O(n)."""
    n = _corpus_count(spark, sf_dir)
    if centroid_every is None:
        centroid_every = centroid_stride(n)
    corpus = _load(spark, sf_dir)
    cents = kmeans_centroids(corpus, iters, centroid_every, train_every, n=n)
    return _ivf_search(
        spark,
        assign_centroids(corpus, cents, keep=["vec_id", "v"]),
        _query_rows(corpus, query_every),
        _cent_rows(cents),
        k,
        probe,
    )


def _plan_probes(qrows, cents, probe: int) -> list[tuple[int, int]]:
    """Driver-side probe planner, vectorized (round 5): one |Q|×C
    ``_cos_block`` with the dim-ordered accumulation discipline — the
    same sequence of IEEE mul+adds as the scalar ``_fold_cos`` fold
    it replaces, so the floats are bit-identical — then a per-query
    stable lexsort on ``(-cos, cid)``, the identical tie rule. The
    scalar loop was O(|Q|·C·dims) interpreted Python on the driver;
    with C ≈ 4·√n that becomes the serving bottleneck at corpus
    scale (round-4 advice). Degenerate query rows (NULL vector or a
    length that disagrees with the centroid dims) fall back to the
    scalar fold row-by-row, preserving its exact semantics.

    ``qrows``: Row(vec_id, v); ``cents``: cid-sorted Row(cid, cv).
    Returns [(q_id, cid), ...] grouped per query, probe-rank order.
    """
    import numpy as np

    ccid = np.array([c["cid"] for c in cents], dtype=np.int64)
    Cm = np.array([list(c["cv"]) for c in cents], dtype=np.float64)
    dims = Cm.shape[1]
    good = [r["v"] is not None and len(r["v"]) == dims for r in qrows]
    Q = np.array(
        [list(r["v"]) for r, g in zip(qrows, good) if g], dtype=np.float64
    ).reshape(-1, dims)
    cos_rows = iter(_cos_block(Q, _row_norms(Q), Cm))
    plan: list[tuple[int, int]] = []
    for r, g in zip(qrows, good):
        if g:
            # lexsort: primary = last key (-cos asc == cos desc),
            # secondary cid asc — exactly sorted([(-cos, cid)])
            top = ccid[np.lexsort((ccid, -next(cos_rows)))[:probe]]
        else:
            sims = [(-_fold_cos(r["v"], c["cv"]), c["cid"]) for c in cents]
            top = [cid for _, cid in sorted(sims)[:probe]]
        plan.extend((int(r["vec_id"]), int(cid)) for cid in top)
    return plan


PQ_M = 4  # product-quantization subspaces (64 dims -> 4 x 16)


def _train_books(
    df: DataFrame, col: str, n: int, dims: int, iters: int, train_every: int
):
    """PQ_M fixed-point Lloyd chains (``kmeans_centroids``), one per
    contiguous subvector slice of ``col``, at the shared adaptive
    stride. Returns ([(cids, Cm)] per subspace, sub_dims)."""
    if dims % PQ_M:
        # the subspace slicing silently drops tail dimensions and the
        # reconstruction buffers fill only PQ_M·(dims//PQ_M) columns
        # (uninitialized memory beyond) — fail loudly instead
        raise ValueError(
            f"PQ requires dims divisible by PQ_M={PQ_M}; got {dims}"
        )
    stride = centroid_stride(n)
    sub = dims // PQ_M
    books = []
    for m in range(PQ_M):
        sf = df.select("vec_id", F.slice(col, m * sub + 1, sub).alias("v"))
        books.append(
            _collect_centroids(
                kmeans_centroids(sf, iters, stride, train_every, n=n)
            )
        )
    return books, sub


# ADC shortlist exact-re-ranked per query. Depth tuned on the recall
# audit: at sf0.01 sl=20 → 0.32, sl=40 → 0.42, sl=80 → 0.44 — the
# flat-IVF ceiling is 0.44 (same probed lists), so 8k recovers ~95%
# of it while re-ranking 8k instead of the whole probed-list scan.
IVFPQ_SHORTLIST = 8 * DEFAULT_K


def _residual_frame(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, v, r = v − coarse centroid), map-side: the
    centroid table is C rows — broadcast-joined, elementwise JVM
    subtract (``zip_with``), the corpus never shuffles. The oracle
    mirror is the identical per-index double subtract."""
    assigned = assign_centroids(corpus, cents, keep=["vec_id", "v"])
    cdf = cents.select(F.col("cid"), F.col("cv"))
    return assigned.join(F.broadcast(cdf), "cid").select(
        "vec_id",
        "cid",
        "v",
        F.zip_with("v", "cv", lambda a, b: a - b).alias("r"),
    )


def ivfpq_codebooks(
    res: DataFrame,
    n: int,
    dims: int,
    iters: int = KMEANS_ITERS,
    train_every: int = TRAIN_EVERY,
):
    """Residual PQ codebooks: PQ_M independent fixed-point Lloyd
    chains (``kmeans_centroids``) over the RESIDUAL subvector slices —
    the classic IVF-PQ recipe (Jégou et al. 2011 §III): residuals
    concentrate around the origin once the coarse quantizer removes
    list structure, so the same codebook budget buys far less
    distortion than PQ over raw vectors. Stride follows the shared
    adaptive rule (C ≈ 4·√n per subspace)."""
    return _train_books(res, "r", n, dims, iters, train_every)


def ivfpq_topk(
    spark,
    sf_dir: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    probe: int = PROBE_LISTS,
    shortlist: int = IVFPQ_SHORTLIST,
    iters: int = KMEANS_ITERS,
    train_every: int = TRAIN_EVERY,
) -> DataFrame:
    """IVF+PQ composition — the serving configuration a 10⁹-vector
    fleet actually runs: k-means coarse quantizer → per-query probe
    of ``probe`` lists → ADC scoring against PQ-coded RESIDUAL
    reconstructions inside the probed lists only → exact re-rank of
    the ``shortlist``-deep ADC short-list.

    This is ``write_ivfpq_index`` + ``probe_ivfpq_index`` without the
    parquet round trip: the codes come straight from the encode pass
    (``_encode_codes``) and are searched by the same ``_ivfpq_search``
    the persisted index uses, so both give identical rows.

    Scale shape: codebooks are driver-trained on strided samples and
    broadcast; encode is ONE map-side kernel pass (the index build);
    search scores ~probe/C of the corpus against the compressed
    reconstruction, and only O(|Q|·shortlist) rows reach the exact
    re-rank — so the full-precision vectors are fetched for the
    short-list alone. The corpus never shuffles.

    Determinism/oracle parity: coarse + residual training share the
    fixed-point Lloyd chain; assignments are first-max dim-ordered
    cosine; ADC and exact scores round to 6 decimals before the
    (score desc, neighbor_id asc) row_number — every step has an
    exact DuckDB mirror (``sql_ann_ivfpq_topk``)."""
    n = _corpus_count(spark, sf_dir)
    corpus = _load(spark, sf_dir)
    dims = len(corpus.select("v").first()["v"])
    cents = kmeans_centroids(
        corpus, iters, centroid_stride(n), train_every, n=n
    )
    # PERSIST the residual frame: codebook training collects a
    # sampled slice of it PQ_M times and the encode pass reads it
    # again (~6 actions) — uncached, each replays the O(n·C) coarse
    # assignment over the whole corpus (the exact re-derivation the
    # DuckDB mirror materializes its `res` CTE to avoid, measured
    # 230 s → <1 s there). The search collects its short-list before
    # returning, so `res` is released here — nothing leaks past the
    # call.
    res = _residual_frame(corpus, cents).persist()
    try:
        books, sub = ivfpq_codebooks(res, n, dims, iters, train_every)
        return _ivfpq_search(
            spark,
            _encode_codes(res, books, sub),
            corpus,
            _query_rows(corpus, query_every),
            _cent_rows(cents),
            books,
            k,
            probe,
            shortlist,
        )
    finally:
        res.unpersist()


def _encode_codes(res: DataFrame, books, sub: int) -> DataFrame:
    """(vec_id, cid, codes: array<int>) — the stored representation of
    the IVF-PQ index: PQ_M subspace centroid POSITIONS (~16 bytes)
    instead of dims×8-byte raw vectors. One map-side pass, shared
    blocked first-max assignment."""
    import numpy as np

    spark = res.sparkSession
    bc = spark.sparkContext.broadcast(books)

    def blocks(batches):
        bks = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Rv = np.array(list(pdf["r"]), dtype=np.float64)
            out = pdf[["vec_id", "cid"]].copy()
            codes = np.empty((len(pdf), len(bks)), dtype=np.int64)
            for m, (_cids, Cm) in enumerate(bks):
                codes[:, m] = _first_max_assign(
                    Rv[:, m * sub:(m + 1) * sub], Cm
                )
            out["codes"] = [
                [int(x) for x in row] for row in codes
            ]
            yield out

    return res.mapInPandas(
        blocks, schema="vec_id long, cid long, codes array<int>"
    )


def write_ivfpq_index(
    spark,
    sf_dir: str,
    path: str,
    iters: int = KMEANS_ITERS,
    train_every: int = TRAIN_EVERY,
) -> None:
    """Materialize the IVF-PQ index the way a 10⁹-vector fleet stores
    it: a CODES table parquet-partitioned BY coarse LIST (``cid=…/``
    directories, PQ_M small ids per vector — the ~16-byte
    representation that fits a fleet's RAM/disk budget), the coarse
    centroid table, the PQ_M residual codebooks, and the raw vectors
    (the re-rank fetch source — in production, the original corpus
    storage). Probing then partition-PRUNES the code scan to the
    probed lists and touches full-precision vectors only for the ADC
    short-list (``probe_ivfpq_index``)."""
    n = _corpus_count(spark, sf_dir)
    corpus = _load(spark, sf_dir)
    dims = len(corpus.select("v").first()["v"])
    cents = kmeans_centroids(
        corpus, iters, centroid_stride(n), train_every, n=n
    )
    res = _residual_frame(corpus, cents).persist()  # see ivfpq_topk
    books, sub = ivfpq_codebooks(res, n, dims, iters, train_every)
    base = path.rstrip("/")
    _encode_codes(res, books, sub).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{base}/codes")
    res.unpersist()
    cents.write.mode("overwrite").parquet(f"{base}/centroids")
    book_rows = [
        (m, int(cids[i]), [float(x) for x in Cm[i]])
        for m, (cids, Cm) in enumerate(books)
        for i in range(len(cids))
    ]
    spark.createDataFrame(
        book_rows, "m int, cid long, cv array<double>"
    ).write.mode("overwrite").parquet(f"{base}/codebooks")
    corpus.write.mode("overwrite").parquet(f"{base}/vectors")


def probe_ivfpq_index(
    spark,
    path: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    probe: int = PROBE_LISTS,
    shortlist: int = IVFPQ_SHORTLIST,
) -> DataFrame:
    """Search a ``write_ivfpq_index`` table with ``_ivfpq_search``:
    only the probed ``cid=…`` partitions of the CODES table are
    scanned (PartitionFilters — plan-asserted), and the raw vectors
    are fetched for the ADC short-list alone. Results are
    bit-identical to the in-memory ``ivfpq_topk`` (pytest)."""
    import numpy as np

    base = path.rstrip("/")
    brows = spark.read.parquet(f"{base}/codebooks").collect()
    n_m = 1 + max(r["m"] for r in brows)
    books = []
    for m in range(n_m):
        rows = sorted(
            (r for r in brows if r["m"] == m), key=lambda r: r["cid"]
        )
        books.append(
            (
                np.array([r["cid"] for r in rows], dtype=np.int64),
                np.array([list(r["cv"]) for r in rows], dtype=np.float64),
            )
        )
    vec = spark.read.parquet(f"{base}/vectors")
    return _ivfpq_search(
        spark,
        spark.read.parquet(f"{base}/codes"),
        vec,
        _query_rows(vec, query_every),
        _cent_rows(spark.read.parquet(f"{base}/centroids")),
        books,
        k,
        probe,
        shortlist,
    )


def _ivfpq_search(
    spark,
    codes: DataFrame,
    vec: DataFrame,
    qrows,
    cents,
    books,
    k: int,
    probe: int,
    shortlist: int,
) -> DataFrame:
    """The one IVF-PQ search: plan the probe set driver-side
    (O(|Q|·C) on collected centroids, like ``_ivf_search``), keep
    only the probed lists of ``codes`` (vec_id, cid, codes), ADC-score
    them against the queries via one Arrow kernel (reconstruct =
    coarse centroid + concatenated codebook rows), keep a
    ``shortlist``-deep ADC short-list per query, and exact-re-rank it
    against the raw vectors of ``vec`` — fetched for the short-list
    alone.

    ``qrows``: Row(vec_id, v) queries; ``cents``: cid-sorted
    Row(cid, cv); ``books``: PQ_M (cids, matrix) residual codebooks.
    The short-list is collected before this returns, so the returned
    re-rank plan never reads ``codes`` again."""
    import numpy as np
    import pandas as pd

    ccids = np.array([r["cid"] for r in cents], dtype=np.int64)
    Ccm = np.array([list(r["cv"]) for r in cents], dtype=np.float64)
    sub = books[0][1].shape[1]
    # driver-side probe plan: vectorized numpy planner, bit-equal to
    # the assignment fold (see _plan_probes)
    plan = _plan_probes(qrows, cents, probe)
    probe_cids = sorted({cid for _, cid in plan})
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Qm = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qprobe: dict[int, list[int]] = {}
    for qid, cid in plan:
        qprobe.setdefault(int(cid), []).append(int(qid))
    bq = spark.sparkContext.broadcast(
        (q_ids, Qm, ccids, Ccm, books, qprobe)
    )

    pruned = codes.filter(F.col("cid").isin(probe_cids))

    def adc_blocks(batches):
        ids, Q, ccid_a, Ccm_b, bks, qp = bq.value
        qn = _row_norms(Q)
        qpos = {int(q): i for i, q in enumerate(ids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cid = pdf["cid"].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            nr = len(vid)
            # reconstruct: coarse centroid + concatenated codebook rows
            R = np.empty((nr, Q.shape[1]))
            ci = np.searchsorted(ccid_a, cid)
            base_c = Ccm_b[ci]
            for m, (_c, Cm) in enumerate(bks):
                R[:, m * sub:(m + 1) * sub] = Cm[codes[:, m]]
            cos = _cos_block(Q, qn, base_c + R)  # ADC cosine
            # emit only (query, vector) pairs whose vector sits in a
            # list the query probed — a join on cid, done in place
            out_q, out_v, out_c = [], [], []
            for r_i in range(nr):
                for qid in qp.get(int(cid[r_i]), ()):  # probed queries
                    if qid == int(vid[r_i]):
                        continue
                    q_i = qpos[qid]
                    out_q.append(qid)
                    out_v.append(int(vid[r_i]))
                    out_c.append(cos[q_i, r_i])
            yield pd.DataFrame(
                {"q_id": out_q, "neighbor_id": out_v, "adc": out_c}
            )

    adc = pruned.mapInPandas(
        adc_blocks, schema="q_id long, neighbor_id long, adc double"
    )
    # MATERIALIZE the short-list (round 5, was .persist()): it feeds
    # BOTH the neighbor fetch and the exact re-rank join — uncached,
    # the pruned codes scan + ADC kernel + shortlist window would
    # execute twice; persisted, the entry leaked past the call in a
    # long-lived serving session (round-4 advice). The collect is
    # O(|Q|·shortlist) ids — corpus-independent, the thing a serving
    # node holds in memory anyway — and the ADC scan runs exactly
    # once, with no cache entry left behind.
    short = spark.createDataFrame(
        _rank_topk(adc, shortlist, score="adc")
        .select("q_id", "neighbor_id")
        .collect(),
        "q_id long, neighbor_id long",
    )
    qvs = spark.createDataFrame(
        [(int(r["vec_id"]), list(r["v"])) for r in qrows],
        "q_id long, qv array<double>",
    )
    fetch = vec.join(
        F.broadcast(short.select(F.col("neighbor_id").alias("vec_id"))
                    .distinct()),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "v")
    return _rerank(
        short.join(F.broadcast(qvs), "q_id").join(
            F.broadcast(fetch), "neighbor_id"
        ),
        k,
    )


def recall_vs_exact(
    spark, sf_dir: str, k: int = DEFAULT_K, query_every: int = QUERY_EVERY
) -> DataFrame:
    """recall@k of the approximate searches against the exact baseline
    — the number a user tunes probe / shortlist by. One row per
    method: (method, n_queries, hits, recall) where recall =
    hits / (n_queries * k), micro-averaged.

    Shape: the union of the approximate results left-semi-joins the
    exact top-k on (q_id, neighbor_id) — the join sides are O(queries
    * k), never the corpus, so the recall audit costs no more than the
    searches themselves. Integer hit counts make the ratio exact in
    both engines; the r6 floor-round keeps the final double
    bit-identical to the DuckDB oracle.
    """
    exact = brute_force_topk(spark, sf_dir, k, query_every).select(
        "q_id", "neighbor_id"
    )
    methods = (("ivf_kmeans", ivf_kmeans_topk), ("ivfpq", ivfpq_topk))
    approx = functools.reduce(
        DataFrame.unionByName,
        [
            search(spark, sf_dir, k, query_every).select(
                F.lit(name).alias("method"), "q_id", "neighbor_id"
            )
            for name, search in methods
        ],
    )
    # every method keeps its row: a search that finds none of the
    # exact neighbours reports recall 0.0 instead of vanishing
    keys = spark.createDataFrame(
        [(name,) for name, _ in methods], "method string"
    )
    return _recall_rows(keys, approx, exact, k)


def _recall_rows(
    keys: DataFrame, approx: DataFrame, exact: DataFrame, k: int
) -> DataFrame:
    """(key, n_queries, hits, recall) per row of the one-column
    ``keys`` frame: hits = ``approx`` (key, q_id, neighbor_id) rows
    found in ``exact`` (q_id, neighbor_id), recall = hits /
    (n_queries·k) micro-averaged, floor-rounded to 6 decimals (an r6
    HALF_UP the DuckDB oracle mirrors bit-for-bit). LEFT JOIN from
    ``keys``: a key with ZERO hits shows recall 0.0 instead of
    vanishing from the report."""
    key = keys.columns[0]
    hit0 = (
        approx.join(exact, ["q_id", "neighbor_id"], "left_semi")
        .groupBy(key)
        .agg(F.count("*").alias("hits"))
    )
    hits = keys.join(hit0, key, "left").select(
        key, F.coalesce("hits", F.lit(0).cast("long")).alias("hits")
    )
    nq = exact.agg(F.countDistinct("q_id").alias("n_queries"))
    recall = (
        F.floor(
            F.col("hits").cast("double")
            / (F.col("n_queries") * F.lit(k)).cast("double")
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return hits.crossJoin(F.broadcast(nq)).select(
        key, "n_queries", "hits", recall.alias("recall")
    )


DIM_RECALL_CUTS = (8, 16, 32)  # Matryoshka prefix cuts audited vs full


def prefix_topk(
    spark,
    sf_dir: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    cuts: tuple[int, ...] = DIM_RECALL_CUTS,
) -> DataFrame:
    """Exact cosine top-k at EVERY prefix cut AND at full dims in ONE
    corpus scan — the audit kernel behind ``dim_recall``.

    Shape: ``brute_force_topk`` already accumulates the dot product
    dimension-by-dimension (acc += q_j·v_j, the fold the DuckDB oracle
    mirrors), so the partial sum after j = c dimensions IS the exact
    dot of the c-prefix slices. Snapshotting (acc, Σq², Σv²) at each
    cut therefore scores the whole Matryoshka curve — all truncated
    dims plus full — for one pass over the corpus: at 10^12 vectors
    the recall audit costs one scan, not |cuts|+1 scans. Per-cut
    results carry the same r6 rounding, 2e-6 partition-local slack and
    (cos DESC, id) tie-break as the single-dim kernel, so each cut's
    top-k is bit-identical to a standalone scan of the sliced vectors.

    Returns (dims, is_full, q_id, rank, neighbor_id, cos); ``is_full``
    marks the full-dimension baseline rows (cuts ≥ the data's width
    are dropped — they'd duplicate it).
    """
    import numpy as np
    import pandas as pd

    corpus = _load(spark, sf_dir)
    q_ids, Q = _query_matrix(corpus.filter(F.col("vec_id") % query_every == 0))
    cut_list = sorted({int(c) for c in cuts if c > 0})
    bq = spark.sparkContext.broadcast((q_ids, Q, cut_list))

    def score_blocks(batches):
        ids, qm, cuts_ = bq.value
        if qm.size == 0:
            return
        nq, nd = qm.shape
        steps = [c for c in cuts_ if c < nd] + [nd]
        # query norms, snapshotted at each cut of the same j-ordered
        # fold the single-dim kernel uses
        qn = np.zeros(nq)
        qnorm = {}
        prev = 0
        for c in steps:
            for j in range(prev, c):
                qn = qn + qm[:, j] * qm[:, j]
            prev = c
            qnorm[c] = np.sqrt(qn)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.array(list(pdf["v"]), dtype=np.float64)
            n = len(vid)
            acc = np.zeros((nq, n))
            vn = np.zeros(n)
            prev = 0
            for c in steps:
                for j in range(prev, c):
                    acc = acc + np.multiply.outer(qm[:, j], V[:, j])
                    vn = vn + V[:, j] * V[:, j]
                prev = c
                denom = np.multiply.outer(qnorm[c], np.sqrt(vn))
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom == 0, 0.0, acc / denom)
                qi, vi = _local_cut(cos, ids, vid, k)
                yield pd.DataFrame(
                    {
                        "dims": np.full(len(qi), c, dtype=np.int32),
                        "is_full": np.full(len(qi), c == nd, dtype=bool),
                        "q_id": ids[qi],
                        "neighbor_id": vid[vi],
                        "cos": cos[qi, vi],
                    }
                )

    scored = corpus.mapInPandas(
        score_blocks,
        schema="dims int, is_full boolean, q_id long, "
        "neighbor_id long, cos double",
    )
    return _rank_topk(scored, k, part=("dims", "q_id"))


def dim_recall(
    spark,
    sf_dir: str,
    k: int = DEFAULT_K,
    query_every: int = QUERY_EVERY,
    cuts: tuple[int, ...] = DIM_RECALL_CUTS,
) -> DataFrame:
    """recall@k of truncated-dimension exact scans vs the full-dim
    baseline — the Matryoshka serving curve: the number that says how
    many prefix dimensions a first-pass scan (or a smaller serving
    index) can keep and still recover the full-dim top-k. One row per
    cut: (dims, n_queries, hits, recall), micro-averaged like
    ``recall_vs_exact``.

    Cost: ONE corpus scan for the whole curve (``prefix_topk``
    snapshots the dim-ordered fold at each cut); the join sides are
    O(queries × k × cuts), never the corpus. The curve runs as one
    action here, so the snapshot table it persists is released before
    returning: the result is a local frame of the per-cut rows.
    """
    pt = prefix_topk(spark, sf_dir, k, query_every, cuts).persist()
    try:
        exact = pt.filter(F.col("is_full")).select("q_id", "neighbor_id")
        approx = pt.filter(~F.col("is_full")).select(
            "dims", "q_id", "neighbor_id"
        )
        cut_rows = spark.createDataFrame(
            [(int(c),) for c in sorted({int(c) for c in cuts if c > 0})],
            "dims int",
        )
        curve = _recall_rows(cut_rows, approx, exact, k)
        rows = curve.collect()
    finally:
        pt.unpersist()
    return spark.createDataFrame(rows, curve.schema)


def neardup_pairs(spark, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup scan over consecutive vec_id pairs
    (the cheap deterministic probe; ``neardup_bucket_pairs`` is the
    bucketed variant that handles scale)."""
    e = _load(spark, sf_dir)
    a = e.select(F.col("vec_id"), F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))
    j = a.join(b, "vec_id")
    cos = F.round(F.col("cos"), 6)
    return pairwise_cosine(j, "va", "vb", keep=["vec_id"]).select(
        "vec_id",
        cos.alias("cos"),
        (cos >= NEARDUP_THRESHOLD).alias("is_neardup"),
    )


NEARDUP_THRESHOLD = 0.9      # cosine >= threshold → near-duplicate
NEARDUP_BANDS = 4            # independent hyperplane bands (OR'd)
NEARDUP_BUCKET_CAP = 256     # ids enumerated per (band, key) bucket
NEARDUP_SAMPLE_EVERY = 10    # recall-audit sample stride
# The synthetic embeddings are near-random (max pairwise cosine ≈0.43
# at the contract scales), so the CONTRACT queries pin this lower
# threshold to have real pairs to hash-check; the API default above
# stays 0.9 (true near-dups). Imported by queries.py AND sqloracle.py
# so the two sides cannot drift.
NEARDUP_CONTRACT_THRESHOLD = 0.3


def band_keys(
    vec: Column,
    bands: int = NEARDUP_BANDS,
    planes_per_band: int = N_PLANES,
) -> Column:
    """``bands`` independent sign-buckets of ``vec`` as an array of
    bit-strings — band b uses hyperplanes [b·P, (b+1)·P) of the same
    deterministic md5 family (``hyperplane_weights``)."""
    weights = hyperplane_weights(bands * planes_per_band)
    return F.array(
        *[
            sign_bucket(
                vec, weights[b * planes_per_band : (b + 1) * planes_per_band]
            )
            for b in range(bands)
        ]
    )


def neardup_bucket_pairs(
    spark,
    sf_dir: str,
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = NEARDUP_BANDS,
    planes_per_band: int = N_PLANES,
    bucket_cap: int = NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Bucketed embedding near-dup — the SCALE path the consecutive
    probe (``neardup_pairs``) stands in for: candidate pairs share a
    sign-hyperplane bucket in ANY of ``bands`` independent bands
    (OR-of-bands banding, exactly the MinHash-LSH discipline of
    ``dedup.lsh_candidate_pairs``); every candidate is then verified
    with the exact block-kernel cosine. Returns
    (vec_id_a, vec_id_b, cos, is_neardup).

    Shuffle shape (same discipline as the dedup banding pass): ONE
    pass computes all band keys, the band shuffle carries
    (band, key, vec_id) ONLY — never the vectors; in-bucket pairs are
    enumerated from the capped sorted id array; the distinct pair set
    (O(near-dups)) is persisted and vectors are re-joined only for
    candidate ids. Per-pair cost is sub-quadratic by the 2^planes
    bucket divisor: ~bands/2^planes of all pairs are scored.

    Recall/cost trade (the number ``neardup_recall`` measures): a
    pair at cosine c collides per plane with p = 1 - arccos(c)/π, per
    band with p^P, overall 1-(1-p^P)^B — at the default (B=4, P=6)
    that is ~0.87 for true near-dups (c=0.9) while scanning ~6% of
    all pairs; raise ``bands`` for higher recall, ``planes_per_band``
    for lower cost. ``bucket_cap`` bounds the m² blowup of a
    mirror-swamped bucket (cap semantics mirrored in the oracle via
    rank-by-id, like dedup's BUCKET_CAP)."""
    return neardup_bucket_pairs_df(
        _load_raw(spark, sf_dir), threshold, bands, planes_per_band,
        bucket_cap,
    )


def neardup_bucket_pairs_df(
    corpus: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = NEARDUP_BANDS,
    planes_per_band: int = N_PLANES,
    bucket_cap: int = NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """DataFrame form of ``neardup_bucket_pairs`` over (vec_id, v) —
    the composable unit (and the injection-test surface)."""
    return _verify_pairs(
        corpus,
        _band_candidates(corpus, bands, planes_per_band, bucket_cap),
        threshold,
    )


def _band_candidates(
    corpus: DataFrame, bands: int, planes_per_band: int, bucket_cap: int
) -> DataFrame:
    """Candidate (vec_id_a, vec_id_b) pairs sharing ANY band bucket —
    the band exchange carries (band, key, vec_id) ONLY, never the
    vectors; capped pair enumeration is the shared ``banding``
    discipline (same as dedup's MinHash bands)."""
    from blackedge_ocr_spark.analysis.banding import in_bucket_pairs

    banded = _spread(corpus).select(
        "vec_id",
        F.posexplode(band_keys(F.col("v"), bands, planes_per_band)).alias(
            "band", "key"
        ),
    )
    return in_bucket_pairs(banded, "vec_id", "vec_id_a", "vec_id_b", bucket_cap)


def _verify_pairs(
    corpus: DataFrame, cand_pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact block-kernel cosine over a candidate pair set: the pair
    set (O(near-dups)) and the candidate vectors are eagerly staged —
    one count() fills both caches exactly once; without it the two
    verification broadcasts below are submitted concurrently and BOTH
    miss the cold cache, re-running the full banding pass in parallel
    (the failure ``dedup.lsh_candidate_pairs`` documents). The corpus
    never shuffles: both join-backs are broadcast hash joins against
    the raw scan."""
    pairs = cand_pairs.persist()
    cand = pairs.select(
        F.explode(F.array("vec_id_a", "vec_id_b")).alias("vec_id")
    ).distinct()
    vecs = corpus.join(F.broadcast(cand), "vec_id").persist()
    vecs.count()  # fills the pairs cache too (vecs derives from it)
    j = pairs.join(
        F.broadcast(
            vecs.select(F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"))
        ),
        "vec_id_a",
    ).join(
        F.broadcast(
            vecs.select(F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"))
        ),
        "vec_id_b",
    )
    cos = F.round(F.col("cos"), 6)
    return pairwise_cosine(
        j, "va", "vb", keep=["vec_id_a", "vec_id_b"]
    ).select(
        "vec_id_a",
        "vec_id_b",
        cos.alias("cos"),
        (cos >= threshold).alias("is_neardup"),
    )


def neardup_recall(
    spark,
    sf_dir: str,
    threshold: float = NEARDUP_THRESHOLD,
    sample_every: int = NEARDUP_SAMPLE_EVERY,
    bands: int = NEARDUP_BANDS,
    planes_per_band: int = N_PLANES,
    bucket_cap: int = NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Candidate-generation recall of the banded near-dup vs exact
    all-pairs ground truth, estimated on a 1/``sample_every`` sample —
    the production pattern (exact all-pairs is O(n²); a fleet audits
    recall on a sample and tunes bands/planes from it, exactly like
    ``recall_vs_exact`` for the top-k paths). One row:
    (true_pairs, found_pairs, recall) where truth = sample pairs with
    exact cosine >= threshold, found = the subset of truth whose pair
    shares ANY band bucket (verified cosine makes found ⊆ truth by
    construction, so the ratio IS recall). Cost: the truth side
    broadcasts the tiny sample against itself (O((n/s)²) block-kernel
    scores); the found side reuses the banded pass with the sample
    restriction applied to the CANDIDATE ID PAIRS — bucket formation
    (and the cap) still sees the full corpus, but exact verification
    scores only the ~1/s² sampled candidates, not all of them (the
    DuckDB oracle's optimizer pushes the same mod predicates below
    its cosine; without this the Spark side would score every
    full-corpus candidate to count a tiny subset)."""
    corpus = _load_raw(spark, sf_dir)
    sample = corpus.filter(F.col("vec_id") % sample_every == 0)
    a = sample.select(F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"))
    b = sample.select(F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"))
    sp = a.join(F.broadcast(b), F.col("vec_id_a") < F.col("vec_id_b"))
    truth = (
        pairwise_cosine(sp, "va", "vb", keep=["vec_id_a", "vec_id_b"])
        .filter(F.round(F.col("cos"), 6) >= threshold)
    )
    sampled_cands = _band_candidates(
        corpus, bands, planes_per_band, bucket_cap
    ).filter(
        (F.col("vec_id_a") % sample_every == 0)
        & (F.col("vec_id_b") % sample_every == 0)
    )
    found = _verify_pairs(corpus, sampled_cands, threshold).filter(
        F.col("is_neardup")
    )
    t = truth.agg(F.count("*").alias("true_pairs"))
    f_ = found.agg(F.count("*").alias("found_pairs"))
    recall = F.when(
        F.col("true_pairs") > 0,
        F.floor(
            F.col("found_pairs").cast("double")
            / F.col("true_pairs").cast("double")
            * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    )
    return t.crossJoin(f_).select(
        "true_pairs", "found_pairs", recall.alias("recall")
    )
