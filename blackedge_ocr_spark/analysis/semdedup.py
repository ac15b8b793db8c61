"""Semantic deduplication over the embedding column (SemDeDup-style).

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): k-means
cluster the embeddings, then look for near-duplicate pairs ONLY
within a cluster — the cluster assignment replaces the O(n²) global
pair scan with O(Σ cluster²), and clusters are the natural unit of
distribution. This composes the engine's proven bricks:

- ``ann.kmeans_centroids`` — fixed-point-deterministic Lloyd training
  (micro-unit integer sums, bit-identical local/distributed engines);
- ``ann.assign_centroids`` — map-side numpy block assignment, the
  centroid matrix broadcast, the corpus never shuffles to be
  assigned;
- ``ann.pairwise_cosine`` — the dim-ordered block kernel whose fold
  order matches the JVM expression and the DuckDB oracle bit-for-bit.

Shuffle shape (the 100 TB contract): ONE exchange, on ``cid`` — the
capped cluster members co-locate, in-cluster pairs enumerate locally,
and only the O(duplicates) dropped-id set travels afterwards (as a
broadcast). No global all-pairs join, no corpus-sized broadcast: this
is exactly the published SemDeDup decomposition, where cluster size —
bounded here by ``cluster_cap``'s lowest-id rule, the same monster-
bucket defense the LSH paths use — is the tuned knob that keeps the
in-cluster quadratic term flat as n grows (C ≈ 4·√n lists via
``ann.centroid_stride``, so expected cluster size is O(√n) and the
cap is the tail guard, not the common case).

Keeper rule: within a cluster, a vector is a duplicate iff some
LOWER-id cluster member scores cosine ≥ threshold against it
(first-wins by vec_id — the same deterministic discipline as
``scrub.paragraph_dedup`` and ``dedup.exact_duplicates``). The rule
is a plain EXISTS, so the DuckDB oracle mirrors it exactly; it is
deliberately not transitive-closure (``clustering.dedup_clusters``
owns connected components when cluster-level grouping is wanted).

Reference analog: none — the reference's similarity surface
(src/services/validation/similarity_calculator.py) compares one
primary/secondary pair; this extends it corpus-wide per the
training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blackedge_ocr_spark.analysis.ann import (
    NEARDUP_THRESHOLD,
    _corpus_count,
    _load,
    centroid_stride,
    kmeans_centroids,
    assign_centroids,
    train_stride,
)

SEMDEDUP_CLUSTER_CAP = 4096  # ids scored per cluster (skew tail guard)

_GRAM_BLOCK = 512  # row-block width of the in-cluster gram kernel


def _cluster_max_prior_cos(capped: DataFrame) -> DataFrame:
    """(cid, vec_id, v) capped cluster members → one row per member
    that HAS a lower-id member: (vec_id, maxcos) where maxcos =
    max over lower-id members a of cosine(a, b), raw double.

    Arithmetic parity: rows sort by vec_id inside the kernel; the
    gram accumulates over dimensions IN ORDER (one IEEE mul+add per
    step via ``np.multiply.outer`` per dim — the identical op
    sequence ``pairwise_cosine``'s block kernel applies per pair),
    norms/sqrt/divide the same correctly-rounded ops, zero-norm
    products → 0.0. max() of bit-equal doubles is bit-equal.
    Degenerate members (NULL vector or a length differing from the
    cluster majority) fall back to the scalar ``_fold_cos`` per
    pair, exactly like ``pairwise_cosine``'s degenerate rows; NULL
    cosines never contribute to the max (a NULL-scoring pair never
    drops a doc — F.round(NULL) ≥ τ is NULL — matching the per-pair
    plan's filter semantics).

    Peak kernel memory: O(_GRAM_BLOCK × cap) doubles per task —
    the row-blocked gram — plus the member matrix (≤ cap × dims).
    """
    import numpy as np
    import pandas as pd

    from blackedge_ocr_spark.analysis.ann import _fold_cos

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vs = list(pdf["v"])
        m = len(vs)
        if m < 2:
            return pd.DataFrame({"vec_id": [], "maxcos": []})
        lens = [len(v) if v is not None else -1 for v in vs]
        main_len = max(set(lens), key=lambda L: sum(
            1 for x in lens if x == L
        )) if lens else -1
        good = [i for i in range(m) if lens[i] == main_len and main_len >= 0]
        bad = [i for i in range(m) if i not in set(good)]
        best = np.full(m, -np.inf)
        if len(good) >= 2:
            X = np.array([vs[i] for i in good], dtype=np.float64)
            g, dims = X.shape
            norms = np.zeros(g)
            for j in range(dims):
                norms = norms + X[:, j] * X[:, j]
            norms = np.sqrt(norms)
            for b0 in range(0, g, _GRAM_BLOCK):
                b1 = min(b0 + _GRAM_BLOCK, g)
                acc = np.zeros((b1 - b0, g))
                for j in range(dims):
                    acc = acc + np.multiply.outer(
                        X[b0:b1, j], X[:, j]
                    )
                denom = np.multiply.outer(norms[b0:b1], norms)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.where(denom == 0.0, 0.0, acc / denom)
                for r in range(b0, b1):
                    if r > 0:
                        best[good[r]] = max(
                            best[good[r]], cos[r - b0, :r].max()
                        )
        # degenerate members: scalar per-pair fold against every
        # lower-index member (and as the 'a' side of later members)
        for i in bad:
            for k in range(m):
                if k == i:
                    continue
                lo, hi = (k, i) if k < i else (i, k)
                c = _fold_cos(vs[lo], vs[hi])
                if c is not None and c > best[hi]:
                    best[hi] = c
        keep = [i for i in range(m) if best[i] != -np.inf]
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].iloc[keep].to_numpy(),
                "maxcos": best[keep],
            }
        )

    return capped.groupBy("cid").applyInPandas(
        score, schema="vec_id long, maxcos double"
    )


def semantic_dedup_df(
    corpus: DataFrame,
    cents: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    cluster_cap: int = SEMDEDUP_CLUSTER_CAP,
) -> DataFrame:
    """(vec_id, v) × (cid, cv) → (vec_id, cid, is_dup).

    ``assigned`` never shuffles to get its cid (broadcast centroid
    matrix); the ONLY corpus-sized exchange is the cid hash partition
    feeding the window + self-join, and AQE handles a skewed cluster
    on top of the cap. The dropped-id set is O(duplicates) and joins
    back as a broadcast.

    ``assigned`` is persisted because THREE subtrees consume it (both
    self-join sides and the final output projection) — unpersisted,
    Spark re-runs the scan + the centroid-assignment kernel once per
    subtree (observed as 3× MapInPandas in the physical plan; the
    assignment is the corpus × centroids hot loop, so that triples
    the dominant cost). MEMORY_AND_DISK default = the disk-backed
    staging a fleet would use.

    Assignment uses the 2-level coarse→fine quantizer
    (``ann._two_level_assign``, round 5 — the flat scan was this
    pipeline's n^1.5 term at C ≈ 4√n, measured 221.9 s at sf30):
    O(2·√C) cosine evals per vector, geometry-independent. The
    assignment SEMANTICS are the 2-level rule (the published
    inverted-multi-index decomposition), not the flat argmax; the
    DuckDB oracle mirrors the 2-level rule exactly, and SemDeDup's
    recipe needs A k-means-style partition, not THE flat-nearest one
    — cluster membership shifts for a sliver of boundary vectors, the
    dedup rule within clusters is unchanged."""
    assigned = assign_centroids(
        corpus, cents, keep=["vec_id", "v"], two_level=True
    ).persist()

    # Cap each cluster to its lowest ids before pairing — identical
    # rule to banding.in_bucket_pairs, expressed as a window so the
    # vectors ride along (SQL mirror: row_number() ... <= cap).
    rn = F.row_number().over(Window.partitionBy("cid").orderBy("vec_id"))
    capped = (
        assigned.withColumn("rn", rn)
        .filter(F.col("rn") <= cluster_cap)
        .drop("rn")
    )
    # In-cluster scoring as ONE grouped kernel per cluster (round 5):
    # the explode-into-pairs + per-pair Arrow scorer shipped BOTH
    # vectors once per pair — 4.6·10⁸ pairs × ~1 KB ≈ 460 GB through
    # the Arrow boundary at sf30, measured as 99% of the wall
    # (307 s of 403 s). applyInPandas over the capped clusters moves
    # each vector across Arrow exactly ONCE (O(n) transfer), computes
    # the cluster gram with the same dim-ordered block arithmetic as
    # ``pairwise_cosine`` (bit-equal doubles), and emits one row per
    # member: its MAX cosine against any LOWER-id member. round() is
    # monotone, so exists(a < b, round(cos) ≥ τ) ⟺
    # round(max_a cos) ≥ τ — the exact threshold decision stays in
    # Spark's F.round, unchanged. The groupBy reuses the window's
    # cid hash partitioning: no new corpus exchange.
    dropped = (
        _cluster_max_prior_cos(capped)
        .filter(F.round(F.col("maxcos"), 6) >= threshold)
        .select("vec_id")
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(F.broadcast(dropped), "vec_id", "left")
        .select(
            "vec_id", "cid", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
        )
    )


def semantic_dedup(
    spark,
    sf_dir: str,
    threshold: float = NEARDUP_THRESHOLD,
    cluster_cap: int = SEMDEDUP_CLUSTER_CAP,
) -> DataFrame:
    """SemDeDup over the embeddings table: k-means (the trained-
    centroid path, same 3 fixed-point Lloyd iterations as
    ``ann_ivf_kmeans_topk``) → within-cluster first-wins near-dup."""
    # Round 5: pass the ADAPTIVE centroid stride explicitly — the
    # DuckDB oracle always used STRIDE_SQL (C ≈ 4·√n) while this call
    # used the fixed 37 floor, a latent divergence invisible at
    # contract scale (both resolve to 37 below n ≈ 22k) that would
    # have mismatched at any larger corpus — and the adaptive
    # TRAINING stride (train_stride: ~16·C sample, O(n) Lloyd work,
    # mirrored by TRAIN_STRIDE_SQL in the semdedup oracle alone).
    n = _corpus_count(spark, sf_dir)
    corpus = _load(spark, sf_dir)
    cents = kmeans_centroids(
        corpus,
        centroid_every=centroid_stride(n),
        train_every=train_stride(n),
        n=n,
    )
    return semantic_dedup_df(corpus, cents, threshold, cluster_cap)
