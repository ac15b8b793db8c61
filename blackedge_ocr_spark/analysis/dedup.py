"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale shape:
- exact dedup = one hash aggregation on md5(normalized text) — the
  map-side partial agg collapses all duplicates before the shuffle,
  so reduce-side traffic is O(distinct docs).
- MinHash/LSH = per-row signature (no shuffle) → explode bands →
  self-join on (band, key). The band join touches only docs sharing a
  bucket — the classic sub-quadratic near-dup pattern that survives
  10^12 docs, vs the O(n²) all-pairs scan that does not.
- SimHash = Arrow-batched pandas UDF (numpy bit-unpack over token
  md5s) — genuinely custom bit math, the documented UDF slow-path
  exception; tokenization stays JVM-side.

Deterministic hashing only (md5); no RNG, no wall clock.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blackedge_ocr_spark.functions.text import normalize_for_comparison, tokens

MINHASH_K = 12          # hash functions in the MinHash signature
LSH_ROWS_PER_BAND = 3   # → 4 bands; P(candidate) = 1-(1-j^3)^4
SHINGLE_N = 3           # word-shingle width


def word_shingles(col, n: int = SHINGLE_N) -> Column:
    """Overlapping n-word shingles of the normalized token stream.
    Docs shorter than n tokens yield their full token join (one
    shingle), so tiny docs still dedupe."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(F.size(toks) > 0, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(shingles: Column) -> Column:
    """64 hex chars per shingle (two md5s) — materialize as a column
    once; the k signature rows are cheap windows over it instead of k
    fresh md5s per shingle (~6x less hashing). Engine-portable."""
    # NB: transform lambdas must stay single-arg — a second parameter
    # would be bound to the array index by PySpark.
    return F.transform(
        shingles,
        lambda s: F.concat(
            F.md5(F.concat(F.lit("a:"), s)), F.md5(F.concat(F.lit("b:"), s))
        ),
    )


def minhash_signature(hashes: Column, k: int = MINHASH_K) -> Column:
    """k-wide MinHash signature over prepared shingle hashes: function
    i = lexicographic min of the 16-char window at offset 4i of each
    64-char hash. Windows overlap (correlated), which only softens
    LSH recall — candidates are verified with true Jaccard, so
    correctness is unaffected; the DuckDB oracle uses the identical
    scheme."""
    def _min_hash(i: int) -> Column:
        start = 1 + 4 * i
        return F.array_min(
            F.transform(hashes, lambda h: F.substring(h, start, 16))
        )

    return F.array(*[_min_hash(i) for i in range(k)])


@F.pandas_udf(T.ArrayType(T.StringType()))
def _minhash_sig_arrow(shingles: pd.Series) -> pd.Series:
    """``minhash_signature(shingle_hashes(...))`` fused into one
    Arrow-batched pass — the LSH/minhash hot path.

    The JVM form is algorithmically fine (O(shingles) per row) but
    pays interpreted higher-order-function overhead per element ×
    per window: transform(md5‖md5) then 12× transform(substring) +
    array_min re-walks, ~26 interpreted lambda evaluations per
    shingle. Here hashlib does the same two md5s per shingle and the
    12 window mins fall out of one Python loop — measured ~3× on the
    full banding pass at sf1 (same pattern as ``simhash64`` below).

    Bit-identical by construction: md5 over the identical UTF-8
    bytes, identical hex windows (h[4i:4i+16] == substring(h,1+4i,16)),
    and Python ``min`` on ASCII hex strings == Spark ``array_min``
    (both lexicographic by code point). Empty shingle arrays yield
    [None]*k exactly as array_min over an empty transform yields
    null per window.
    """
    k = MINHASH_K
    out = []
    for sh in shingles:
        if sh is None or len(sh) == 0:
            out.append([None] * k)
            continue
        # One 64-hex row per shingle, packed into a (n, 64) byte
        # matrix; each window min is then a C-level slice + compare
        # over 16-byte voids instead of 12 interpreted slice/cmp per
        # shingle (measured 1.6x on the signature stage).
        hs = b"".join(
            (
                hashlib.md5(b"a:" + b).hexdigest()
                + hashlib.md5(b"b:" + b).hexdigest()
            ).encode("ascii")
            for b in (s.encode("utf-8") for s in sh)
        )
        arr = np.frombuffer(hs, dtype=np.uint8).reshape(-1, 64)
        out.append(
            [
                min(
                    np.ascontiguousarray(arr[:, 4 * i : 4 * i + 16])
                    .view("V16")
                    .ravel()
                    .tolist()
                ).decode("ascii")
                for i in range(k)
            ]
        )
    return pd.Series(out)


def minhash_signature_arrow(shingles: Column) -> Column:
    """Arrow fast path for the composed signature — see
    ``_minhash_sig_arrow``. The JVM ``shingle_hashes`` +
    ``minhash_signature`` pair remains the engine-portable reference
    implementation (and the oracle mirror's template); both paths are
    bit-identical and parity-tested."""
    return _minhash_sig_arrow(shingles)


def lsh_band_keys(sig: Column, rows_per_band: int = LSH_ROWS_PER_BAND) -> Column:
    """array<struct<band:int, key:string>> — md5 of each signature
    slice; docs agreeing on any band become candidates."""
    n_bands = MINHASH_K // rows_per_band
    bands = []
    for b in range(n_bands):
        parts = [sig[b * rows_per_band + r] for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("key")
            )
        )
    return F.array(*bands)


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two distinct-element arrays; 1.0 when both
    empty. Delegates to the ONE guarded implementation
    (functions/similarity.jaccard_terms_guarded) so the empty-side
    semantics cannot drift between the dedup and similarity paths."""
    from blackedge_ocr_spark.functions.similarity import (
        jaccard_terms_guarded,
    )

    return jaccard_terms_guarded(a, b)


# Injected-copy id offset: far above any real or replicated doc_id
# (datagen replicas sit at 10^7 strides) so the injected stratum can
# never collide with a real id and silently corrupt doc_id uniqueness.
# Shared with sqloracle.DUP_CORPUS.
DUP_ID_OFFSET = 10**12


def with_dup_injection(
    docs: DataFrame, every: int = 10, id_offset: int = DUP_ID_OFFSET
) -> DataFrame:
    """Corpus + exact copies of every ``every``-th doc under a shifted
    doc_id — a deterministic duplicate stratum so dedup queries have
    true positives to find (the driver corpus is all-distinct)."""
    dups = docs.filter(F.col("doc_id") % every == 0).withColumn(
        "doc_id", F.col("doc_id") + id_offset
    )
    return docs.unionByName(dups)


def content_hash(col) -> Column:
    """md5 of the comparison-normalized text — THE exact-dedup key.
    Shared by ``exact_duplicates``, the survivor-apply join
    (queries.q_dedup_apply) and the streaming registry, so the key
    definition cannot drift between the group side and the join side
    (drift would silently match nothing and drop the corpus)."""
    return F.md5(normalize_for_comparison(col))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Group by ``content_hash`` of the text: one row per distinct
    content with the keeper (min doc_id) and the group size."""
    h = content_hash(F.col("text"))
    return (
        docs.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


BUCKET_CAP = 128  # max ids enumerated per (band, key) bucket — bounds
                  # the m² pair blowup of duplicate mega-clusters


def production_pairs(
    docs: DataFrame, min_jaccard: float = 0.5, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """The production near-dup ordering: exact-dedup FIRST, MinHash-LSH
    on the surviving representatives.

    ``lsh_candidate_pairs`` run directly on a mirror-heavy corpus
    faithfully verifies every within-cluster pair — quadratic in the
    duplicate-cluster size, and pure waste since an md5 hash-agg
    already proves those docs identical at O(distinct) shuffle.
    Measured on the sf10 probe corpus (500k docs, 99% exact
    duplicates in clusters of 100): naive LSH ~280 s verifying 24.75M
    pairs of byte-identical text; this composition 36.6 s — exact
    pass 19.6 s → 4,992 survivors, LSH 17.0 s (BENCH/BASELINE.md,
    data-size scaling note 1). Output = near-dup pairs among cluster
    REPRESENTATIVES (min doc_id per content hash); membership of the
    collapsed exact clusters is the ``exact_duplicates`` output, so
    together the two relations carry strictly more information than
    the naive pair list at a fraction of the cost."""
    keep = exact_duplicates(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = docs.join(keep, "doc_id")
    return lsh_candidate_pairs(survivors, min_jaccard, bucket_cap)


def lsh_candidate_pairs(
    docs: DataFrame, min_jaccard: float = 0.5, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: signature → band buckets →
    in-bucket pair enumeration → verify true shingle Jaccard.

    Tokenization discipline (the 100 TB shape): the corpus is
    tokenized/shingled/hashed exactly ONCE. The previous self-join
    form re-derived the banding lineage on both join sides and the
    shingle table on both verification sides — Catalyst cannot reuse
    an exchange between a shuffle side and a broadcast side, so the
    full regex+md5 pass over every document ran ~6× (visible as six
    parquet scans in PLANS.md; at sf1 it dominated the query). Now:

    - ONE banding pass groups (band, key) buckets and enumerates the
      in-bucket id pairs with an array comprehension — same m² pairs
      the join produced, but from one pass and one shuffle whose
      payload is (band, key, doc_id) only.
    - The distinct pair set — O(near-dups), tiny by construction — is
      persisted; on a cluster this is the "stage candidates to a
      table" step of every production MinHash dedup.
    - Shingles for verification are recomputed ONLY for candidate
      docs (broadcast semi-join on ids first, then shingle the
      surviving minority), never carried through the band shuffle.

    NULL band keys (docs with no shingles — empty text) are filtered
    before grouping; join equality never matched them, and grouping
    WOULD, so the filter preserves the original/oracle semantics.

    Monster-bucket cap (the skew defense): a bucket of m mutually-
    identical documents yields one m-element group row and m²
    candidate elements — quadratic in the duplicate-cluster size, the
    classic LSH failure on boilerplate-heavy corpora (the same page
    mirrored 10⁵ times puts 10¹⁰ pairs in one task). Each bucket is
    therefore capped to its ``bucket_cap`` LOWEST doc_ids before
    enumeration (sort → slice: deterministic, so the SQL oracle
    applies the identical rule via a windowed row_number). The
    documented recall trade: members beyond the cap only pair up if
    they land in a differently-capped bucket of some OTHER band (near-
    dups usually do — their signatures differ; bit-identical docs do
    NOT, but those are exactly what the md5 exact pass
    (``exact_duplicates``) catches upstream in any production
    ordering: exact-dedup first, LSH on the survivors)."""
    sh_expr = word_shingles(F.col("text"))
    sig = docs.select("doc_id", sh_expr.alias("shingles")).select(
        "doc_id", minhash_signature_arrow(F.col("shingles")).alias("sig")
    )
    banded = sig.select(
        "doc_id", F.explode(lsh_band_keys(F.col("sig"))).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")

    from blackedge_ocr_spark.analysis.banding import in_bucket_pairs

    pairs = in_bucket_pairs(
        banded, "doc_id", "doc_a", "doc_b", bucket_cap
    ).persist()
    cand = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    cand_sh = (
        docs.join(F.broadcast(cand), "doc_id")
        .select("doc_id", sh_expr.alias("shingles"))
        .persist()
    )
    # Eager materialization = the "stage candidates to a table" step.
    # Without it the two verification broadcasts below are submitted
    # concurrently and BOTH miss the cold cache — the full banding
    # pass runs twice in parallel (observed as a duplicated 256-task
    # stage at sf1). One count() fills both caches exactly once.
    # Cache lifecycle: both tables are O(candidates); repeated calls
    # with an identical plan are deduped by Spark's CacheManager, so
    # a long session holds at most one copy per distinct corpus.
    cand_sh.count()
    verified = (
        pairs.join(
            F.broadcast(
                cand_sh.select(F.col("doc_id").alias("doc_a"),
                               F.col("shingles").alias("sh_a"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                cand_sh.select(F.col("doc_id").alias("doc_b"),
                               F.col("shingles").alias("sh_b"))
            ),
            "doc_b",
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle Jaccard over consecutive-id pairs — the direct
    (non-LSH) near-dup measure, used as the LSH ground truth."""
    a = docs.select(
        F.col("doc_id"), word_shingles(F.col("text")).alias("sh_a")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        word_shingles(F.col("text")).alias("sh_b"),
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
        )
    )


# ----------------------------------------------------------- SimHash

_SIMHASH_RET = T.StringType()


@F.pandas_udf(_SIMHASH_RET)
def simhash64(token_arrays: pd.Series) -> pd.Series:
    """64-bit SimHash over a token array column, returned as a 64-char
    '0'/'1' string (engine-portable representation).

    Bit b of md5(token) = bit (3 - b%4) of hex digit b//4 — the same
    mapping the DuckDB oracle computes digit-wise. Vectorized: one
    numpy unpackbits per Arrow batch row."""
    out = []
    for toks in token_arrays:
        toks = list(toks) if toks is not None else []
        if not toks:
            out.append("0" * 64)
            continue
        hs = np.array(
            [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
                for t in toks
            ],
            dtype=np.uint64,
        )
        bits = (
            np.unpackbits(hs.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1)
            .astype(np.int32)
        )
        sums = (2 * bits - 1).sum(axis=0)
        out.append("".join("1" if s > 0 else "0" for s in sums))
    return pd.Series(out)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + 64-bit SimHash bit-string (tokens JVM-side, bit math
    in the Arrow-batched UDF)."""
    return docs.select(
        "doc_id", simhash64(tokens(F.col("text"))).alias("simhash")
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """SimHash near-duplicate pairs via band buckets: split the 64-bit
    signature into ``bands`` 16-bit bands; docs sharing any band are
    candidates; verify true Hamming distance on candidates only.
    Pigeonhole RECALL GUARANTEE: a pair within Hamming distance
    bands-1 must agree exactly on >=1 band, so the default is
    max_hamming = bands - 1 = 3 — the classic 64-bit/4-block/k<=3
    configuration of published simhash dedup (Manku et al. 2007). A
    larger max_hamming returns extra (lucky-banding) pairs but is NOT
    exhaustive at that distance; raise ``bands`` to >= max_hamming+1
    for a guarantee. Sub-quadratic like MinHash-LSH, but
    over the bit signature. ``bucket_cap`` bounds the mirror-swamped
    bucket exactly like the LSH path (oracle-mirrored via
    row_number)."""
    from blackedge_ocr_spark.analysis.banding import in_bucket_pairs

    sigs = simhash_signatures(docs)
    width = 64 // bands
    # Third banding front-end, same discipline as MinHash-LSH and the
    # embedding near-dup: the band shuffle carries (band, key, doc_id)
    # ONLY (the previous self-join shipped both 64-char signatures
    # through it), buckets are capped (the earlier form had NO cap —
    # a page mirrored 10^5 times shares every band key and would
    # enumerate ~10^10 pairs in one task), and candidate signatures
    # are eagerly staged so the two verify broadcasts cannot
    # race-recompute the tokenize+md5 signature pass.
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash", b * width + 1, width)
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    pairs = in_bucket_pairs(
        banded, "doc_id", "doc_a", "doc_b", bucket_cap
    ).persist()
    cand = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    csigs = sigs.join(F.broadcast(cand), "doc_id").persist()
    csigs.count()  # fills the pairs cache too (csigs derives from it)
    j = pairs.join(
        F.broadcast(
            csigs.select(
                F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
            )
        ),
        "doc_a",
    ).join(
        F.broadcast(
            csigs.select(
                F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
            )
        ),
        "doc_b",
    )
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.col("sig_a").substr(i + 1, F.lit(1))
            != F.col("sig_b").substr(i + 1, F.lit(1)),
        )
    )
    return j.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def source_mirror_stats(
    docs: DataFrame, min_jaccard: float = 0.5
) -> DataFrame:
    """Cross-source near-dup rollup — mirror-site detection: which
    sources copy from which. (source_a, source_b, n_pairs,
    mean_jaccard) over the verified LSH pair set, sources in doc-id
    order (a < b), so a mirror shows up as (origin, mirror) mass.

    Shape: the pair set is O(near-dups) and BROADCASTS into the two
    source-attachment joins — the corpus projection streams past it
    twice, never shuffling; the final agg groups O(pairs) rows by a
    |sources|² key space. mean_jaccard goes through the micro-unit
    trick: each r6 jaccard recovers its exact integer (floor(j·1e6 +
    0.5)), the sum is exact longs (order-free), one double division
    at the end."""
    pairs = lsh_candidate_pairs(
        docs.select("doc_id", "text"), min_jaccard=min_jaccard
    )
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
    )
    j = sa.join(F.broadcast(pairs), "doc_a")
    j = sb.join(F.broadcast(j), "doc_b")
    mean_j = (
        F.floor(
            F.sum(
                F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.count("*").cast("double")
            + F.lit(0.5)
        )
        / 1e6
    )
    return j.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs"), mean_j.alias("mean_jaccard")
    )


def minhash_jaccard_audit(docs: DataFrame) -> DataFrame:
    """MinHash estimation-accuracy audit over the consecutive-id
    probe pairs (the ngram_jaccard probe set): the fraction of
    agreeing signature components — the unbiased estimator LSH
    banding is built on — NEXT TO the exact shingle Jaccard it
    estimates, plus the absolute error. The ann_recall/hll audit
    pattern applied to MinHash itself: this is the table a user reads
    to size MINHASH_K before trusting signature-only similarity on
    the big corpus (signatures are O(K) per doc and mergeable;
    exact Jaccard needs both shingle sets shipped to one task).

    Shape: one corpus pass computes shingles + signature per row (the
    signature is a pure column expression — no shuffle), then the
    aligned-id self-join; no bucketing needed because the probe set
    is O(n) by construction. Empty-shingle docs keep NULL signature
    components: NULL == NULL comparisons drop out of the match count
    (both engines), so j_est stays 0 while j_exact reports 1.0 for
    two empty docs — the audit honestly shows the estimator's blind
    spot instead of masking it.
    """
    sh = word_shingles(F.col("text"))
    sig = minhash_signature(shingle_hashes(sh))
    a = docs.select("doc_id", sh.alias("sh_a"), sig.alias("sig_a"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        sh.alias("sh_b"),
        sig.alias("sig_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    j_exact = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    j_est = F.round(matches / F.lit(float(MINHASH_K)), 6)
    return a.join(b, "doc_id").select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + F.lit(1)).alias("doc_b"),
        j_exact.alias("j_exact"),
        j_est.alias("j_est"),
        F.round(F.abs(j_est - j_exact), 6).alias("abs_err"),
    )
