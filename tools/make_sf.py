"""Deterministic scale-up of a driver testdata dir for benchmarking.

Replicates the two tables the engine reads (documents, embeddings) K
times with disjoint id ranges — replica k of doc_id d gets doc_id
d + k*stride. The source dir's other tables are not read by any query
and are not written. The result is a directory bench.py can point at
(name it ``sfX`` so the harness parses the scale factor from the path).

Replication semantics, chosen on purpose:
- documents: text is replicated UNCHANGED, so the corpus contains
  duplicate clusters of size K. That is the shape web-scale corpora
  actually have (boilerplate, mirrors, syndication) and exactly what
  the dedup operators exist for; LSH pair counts grow with cluster
  size C(K,2) per group, which is the honest cost of deduping such a
  corpus, not a benchmark artifact.
- embeddings: vec_id offset per replica; vectors unchanged (ANN cost
  scales as queries x corpus = K^2, the true brute-force scaling).

Everything is a pure function of the input dir — no RNG, no clock.

Usage: python tools/make_sf.py [src_dir] [dst_dir] [K]
       defaults: /root/testdata/sf0.1 .data/sf1 10
"""

from __future__ import annotations

import os
import sys

import duckdb

REPLICATED = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else ".data/sf1"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    con = duckdb.connect()
    for table, id_cols in REPLICATED.items():
        sp, dp = f"{src}/{table}.parquet", f"{dst}/{table}.parquet"
        cols = [c[0] for c in con.sql(f"DESCRIBE SELECT * FROM '{sp}'").fetchall()]
        # stride = next power of 10 above the max id, so replica ids
        # are disjoint AND human-readable (replica k = leading digit).
        strides = {}
        for c in id_cols:
            m = con.sql(f"SELECT max({c}) FROM '{sp}'").fetchone()[0]
            s = 10
            while s <= m:
                s *= 10
            strides[c] = s
        sel = ", ".join(
            f"({c} + r.k * {strides[c]})::BIGINT AS {c}" if c in id_cols else c
            for c in cols
        )
        con.sql(
            f"COPY (SELECT {sel} FROM '{sp}', "
            f"(SELECT unnest(range({k})) AS k) r ORDER BY r.k) "
            f"TO '{dp}' (FORMAT parquet)"
        )
        n = con.sql(f"SELECT count(*) FROM '{dp}'").fetchone()[0]
        print(f"scaled   {table} x{k} -> {n} rows (strides {strides})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
