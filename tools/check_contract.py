"""Local simulation of the driver's correctness gate.

For each entry in ``__spark_entry__.queries()``: run the Spark
DataFrame at the given sf dir, run the matching ``oracle_sql()`` in
DuckDB over the same parquet tables, and compare row count, column
names, and order-insensitive values. Floats are compared exactly
(both sides are expected to round); near-misses are reported.

Usage: python tools/check_contract.py [--json OUT.json] [sf_dir] [query ...]
       python tools/check_contract.py --compare-digests OLD.json NEW.json

With ``--json`` the full per-query result (status, rows, timings,
first mismatches, row digests) is written as a committed artifact so
the complete 92-query sweep (about 5 min at sf0.001 on 4 cores) can be
read without a rerun. ``spark_digest`` and ``oracle_digest`` are
sha256s of the sorted canonical row tuples the comparator builds, so
equal digests mean the comparator would call the rows equal.

``--compare-digests`` reads two such files (no Spark) and lists the
queries whose Spark or oracle digest changed, and those added or
removed. It exits 1 when any query present in both files changed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("documents", "embeddings")


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if v is None:
        return "<NULL>"
    return str(v)


def canon_rows(pdf, cols):
    """The comparator's order-free form of a result: sorted row tuples."""
    return sorted(tuple(canon(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))


def digest(cols, rows) -> str:
    return hashlib.sha256(
        json.dumps([list(cols), rows]).encode()).hexdigest()


def compare_digests(old: dict, new: dict) -> dict:
    """Queries whose digests changed between two ``--json`` reports,
    and those only one report has."""
    oq, nq = old["queries"], new["queries"]
    keys = ("spark_digest", "oracle_digest")
    return {
        "changed": sorted(n for n in oq.keys() & nq.keys()
                          if any(oq[n].get(k) != nq[n].get(k)
                                 for k in keys)),
        "added": sorted(nq.keys() - oq.keys()),
        "removed": sorted(oq.keys() - nq.keys()),
    }


def _compare_main(old_path: str, new_path: str) -> int:
    with open(old_path) as fh:
        old = json.load(fh)
    with open(new_path) as fh:
        new = json.load(fh)
    diff = compare_digests(old, new)
    for kind, names in diff.items():
        print(f"{kind} ({len(names)}): {' '.join(names)}")
    return 1 if diff["changed"] else 0


def main() -> int:
    argv = list(sys.argv[1:])
    if argv[:1] == ["--compare-digests"]:
        if len(argv) != 3:
            print("usage: check_contract.py --compare-digests "
                  "OLD.json NEW.json", file=sys.stderr)
            return 2
        return _compare_main(argv[1], argv[2])

    import duckdb

    import __spark_entry__ as se
    from blackedge_ocr_spark.session import build_session

    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_contract.py [--json OUT.json] "
                  "[sf_dir] [query ...]", file=sys.stderr)
            return 2
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = build_session()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = se.queries(), se.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec: dict = {"err": None}
        report[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spd = sdf.toPandas()
        except Exception as exc:
            print(f"[FAIL spark] {name}: {exc}")
            rec.update(status="spark-error", err=str(exc)[:500])
            failures += 1
            continue
        t1 = time.time()
        rec["spark_rows"] = len(spd)
        rec["spark_sec"] = round(t1 - t0, 2)
        cols = sorted(spd.columns)
        a = canon_rows(spd, cols)
        rec["spark_digest"] = digest(cols, a)
        sql = oracles.get(name)
        if sql is None:
            print(f"[rows-only] {name}: {len(spd)} rows  ({t1 - t0:.1f}s)")
            rec["status"] = "rows-only"
            if len(spd) == 0:
                print(f"  !! EMPTY result")
                rec["status"] = "rows-only-EMPTY"
                failures += 1
            continue
        t1o = time.time()
        try:
            opd = con.sql(sql).df()
        except Exception as exc:
            print(f"[FAIL oracle-sql] {name}: {exc}")
            rec.update(status="oracle-error", err=str(exc)[:500])
            failures += 1
            continue
        t2 = time.time()
        rec["oracle_rows"] = len(opd)
        rec["duckdb_sec"] = round(t2 - t1o, 2)
        ocols = sorted(opd.columns)
        b = canon_rows(opd, ocols)
        rec["oracle_digest"] = digest(ocols, b)
        rec["rows_match"] = len(spd) == len(opd)
        rec["schema_match"] = cols == ocols
        ok = True
        if not rec["schema_match"]:
            print(f"[FAIL cols] {name}: spark={sorted(spd.columns)} "
                  f"oracle={sorted(opd.columns)}")
            ok = False
        if not rec["rows_match"]:
            print(f"[FAIL rows] {name}: spark={len(spd)} oracle={len(opd)}")
            ok = False
        if ok:
            rec["hash_match"] = a == b
            if a != b:
                ok = False
                diffs = [(x, y) for x, y in zip(a, b) if x != y]
                rec["n_diffs"] = len(diffs)
                rec["first_diff"] = [list(diffs[0][0]), list(diffs[0][1])]
                print(f"[FAIL values] {name}: {len(diffs)} differing "
                      f"(of {len(a)}) — first 3:")
                for x, y in diffs[:3]:
                    print(f"   spark : {x}\n   oracle: {y}")
        else:
            rec["hash_match"] = False
        if ok:
            rec["status"] = "pass"
            print(f"[OK] {name}: {len(spd)} rows "
                  f"(spark {t1 - t0:.1f}s, duckdb {t2 - t1o:.1f}s)")
        else:
            rec["status"] = "FAIL"
            failures += 1
    print(f"\n{'PASS' if failures == 0 else f'FAILURES: {failures}'}")
    if json_out:
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(report),
            "n_pass": sum(1 for r in report.values()
                          if r.get("status") in ("pass", "rows-only")),
            "n_fail": failures,
            "queries": report,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
