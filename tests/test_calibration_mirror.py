"""Mirror-stats detection on a constructed corpus: a stratum that
re-hosts another source's pages verbatim shows up as cross-source
duplicate mass.
"""

from __future__ import annotations


def test_source_mirror_stats_finds_planted_mirror(spark):
    """A mirror stratum re-hosting half of source A's docs shows up
    as (A, mirror) pairs at jaccard 1.0; unrelated sources yield no
    cross mass."""
    from blackedge_ocr_spark.analysis.dedup import source_mirror_stats

    def page(prefix: str, i: int) -> str:
        # fully disjoint token sets across pages: no organic pairs
        return " ".join(f"{prefix}{i}w{k}" for k in range(30))

    rows = []
    for i in range(20):
        rows.append((i, page("a", i), "siteA"))
    for i in range(20, 40):
        rows.append((i, page("b", i), "siteB"))
    # mirror re-hosts siteA's even docs verbatim
    for i in range(0, 20, 2):
        rows.append((1000 + i, page("a", i), "mirror"))
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_mirror_stats(d).collect()
    }
    am = out[("siteA", "mirror")]
    assert am["n_pairs"] == 10
    assert am["mean_jaccard"] == 1.0
    # disjoint vocabularies: the mirror stratum is the ONLY pair mass
    assert set(out) == {("siteA", "mirror")}
