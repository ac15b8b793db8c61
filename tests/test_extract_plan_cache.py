"""``extract_documents`` builds its column plan once per configuration
(``pipeline._extract_plan``, memoized) and applies it per call. These
tests pin that the cache is hit, and that a plan reused across
interleaved configurations gives the same rows as a fresh build."""

import re

import pyspark.sql.functions as F
import pytest

from blackedge_ocr_spark.datagen import fixture_dataframe
from blackedge_ocr_spark.pipeline import _extract_plan, extract_documents


@pytest.fixture(scope="module")
def spans(spark):
    # `val` is a per-row validation flag for the column-name form of
    # enable_validation
    d = fixture_dataframe(spark).withColumn(
        "val", F.xxhash64("doc_id") % 2 == 0
    ).cache()
    d.count()
    yield d
    d.unpersist()


def _result(df):
    """(sorted rows, analyzed plan with expression ids and lambda
    variable suffixes masked)"""
    plan = re.sub(
        r"#\d+|(?<=\b[xyz]_)\d+", "N", df._jdf.queryExecution().analyzed().toString()
    )
    return sorted(repr(r.asDict(recursive=True)) for r in df.collect()), plan


CONFIGS = {
    "threshold_0.85": (True, dict(similarity_threshold=0.85)),
    "threshold_0.99": (True, dict(similarity_threshold=0.99)),
    "threshold_0.3": (True, dict(similarity_threshold=0.3)),
    "query_absent": (False, dict()),
    "validation_column": (True, dict(enable_validation="val")),
}


def _run(spans, name):
    with_query, kwargs = CONFIGS[name]
    d = spans if with_query else spans.drop("query")
    return _result(extract_documents(d, query_col="query", **kwargs))


def test_one_configuration_builds_once(spans):
    _extract_plan.cache_clear()
    extract_documents(spans, query_col="query")
    extract_documents(spans, query_col="query")
    extract_documents(spans.limit(10), query_col="query")
    info = _extract_plan.cache_info()
    assert (info.misses, info.hits, info.currsize) == (1, 2, 1)


def test_interleaved_configurations_match_fresh_builds(spans):
    fresh = {}
    for name in CONFIGS:
        _extract_plan.cache_clear()
        fresh[name] = _run(spans, name)
    # every configuration has its own plan, so a plan served to the
    # wrong one would show; no similarity in the fixture corpus lies between
    # 0.85 and 0.99, so 0.3 is the threshold that also moves rows
    assert len({plan for _, plan in fresh.values()}) == len(CONFIGS)
    assert len({tuple(rows) for rows, _ in fresh.values()}) == len(CONFIGS) - 1

    _extract_plan.cache_clear()
    for _ in range(2):
        for name in CONFIGS:
            assert _run(spans, name) == fresh[name], name
    info = _extract_plan.cache_info()
    assert (info.misses, info.hits) == (len(CONFIGS), len(CONFIGS))
