"""Consistency of the contract registries, checked without a Spark
action: every contract query has a DuckDB oracle and every oracle a
query, the plan report names only contract queries, and every table
the contract checker mounts is read by some oracle."""

import importlib.util
import re
from pathlib import Path

import __spark_entry__ as se
from blackedge_ocr_spark.sqloracle import build_oracles

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _tool(name):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    """A query without an oracle would fall back to check_contract's
    rows-only path, which compares nothing but non-emptiness."""
    assert set(se.queries()) == set(build_oracles())


def test_plan_report_names_only_contract_queries():
    report = _tool("explain_report").REPORT_QUERIES
    assert set(report) <= set(se.queries())


def test_every_mounted_table_is_read_by_an_oracle():
    sql = "\n".join(build_oracles().values())
    for t in _tool("check_contract").TABLES:
        assert re.search(rf"\b(FROM|JOIN)\s+{t}\b", sql), t
