"""Physical-plan inspection helpers.

"Would this plan survive 100x?" is checked mechanically: tests assert
shuffle counts, filter pushdown, and Python-boundary counts on the
real optimized plans, so a regression that introduces an accidental
shuffle or un-pushed filter fails CI — not a code review.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def cached_frame_count(spark) -> int:
    """Entries in the session's CacheManager: what persisted frames
    are still held, by this caller or anyone else."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return int(fld.get(cm).size())


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def split_executed(plan: str) -> tuple[str, str]:
    """Partition a formatted plan into (executed, cache_build) text.

    Two tree regions never run when the query itself executes, and
    counting them misreports the query's runtime shuffle cost:

    - ``== Initial Plan ==`` — AQE prints the pre-runtime plan next to
      the ``== Final Plan ==`` that actually ran once a subtree has
      executed; keeping both double-counts every shuffle in it.
    - ``InMemoryRelation`` subtrees — the build plan of a persisted
      table. It runs ONCE to fill the cache (returned as the second
      element so the one-time cost stays visible); afterwards the
      query reads the ``InMemoryTableScan`` parent node.

    Region extent is indentation-scoped: lines deeper than the marker
    belong to it, the first line at or above the marker's column ends
    it (blank lines end it too, so the node-detail section that
    follows the tree is never swallowed).
    """
    executed: list[str] = []
    cache: list[str] = []
    skip_col: int | None = None
    skip_kind = ""
    for line in plan.splitlines():
        body = line.lstrip(" :|")
        col = len(line) - len(body)
        if skip_col is not None:
            if "== " in body:
                # AQE section headers inside a cached plan print
                # WITHOUT the ':' rails, so they (and their body) can
                # land at a column SHALLOWER than the InMemoryRelation
                # marker. Rebase the region column to the header so
                # the dedented section stays inside the region instead
                # of leaking its nodes into the executed count.
                skip_col = min(skip_col, col)
                if skip_kind == "cache":
                    cache.append(line)
                continue
            if body and col > skip_col:
                if skip_kind == "cache":
                    cache.append(line)
                continue
            skip_col = None
        if "== Initial Plan ==" in line:
            skip_col, skip_kind = col, "initial"
            continue
        if re.search(r"InMemoryRelation \(\d+\)", line):
            skip_col, skip_kind = col, "cache"
            continue
        executed.append(line)
    cache_text = "\n".join(cache)
    if cache:
        # the cached subtree may itself carry an AQE initial/final pair
        cache_text, _ = split_executed(cache_text)
    return "\n".join(executed), cache_text


_TREE_EXCHANGE = re.compile(r"[+:]- Exchange \((\d+)\)")
_TREE_PYTHON = re.compile(
    r"[+:]- (?:ArrowEvalPython|MapInPandas|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInPandasWithState) \((\d+)\)"
)


def plan_counts(plan: str) -> dict:
    """All four shuffle/Python-boundary counts from ONE formatted plan
    string (one split instead of four explain round-trips)."""
    executed, cache = split_executed(plan)
    return {
        "exchanges": len(set(_TREE_EXCHANGE.findall(executed))),
        "cache_exchanges": len(set(_TREE_EXCHANGE.findall(cache))),
        "python_stages": len(set(_TREE_PYTHON.findall(executed))),
        "cache_python_stages": len(set(_TREE_PYTHON.findall(cache))),
    }


def count_exchanges(df: DataFrame) -> int:
    """Distinct shuffle nodes the query executes (tree section only;
    AQE initial-plan duplicates and one-time persisted-cache build
    subtrees excluded — see split_executed)."""
    return plan_counts(formatted_plan(df))["exchanges"]


def count_cache_build_exchanges(df: DataFrame) -> int:
    """Shuffles inside persisted-table build subtrees: paid once when
    the cache fills, not per downstream consumer."""
    return plan_counts(formatted_plan(df))["cache_exchanges"]


def count_python_stages(df: DataFrame) -> int:
    """Distinct Arrow/Python evaluation nodes (UDF boundaries) the
    query executes (cache-build subtrees excluded)."""
    return plan_counts(formatted_plan(df))["python_stages"]


def scan_info(df: DataFrame) -> dict:
    """PushedFilters / ReadSchema of the first parquet scan."""
    plan = formatted_plan(df)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    schema = re.search(r"ReadSchema: (.*)", plan)
    return {
        "pushed_filters": pushed.group(1) if pushed else "",
        "read_schema": schema.group(1).strip() if schema else "",
    }


def wholestage_codegen_ids(df: DataFrame) -> list[str]:
    """Distinct codegen region ids (formatted mode prints them as
    `[codegen id : N]` per node)."""
    return sorted(set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df))))


def count_projects(df: DataFrame) -> int:
    return len(set(re.findall(r"\((\d+)\) Project", formatted_plan(df))))


def unpartitioned_window_specs(df: DataFrame) -> list[str]:
    """Window specs with an EMPTY partition clause — the shape that
    moves all rows to one task and logs `WindowExec: No Partition
    Defined`. The repo convention is zero of these: windows over
    provably tiny domains (post-limit heads, calendar spines) carry a
    constant-but-non-foldable partition key instead, so this check
    (and the WARN channel in logs) only fires on a genuinely
    unbounded global window sneaking in.

    Parses `windowspecdefinition(...)` nodes bracket-aware (partition
    exprs may contain commas, e.g. `least(length(day), 0)`): the spec
    is unpartitioned iff its FIRST top-level argument is already a
    sort order (`... ASC/DESC NULLS ...`) OR the frame itself (an
    order-less scalar window — `Window.partitionBy()` with no sort).
    """
    plan = simple_plan(df)
    out = []
    marker = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(marker, i)
        if i < 0:
            break
        j = i + len(marker)
        depth, start = 1, j
        first_arg = None
        while j < len(plan) and depth > 0:
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1 and first_arg is None:
                first_arg = plan[start:j]
            j += 1
        if first_arg is None:
            first_arg = plan[start:j - 1]
        if (
            " ASC NULLS" in first_arg
            or " DESC NULLS" in first_arg
            or first_arg.lstrip().startswith("specifiedwindowframe")
        ):
            out.append(plan[i:j])
        i = j
    return sorted(set(out))
