"""Parse the formatted SQL metric strings of Spark's status store.

``SQLAppStatusStore.executionMetrics(id)`` hands back each plan-node
metric already rendered for the UI:

- sum metrics as a US-grouped integer: ``"80,000"``;
- size metrics as ``"5.4 MiB"``, or with a per-task breakdown
  ``"total (min, med, max (stageId: taskId))\\n5.4 MiB (1293.2 KiB,
  1.3 MiB, 1.4 MiB (stage 3.0: task 12))"``;
- timing metrics as ``"850 ms"``, ``"21.2 s"``, ``"1.5 m"`` or
  ``"2.01 h"``, with the same breakdown form;
- average metrics as ``"1.4"``, or with no total at all:
  ``"(min, med, max (stageId: taskId)):\\n(1.4, 1.6, 2.0 (stage 3.0:
  task 7))"``.

``parse_metric`` returns the TOTAL as a plain number: bytes for sizes,
seconds for timings, a count for sums; for an average with a breakdown,
the median. The strings carry one decimal, so a parsed size or time is
exact only to that precision.
"""

from __future__ import annotations

import re

_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def _total_part(text: str) -> str:
    """The total's text: the last line (the first is a header when a
    breakdown is present), cut before the parenthesised breakdown."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError(f"empty metric string: {text!r}")
    last = lines[-1].strip()
    if last.startswith("("):  # an average's breakdown: "(min, med, max (...))"
        parts = last[1:].split(",")
        return parts[1] if len(parts) > 2 else ""
    return last.split("(", 1)[0]


def parse_metric(text: str) -> tuple[float, str]:
    """``text`` → (value, kind) with kind in {"bytes", "s", "count"}.

    Raises ValueError on a string that is none of the three forms."""
    m = _VALUE.match(_total_part(text))
    if m is None:
        raise ValueError(f"unparseable metric string: {text!r}")
    number, unit = m.group(1).replace(",", ""), m.group(2)
    if unit in _SIZE_UNITS:
        return float(number) * _SIZE_UNITS[unit], "bytes"
    if unit in _TIME_UNITS:
        return float(number) * _TIME_UNITS[unit], "s"
    if unit == "":
        return float(number), "count"
    raise ValueError(f"unknown unit {unit!r} in metric string {text!r}")


def parse_value(text: str) -> float:
    return parse_metric(text)[0]
