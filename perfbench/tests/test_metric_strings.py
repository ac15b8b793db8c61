"""Parser for the status store's formatted SQL metric strings.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metric_strings import parse_metric  # noqa: E402

KIB, MIB = 1024.0, 1024.0**2


@pytest.mark.parametrize(
    "text, value, kind",
    [
        # sum metrics: US-grouped integers
        ("80,000", 80_000, "count"),
        ("1,007", 1_007, "count"),
        ("16", 16, "count"),
        ("0", 0, "count"),
        # sizes, bare (driver-side or single task)
        ("495.6 KiB", 495.6 * KIB, "bytes"),
        ("0.0 B", 0.0, "bytes"),
        ("644.1 KiB", 644.1 * KIB, "bytes"),
        ("2.0 GiB", 2.0 * 1024**3, "bytes"),
        # sizes with the per-task breakdown, as the store renders them
        ("5.4 MiB (1293.2 KiB, 1.3 MiB, 1.4 MiB (stage 3.0: task 12))",
         5.4 * MIB, "bytes"),
        ("total (min, med, max (stageId: taskId))\n"
         "1279.4 KiB (65.4 KiB, 81.8 KiB, 92.3 KiB (stage 656.0: task 1167))",
         1279.4 * KIB, "bytes"),
        # timings: ms below a second, then s, m, h
        ("850 ms", 0.85, "s"),
        ("0 ms", 0.0, "s"),
        ("21.2 s (1.1 s, 5.0 s, 6.2 s (stage 2.0: task 7))", 21.2, "s"),
        ("total (min, med, max (stageId: taskId))\n"
         "15.2 s (310 ms, 472 ms, 2.8 s (stage 656.0: task 1166))", 15.2, "s"),
        ("1.5 m", 90.0, "s"),
        # averages: bare, or a breakdown without a total (the median counts)
        ("1.4", 1.4, "count"),
        ("(min, med, max (stageId: taskId)):\n"
         "(1.4, 1.6, 2.0 (stage 244.0: task 599))", 1.6, "count"),
        ("2.01 h", 2.01 * 3600.0, "s"),
    ],
)
def test_parse_metric(text, value, kind):
    got, got_kind = parse_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "   ", "n/a", "5 parsecs"])
def test_rejects_unknown_forms(text):
    with pytest.raises(ValueError):
        parse_metric(text)
