"""Bench report regeneration keeps the hand-written sections below the
appendix marker (no Spark session)."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import scaling_bench  # noqa: E402
import skew_bench  # noqa: E402


def test_skew_report_regeneration_keeps_text_below_marker(tmp_path):
    """Regenerating BENCH/SKEW.md's flagship table rewrites only the
    text above the marker; everything below it, the other tools'
    sections included, stays byte for byte."""
    marker = scaling_bench.APPENDIX_MARKER
    committed = (ROOT / "BENCH" / "SKEW.md").read_bytes()
    assert marker.encode() in committed
    below = committed.split(marker.encode(), 1)[1]
    assert b"## Packing skew" in below

    path = tmp_path / "SKEW.md"
    path.write_bytes(committed)
    rows = [
        {"scenario": "balanced + spread", "wall_s": 1.5, "n_tasks": 4,
         "p50_s": 0.1, "p99_s": 0.2, "max_s": 0.3},
    ]
    for _ in range(2):  # a second regeneration must not nest markers
        scaling_bench.write_preserving_appendix(
            str(path), skew_bench.flagship_report(rows, "sf", 2, 4)
        )
        out = path.read_bytes()
        head, tail = out.split(marker.encode(), 1)
        assert tail == below
        assert out.count(marker.encode()) == 1
        assert b"| balanced + spread | 1.5 | 4 |" in head

