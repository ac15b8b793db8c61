"""Row digests of the contract checker and its ``--compare-digests``
report, checked on hand-built frames and files (no Spark session)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import check_contract as cc  # noqa: E402

ROWS = {
    "doc_id": [3, 1, 2],
    "text": ["c", "a", None],
    "score": [0.5, 1.0 / 3.0, float("nan")],
}


def _digest(pdf):
    cols = sorted(pdf.columns)
    return cc.digest(cols, cc.canon_rows(pdf, cols))


def test_digest_ignores_row_and_column_order():
    pdf = pd.DataFrame(ROWS)
    shuffled = pdf.iloc[[2, 0, 1]][["score", "doc_id", "text"]]
    assert _digest(shuffled) == _digest(pdf)


def test_digest_changes_with_one_cell():
    pdf = pd.DataFrame(ROWS)
    edited = pdf.copy()
    edited.loc[1, "score"] = 0.3334
    assert _digest(edited) != _digest(pdf)


def _report(path, digests):
    queries = {n: {"status": "pass", "spark_digest": s, "oracle_digest": o}
               for n, (s, o) in digests.items()}
    path.write_text(json.dumps({"queries": queries}))
    return str(path)


def test_compare_digests_reports_edited_added_removed(tmp_path):
    old = _report(tmp_path / "old.json", {
        "kept": ("a", "a"), "edited": ("b", "b"), "removed": ("c", "c"),
    })
    new = _report(tmp_path / "new.json", {
        "kept": ("a", "a"), "edited": ("b", "x"), "added": ("d", "d"),
    })
    run = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_contract.py"),
         "--compare-digests", old, new],
        capture_output=True, text=True,
    )
    assert run.returncode == 1
    lines = run.stdout.splitlines()
    assert "changed (1): edited" in lines
    assert "added (1): added" in lines
    assert "removed (1): removed" in lines

    same = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_contract.py"),
         "--compare-digests", old, old],
        capture_output=True, text=True,
    )
    assert same.returncode == 0
