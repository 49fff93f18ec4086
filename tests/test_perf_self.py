"""`tools/make_perf_self.py`: the prev/now totals compare one query set."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "make_perf_self.py")


def test_totals_cover_only_queries_on_both_sides(tmp_path):
    runs = {
        "prev_a.json": {"q1": 2.0, "q2": 4.0, "gone": 50.0},
        "prev_b.json": {"q1": 1.0, "q2": 5.0},
        "now_a.json": {"q1": 1.5, "q2": 3.0, "added": 70.0},
    }
    for name, queries in runs.items():
        (tmp_path / name).write_text(json.dumps({"queries": queries}))
    out = subprocess.run(
        [sys.executable, TOOL, "--round", "99", "--prev", "prev_a.json", "prev_b.json", "--now", "now_a.json"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    got = json.loads((tmp_path / "PERF_SELF_r99.json").read_text())
    assert got["total_prev_min"] == 5.0  # q1 1.0 + q2 4.0
    assert got["total_now_min"] == 4.5  # q1 1.5 + q2 3.0
    assert got["only_prev"] == ["gone"]
    assert got["only_now"] == ["added"]
    assert "only_prev (excluded from totals): gone" in out
    assert "only_now (excluded from totals): added" in out
