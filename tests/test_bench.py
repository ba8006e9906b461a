"""bench.py's one stdout line: the driver reads only a 2000-char tail."""

from __future__ import annotations

import json

import bench


def _timings(n: int, name_len: int) -> dict[str, float]:
    return {f"q{i:03d}_" + "x" * name_len: 1.0 + i for i in range(n)}


def test_top_shrinks_to_fit_the_stdout_cap():
    timings = _timings(20, 4)
    top, fits = bench._fit_top({"metric": "m"}, timings, dict.fromkeys(timings, 0.5))
    assert fits and len(top["slow"]) == 10 and len(top["mov"]) == 10
    assert len(json.dumps({"metric": "m", "top": top})) <= bench.STDOUT_CAP


def test_top_leaves_stdout_when_four_entries_overflow():
    # four entries with ~250-char names cannot fit in the cap: `top` is
    # still returned (for the detail file) but marked as not fitting
    timings = _timings(20, 250)
    summary = {"metric": "m"}
    top, fits = bench._fit_top(summary, timings, dict.fromkeys(timings, 0.5))
    assert not fits and len(top["slow"]) == 4
    assert len(json.dumps({**summary, "top": top})) > bench.STDOUT_CAP
