"""The bench stdout line: it must fit the recorded 2,000-char stdout tail
whatever the candidates measure, and prefer a tier that carries calib."""

from __future__ import annotations

import json

import bench


def _candidate(n_queries: int, *, calib: bool = False) -> dict:
    line = {
        "metric": "headline_suite_wall_clock",
        "value": 123.4,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i:03d}_long_query_name": 1.23 + i for i in range(n_queries)},
    }
    if calib:
        line["calib"] = [1.0] * 9
    return line


def test_oversized_candidates_are_cut_to_the_cap():
    # every tier overflows: 200 queries x ~33 chars is ~6,600 chars
    tiers = [_candidate(200) for _ in range(3)]
    out = bench.fit_stdout_line(tiers)
    assert len(out) <= bench.STDOUT_CAP
    line = json.loads(out)
    assert line["metric"] == "headline_suite_wall_clock" and line["unit"] == "sec"
    kept = line["queries"]
    assert 0 < len(kept) < 200
    assert line["queries_omitted"] == 200 - len(kept)
    # the medians that ship are the leading ones, unchanged
    assert kept == dict(list(tiers[-1]["queries"].items())[: len(kept)])
    assert bench.fit_stdout_line(tiers) == out  # deterministic
    assert len(tiers[-1]["queries"]) == 200  # the input is not mutated


def test_finest_tier_with_calib_wins_and_fitting_lines_are_untouched():
    small, with_calib = _candidate(5), _candidate(5, calib=True)
    assert json.loads(bench.fit_stdout_line([small, with_calib, small])) == with_calib
    assert json.loads(bench.fit_stdout_line([small, small])) == small
    # an overflowing finest tier falls through to the first that fits
    big = _candidate(200)
    assert json.loads(bench.fit_stdout_line([big, small, _candidate(1)])) == small
