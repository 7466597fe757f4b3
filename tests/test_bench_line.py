"""bench.py's printed line: one JSON line under the 2000-char stdout tail,
carrying the resolved core count."""

from __future__ import annotations

import json

import bench


def test_printed_line_fits_and_carries_cpus():
    wide = {q: 1234.567 for q in bench.HEADLINE}  # widest plausible values
    record = {
        "metric": "headline_queries_total_wall_min_of_3",
        "value": 12345.678,
        "sf": 0.1,
        "cpus": 128,
        "calibration_sec": 1.234,
        "calibration_sec_start": 1.234,
        "calibrated_vs_prev_round": 1.2345,
        "extended_total": 12345.678,
        "queries": wide,
        "variance": wide,
    }
    line = bench.printed_line(record)
    assert "\n" not in line and len(line) < 2000
    parsed = json.loads(line)
    assert parsed["cpus"] == 128
    assert parsed["queries"] == wide and parsed["detail"] == "BENCH_LOCAL.json"
