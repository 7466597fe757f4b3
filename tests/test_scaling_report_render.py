"""SCALING.md is generated: the committed file must equal what
scripts/scaling_report.py renders from the committed records, and the
cross-round mover labels follow the scale-audit counters (no Spark)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_module():
    path = os.path.join(ROOT, "scripts", "scaling_report.py")
    spec = importlib.util.spec_from_file_location("scaling_report_render_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_scaling_md_in_sync():
    """Regenerate with `python scripts/scaling_report.py` after any
    record or report change."""
    inside = subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"], cwd=ROOT, capture_output=True, text=True
    )
    if inside.returncode != 0:
        pytest.skip("the continuity section reads previous record versions from git")
    with open(os.path.join(ROOT, "SCALING.md")) as f:
        on_disk = f.read()
    assert on_disk == _load_module().render(), "SCALING.md is stale — regenerate it"


def _bench(cal: float, **walls: float) -> dict:
    return {"value": sum(walls.values()), "calibration_sec": cal, "queries": walls}


def _audit(**counters: tuple[int, float]) -> dict:
    return {"rows": [{"query": q, "stages": s, "shuffle_write_mb": mb}
                     for q, (s, mb) in counters.items()]}


def test_mover_labels_follow_counters():
    mod = _load_module()
    prev_bench = _bench(1.0, q_same=1.0, q_stages=1.0, q_bytes=1.0, q_flat=1.0)
    cur_bench = _bench(1.0, q_same=1.5, q_stages=0.5, q_bytes=2.0, q_flat=1.1)
    prev_audit = _audit(q_same=(4, 10.0), q_stages=(4, 10.0), q_bytes=(4, 10.0), q_flat=(4, 10.0))
    cur_audit = _audit(q_same=(4, 10.0), q_stages=(5, 10.0), q_bytes=(4, 12.5), q_flat=(9, 1.0))
    current = {"BENCH_gen_sf1.json": cur_bench, "SCALE_AUDIT_gen_sf1.json": cur_audit}
    mod._load = current.get
    mod._git_prev_record = lambda name, cur: ("abc1234", prev_bench) if name in current else None
    mod._git_show = lambda sha, name: prev_audit if name == "SCALE_AUDIT_gen_sf1.json" else None

    rows = {line.split(" | ")[1]: line for line in mod._tier_continuity_lines()
            if line.startswith("| BENCH_gen_sf1.json |")}

    assert set(rows) == {"q_same", "q_stages", "q_bytes"}  # q_flat moved only 1.1x
    assert rows["q_same"].endswith("| counters unchanged |")
    assert rows["q_stages"].endswith("| 4 -> 5 | 10.0 -> 10.0 | counters changed |")
    assert rows["q_bytes"].endswith("| 4 -> 4 | 10.0 -> 12.5 | counters changed |")
