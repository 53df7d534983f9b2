"""Steal-gate machinery: probe reference persistence and the stamped
(non-retroactive) run classification in scripts/scaling_bench.py.

No Spark needed — these are pure-Python gates whose failure modes are
exactly the ones that voided r4's bench artifact (turbo-confounded
ratios, retroactive reclassification by faster future hosts).
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_scaling_bench():
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", os.path.join(REPO, "scripts", "scaling_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_best_mops_roundtrip(tmp_path, monkeypatch):
    from etl_spark import benchref

    monkeypatch.setattr(benchref, "PROBE_REF", str(tmp_path / "ref.json"))
    assert benchref.best_mops(32) == 0.0  # absent file: gate abstains
    benchref.update_best_mops(32, 100.0)
    benchref.update_best_mops(8, 40.0)
    assert benchref.best_mops(32) == 100.0
    assert benchref.best_mops(8) == 40.0
    benchref.update_best_mops(32, 90.0)  # never regresses
    assert benchref.best_mops(32) == 100.0
    benchref.update_best_mops(32, 120.5)  # max-updating
    assert benchref.best_mops(32) == 120.5


def _mk_run(stamp, eps_n, eps_n4, ceiling=0.95, pairs=None):
    return {
        "stamp": stamp,
        "mode": "interleaved-pairs",
        "n": 2,
        "n4": 8,
        "events": 1_000_000,
        "eps_n": eps_n,
        "eps_n4": eps_n4,
        "efficiency": round(eps_n4 / (4 * eps_n), 3),
        "ceiling": ceiling,
        "trials": 1,
        "median_efficiency": round(eps_n4 / (4 * eps_n), 3),
        "pairs": pairs or [],
    }


def test_classify_stamped_runs_not_retroactive():
    """A stamped-clean historical run must stay clean even when a much
    faster host later posts absolute throughputs that dwarf it — the
    exact failure the raw best-eps comparison had."""
    sb = _load_scaling_bench()
    old_clean = _mk_run(
        "t0", 9000, 30000,
        pairs=[{"probe": 0.93, "probe_mops": 100.0, "ref_mops": 110.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 9000, "eps_n4": 30000, "efficiency": 0.83}],
    )
    fast_new = _mk_run(
        "t1", 25000, 82000,
        pairs=[{"probe": 0.95, "probe_mops": 310.0, "ref_mops": 313.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 25000, "eps_n4": 82000, "efficiency": 0.82}],
    )
    clean, degraded, legacy = sb.classify_runs([old_clean, fast_new])
    assert {h["stamp"] for h in clean} == {"t0", "t1"}
    assert not degraded and not legacy


def test_classify_stamped_degraded_when_no_clean_pair():
    sb = _load_scaling_bench()
    bad = _mk_run(
        "t2", 5000, 10000,
        pairs=[{"probe": 0.5, "probe_mops": 90.0, "ref_mops": 313.0,
                "clean": False,
                "clean_reasons": ["ratio 0.5 < 0.8",
                                  "mops 90.0 < 0.6 x best 313.0"],
                "eps_n": 5000, "eps_n4": 10000, "efficiency": 0.5}],
    )
    clean, degraded, _ = sb.classify_runs([bad])
    assert not clean
    assert degraded and "no clean pair" in degraded[0]["degraded_reasons"][0]


def test_classify_legacy_heuristic_ignores_stamped_bests():
    """Unstamped (pre-r5) runs are compared against unstamped bests
    only: a stamped run from a faster host must not reclassify them."""
    sb = _load_scaling_bench()
    legacy_a = _mk_run("t3", 13000, 43000)  # unstamped, healthy
    legacy_b = _mk_run("t4", 5000, 10000)   # unstamped, collapsed vs t3
    fast_new = _mk_run(
        "t5", 50000, 160000,
        pairs=[{"probe": 0.95, "probe_mops": 310.0, "ref_mops": 313.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 50000, "eps_n4": 160000, "efficiency": 0.8}],
    )
    clean, degraded, _ = sb.classify_runs([legacy_a, legacy_b, fast_new])
    names = {h["stamp"] for h in clean}
    # t3 stays clean (compared to t3/t4 bests, not t5's), t4 degraded
    assert "t3" in names and "t5" in names
    assert {h["stamp"] for h in degraded} == {"t4"}


def test_pair_pool_uses_stamps_only():
    sb = _load_scaling_bench()
    import json

    hist = [
        _mk_run(
            "t6", 9000, 30000,
            pairs=[
                {"probe": 0.93, "probe_mops": 300.0, "ref_mops": 313.0,
                 "clean": True, "clean_reasons": [],
                 "eps_n": 9000, "eps_n4": 30000, "efficiency": 0.83},
                {"probe": 0.5, "probe_mops": 100.0, "ref_mops": 313.0,
                 "clean": False, "clean_reasons": ["ratio 0.5 < 0.8"],
                 "eps_n": 4000, "eps_n4": 8000, "efficiency": 0.5},
            ],
        )
    ]
    # write_baseline_md writes a file; point it at a scratch copy
    md_path = os.path.join(sb.REPO, "BENCH", "BASELINE.md")
    with open(md_path) as f:
        orig = f.read()
    try:
        sb.write_baseline_md(hist)
        with open(md_path) as f:
            out = f.read()
        # the one clean pair enters the pool; the dirty one does not
        assert "(pool: [0.83])" in out
    finally:
        with open(md_path, "w") as f:
            f.write(orig)


def test_bench_probe_gate_reasons(monkeypatch):
    sys.path.insert(0, REPO)
    import bench

    clean_probe = {"single_mops": 16.0, "half_mops": 150.0,
                   "parallel_mops": 300.0, "wide_scale": 0.93,
                   "parallel_scale": 0.59}  # turbo ratio low but healthy
    assert bench._probe_clean(clean_probe, 313.0) == []
    ratio_bad = dict(clean_probe, wide_scale=0.5)
    assert any("wide_scale" in r for r in bench._probe_clean(ratio_bad, 313.0))
    # uniform steal: every ratio healthy, absolute capacity halved
    uniform = dict(clean_probe, parallel_mops=150.0)
    assert any("machine best" in r for r in bench._probe_clean(uniform, 313.0))
    # no reference yet: the absolute leg abstains rather than blocking
    assert bench._probe_clean(uniform, 0.0) == []


def test_membw_ref_roundtrip_and_gate(tmp_path, monkeypatch):
    from etl_spark import benchref

    monkeypatch.setattr(benchref, "PROBE_REF", str(tmp_path / "ref.json"))
    assert benchref.best_membw(8) == 0.0  # absent: gate abstains
    benchref.update_best_membw(8, 46.19)
    assert benchref.best_membw(8) == 46.2
    benchref.update_best_membw(8, 30.0)  # never regresses
    assert benchref.best_membw(8) == 46.2
    # mops and membw share the file without clobbering each other
    benchref.update_best_mops(8, 111.9)
    assert benchref.best_membw(8) == 46.2 and benchref.best_mops(8) == 111.9

    sys.path.insert(0, REPO)
    import bench

    probe = {"single_mops": 16.0, "half_mops": 150.0,
             "parallel_mops": 300.0, "wide_scale": 0.93,
             "parallel_scale": 0.59, "membw_gbps": 5.0}
    monkeypatch.setattr(bench, "CPUS", 32)
    # 5 GB/s against a 46.2 best -> bandwidth-starved reason
    import etl_spark.benchref as br
    monkeypatch.setattr(br, "PROBE_REF", str(tmp_path / "ref.json"))
    assert any("membw" in r for r in bench._probe_clean(probe, 313.0))
    healthy = dict(probe, membw_gbps=40.0)
    assert bench._probe_clean(healthy, 313.0) == []


def test_membw_rate_measures_positive():
    """Tiny buffers so CI cost stays ~100ms; the probe path itself
    (pool warm-up map, timed map, undercount-on-missed-warm-up) is
    exactly the production code."""
    from etl_spark.benchref import membw_rate

    assert membw_rate(2, mb=8) > 0


def test_classify_stamped_run_degraded_by_causal_bandwidth_floor():
    """A CPU-stamped-clean run whose legs collapsed vs the PRIOR ledger
    best is degraded (the 2026-08-18 12:33Z bandwidth loophole) — but
    only causally: a slow run BEFORE the fast one stays clean."""
    sb = _load_scaling_bench()
    slow_first = _mk_run(
        "u0", 9000, 22000,
        pairs=[{"probe": 0.95, "probe_mops": 110.0, "ref_mops": 110.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 9000, "eps_n4": 22000, "efficiency": 0.61}],
    )
    fast = _mk_run(
        "u1", 13800, 44000,
        pairs=[{"probe": 0.95, "probe_mops": 110.0, "ref_mops": 110.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 13800, "eps_n4": 44000, "efficiency": 0.8}],
    )
    slow_after = _mk_run(
        "u2", 10900, 22000,  # 22000 < 0.6 x 44000
        pairs=[{"probe": 0.95, "probe_mops": 110.0, "ref_mops": 110.0,
                "clean": True, "clean_reasons": [],
                "eps_n": 10900, "eps_n4": 22000, "efficiency": 0.5}],
    )
    clean, degraded, _ = sb.classify_runs([slow_first, fast, slow_after])
    assert {h["stamp"] for h in clean} == {"u0", "u1"}
    assert {h["stamp"] for h in degraded} == {"u2"}
    assert any("bandwidth floor" in r for r in degraded[0]["degraded_reasons"])


def test_gather_ceiling_is_zero_when_gather_rate_reads_zero(monkeypatch):
    """A probe whose timed tasks all hit cold pool workers reads 0.0;
    the ceiling must report 0.0, not divide by it."""
    import etl_spark.benchref as br

    monkeypatch.setattr(br, "gather_rate", lambda workers, mb=256: 0.0)
    assert br.gather_ceiling(2) == 0.0
    monkeypatch.setattr(
        br, "gather_rate", lambda workers, mb=256: 0.0 if workers == 2 else 9.0
    )
    assert br.gather_ceiling(2) == 0.0
