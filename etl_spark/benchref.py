"""Persisted machine-capacity reference for the benchmark steal gates.

The sandbox VM is itself virtualized with CPU steal, and the steal can
be UNIFORM: both legs of any ratio probe slow equally, so every ratio
stays healthy while wall times double.  The only signal that survives
uniform steal is ABSOLUTE compute capacity — but "absolute vs what?"
needs a reference that outlives a single process.  This module persists
the best full-width pure-Python compute rate ever observed per worker
count (``BENCH/probe_ref.json``, max-updating, committed with the repo)
so every bench/scaling run can ask "is this host delivering a sane
fraction of what this machine family has shown it can?".

Ratio probes are separately turbo-confounded: on a measured HEALTHY
idle host, 1 worker ran at 16.0 Mops while 32 workers ran at 10.3
Mops/core — a 1→32 "scaling" of 0.645 with zero steal.  Gates therefore
use half-width→full-width ratios (both legs at near-identical all-core
clocks; 0.93 measured healthy) and this module's absolute floor, never
a single-thread denominator.
"""

from __future__ import annotations

import json
import os
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE_REF = os.path.join(REPO, "BENCH", "probe_ref.json")


def _burn(k: int) -> int:  # module-level: picklable for pool workers
    x = 0
    for i in range(k):
        x += i * i
    return x


def compute_rate(workers: int, k: int = 4_000_000) -> float:
    """Pure-Python compute rate (ops/sec) at ``workers`` processes."""
    from concurrent.futures import ProcessPoolExecutor

    t0 = time.monotonic()
    with ProcessPoolExecutor(workers) as ex:
        list(ex.map(_burn, [k] * workers * 2))
    return workers * 2 * k / (time.monotonic() - t0)


def probe(workers: int) -> dict:
    """Turbo-robust steal probe at ``workers`` width.

    ``ratio``  — rate(workers) / (2 x rate(workers/2)): collapses when
                 the hypervisor withholds cores from the wide leg.
    ``mops``   — absolute full-width rate, for the uniform-steal floor.
    """
    rh = compute_rate(max(1, workers // 2))
    rn = compute_rate(workers)
    return {
        "ratio": round(rn / (2 * rh), 3),
        "mops": round(rn / 1e6, 1),
        "workers": workers,
    }


# ---------------------------------------------------------------------------
# Memory-bandwidth probe.  The CPU probe above is blind to the failure
# mode that actually dominates this VM: the hypervisor can throttle
# DRAM/IPC bandwidth while leaving compute untouched (a scaling pair
# measured ratio 0.908 / healthy Mops while the replay's 8-core leg ran
# at ~0.4x its ledger best — every heavy replay phase is a shuffle or a
# columnar encode, i.e. a memory stream, not an ALU loop).  A parallel
# memcpy probe measures the DELIVERABLE aggregate copy bandwidth and is
# gated the same way as Mops: against the best this machine family has
# ever shown (max-updating, persisted).
# ---------------------------------------------------------------------------
_MEMBW_LOOPS = 8  # 2 copies per loop -> 16 x mb MB copied per timed call

# per-process buffer cache: the FIRST map over the pool allocates +
# page-faults the buffers, the SECOND (timed) map only streams them
_BUFS: dict[int, tuple] = {}


def _copy_burn(mb: int) -> float:
    import numpy as np

    if mb not in _BUFS:
        n = mb * (1 << 20) // 8
        a = np.arange(n, dtype=np.int64)  # arange faults every page
        b = np.empty_like(a)
        np.copyto(b, a)
        _BUFS[mb] = (a, b)
        return 0.0  # warm-up call: no bytes counted
    a, b = _BUFS[mb]
    for _ in range(_MEMBW_LOOPS):
        np.copyto(b, a)
        np.copyto(a, b)
    return 2 * _MEMBW_LOOPS * mb  # MB copied


def membw_rate(workers: int, mb: int = 128) -> float:
    """Aggregate parallel memcpy rate (GB/s of bytes copied) at
    ``workers`` processes.  A worker that missed its warm-up (pool
    scheduling is not strictly 1:1) allocates inside the timed window
    and reports 0 MB — undercounting, never overcounting, so the gate
    errs toward flagging a pair dirty rather than passing a stolen one."""
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(workers) as ex:
        list(ex.map(_copy_burn, [mb] * workers))  # allocate + fault
        t0 = time.monotonic()
        done = list(ex.map(_copy_burn, [mb] * workers))
        dt = time.monotonic() - t0
    return round(sum(done) / 1024 / dt, 2)


def _best(metric: str, workers: int) -> float:
    try:
        with open(PROBE_REF) as f:
            return float(json.load(f)[metric][str(workers)])
    except (OSError, ValueError, KeyError):
        return 0.0


def _update_best(metric: str, workers: int, value: float) -> None:
    try:
        with open(PROBE_REF) as f:
            data = json.load(f)
    except (OSError, ValueError):
        data = {}
    table = data.setdefault(metric, {})
    if value > float(table.get(str(workers), 0.0)):
        table[str(workers)] = round(value, 1)
        os.makedirs(os.path.dirname(PROBE_REF), exist_ok=True)
        tmp = PROBE_REF + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, PROBE_REF)


def best_mops(workers: int) -> float:
    """Best full-width rate ever recorded for this worker count (0.0 when
    no reference exists yet — the absolute gate then abstains)."""
    return _best("best_mops", workers)


def update_best_mops(workers: int, mops: float) -> None:
    _update_best("best_mops", workers, mops)


def best_membw(workers: int) -> float:
    """Best aggregate memcpy GB/s ever recorded (0.0 = no reference yet)."""
    return _best("best_membw", workers)


def update_best_membw(workers: int, gbps: float) -> None:
    _update_best("best_membw", workers, round(gbps, 1))


# ---------------------------------------------------------------------------
# memory-PARALLELISM probe (random gather)
# ---------------------------------------------------------------------------
# The CPU probe is register-resident and the memcpy probe is a
# prefetch-friendly stream; neither sees the resource the replay's heavy
# phases actually contend on — memory-level parallelism for LATENCY-bound
# access (shuffle hash tables, sort runs, dictionary/page indirection all
# pointer-chase).  Measured on this VM while both other probes read
# healthy: random 8-byte gathers over a 256MB working set scale only
# ~0.70 from 2 to 8 workers and saturate near 580M gathers/s by 16 —
# i.e. the MACHINE cannot scale latency-bound work 4x over the 2->8
# range, which is exactly the shape of the replay's N->4N criterion.
# gather_ceiling(n) is therefore the fair comparator for pair
# efficiency alongside the pure-compute ceiling.

_GATHER_BUFS: dict[int, tuple] = {}


def _gather_burn(mb: int) -> float:
    import numpy as np

    if mb not in _GATHER_BUFS:
        rng = np.random.default_rng(7)
        n = mb * (1 << 20) // 8
        a = rng.integers(0, 1 << 30, size=n, dtype=np.int64)
        idx = rng.integers(0, n, size=1 << 20, dtype=np.int64)
        _GATHER_BUFS[mb] = (a, idx)
        return 0.0  # warm-up call: no gathers counted
    a, idx = _GATHER_BUFS[mb]
    total = 0
    for _ in range(4):
        a[idx].sum()
        total += idx.size
    return float(total)


def gather_rate(workers: int, mb: int = 256) -> float:
    """Aggregate random-gather rate (M gathers/s) at ``workers``
    processes — the latency/MLP-bound leg of the machine-health triple
    (compute_rate: ALU; membw_rate: stream; this: random access)."""
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(workers) as ex:
        list(ex.map(_gather_burn, [mb] * workers))  # allocate + fault
        t0 = time.monotonic()
        done = list(ex.map(_gather_burn, [mb] * workers))
        dt = time.monotonic() - t0
    return round(sum(done) / 1e6 / dt, 1)


def gather_ceiling(n: int) -> float:
    """Machine's own N->4N scaling for latency-bound random access;
    0.0 when the N-worker rate reads 0 (every timed task landed on a
    cold pool worker)."""
    wide = gather_rate(4 * n)
    narrow = gather_rate(n)
    return round(wide / (4 * narrow), 3) if narrow > 0 else 0.0
