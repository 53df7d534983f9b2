"""Metric definitions, and the arithmetic that turns a workload's raw
measurements into them.

END_TO_END and PER_LAYER are the registry BENCHMARK.json mirrors (a test
keeps the two equal).  Every metric is reported on every workload; a
layer a workload does not exercise reports 0 with a sample count of 0.
"""

from __future__ import annotations

from perfbench import eventlog
from perfbench.stats import freshness_ms, hi_percentile, median

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("events_per_s", "1/s", "higher"),
    ("cpu_s_per_kevent", "s/kevent", "lower"),
    ("write_amp", "rows/event", "lower"),
    ("freshness_p50_ms", "ms", "lower"),
    ("freshness_hi_ms", "ms", "lower"),
    ("reads_per_s", "1/s", "higher"),
]

PHASES = ["stats_job", "stage_delta", "bucket_job", "merge_write",
          "scan_written", "commit"]

PER_LAYER = [
    ("sink.apply_ms_p50", "ms", "lower"),
    ("sink.self_ms_p50", "ms", "lower"),
    ("sink.pickup_ms_p50", "ms", "lower"),
    ("sink.busy_frac", "ratio", "lower"),
    ("gen.late_ms_max", "ms", "lower"),
    ("evolution.observe_ms_p50", "ms", "lower"),
    ("admission.useful_frac", "ratio", "higher"),
    ("apply.ms_p50", "ms", "lower"),
    ("apply.self_ms_p50", "ms", "lower"),
    *[(f"apply.{ph}_ms_p50", "ms", "lower") for ph in PHASES],
    ("apply.compact_ms_max", "ms", "lower"),
    ("apply.compactions", "count", "lower"),
    ("apply.mor_frac", "ratio", "higher"),
    ("apply.rewrote_files", "count", "lower"),
    ("apply.delta_files_pending_max", "count", "lower"),
    ("commit.ms_p50", "ms", "lower"),
    ("snapshot.load_ms_p50", "ms", "lower"),
    ("read.repo_ms_p50", "ms", "lower"),
    ("read.full_ms_p50", "ms", "lower"),
    ("read.changes_ms_p50", "ms", "lower"),
    ("view.refresh_ms_p50", "ms", "lower"),
    ("read.files_per_lookup", "count", "lower"),
    ("source.rows_per_s", "rows/s", "higher"),
    ("lww.rows_per_s", "rows/s", "higher"),
    ("canonicalize.rows_per_s", "rows/s", "higher"),
    ("canonicalize.no_nfc_rows_per_s", "rows/s", "higher"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.stages_per_batch", "count", "lower"),
    ("spark.tasks_per_batch", "count", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.task_cpu_s_per_kevent", "s/kevent", "lower"),
    ("spark.gc_frac", "ratio", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("backfill.fixed_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def end_to_end(out) -> dict[str, tuple[float, int]]:
    """Every end-to-end metric of the measured pass as (value, sample count)."""
    p = out.pass_
    fresh = freshness_ms(p.due, p.visible)
    hi, pct, n = hi_percentile(fresh)
    wall = p.end - p.start
    # an open loop's delivered/wall only echoes the offered rate: the
    # tail reports what the sink sustained while busy instead
    span = wall if out.name == "backfill" else p.busy_s
    read_s = sum(s for _, s in out.reads)
    return {
        "setup_s": (out.setup_s, 1),
        "peak_rss_mb": (out.peak_rss_mb, 1),
        "events_per_s": (p.delivered / span if span else 0.0, len(p.batch_stats)),
        "cpu_s_per_kevent": (p.cpu_s / (p.delivered / 1000.0), 1),
        "write_amp": (p.rows_written / p.applied if p.applied else 0.0,
                      len(p.batch_stats)),
        "freshness_p50_ms": (median(fresh), len(fresh)),
        "freshness_hi_ms": (hi, n),
        "reads_per_s": (len(out.reads) / read_s if read_s else 0.0,
                        len(out.reads)),
        "_freshness_hi_pct": (pct, n),
    }


def _p50(vals: list[float]) -> tuple[float, int]:
    return median(vals), len(vals)


def per_layer(out, tracer, log: dict, probes: dict,
              nproc: int) -> dict[str, tuple[float, int]]:
    """Every per-layer metric of the traced pass as (value, sample count)."""
    p = out.pass_
    inside = [
        (i, s) for i, s in enumerate(tracer.spans) if p.start <= s.start <= p.end
    ]

    def named(name):
        return [(i, s) for i, s in inside if s.name == name]

    m: dict[str, tuple[float, int]] = {}
    sinks = named("CdcSink.apply")
    m["sink.apply_ms_p50"] = _p50([s.ms for _, s in sinks])
    m["sink.self_ms_p50"] = _p50([tracer.self_ms(i) for i, _ in sinks])
    start_of = {s.batch: s.start for _, s in sinks}
    pickup = [
        (start_of[b] - d) * 1000.0
        for b, d in zip(p.seg_batch, p.due) if b in start_of
    ]
    m["sink.pickup_ms_p50"] = _p50(pickup)
    wall_ms = (p.end - p.start) * 1000.0
    m["sink.busy_frac"] = (sum(s.ms for _, s in sinks) / wall_ms, len(sinks))
    late = [(r - d) * 1000.0 for r, d in zip(p.released, p.due)]
    m["gen.late_ms_max"] = (max(late) if late and out.name == "tail" else 0.0,
                            len(late) if out.name == "tail" else 0)
    m["evolution.observe_ms_p50"] = _p50([s.ms for _, s in named("observed_extra_keys")])
    m["admission.useful_frac"] = (p.applied / p.delivered, p.delivered)

    applies = [(i, s) for i, s in named("LakeTable.apply_batch") if not s.attrs.get("skipped")]
    m["apply.ms_p50"] = _p50([s.ms for _, s in applies])
    selfs = []
    for i, s in applies:
        phases_ms = sum(s.attrs.get("phases", {}).values()) * 1000.0
        compact_ms = sum(c.ms for c in tracer.children(i) if c.name == "LakeTable.compact")
        selfs.append(s.ms - phases_ms - compact_ms)
    m["apply.self_ms_p50"] = _p50(selfs)
    for ph in PHASES:
        vals = [s.attrs["phases"][ph] * 1000.0 for _, s in applies
                if ph in s.attrs.get("phases", {})]
        m[f"apply.{ph}_ms_p50"] = _p50(vals)
    compacts = [s.ms for _, s in named("LakeTable.compact")]
    m["apply.compact_ms_max"] = (max(compacts) if compacts else 0.0, len(compacts))
    m["apply.compactions"] = (float(len(compacts)), len(applies))
    modes = [s.attrs.get("mode") for _, s in applies]
    m["apply.mor_frac"] = (
        sum(x == "mor" for x in modes) / len(modes) if modes else 0.0, len(modes)
    )
    m["apply.rewrote_files"] = (
        float(sum(s.attrs.get("rewrote_files", 0) for _, s in applies)), len(applies)
    )
    m["apply.delta_files_pending_max"] = (
        float(max((s.attrs.get("delta_files_pending", 0) for _, s in applies),
                  default=0)),
        len(applies),
    )
    m["commit.ms_p50"] = _p50([s.ms for _, s in named("SnapshotLog.commit")])
    m["snapshot.load_ms_p50"] = _p50([s.ms for _, s in named("LakeTable.snapshot")])

    # the read mix runs after the pass window, on the final table
    def reads(name):
        return _p50([s.ms for s in tracer.spans if s.name == name])

    m["read.repo_ms_p50"] = reads("read.repo")
    m["read.full_ms_p50"] = reads("read.full")
    m["read.changes_ms_p50"] = reads("read.changes")
    m["view.refresh_ms_p50"] = reads("view.refresh")
    m["read.files_per_lookup"] = (out.files_per_lookup, 2)
    m.update(probes)

    kevents = p.delivered / 1000.0
    windows = {s.batch: (s.start, s.end) for _, s in sinks if s.batch is not None}
    att = eventlog.attribute(log, windows)
    per = list(att["per_batch"].values())
    nb = len(per)
    tot = att["totals"]
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_batch"] = (sum(b[key] for b in per) / nb if nb else 0.0, nb)
    m["spark.shuffle_write_mb"] = (tot["shuffle_write"] / eventlog.MB, tot["tasks"])
    m["spark.shuffle_read_mb"] = (tot["shuffle_read"] / eventlog.MB, tot["tasks"])
    m["spark.spill_mb"] = (tot["spill"] / eventlog.MB, tot["tasks"])
    m["spark.task_cpu_s_per_kevent"] = (tot["cpu_ns"] / 1e9 / kevents, tot["tasks"])
    m["spark.gc_frac"] = (
        tot["gc_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0, tot["tasks"]
    )
    m["spark.core_util"] = (tot["run_ms"] / (wall_ms * nproc), tot["tasks"])
    # backfill: a BF_FIXED-event drain's wall time over the measured
    # drain's, the share a fixed per-batch cost takes of the pass
    m["backfill.fixed_frac"] = (p.fixed_s * 1000.0 / wall_ms if p.fixed_s else 0.0,
                                int(p.fixed_s > 0))
    # the tracer's own bookkeeping inside the pass; the event log is on
    # for the whole traced run and its cost is not in this figure
    m["trace.overhead_frac"] = (sum(s.cost for _, s in inside) * 1000.0 / wall_ms,
                                len(inside))
    return m
