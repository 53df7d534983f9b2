"""The workloads: set-up, the measured pass, and the correctness checks.

backfill  closed loop: drain a pre-generated backlog of large in-order
          segments through ``run_tailer(mode="replay")``, as one batch,
          into an empty auto-mode table (copy-on-write at this shape).
tail      open loop: one generator thread releases small pre-generated
          segments into the watched directory on a fixed schedule while
          ``run_tailer(mode="tail")`` applies them to a table that already
          holds a base load; auto mode routes them to merge-on-read
          deltas and the delta-debt cap trips inline compaction.

Both end with the same read mix on the final table, each result checked
against the serial oracle, then a row-for-row content compare of a fixed
repo sample.  A traced run (--trace 1) records spans over the same pass
and read mix.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from perfbench import inputs, procfs
from perfbench.inputs import COLD_REPO, HOT_REPO, Expected
from perfbench.stats import batch_versions, segment_batches
from perfbench.trace import Tracer

DUP_PCT = 3  # at-least-once re-deliveries per segment, % of its predecessor
TABLE = dict(n_buckets=16, salt=8, write_mode="auto")

# backfill: BF_EVENTS_PER_S x --seconds backlog events in BF_SEGMENTS
# in-order segments, drained as one batch so that per-event work (scan,
# stats, LWW, canonicalize, merge write) outweighs the fixed per-batch
# cost: on 4 vCPUs a warm 72k-event batch takes ~8-10 s, a BF_FIXED-event
# one ~3.5 s.  Set-up drains the same backlog once into a scratch table
# (cold: JIT, codegen, Python workers).  A traced run also times a
# BF_FIXED-event backlog through the same path after the pass, as the
# fixed per-batch cost.
BF_EVENTS_PER_S = 12000
BF_SEGMENTS = 2
BF_FIXED = 500

# tail: TAIL_BASE events loaded in set-up, then one TAIL_SEG-event segment
# every TAIL_INTERVAL seconds for --seconds (30 events/s).  The stream
# triggers every TAIL_TRIGGER_S seconds; Spark aligns those ticks to
# multiples of the interval since the epoch, and the pass starts just
# after a tick.  Set-up streams TAIL_DEBT windows' worth of events as one
# delta batch, which stays pending as debt, and compacts one bucket (the
# delta path's and compaction's one-time costs).  The delta-debt cap is
# TAIL_CAP windows' worth of rows: the pass's first batch crosses it and
# trips an inline targeted compaction, which folds the debt to at most
# half the cap; the second batch stays under it.  The first batch with
# its compaction outlasts the trigger interval, so the second starts
# when it ends; at --seconds 6 the releases are over by then, so each
# batch holds the same 15 segments on every run.
TAIL_BASE = 4000
TAIL_SEG = 6
TAIL_INTERVAL = 0.2
TAIL_TRIGGER_S = 3
TAIL_DEBT = 2
TAIL_CAP = 2.5
CATCH_UP_S = 60.0  # a released segment not visible this long after the last release failed


@dataclass
class Pass:
    """Raw measurements of one measured window."""

    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0
    steal_s: float = 0.0  # host context: CPU time withheld from the VM
    delivered: int = 0  # event rows handed to the engine, duplicates included
    applied: int = 0  # events the table admitted (its total_events delta)
    rows_written: int = 0
    busy_s: float = 0.0  # time inside the sink's apply calls
    fixed_s: float = 0.0  # backfill: wall time of a BF_FIXED-event drain
    due: list[float] = field(default_factory=list)  # scheduled releases
    released: list[float] = field(default_factory=list)  # actual releases
    seg_last: list[int] = field(default_factory=list)
    seg_batch: list[int | None] = field(default_factory=list)
    visible: list[float | None] = field(default_factory=list)
    failed: int = 0
    batch_stats: list[dict] = field(default_factory=list)


@dataclass
class Outcome:
    name: str
    setup_s: float
    peak_rss_mb: float
    pass_: Pass
    reads: list[tuple[str, float]]  # (op, seconds) of the read mix
    attempted: int
    failed: int
    files_per_lookup: float  # inputFiles() of a repo-pruned read (traced runs)
    probe_file: str


class Context:
    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool,
                 nproc: int, t_start: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = nproc
        self.t_start = t_start
        self.tracer = Tracer() if trace else None

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    @contextmanager
    def traced(self):
        """Yield the installed tracer, or None in an untraced run."""
        if self.tracer is None:
            yield None
            return
        self.tracer.install()
        try:
            yield self.tracer
        finally:
            self.tracer.uninstall()


def log(ctx: Context, msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"perfbench {time.time() - ctx.t_start:7.1f}s {msg}", file=sys.stderr,
          flush=True)


def _stats(table) -> tuple[int, int]:
    s = table.stats()
    return int(s["rows_written_all_versions"]), int(s["total_events_applied"])


def _visible(table, seg_last: list[int]) -> tuple[list, list]:
    """(batch, commit mtime) per segment, from persisted metadata only:
    the lineage rows' seq ranges map segments to batches, the manifests'
    fences map batches to versions, and a version is visible from the
    moment its manifest file was written."""
    from pyspark.sql import functions as F

    rows = (
        table.metrics().groupBy("batch_id").agg(F.max("end_seq").alias("hi"))
        .collect()
    )
    ends = {int(r["batch_id"]): int(r["hi"]) for r in rows}
    batches = segment_batches(seg_last, ends)
    cur = table.log.current_version()
    fence, mtime = [], {}
    for v in table.log.history():
        if v <= cur:
            fence.append((v, table.log.read(v).last_batch_id))
            mtime[v] = os.path.getmtime(
                os.path.join(table.root, "meta", f"v{v:08d}.json")
            )
    versions = batch_versions(batches, fence)
    return batches, [mtime[v] if v is not None else None for v in versions]


def _write_segments(segs, directory: str, row_groups: int) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, seg in enumerate(segs):
        p = os.path.join(directory, f"seg-{i:05d}.parquet")
        inputs.write(seg, p, row_groups)
        paths.append(p)
    return paths


def _new_table(ctx: Context, name: str, **props):
    """An empty auto-mode table with a per-repo row-count view over it."""
    from etl_spark.catalog.table import LakeTable
    from etl_spark.operators.incremental import IncrementalView

    table = LakeTable.create(ctx.spark, ctx.dir(name, "table"), **{**TABLE, **props})
    view = IncrementalView(table, ctx.dir(name, "view"), ["repo"])
    return table, view


# --------------------------------------------------------------------------
# read mix + checks (shared)
# --------------------------------------------------------------------------
def read_mix(tracer, table, view, v_prev: int, want: Expected,
             before: Expected | None) -> tuple[list, int, int, float]:
    """Run the read mix once on the final table and check every result,
    then check the view's per-repo counts and the sampled repos' content.

    Returns (timed ops as (name, seconds), attempted, failed, and in a
    traced run the mean file count of the two repo-pruned reads)."""
    from pyspark.sql import functions as F

    v_now = table.log.current_version()
    ops = [
        ("read.repo", lambda: table.read(repo=HOT_REPO).count(),
         want.repo_rows(HOT_REPO)),
        ("read.repo", lambda: table.read(repo=COLD_REPO).count(),
         want.repo_rows(COLD_REPO)),
        ("read.full", lambda: table.read().count(), want.rows()),
        ("read.changes", lambda: table.read_changes(v_prev, v_now).count(),
         want.changed_since(before)),
        ("view.refresh", lambda: view.refresh()["mode"], "incremental"),
    ]
    timed, failed = [], 0
    for name, op, expect in ops:
        try:
            with tracer.span(name) if tracer else nullcontext():
                t0 = time.perf_counter()
                got = op()
                timed.append((name, time.perf_counter() - t0))
        except Exception:  # a failed read is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        if got != expect:
            print(f"perfbench: {name} returned {got}, expected {expect}",
                  file=sys.stderr)
            failed += 1
    got_view = {
        r["repo"]: int(r["n_rows"]) for r in view.read().collect() if r["n_rows"]
    }
    if got_view != want.per_repo():
        print("perfbench: view per-repo counts differ from the oracle",
              file=sys.stderr)
        failed += 1
    # row-for-row content (normalize, lang, sha256) of a fixed repo sample
    from etl_spark.oracle import FINAL_COLUMNS, state_digest

    sample = [HOT_REPO, COLD_REPO]
    state = (
        table.read().filter(F.col("repo").isin(sample)).select(*FINAL_COLUMNS)
        .toPandas()
    )
    if state_digest(state) != want.digest(sample):
        print("perfbench: final state of the sampled repos differs from the "
              "oracle", file=sys.stderr)
        failed += 1
    files = 0.0
    if tracer is not None:
        files = (
            len(table.read(repo=COLD_REPO).inputFiles())
            + len(table.read(repo=HOT_REPO).inputFiles())
        ) / 2.0
    return timed, len(ops) + 2, failed, files


def _settle(p: Pass, table, batch_stats: list[dict]) -> None:
    """Fill a pass's sink and visibility figures once its stream is idle."""
    p.batch_stats = [s for s in batch_stats if not s.get("skipped")]
    p.busy_s = sum(s.get("sink_ms", 0) for s in p.batch_stats) / 1000.0
    p.seg_batch, p.visible = _visible(table, p.seg_last)
    p.failed = sum(v is None for v in p.visible)


# --------------------------------------------------------------------------
# backfill
# --------------------------------------------------------------------------
def _drain(ctx: Context, table, backlog: str, ckpt: str):
    from etl_spark.streaming.tailer import run_tailer

    return run_tailer(table, backlog, ctx.dir(ckpt), mode="replay",
                      max_files_per_trigger=BF_SEGMENTS)


def backfill(ctx: Context) -> Outcome:
    from etl_spark.catalog.table import LakeTable

    per = BF_EVENTS_PER_S * ctx.seconds // BF_SEGMENTS
    events = inputs.generate(per * BF_SEGMENTS + BF_FIXED, ctx.seed)
    segs = inputs.cut(events, [per] * BF_SEGMENTS, DUP_PCT, ctx.seed)
    backlog = ctx.dir("backlog")
    paths = _write_segments(segs, backlog, ctx.nproc)
    small = inputs.cut(events.slice(per * BF_SEGMENTS),
                       [BF_FIXED // BF_SEGMENTS] * BF_SEGMENTS, DUP_PCT, ctx.seed)
    small_dir = ctx.dir("small")
    _write_segments(small, small_dir, ctx.nproc)
    log(ctx, f"generated {sum(s.num_rows for s in segs)} backlog events")
    # warm-up: the same backlog, drained into a scratch table
    warm = LakeTable.create(ctx.spark, ctx.dir("warm", "table"), **TABLE)
    _drain(ctx, warm, backlog, "warm/ckpt")
    setup_s = time.time() - ctx.t_start
    log(ctx, "set-up done")

    table, view = _new_table(ctx, "drain")
    view.refresh()
    p = Pass(delivered=sum(s.num_rows for s in segs),
             seg_last=[inputs.last_seq(s) for s in segs])
    w0, a0 = _stats(table)
    with ctx.traced() as tracer:
        cpu0, steal0 = procfs.cpu_seconds(), procfs.steal_seconds()
        p.start = time.time()
        q, sink = _drain(ctx, table, backlog, "drain/ckpt")
        p.end = time.time()
        p.cpu_s = procfs.cpu_seconds() - cpu0
        p.steal_s = procfs.steal_seconds() - steal0
        if q.exception() is not None:
            raise RuntimeError(f"backfill stream failed: {q.exception()}")
        log(ctx, f"drain done in {p.end - p.start:.1f}s")
        # every backlog segment was on disk when the drain started
        p.due = p.released = [p.start] * len(segs)
        reads, attempted, failed, files = read_mix(tracer, table, view, 0,
                                                   Expected(segs), None)
    log(ctx, "read mix and checks done")
    w1, a1 = _stats(table)
    p.rows_written, p.applied = w1 - w0, a1 - a0
    _settle(p, table, sink.applied)
    if ctx.trace:
        # the fixed per-batch cost: a BF_FIXED-event backlog, same path
        fixed = LakeTable.create(ctx.spark, ctx.dir("fixed", "table"), **TABLE)
        t0 = time.time()
        _drain(ctx, fixed, small_dir, "fixed/ckpt")
        p.fixed_s = time.time() - t0
    return Outcome("backfill", setup_s, procfs.peak_rss_mb(), p, reads,
                   attempted + len(segs), failed + p.failed, files, paths[0])


# --------------------------------------------------------------------------
# tail
# --------------------------------------------------------------------------
def _release(paths: list[str], watch: str, due: list[float], out: list[float]) -> None:
    """The generator: rename each staged segment into the watched
    directory at its due time and stamp it with that time, so the file
    source orders segments by release.  No Spark work happens here."""
    for src, t in zip(paths, due):
        delay = t - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(watch, os.path.basename(src))
        os.rename(src, dst)
        os.utime(dst, (t, t))
        out.append(time.time())


def _wait_visible(table, last_seq: int, q, deadline: float) -> bool:
    """Poll the table pointer until ``last_seq`` is committed, then until
    the stream is idle (inline compaction runs after the commit)."""
    seen = -1
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"tail stream failed: {q.exception()}")
        if time.time() > deadline:
            return False
        v = table.log.current_version()
        if v != seen:
            seen = v
            wm = table.log.read(v).wm()
            if wm and max(wm.values()) >= last_seq:
                break
        time.sleep(0.02)
    while time.time() < deadline and q.status["isTriggerActive"]:
        time.sleep(0.02)
    return True


def tail(ctx: Context) -> Outcome:
    from etl_spark.pipeline import canonicalize
    from etl_spark.sources.events import read_event_batch
    from etl_spark.streaming.tailer import run_tailer

    window = int(TAIL_SEG * TAIL_TRIGGER_S / TAIL_INTERVAL)  # events per trigger
    n_seg = int(round(ctx.seconds / TAIL_INTERVAL))
    sizes = [TAIL_DEBT * window] + [TAIL_SEG] * n_seg
    events = inputs.generate(TAIL_BASE + sum(sizes), ctx.seed)
    base = events.slice(0, TAIL_BASE)
    base_path = os.path.join(ctx.dir("input"), "base.parquet")
    inputs.write(base, base_path, ctx.nproc)
    segs = inputs.cut(events.slice(TAIL_BASE), sizes, DUP_PCT, ctx.seed)
    staged = _write_segments(segs, ctx.dir("staged"), 1)
    watch = ctx.dir("watch")
    log(ctx, f"generated {TAIL_BASE} base events and {len(segs)} segments")
    debt, measured = segs[0], segs[1:]
    p = Pass(delivered=sum(s.num_rows for s in measured),
             seg_last=[inputs.last_seq(s) for s in measured])
    # the cap is a share of the table's live base rows
    ratio = TAIL_CAP * window / Expected([base]).rows()
    table, view = _new_table(ctx, "tail", mor_compact_ratio=ratio)
    table.apply_batch(read_event_batch(ctx.spark, base_path), 0,
                      canonicalizer=canonicalize)
    view.refresh()
    log(ctx, "base loaded")
    # the sink's bound apply method is captured when the stream starts, so
    # a traced run traces from then on; the per-layer figures keep only
    # spans inside the pass window (and the read mix after it)
    # the debt segment is in place before the stream starts, so the
    # stream's first batch takes it without waiting for a trigger tick
    _release(staged[:1], watch, [time.time()], [])
    with ctx.traced() as tracer:
        q, sink = run_tailer(table, watch, ctx.dir("tail", "ckpt"), mode="tail",
                             processing_interval=f"{TAIL_TRIGGER_S} seconds",
                             await_termination=False)
        try:
            # warm-up: the debt batch, then a targeted compaction of one
            # bucket (the stream is idle: nothing else commits)
            if not _wait_visible(table, inputs.last_seq(debt), q, time.time() + 300):
                raise RuntimeError("the tail warm-up segment never became visible")
            table.compact(buckets=[0])
            setup_s = time.time() - ctx.t_start
            log(ctx, "set-up done")

            w0, a0 = _stats(table)
            v_prev = table.log.current_version()
            n_applied = len(sink.applied)
            # releases start half an interval after the next trigger tick
            tick = (int(time.time()) // TAIL_TRIGGER_S + 1) * TAIL_TRIGGER_S
            p.start = tick + TAIL_INTERVAL / 2
            p.due = [p.start + k * TAIL_INTERVAL for k in range(len(measured))]
            time.sleep(max(0.0, tick - time.time()))
            cpu0, steal0 = procfs.cpu_seconds(), procfs.steal_seconds()
            gen = threading.Thread(
                target=_release, args=(staged[1:], watch, p.due, p.released),
                daemon=True,
            )
            gen.start()
            gen.join(timeout=p.due[-1] - time.time() + 30)
            if gen.is_alive():
                raise RuntimeError("tail generator overran its schedule")
            if not _wait_visible(table, p.seg_last[-1], q, p.due[-1] + CATCH_UP_S):
                print("perfbench: tail segments missed the catch-up deadline",
                      file=sys.stderr)
            p.end = time.time()
            p.cpu_s = procfs.cpu_seconds() - cpu0
            p.steal_s = procfs.steal_seconds() - steal0
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"tail stream failed: {q.exception()}")
        log(ctx, f"pass done in {p.end - p.start:.1f}s")
        reads, attempted, failed, files = read_mix(
            tracer, table, view, v_prev, Expected([base] + segs),
            Expected([base, debt]),
        )
    log(ctx, "read mix and checks done")
    w1, a1 = _stats(table)
    p.rows_written, p.applied = w1 - w0, a1 - a0
    _settle(p, table, sink.applied[n_applied:])
    return Outcome("tail", setup_s, procfs.peak_rss_mb(), p, reads,
                   attempted + len(measured), failed + p.failed, files, base_path)


WORKLOADS = {"backfill": backfill, "tail": tail}
