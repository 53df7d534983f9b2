"""Batch planning: every decision of a table write, made from metadata.

``LakeTable.apply_batch``, its inline debt fold and ``compact()`` ask
this module what to do, then run exactly that.  The inputs are the
snapshot manifest and a few facts the executor measured (event count,
promoted repos, the per-bucket histogram, new columns).  Nothing here
imports pyspark, so every fork is testable over synthetic manifests.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

from etl_spark.catalog.snapshot import FileEntry, Snapshot
from etl_spark.functions.xxhash import cold_bucket

# batches of at most this many events stage via localCheckpoint
STAGE_SMALL_ROWS = 25_000
# file split size of the narrow stats scan (``LakeTable._collect_stats``)
STATS_SPLIT_BYTES = 128 << 20
# widest bucket set whose per-bucket conditional aggregates ride a job as
# observe() metrics (each bucket widens one codegen'd expression tree)
OBSERVE_MAX_BUCKETS = 64
# most shuffle partitions, and exact placement groups, of one rewrite
WRITER_MAX_PARTS = 2048
# the writer parallelism floor never cuts a slice below this
MIN_SLICE_BYTES = 16 << 20


@dataclass(frozen=True)
class StagePlan:
    checkpoint: bool  # lazy localCheckpoint; else a parquet round-trip
    observe_histogram: bool  # the histogram rides the stage write


@dataclass(frozen=True)
class BatchFacts:
    n_events: int
    promoted: list[str]
    histogram: dict[int, tuple[int, int]]  # bucket -> (LWW winners, bytes)
    new_cols: list[str]


@dataclass(frozen=True)
class Layout:
    ks: dict[int, int]  # bucket -> file slices; only buckets with > 1
    npart: int  # shuffle partitions of the writer
    pairs: list[tuple[int, int]] | None  # (bucket, slice) per partition


@dataclass(frozen=True)
class BatchPlan:
    touched: list[int]  # the rewrite's buckets, closed over pending deltas
    batch_buckets: list[int]  # the batch's own buckets
    slice_base: list[FileEntry]
    carried: list[FileEntry]
    slice_delta: list[FileEntry]
    carried_delta: list[FileEntry]
    use_mor: bool
    single_file: bool  # the delta is one multi-bucket file, no kernel
    layout: Layout
    observe_stats: bool  # new-file stats ride the write; else a scan
    delta_keys: int


@dataclass(frozen=True)
class CompactPlan:
    sel_base: list[FileEntry]
    carried: list[FileEntry]
    sel_delta: list[FileEntry]
    carried_delta: list[FileEntry]
    partial: list[FileEntry]  # selected deltas spanning unselected buckets
    leftover_buckets: list[int]
    folded: list[int]
    layout: Layout
    rewrite_bytes: int


def _split(files: list[FileEntry], buckets: set[int]):
    """(files with a bucket in ``buckets``, the others), order kept."""
    hit = [e for e in files if set(e.buckets) & buckets]
    return hit, [e for e in files if not (set(e.buckets) & buckets)]


def _file_bytes(entries: list[FileEntry], into: dict[int, int]) -> dict[int, int]:
    """``into`` plus each file's bytes, split evenly over its buckets."""
    out = dict(into)
    for e in entries:
        share = e.bytes // max(1, len(e.buckets))
        for b in e.buckets:
            out[b] = out.get(b, 0) + share
    return out


def bucket_id_space(snap: Snapshot) -> list[int]:
    """Every bucket id ``key_bucket`` can emit under ``snap``: cold ids
    [0, n_buckets) plus each hot repo's salted range.  Bounded by
    construction — the observe-histogram pivot enumerates it."""
    ids = list(range(snap.n_buckets))
    for i in range(len(snap.hot_repos)):
        base = snap.n_buckets + i * snap.salt
        ids.extend(range(base, base + snap.salt))
    return ids


def promote_hot(snap: Snapshot, repo_counts: dict[str, int], n_events: int) -> list[str]:
    """Fold the batch's per-repo counts into ``snap.repo_stats`` and
    promote every repo now over ``hot_frac`` of all events (sticky,
    appended to ``snap.hot_repos``).  Returns the promoted repos."""
    stats = dict(snap.repo_stats)
    for r, c in repo_counts.items():
        stats[r] = stats.get(r, 0) + c
    # cap driver state: keep top-K repos by cumulative count (same knob
    # as the per-batch collect — a raised repo_stats_topk must not be
    # silently truncated back here)
    topk = int(snap.properties.get("repo_stats_topk", "200"))
    if len(stats) > topk:
        stats = dict(sorted(stats.items(), key=lambda kv: -kv[1])[:topk])
    snap.repo_stats = stats
    total = int(snap.properties.get("total_events", "0")) + n_events
    frac = float(snap.properties.get("hot_frac", "0.3"))
    min_rows = int(snap.properties.get("hot_min_rows", "10000"))
    promoted = []
    if total >= min_rows:
        for r, c in stats.items():
            if r not in snap.hot_repos and c / total >= frac:
                snap.hot_repos.append(r)
                promoted.append(r)
    return promoted


def plan_stage(n_events: int, n_bucket_ids: int) -> StagePlan:
    """Stage medium: a parquet round-trip for big batches (Spark's
    in-memory columnar cache anti-scales on KB-wide content rows); for
    SMALL batches — the steady-state tail, where a write job + read
    setup is ~1.5 s of pure fixed cost — a lazy localCheckpoint (plain
    row blocks, no columnar encode).  On the parquet path the per-bucket
    histogram rides the stage write as observe aggregates, gated to a
    bounded id space; the separate histogram job is the fallback."""
    checkpoint = n_events <= STAGE_SMALL_ROWS
    return StagePlan(
        checkpoint, not checkpoint and n_bucket_ids <= OBSERVE_MAX_BUCKETS
    )


def plan_layout(
    bytes_by_bucket: dict[int, int],
    buckets,
    max_file_bytes: int,
    parallelism: int,
    exact: bool = True,
) -> Layout:
    """File slices and shuffle placement of one bucketed rewrite of
    ``buckets``.

    Bounded file sizes: a fat bucket must never become one enormous data
    file (at 10^10-event scale a bucket can be 100s of GB).  A bucket
    over ``max_file_bytes`` gets k = ceil(bytes / max_file_bytes)
    path-hash slices — still one bucket per file, several files.

    Writer parallelism floor: a rewrite touching fewer buckets than
    ``parallelism`` runs under-parallel, so the largest buckets are
    sliced further — biggest per-slice bytes first — until the group
    count reaches the floor or a slice would fall under
    ``MIN_SLICE_BYTES``.  This only ever ADDS slices.

    Placement: with ``exact``, every (bucket, slice) group gets its own
    shuffle partition (``pairs``) — even writer waves — unless there are
    more groups than ``WRITER_MAX_PARTS``.  ``exact=False`` (hot-repo
    promotion: rows leave the touched set mid-rehash, so the groups
    cannot be enumerated) turns off both the floor and the placement."""
    ks = {
        b: -(-by // max_file_bytes)
        for b, by in bytes_by_bucket.items()
        if by > max_file_bytes
    }
    if exact and parallelism > 1 and bytes_by_bucket:
        # max-heap on current per-slice bytes
        heap = [(-(by // ks.get(b, 1)), b) for b, by in bytes_by_bucket.items()]
        heapq.heapify(heap)
        groups = sum(ks.get(b, 1) for b in bytes_by_bucket)
        while groups < min(parallelism, WRITER_MAX_PARTS) and heap:
            per_slice, b = heapq.heappop(heap)
            if -per_slice // 2 < MIN_SLICE_BYTES:
                break  # largest remaining slice already small enough
            ks[b] = ks.get(b, 1) + 1
            groups += 1
            heapq.heappush(heap, (-(bytes_by_bucket[b] // ks[b]), b))
        ks = {b: k for b, k in ks.items() if k > 1}
    groups = sum(ks.get(b, 1) for b in buckets)
    if exact and 0 < groups <= WRITER_MAX_PARTS:
        pairs = [(b, s) for b in sorted(buckets) for s in range(ks.get(b, 1))]
        return Layout(ks, groups, pairs)
    extra = sum(ks.values()) - len(ks)
    return Layout(ks, max(1, min(len(buckets) + extra, WRITER_MAX_PARTS)), None)


def plan_batch(
    snap: Snapshot,
    facts: BatchFacts,
    parallelism: int,
    mode: str | None = None,
) -> BatchPlan:
    """Everything ``apply_batch`` decides once the batch is staged."""
    props = snap.properties
    # promoted repos' rows currently live in their old COLD buckets
    # (resolved against the PRE-promotion snapshot)
    migrate = {cold_bucket(r, snap.n_buckets) for r in facts.promoted}
    batch_buckets = set(facts.histogram) | migrate
    # bucket-set CLOSURE over pending deltas: a delta file may span
    # buckets beyond this batch's touched set (small deltas are written
    # as ONE multi-bucket file).  A copy-on-write fold of such a file
    # would emit its out-of-set rows as new base rows while those
    # buckets' old base files are carried — duplicate keys in the base
    # set.  Expanding the fold to every selected delta file's full
    # bucket span (to a fixpoint: newly added buckets can pull in more
    # delta files) keeps the invariant that a folded delta row's bucket
    # always has its base in the same rewrite.  MoR batches fold
    # nothing, so the closure only ever widens an actual copy-on-write
    # slice.
    touched = set(batch_buckets)
    while True:
        ext = {
            b for e in snap.delta_files if set(e.buckets) & touched
            for b in e.buckets
        }
        if ext <= touched:
            break
        touched |= ext
    slice_base, carried = _split(snap.files, touched)
    # pending merge-on-read delta files in touched buckets are folded
    # into a copy-on-write rewrite; untouched ones are carried forward
    slice_delta, carried_delta = _split(snap.delta_files, touched)
    d_count = sum(c for c, _ in facts.histogram.values())
    delta_bytes = sum(by for _, by in facts.histogram.values())

    # MoR skips the base-bucket rewrite (the batch's LWW winners land as
    # a DELTA file; readers resolve by key) — the write-amplification
    # escape hatch for small deltas over fat buckets.  Promotion and
    # schema-change batches stay copy-on-write (both mutate base
    # layout/columns), as does the very first write.  Amplification is
    # in ROWS (slice rows CoW would rewrite vs delta keys): compressed
    # on-disk bytes against an uncompressed delta estimate would
    # understate it by the codec ratio.
    mode = mode or props.get("write_mode", "cow")
    slice_rows = sum(e.rows for e in slice_base + slice_delta)
    mor_min_amp = float(props.get("mor_min_amplification", "4"))
    use_mor = (
        mode in ("mor", "auto")
        and not facts.promoted
        and not facts.new_cols
        and bool(slice_base)
        and (mode == "mor" or slice_rows > mor_min_amp * max(1, d_count))
    )
    # Small merge-on-read deltas are ONE multi-bucket file: one file per
    # touched bucket would add n_buckets tiny files per steady-state
    # batch, so the delta-file debt cap would trip every few batches and
    # the inline fold's pause would dominate tail p95.  Big deltas keep
    # the per-bucket layout, where per-file pruning pays for itself.
    small = int(props.get("mor_small_delta_bytes", str(64 << 20)))
    single_file = use_mor and delta_bytes <= small

    # slice sizing: the delta's uncompressed estimate (conservative —
    # overestimates slice counts, never under) plus, for copy-on-write,
    # the rewritten files' bytes
    by_bucket = {b: by for b, (_, by) in facts.histogram.items()}
    if not use_mor:
        by_bucket = _file_bytes(slice_base + slice_delta, by_bucket)
    layout = plan_layout(
        by_bucket, touched, int(props.get("max_file_bytes", str(512 << 20))),
        parallelism, exact=not facts.promoted,
    )
    # write-time stats map 1:1 onto output files only when every bucket
    # writes exactly one file: no file slices, no promotion (output
    # buckets leave the touched set mid-rehash), and a touched set small
    # enough for the conditional aggregates (backfills, where a second
    # scan is noise anyway)
    observe_stats = (
        not single_file
        and not layout.ks
        and not facts.promoted
        and len(touched) <= OBSERVE_MAX_BUCKETS
    )
    return BatchPlan(
        sorted(touched), sorted(batch_buckets), slice_base, carried,
        slice_delta, carried_delta, use_mor, single_file, layout,
        observe_stats, d_count,
    )


def plan_compact(
    snap: Snapshot,
    buckets: list[int] | None,
    n_buckets: int | None,
    parallelism: int,
) -> CompactPlan | None:
    """What ``compact`` rewrites; None when a targeted selection holds no
    file.  ``n_buckets`` rescales the layout (full-table)."""
    if buckets is None:
        sel_base, carried = list(snap.files), []
        sel_delta, carried_delta = list(snap.delta_files), []
        partial, leftover = [], []
    else:
        bset = set(buckets)
        sel_base, carried = _split(snap.files, bset)
        sel_delta, carried_delta = _split(snap.delta_files, bset)
        if not (sel_base or sel_delta):
            return None
        # delta files spanning buckets OUTSIDE the selection are split,
        # not folded whole (see ``LakeTable.compact``)
        partial = [e for e in sel_delta if set(e.buckets) - bset]
        leftover = sorted({b for e in partial for b in e.buckets} - bset)
    sel = sel_base + sel_delta
    spans = {b for e in sel for b in e.buckets}
    folded = sorted(spans if buckets is None else spans & set(buckets))
    max_fb = int(snap.properties.get("max_file_bytes", str(512 << 20)))
    total = sum(e.bytes for e in sel)
    if n_buckets is None:
        layout = plan_layout(_file_bytes(sel, {}), folded, max_fb, parallelism)
    else:
        # the old per-bucket bytes do not apply to the NEW layout: hash
        # layouts spread evenly, so every new bucket gets an equal share
        n_out = n_buckets + len(snap.hot_repos) * snap.salt
        even = -(-total // n_out)
        layout = plan_layout(
            {b: even for b in range(n_out)}, range(n_out), max_fb, 0
        )
    return CompactPlan(
        sel_base, carried, sel_delta, carried_delta, partial, leftover,
        folded, layout, total,
    )


def bucket_debt(snap: Snapshot) -> dict[int, dict]:
    """Per-bucket maintenance stats from the manifest alone: file
    count, base/delta rows, and estimated rewrite bytes (multi-bucket
    files split their bytes evenly across their buckets)."""
    debt: dict[int, dict] = {}
    for kind, entries in (("base", snap.files), ("delta", snap.delta_files)):
        for e in entries:
            share = e.bytes // max(1, len(e.buckets))
            rshare = e.rows // max(1, len(e.buckets))
            for b in e.buckets:
                d = debt.setdefault(b, {"files": 0, "base_rows": 0,
                                        "delta_rows": 0, "bytes": 0,
                                        "delta_files": 0})
                d["files"] += 1
                d["bytes"] += share
                d[f"{kind}_rows"] += rshare
                if kind == "delta":
                    d["delta_files"] += 1
    return debt


def plan_debt_fold(snap: Snapshot) -> list[int]:
    """Buckets the inline fold after a merge-on-read commit rewrites;
    [] while the pending debt is under both caps.

    The trip: pending MoR rows over ``mor_compact_ratio`` of base rows
    (read-merge volume), or more delta FILES than ``mor_max_delta_files``
    (small deltas add a file per batch while the row ratio crawls).  The
    fold is TARGETED and byte-capped: debt-heaviest buckets first until
    the table is back under half its caps, at most
    ``compact_max_rewrite_bytes`` per fold, so a trip pauses the stream
    for one bounded slice; leftover debt drains across later trips."""
    props = snap.properties
    base_rows = sum(e.rows for e in snap.files) or 1
    ratio = float(props.get("mor_compact_ratio", "0.5"))
    max_df = int(props.get("mor_max_delta_files", "64"))
    debt_rows = sum(e.rows for e in snap.delta_files)
    if debt_rows <= ratio * base_rows and len(snap.delta_files) <= max_df:
        return []
    byte_cap = int(props.get("compact_max_rewrite_bytes", str(16 << 30)))
    cands = [(b, d) for b, d in bucket_debt(snap).items() if d["delta_files"]]
    cands.sort(key=lambda bd: (-bd[1]["delta_rows"], -bd[1]["delta_files"]))
    rows = sum(d["delta_rows"] for _, d in cands)
    files = sum(d["delta_files"] for _, d in cands)
    selected: list[int] = []
    est = 0
    for b, d in cands:
        if rows <= int(ratio * base_rows / 2) and files <= max_df // 2:
            break
        if selected and est + d["bytes"] > byte_cap:
            break  # bounded pause: the rest waits for the next trip
        selected.append(b)
        est += d["bytes"]
        rows -= d["delta_rows"]
        files -= d["delta_files"]
    return selected
