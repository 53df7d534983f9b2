"""Properties of the batch planner over synthetic manifests.

``etl_spark.catalog.plan`` decides every fork of a table write from
metadata alone, so these run without a Spark session: hypothesis builds
snapshots, histograms and byte maps, and each test checks one invariant
the executor relies on."""

from __future__ import annotations

import ast
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_spark.catalog import plan
from etl_spark.catalog.plan import (
    MIN_SLICE_BYTES,
    OBSERVE_MAX_BUCKETS,
    WRITER_MAX_PARTS,
    BatchFacts,
    plan_batch,
    plan_compact,
    plan_debt_fold,
    plan_layout,
    plan_stage,
)
from etl_spark.catalog.snapshot import FileEntry, Snapshot

MB = 1 << 20
# a whole-batch example costs ~20 ms to draw; 40 per test keeps the file
# well under 10 s
batch_examples = settings(max_examples=40)
sizes = st.integers(min_value=0, max_value=1 << 40)
max_file_bytes = st.sampled_from([MB, 16 * MB, 512 * MB])


@st.composite
def snapshots(draw, min_buckets=2, max_buckets=8):
    n_buckets = draw(st.integers(min_buckets, max_buckets))
    salt = draw(st.integers(1, 4))
    hot = [f"hot-{i}" for i in range(draw(st.integers(0, 2)))]
    ids = list(range(n_buckets + len(hot) * salt))
    bucket_sets = st.lists(st.sampled_from(ids), min_size=1, max_size=4, unique=True)

    def entries(prefix, buckets):
        return [
            FileEntry(path=f"{prefix}{i}", rows=draw(st.integers(1, 10**6)),
                      buckets=bs, bytes=draw(sizes))
            for i, bs in enumerate(draw(st.lists(buckets, max_size=12)))
        ]

    files = entries("b", st.sampled_from(ids).map(lambda b: [b]))
    props = {
        "max_file_bytes": str(draw(max_file_bytes)),
        "mor_small_delta_bytes": str(draw(st.sampled_from([0, 4096, 64 * MB]))),
        "write_mode": draw(st.sampled_from(["cow", "mor", "auto"])),
        "mor_compact_ratio": str(draw(st.sampled_from([0.1, 0.5, 2.0]))),
        "mor_max_delta_files": str(draw(st.integers(1, 8))),
    }
    return Snapshot(
        version=1, schema_version=0, columns=["repo", "path"],
        n_buckets=n_buckets, salt=salt, hot_repos=hot, files=files,
        delta_files=entries("d", bucket_sets), properties=props,
    )


@st.composite
def batches(draw):
    snap = draw(snapshots())
    ids = plan.bucket_id_space(snap)
    hist = draw(st.dictionaries(
        st.sampled_from(ids),
        st.tuples(st.integers(1, 10**6), sizes),
        min_size=1, max_size=len(ids),
    ))
    facts = BatchFacts(
        n_events=sum(c for c, _ in hist.values()),
        promoted=draw(st.sampled_from([[], ["repo-7"]])),
        histogram=hist,
        new_cols=draw(st.sampled_from([[], ["branch"]])),
    )
    mode = draw(st.sampled_from([None, "cow", "mor", "auto"]))
    return snap, facts, draw(st.integers(0, 64)), mode


def _paths(entries):
    return [e.path for e in entries]


def test_plan_imports_no_pyspark():
    src = open(os.path.join(os.path.dirname(plan.__file__), "plan.py")).read()
    mods = [
        n.module if isinstance(n, ast.ImportFrom) else a.name
        for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
    ]
    assert mods and not any(m.split(".")[0] == "pyspark" for m in mods)


@batch_examples
@given(batches())
def test_slice_and_carried_partition_the_files(b):
    snap, facts, par, mode = b
    p = plan_batch(snap, facts, par, mode)
    for sel, kept, every in [
        (p.slice_base, p.carried, snap.files),
        (p.slice_delta, p.carried_delta, snap.delta_files),
    ]:
        assert sorted(_paths(sel) + _paths(kept)) == sorted(_paths(every))
        assert not set(_paths(sel)) & set(_paths(kept))
        assert all(set(e.buckets) & set(p.touched) for e in sel)
        assert not any(set(e.buckets) & set(p.touched) for e in kept)


@batch_examples
@given(batches())
def test_folded_deltas_lie_inside_touched(b):
    snap, facts, par, mode = b
    p = plan_batch(snap, facts, par, mode)
    assert set(p.batch_buckets) <= set(p.touched)
    for e in p.slice_delta:
        assert set(e.buckets) <= set(p.touched), (e.buckets, p.touched)


@batch_examples
@given(batches())
def test_mor_never_promotes_evolves_or_writes_an_empty_slice(b):
    snap, facts, par, mode = b
    p = plan_batch(snap, facts, par, mode)
    if facts.promoted or facts.new_cols or not p.slice_base:
        assert not p.use_mor
    assert not p.single_file or p.use_mor


@batch_examples
@given(batches())
def test_observe_stats_only_on_the_one_file_per_bucket_layout(b):
    snap, facts, par, mode = b
    p = plan_batch(snap, facts, par, mode)
    if p.observe_stats:
        assert not p.layout.ks and not facts.promoted and not p.single_file
        assert len(p.touched) <= OBSERVE_MAX_BUCKETS


@given(
    st.dictionaries(st.integers(0, 40), sizes, max_size=40),
    max_file_bytes,
    st.integers(0, 4096),
    st.booleans(),
)
def test_layout_slices_bound_file_sizes(by_bucket, max_fb, par, exact):
    layout = plan_layout(by_bucket, by_bucket, max_fb, par, exact)
    for b, by in by_bucket.items():
        k = layout.ks.get(b, 1)
        assert k >= 1
        byte_k = max(1, -(-by // max_fb))
        assert k >= byte_k and -(-by // k) <= max_fb  # byte-sliced: <= cap
        if k > byte_k:  # slices the parallelism floor added
            assert exact and by // k >= MIN_SLICE_BYTES
    assert all(k > 1 for k in layout.ks.values())
    assert 1 <= layout.npart <= WRITER_MAX_PARTS
    if layout.pairs is not None:
        assert exact and len(layout.pairs) == layout.npart
        assert len(set(layout.pairs)) == len(layout.pairs)


@batch_examples
@given(batches())
def test_apply_partitions_stay_under_the_writer_cap(b):
    snap, facts, par, mode = b
    layout = plan_batch(snap, facts, par, mode).layout
    assert 1 <= layout.npart <= WRITER_MAX_PARTS
    assert layout.pairs is None or len(layout.pairs) <= WRITER_MAX_PARTS


@given(
    snapshots(),
    st.one_of(st.none(), st.lists(st.integers(0, 20), max_size=6)),
    st.one_of(st.none(), st.integers(1, 3000)),
    st.integers(0, 64),
)
def test_compact_plan_partitions_files_and_caps_partitions(snap, sel, n_buckets, par):
    if sel is not None and n_buckets is not None:
        n_buckets = None  # a rescale is full-table only
    p = plan_compact(snap, sel, n_buckets, par)
    if p is None:
        assert sel is not None
        assert not any(set(e.buckets) & set(sel)
                       for e in snap.files + snap.delta_files)
        return
    assert sorted(_paths(p.sel_base + p.carried)) == sorted(_paths(snap.files))
    assert sorted(_paths(p.sel_delta + p.carried_delta)) == sorted(
        _paths(snap.delta_files)
    )
    if sel is not None:
        assert set(p.folded) <= set(sel)
        assert not set(p.leftover_buckets) & set(sel)
        assert all(set(e.buckets) - set(sel) for e in p.partial)
    assert 1 <= p.layout.npart <= WRITER_MAX_PARTS
    assert p.layout.pairs is None or len(p.layout.pairs) <= WRITER_MAX_PARTS


@given(snapshots(), sizes)
def test_rescale_slices_every_new_bucket_alike(snap, total):
    snap.files = [FileEntry(path="b0", rows=1, buckets=[0], bytes=total)]
    snap.delta_files = []
    p = plan_compact(snap, None, 4, 8)
    max_fb = int(snap.properties["max_file_bytes"])
    n_out = 4 + len(snap.hot_repos) * snap.salt
    k = max(1, -(-total // (n_out * max_fb)))
    assert p.layout.ks == ({b: k for b in range(n_out)} if k > 1 else {})


@given(snapshots())
def test_debt_fold_trips_only_over_a_cap(snap):
    fold = plan_debt_fold(snap)
    props = snap.properties
    base_rows = sum(e.rows for e in snap.files) or 1
    debt = sum(e.rows for e in snap.delta_files)
    over = (
        debt > float(props["mor_compact_ratio"]) * base_rows
        or len(snap.delta_files) > int(props["mor_max_delta_files"])
    )
    if not over:
        assert fold == []
    pending = {b for e in snap.delta_files for b in e.buckets}
    assert set(fold) <= pending and len(set(fold)) == len(fold)


@settings(max_examples=50)
@given(st.integers(0, 10**6), st.integers(1, 200))
def test_stage_plan(n_events, n_ids):
    s = plan_stage(n_events, n_ids)
    assert s.checkpoint == (n_events <= plan.STAGE_SMALL_ROWS)
    assert s.observe_histogram == (
        not s.checkpoint and n_ids <= OBSERVE_MAX_BUCKETS
    )
