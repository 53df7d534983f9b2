"""Merge-on-read delta files: write-amplification escape hatch.

The contract: for the SAME event batches, a merge-on-read table and a
copy-on-write table converge to IDENTICAL live state (sha-keyed row
equality) under every delivery condition — MoR changes only WHEN the
merge work happens (read-time vs write-time), never the result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.pipeline import canonicalize

STATE = ["repo", "path", "commit", "lang", "content", "content_sha"]


def _same_state(a, b):
    x, y = a.select(*STATE), b.select(*STATE)
    assert x.exceptAll(y).count() == 0
    assert y.exceptAll(x).count() == 0


def _batches(spark, n=800, n_batches=4, **kw):
    ev = events_df(spark, n, n_repos=6, paths_per_repo=12, delete_pct=8, **kw)
    span = (n + n_batches - 1) // n_batches
    return [
        ev.filter((F.col("seq") >= i * span) & (F.col("seq") < (i + 1) * span))
        for i in range(n_batches)
    ]


def test_mor_state_equals_cow_state(spark, tmp_path):
    cow = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4, salt=2)
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,  # never auto-compact here
    )
    modes = []
    for i, b in enumerate(_batches(spark)):
        cow.apply_batch(canonicalize(b), i)
        modes.append(mor.apply_batch(canonicalize(b), i).get("mode"))
    # first batch is forced copy-on-write (no base yet); the rest are MoR
    assert modes[0] == "cow" and set(modes[1:]) == {"mor"}
    assert mor.snapshot().delta_files, "MoR table must hold pending deltas"
    _same_state(cow.read(), mor.read())


def test_mor_reduces_write_amplification(spark, tmp_path):
    cow = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4, salt=2)
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    for i, b in enumerate(_batches(spark, n=1200, n_batches=6)):
        cow.apply_batch(canonicalize(b), i)
        mor.apply_batch(canonicalize(b), i)
    wa_cow = cow.stats()["write_amplification"]
    wa_mor = mor.stats()["write_amplification"]
    assert wa_mor < wa_cow, f"MoR write amp {wa_mor} !< CoW {wa_cow}"


def test_mor_out_of_order_and_duplicates_converge(spark, tmp_path):
    # unordered delivery + redelivered events: correctness rests on the
    # tombstoned LWW merge, which MoR defers to read time
    ev = events_df(spark, 600, n_repos=5, paths_per_repo=10, delete_pct=10)
    cow = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4, salt=2)
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    b0 = ev.filter(F.col("seq") >= 300)  # later half FIRST
    b1 = ev.filter(F.col("seq") < 300)
    b2 = ev.filter(F.col("seq") % 7 == 0)  # redelivery of a subset
    for t in (cow, mor):
        for i, b in enumerate((b0, b1, b2)):
            t.apply_batch(canonicalize(b), i, delivery="unordered")
    _same_state(cow.read(), mor.read())


def test_mor_time_travel_and_changelog(spark, tmp_path):
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    batches = _batches(spark)
    mor.apply_batch(canonicalize(batches[0]), 0)
    v1 = mor.snapshot().version
    state_v1 = mor.read().select(*STATE).collect()
    mor.apply_batch(canonicalize(batches[1]), 1)
    v2 = mor.snapshot().version
    # time travel re-resolves the pinned snapshot's base+delta set
    assert sorted(map(tuple, mor.read(version=v1).select(*STATE).collect())) == sorted(
        map(tuple, state_v1)
    )
    # changelog across a MoR commit: updates to carried base rows must
    # classify as update (old image pulled from carried context), and
    # applying the changelog reconstructs the new state
    changes = mor.read_changes(v1, v2)
    ops = {r["change_op"] for r in changes.select("change_op").distinct().collect()}
    assert "update" in ops
    from tests.test_changelog import _apply_changes

    rebuilt = _apply_changes(mor.read(version=v1), changes)
    _same_state(rebuilt, mor.read(version=v2))


def test_compact_folds_deltas_preserving_state(spark, tmp_path):
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    for i, b in enumerate(_batches(spark)):
        mor.apply_batch(canonicalize(b), i)
    before = mor.read().select(*STATE).collect()
    v_pre = mor.snapshot().version
    res = mor.compact()
    assert res["delta_files_folded"] > 0
    snap = mor.snapshot()
    assert snap.delta_files == []
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == sorted(
        map(tuple, before)
    )
    # a fold-down commit changes no effective rows
    assert mor.read_changes(v_pre, snap.version).count() == 0


def test_delta_file_count_cap_triggers_fold(spark, tmp_path):
    # steady-state small deltas barely move the row ratio but add a file
    # per batch — the file-count cap must fold them down regardless
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=3,
    )
    ev = events_df(spark, 900, n_repos=6, paths_per_repo=12, delete_pct=0)
    compacted = []
    for i in range(6):
        lo, hi = i * 150, (i + 1) * 150
        res = mor.apply_batch(
            canonicalize(ev.filter((F.col("seq") >= lo) & (F.col("seq") < hi))), i
        )
        compacted.append(res.get("compacted"))
        assert len(mor.snapshot().delta_files) <= 4
    assert any(compacted)


def test_auto_compaction_bounds_delta_debt(spark, tmp_path):
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=0.05,  # tiny debt budget
    )
    compacted = []
    for i, b in enumerate(_batches(spark)):
        compacted.append(mor.apply_batch(canonicalize(b), i).get("compacted"))
    assert any(compacted), "debt cap never triggered a fold-down"
    assert mor.stats()["delta_rows_pending"] <= mor.stats()["rows_live"]


def test_mor_schema_change_batch_forces_cow_and_folds(spark, tmp_path):
    # a mid-stream new column must promote exactly as in pure CoW: the
    # schema-change batch is forced copy-on-write and folds the touched
    # buckets' pending deltas
    ev = events_df(spark, 600, n_repos=6, paths_per_repo=12)
    with_extra = ev.withColumn(
        "extra",
        F.when(
            F.col("seq") >= 400,
            F.create_map(F.lit("branch"), F.lit("main")),
        ),
    )
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    from etl_spark.streaming.sink import CdcSink

    sink = CdcSink(mor)
    sink.apply(with_extra.filter(F.col("seq") < 200), 0)
    sink.apply(
        with_extra.filter((F.col("seq") >= 200) & (F.col("seq") < 400)), 1
    )
    assert mor.snapshot().delta_files  # batch 1 landed as delta
    sink.apply(with_extra.filter(F.col("seq") >= 400), 2)
    snap = mor.snapshot()
    assert snap.schema_version == 1 and "branch" in snap.columns
    # the forced-CoW evolution batch folded every touched bucket's deltas
    live = mor.read()
    assert "branch" in live.columns
    assert live.filter(F.col("branch") == "main").count() > 0


def test_mor_hot_promotion_batch_forces_cow(spark, tmp_path):
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0, hot_min_rows=500,
    )
    cold = events_df(spark, 400, n_repos=6, paths_per_repo=12, delete_pct=0)
    mor.apply_batch(canonicalize(cold), 0)
    hot = events_df(
        spark, 1500, n_repos=6, paths_per_repo=12, hot_pct=80,
        start_seq=400, delete_pct=0,
    )
    res = mor.apply_batch(canonicalize(hot), 1)
    assert res["promoted"], "fixture must trigger a promotion"
    assert res["mode"] == "cow", "promotion batch must not use MoR"
    # promoted repo reads correctly through the salted bucket range
    assert mor.read(repo="repo-hot").count() > 0


def test_mor_pruned_repo_read_includes_delta_buckets(spark, tmp_path):
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=8,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    ev = events_df(spark, 500, n_repos=8, paths_per_repo=10, delete_pct=0)
    mor.apply_batch(canonicalize(ev), 0)
    ev2 = events_df(
        spark, 60, n_repos=8, paths_per_repo=10, start_seq=500, delete_pct=0
    )
    mor.apply_batch(canonicalize(ev2), 1)
    assert mor.snapshot().delta_files
    full = mor.read()
    for r in ("repo-0", "repo-3"):
        pruned = mor.read(repo=r)
        want = full.filter(F.col("repo") == r)
        assert pruned.exceptAll(want).count() == 0
        assert want.exceptAll(pruned).count() == 0


def test_mor_crash_before_commit_leaves_clean_table(spark, tmp_path):
    # crash between the delta-file write and the snapshot commit: the
    # orphan delta dir is never referenced, re-delivery of the same
    # batch id applies cleanly, and vacuum reclaims the orphan
    import os

    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    b0, b1 = _batches(spark, n=400, n_batches=2)
    mor.apply_batch(canonicalize(b0), 0)
    v_before = mor.snapshot().version

    real_commit = mor.log.commit
    mor.log.commit = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before commit")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            mor.apply_batch(canonicalize(b1), 1)
    finally:
        mor.log.commit = real_commit

    # nothing committed; re-delivery under the same batch id succeeds
    assert mor.snapshot().version == v_before
    res = mor.apply_batch(canonicalize(b1), 1)
    assert not res.get("skipped")
    state = sorted(
        map(tuple, mor.read().select(*STATE).collect())
    )
    # reference: clean table, same batches
    ref = LakeTable.create(spark, str(tmp_path / "ref"), n_buckets=4, salt=2)
    ref.apply_batch(canonicalize(b0), 0)
    ref.apply_batch(canonicalize(b1), 1)
    assert state == sorted(map(tuple, ref.read().select(*STATE).collect()))
    # the crashed attempt's delta dir is an orphan; vacuum removes it
    removed = mor.vacuum(retain_versions=1, stale_grace_sec=0)
    referenced = {
        e.path for e in mor.snapshot().files + mor.snapshot().delta_files
    }
    for rel in removed:
        assert rel not in referenced
    for e in mor.snapshot().delta_files:
        assert os.path.exists(os.path.join(mor.root, e.path))


def test_mor_vacuum_keeps_pending_delta_files(spark, tmp_path):
    import os

    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=10.0,
    )
    for i, b in enumerate(_batches(spark)):
        mor.apply_batch(canonicalize(b), i)
    before = mor.read().select(*STATE).collect()
    mor.vacuum(retain_versions=1, stale_grace_sec=0)
    snap = mor.snapshot()
    for e in snap.delta_files:
        assert os.path.exists(os.path.join(mor.root, e.path)), e.path
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == sorted(
        map(tuple, before)
    )


def test_seq_tie_resolution_matches_cow(spark, tmp_path):
    """ADVICE r3: a producer violating seq uniqueness (same seq, distinct
    payloads, delivered in different batches) must resolve to the SAME
    winner under MoR read-time resolution, CoW merge, a CoW batch that
    folds the pending tied delta, and compaction: the earliest-applied
    batch keeps the row (idempotent-redelivery semantics generalized)."""
    rows_a = [(100, 0, "insert", "r1", "src/a.py", "c1", None, "first payload")]
    rows_b = [(100, 0, "insert", "r1", "src/a.py", "c2", None, "second payload")]
    # another key of the same (cold, repo-hashed) bucket
    rows_c = [(101, 0, "insert", "r1", "src/b.py", "c3", None, "third payload")]
    schema = ("seq long, part_id int, op string, repo string, path string, "
              "commit string, lang string, content string")

    def batch(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds(F.lit(1767225600))
        ).withColumn("extra", F.lit(None).cast("map<string,string>"))

    def mk(mode, tag=""):
        t = LakeTable.create(
            spark, str(tmp_path / f"t_{mode}{tag}"), n_buckets=2, write_mode=mode,
            mor_compact_ratio=100.0,  # keep the delta pending for the test
        )
        for bid, rows in enumerate([rows_a, rows_b]):
            t.apply_batch(batch(rows), bid, delivery="unordered",
                          canonicalizer=canonicalize)
        return t

    def commit_of(t, path="src/a.py"):
        return t.read().filter(F.col("path") == path).first()["commit"]

    cow, mor = mk("cow"), mk("mor")
    assert mor.snapshot().delta_files, "MoR table must actually hold deltas"
    assert commit_of(cow) == commit_of(mor) == "c1"  # earliest batch wins

    fold = mk("mor", "_fold")
    st = fold.apply_batch(batch(rows_c), 2, delivery="unordered",
                          canonicalizer=canonicalize, mode="cow")
    assert st["mode"] == "cow"
    assert not fold.snapshot().delta_files, "the CoW batch must fold the delta"
    assert commit_of(fold) == "c1" and commit_of(fold, "src/b.py") == "c3"

    mor.compact()
    assert commit_of(mor) == "c1"


def test_auto_amplification_is_row_based(spark, tmp_path):
    """auto mode decides on ROWS rewritten vs delta keys, not on-disk
    bytes: compressed slice bytes vs an uncompressed delta estimate
    understated amplification by the codec ratio and kept a 9x-row
    steady-state tail on copy-on-write (r4 fix).  A wide-key base with a
    small update batch must go MoR; a delta that rewrites ~every base
    row must stay CoW."""
    ev = events_df(spark, 2200, n_repos=10, paths_per_repo=200, delete_pct=0)
    base = ev.filter(F.col("seq") < 2000)   # ~2000 distinct keys
    small = ev.filter(F.col("seq") >= 2000)  # ~200 keys, amplification ~10x
    t = LakeTable.create(
        spark, str(tmp_path / "auto"), n_buckets=4, salt=2, write_mode="auto",
        mor_compact_ratio=10.0,
    )
    assert t.apply_batch(canonicalize(base), 0)["mode"] == "cow"  # first write
    assert t.apply_batch(canonicalize(small), 1)["mode"] == "mor"

    # same-size delta over the same keyspace: amplification ~1 -> CoW
    ev2 = events_df(spark, 800, n_repos=6, paths_per_repo=12, delete_pct=0)
    t2 = LakeTable.create(
        spark, str(tmp_path / "auto2"), n_buckets=4, salt=2, write_mode="auto",
        mor_compact_ratio=10.0,
    )
    halves = [ev2.filter(F.col("seq") < 400), ev2.filter(F.col("seq") >= 400)]
    assert t2.apply_batch(canonicalize(halves[0]), 0)["mode"] == "cow"
    assert t2.apply_batch(canonicalize(halves[1]), 1)["mode"] == "cow"


def test_targeted_compact_folds_only_selected_buckets(spark, tmp_path):
    """compact(buckets=[...]) must fold ONLY the selected buckets' base
    and delta files, carrying everything else by reference (manifest
    diff asserted) — the bounded-pause maintenance slice (VERDICT r4)."""
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    for i, b in enumerate(_batches(spark)):
        mor.apply_batch(canonicalize(b), i)
    snap = mor.snapshot()
    assert len(snap.delta_files) >= 2
    state_before = sorted(map(tuple, mor.read().select(*STATE).collect()))
    delta_buckets = sorted({b for e in snap.delta_files for b in e.buckets})
    target = delta_buckets[0]
    keep = [
        e.path for e in snap.files + snap.delta_files
        if target not in e.buckets
    ]
    res = mor.compact(buckets=[target])
    assert res["buckets"] == [target]
    after = mor.snapshot()
    # selected bucket: no delta files remain; unselected: carried verbatim
    assert all(target not in e.buckets for e in after.delta_files)
    assert set(keep) <= {e.path for e in after.files + after.delta_files}
    rewritten = {e.path for e in after.files} - {e.path for e in snap.files}
    assert all("compact-" in p for p in rewritten)
    # state is untouched by a partial fold
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == state_before
    # and a later full compact converges to zero pending deltas
    mor.compact()
    assert mor.snapshot().delta_files == []
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == state_before


def test_maintain_byte_cap_bounds_slice_and_drains(spark, tmp_path):
    """maintain(max_rewrite_bytes=...) folds the debt-heaviest buckets
    first within the byte budget, defers the rest, and drains the debt
    across successive calls."""
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    for i, b in enumerate(_batches(spark)):
        mor.apply_batch(canonicalize(b), i)
    assert len({b for e in mor.snapshot().delta_files for b in e.buckets}) >= 2
    state = sorted(map(tuple, mor.read().select(*STATE).collect()))
    # a 1-byte budget still folds exactly one bucket per call (progress
    # guarantee) and defers the rest
    res = mor.maintain(max_delta_ratio=0.0, max_rewrite_bytes=1,
                       stale_grace_sec=0)
    assert res["compacted"] and len(res["buckets_compacted"]) == 1
    assert res["buckets_deferred"] >= 1
    for _ in range(8):
        if not mor.snapshot().delta_files:
            break
        mor.maintain(max_delta_ratio=0.0, max_rewrite_bytes=1,
                     stale_grace_sec=0)
    assert mor.snapshot().delta_files == []
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == state


def test_small_delta_is_one_multibucket_file(spark, tmp_path):
    """A small MoR batch lands as EXACTLY ONE delta file whose manifest
    entry spans every bucket the batch touched, with write-time stats
    that match a scan — 16 tiny per-bucket files per batch tripped the
    file-count debt cap every few batches and the inline fold dominated
    tail p95 (round-5 fix)."""
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    batches = _batches(spark)
    for i, b in enumerate(batches):
        st = mor.apply_batch(canonicalize(b), i)
        if st.get("mode") == "mor":
            assert st["new_files"] == 1
    snap = mor.snapshot()
    assert len(snap.delta_files) == len(batches) - 1  # batch 0 was CoW
    for e in snap.delta_files:
        assert len(e.buckets) >= 2  # keys spread over several buckets
        df = spark.read.parquet(str(tmp_path / "mor" / e.path))
        assert df.count() == e.rows
        assert df.filter(~F.col("_deleted")).count() == e.live_rows
        lo, hi = df.agg(F.min("repo"), F.max("repo")).first()
        assert (lo, hi) == (e.min_repo, e.max_repo)
    # a delta above the size threshold keeps the per-bucket layout
    big = LakeTable.create(
        spark, str(tmp_path / "big"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
        mor_small_delta_bytes=1024,  # fixture batches exceed 1KB: "big" path
    )
    for i, b in enumerate(_batches(spark)):
        big.apply_batch(canonicalize(b), i)
    assert all(len(e.buckets) == 1 for e in big.snapshot().delta_files)
    _same_state(mor.read(), big.read())


def test_cow_fold_closure_over_multibucket_delta(spark, tmp_path):
    """A copy-on-write merge whose touched set intersects a multi-bucket
    pending delta must expand the fold to the delta's FULL bucket span
    (closure): folding only the intersecting rows would emit the delta's
    other buckets' rows as new base rows while those buckets' old base
    files are carried — duplicate keys in the base set."""
    auto = LakeTable.create(
        spark, str(tmp_path / "auto"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    cow = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4, salt=2)
    batches = _batches(spark)
    for i, b in enumerate(batches):
        auto.apply_batch(canonicalize(b), i)
        cow.apply_batch(canonicalize(b), i)
    assert any(
        len(e.buckets) > 1 for e in auto.snapshot().delta_files
    )  # multi-bucket pending deltas exist
    # force a copy-on-write batch over a sliver of the keyspace: the
    # closure pulls the pending all-bucket deltas into the rewrite
    extra = events_df(spark, 60, n_repos=1, paths_per_repo=12, delete_pct=0,
                      start_seq=2000)
    auto.apply_batch(canonicalize(extra), len(batches), mode="cow")
    cow.apply_batch(canonicalize(extra), len(batches))
    assert auto.snapshot().delta_files == []  # closure folded them all
    # no duplicate base keys, and state matches the always-CoW twin
    dup = (
        auto.read().groupBy("repo", "path").count().filter(F.col("count") > 1)
    )
    assert dup.count() == 0
    _same_state(auto.read(), cow.read())


def test_targeted_fold_splits_partial_delta(spark, tmp_path):
    """compact(buckets=[b]) over a multi-bucket delta file folds ONLY
    bucket b's rows; the remainder is rewritten as one leftover delta
    (pending chain collapses as a side effect) and state is unchanged."""
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    for i, b in enumerate(_batches(spark)):
        mor.apply_batch(canonicalize(b), i)
    snap = mor.snapshot()
    assert any(len(e.buckets) > 1 for e in snap.delta_files)
    state = sorted(map(tuple, mor.read().select(*STATE).collect()))
    target = sorted({b for e in snap.delta_files for b in e.buckets})[0]
    res = mor.compact(buckets=[target])
    assert res["buckets"] == [target]
    after = mor.snapshot()
    assert all(target not in e.buckets for e in after.delta_files)
    # the partial files' remainders collapsed into one leftover delta
    assert len(after.delta_files) == 1
    assert "dleft-" in after.delta_files[0].path
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == state
    mor.compact()
    assert mor.snapshot().delta_files == []
    assert sorted(map(tuple, mor.read().select(*STATE).collect())) == state
