"""Snapshot layer: atomic commit, time travel, vacuum, compaction,
crash-orphan cleanup, commit conflicts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_spark.catalog.snapshot import Snapshot
from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.pipeline import canonicalize


def _mk(spark, tmp_path, n=400, **kw):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4, salt=2, **kw)
    ev = events_df(spark, n, n_repos=5, paths_per_repo=12)
    return t, ev


def test_time_travel(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    v1 = t.snapshot().version
    c1 = t.read().count()
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    assert t.read(version=v1).count() == c1
    assert t.read().count() >= c1
    hist = t.history()
    assert hist == sorted(hist) and len(hist) >= 3


def test_vacuum_removes_orphans_and_old_versions(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    # simulate a crashed commit: data dir written, never committed
    orphan_dir = os.path.join(t.root, "data", "b99999999-dead")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-0.parquet"), "w") as f:
        f.write("junk")
    before = t.read().count()
    removed = t.vacuum(retain_versions=1, stale_grace_sec=0)
    assert any("dead" in r for r in removed)
    assert t.read().count() == before  # live state untouched
    assert len(t.history()) == 1


def test_compact_consolidates_files(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    for b in range(4):
        chunk = ev.filter(
            (F.col("seq") >= b * 100) & (F.col("seq") < (b + 1) * 100)
        )
        t.apply_batch(canonicalize(chunk), b)
    before_files = len(t.snapshot().files)
    before = t.read().orderBy("repo", "path").collect()
    stats = t.compact()
    assert stats["files_after"] <= before_files
    after = t.read().orderBy("repo", "path").collect()
    assert before == after


def test_compact_rescales_buckets_mid_stream(spark, tmp_path):
    # partition-spec evolution: re-hash 4 -> 16 buckets in one
    # maintenance commit; state, pruned reads, and subsequent merges all
    # resolve against the new layout
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    before = sorted(
        map(tuple, t.read().select("repo", "path", "commit", "content_sha").collect())
    )
    res = t.compact(n_buckets=16)
    assert res["n_buckets"] == 16
    snap = t.snapshot()
    assert snap.n_buckets == 16
    assert max(b for e in snap.files for b in e.buckets) >= 4  # spread out
    after = sorted(
        map(tuple, t.read().select("repo", "path", "commit", "content_sha").collect())
    )
    assert before == after
    # pruned read resolves against the NEW hash
    full = t.read()
    pruned = t.read(repo="repo-1")
    want = full.filter(F.col("repo") == "repo-1")
    assert pruned.exceptAll(want).count() == 0
    assert want.exceptAll(pruned).count() == 0
    # subsequent merge applies cleanly on the rescaled layout
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    assert t.read().count() >= len(before)


def test_vacuum_survives_stale_manifest_from_crashed_commit(spark, tmp_path):
    # a crash AFTER writing v(N+1).json but BEFORE swapping LATEST leaves
    # a stale above-current manifest; vacuum must anchor on LATEST, keep
    # the live version, and sweep the stale file — never brick the table
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    cur = t.snapshot().version
    before = t.read().count()
    # simulate the crashed commit: stale v-file, pointer NOT swapped
    stale = t._child(t.snapshot())
    t.log._atomic_write(t.log._vpath(stale.version), stale.to_json())
    assert t.log.current_version() == cur  # pointer untouched
    t.vacuum(retain_versions=1, stale_grace_sec=0)
    assert t.log.current_version() == cur
    assert t.read().count() == before  # live manifest + data intact
    assert not os.path.exists(t.log._vpath(stale.version))  # stale swept
    # normal operation continues
    t.apply_batch(canonicalize(ev.limit(50)), 2)
    assert t.snapshot().version > cur


def test_poison_extra_keys_never_promote(spark, tmp_path):
    # keys that are not plain identifiers (or that shadow engine
    # temporaries / changelog pre-images) must stay in the extra map —
    # one poison event must not wedge the stream
    from etl_spark.operators.evolution import observed_extra_keys

    ev = events_df(spark, 60, n_repos=3, paths_per_repo=5).withColumn(
        "extra",
        F.create_map(
            F.lit("a.b"), F.lit("x"),
            F.lit("_rn"), F.lit("x"),
            F.lit("pre_content"), F.lit("x"),
            F.lit("ok`name"), F.lit("x"),
            F.lit("branch"), F.lit("main"),
        ),
    )
    assert observed_extra_keys(ev) == ["branch"]
    from etl_spark.streaming.sink import CdcSink

    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    CdcSink(t).apply(ev, 0)
    snap = t.snapshot()
    assert "branch" in snap.columns
    for bad in ("a.b", "_rn", "pre_content", "ok`name"):
        assert bad not in snap.columns
    assert t.read().filter(F.col("branch") == "main").count() > 0


def test_maintain_compacts_and_vacuums_when_thresholds_hit(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    for i in range(3):
        lo, hi = i * 130, (i + 1) * 130
        t.apply_batch(
            canonicalize(ev.filter((F.col("seq") >= lo) & (F.col("seq") < hi))), i
        )
    before = sorted(
        map(tuple, t.read().select("repo", "path", "content_sha").collect())
    )
    # CoW already consolidates touched buckets, so files/bucket hovers
    # at ~1.0 — a sub-1.0 threshold forces the compaction branch
    res = t.maintain(retain_versions=1, max_files_per_bucket=0.9, stale_grace_sec=0)
    assert res["compacted"] and res["files_now"] <= res["files_before"]
    assert res["orphans_removed"] > 0
    after = sorted(
        map(tuple, t.read().select("repo", "path", "content_sha").collect())
    )
    assert before == after
    # idle table: second maintain is a no-op metadata check
    res2 = t.maintain(retain_versions=1, max_files_per_bucket=10.0, stale_grace_sec=0)
    assert not res2["compacted"]


def test_sharded_manifest_roundtrip_and_incremental_commits(spark, tmp_path):
    # tiny threshold forces sharding immediately; a steady-state commit
    # must rewrite only the shards whose bucket groups changed
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), n_buckets=8, salt=2,
        manifest_shard_min_files=2, manifest_shard_buckets=2,
    )
    ev = events_df(spark, 500, n_repos=8, paths_per_repo=10, delete_pct=0)
    t.apply_batch(canonicalize(ev), 0)
    snap1 = t.snapshot()
    assert snap1.file_shards, "manifest must be sharded past the threshold"
    # round trip: loaded entries equal what was committed
    assert {e.path for e in snap1.files} == {
        e.path for e in t.snapshot(snap1.version).files
    }
    state1 = sorted(
        map(tuple, t.read().select("repo", "path", "content_sha").collect())
    )

    shards_before = set(os.listdir(t.log.shards_dir))
    # second batch touches ONE repo -> one (or few) bucket groups change
    ev2 = events_df(
        spark, 30, n_repos=1, paths_per_repo=10, start_seq=500, delete_pct=0
    )
    t.apply_batch(canonicalize(ev2), 1)
    snap2 = t.snapshot()
    new_shards = set(os.listdir(t.log.shards_dir)) - shards_before
    n_groups = len(snap2.file_shards)
    assert len(new_shards) < n_groups, (
        f"steady-state commit rewrote {len(new_shards)}/{n_groups} shards"
    )
    # unchanged bucket groups reuse their content-addressed shard files
    assert set(snap1.file_shards) & set(snap2.file_shards), (
        "no shard was carried between commits"
    )
    # state correctness through the sharded manifest
    got = sorted(
        map(
            tuple,
            t.read(version=snap1.version)
            .select("repo", "path", "content_sha")
            .collect(),
        )
    )
    assert got == state1

    # vacuum GCs shards referenced by no kept snapshot, keeps the rest
    t.vacuum(retain_versions=1, stale_grace_sec=0)
    remaining = {
        os.path.join("shards", n) for n in os.listdir(t.log.shards_dir)
    }
    assert remaining == set(t.snapshot().file_shards)
    assert t.read().count() > 0


def test_commit_conflict_detected(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    snap = t.snapshot()
    child = Snapshot.from_json(snap.to_json())
    child.version = snap.version + 1
    child.parent = snap.version
    t.log.commit(child, expect_parent=snap.version)
    # a second writer based on the stale parent must fail
    child2 = Snapshot.from_json(snap.to_json())
    child2.version = snap.version + 1
    with pytest.raises(RuntimeError, match="conflict|non-monotonic"):
        t.log.commit(child2, expect_parent=snap.version)


def test_latest_pointer_never_torn(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev), 0)
    with open(os.path.join(t.root, "meta", "LATEST")) as f:
        v = int(f.read().strip())
    assert v == t.snapshot().version


def test_empty_batch_advances_fence(spark, tmp_path):
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev), 0)
    # an all-duplicate batch still fences its batch id
    stats = t.apply_batch(canonicalize(ev.limit(50)), 1)
    assert stats["events"] == 0 and not stats["skipped"]
    assert t.snapshot().last_batch_id == 1


def test_read_by_repo_prunes_files(spark, tmp_path):
    t, ev = _mk(spark, tmp_path, n=600)
    t.apply_batch(canonicalize(ev), 0)
    snap = t.snapshot()
    got = t.read(repo="repo-1").count()
    want = t.read().filter(F.col("repo") == "repo-1").count()
    assert got == want and got > 0
    # pruning actually reduces the file set
    b = t._bucket_of_repo(snap, "repo-1")
    candidate = [e for e in snap.files if set(b) & set(e.buckets)]
    assert len(candidate) < len(snap.files)


def test_commit_stats_are_executor_side_and_exact(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 2: the commit path must not parse parquet footers
    on the driver (a thousands-of-files backfill commit would serialize
    on driver I/O).  ParquetFile is poisoned for the duration of the
    merge + compaction; the manifest must still carry EXACT per-file
    stats (rows, single bucket, true repo min/max)."""
    import pyarrow.parquet as pa_pq

    import etl_spark.catalog.table as table_mod

    def _boom(*a, **k):
        raise AssertionError("driver-side ParquetFile on the commit path")

    monkeypatch.setattr(table_mod.pq, "ParquetFile", _boom)
    assert pa_pq.ParquetFile is _boom  # same module object — guard is live

    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    t.compact()

    snap = t.snapshot()
    assert snap.files
    total_rows = 0
    for e in snap.files:
        assert len(e.buckets) == 1  # partitionBy("bucket") => exact
        assert e.bytes > 0 and e.rows > 0
        df = spark.read.parquet(os.path.join(t.root, e.path))
        got = df.agg(
            F.count("*").alias("n"), F.min("repo").alias("lo"), F.max("repo").alias("hi")
        ).first()
        assert (e.rows, e.min_repo, e.max_repo) == (got["n"], got["lo"], got["hi"])
        total_rows += e.rows
    assert total_rows == t.read(include_tombstones=True).count()


def test_vacuum_grace_spares_inflight_commit_artifacts(spark, tmp_path):
    """ADVICE r3: fresh unreferenced data files / above-current v-files /
    .tmp manifests are indistinguishable from a commit in flight between
    its file writes and the pointer swap — default-grace vacuum must
    leave them alone; grace=0 (the explicit force) removes them."""
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    # simulate a concurrent writer mid-commit: orphan data file + stale
    # v-file above current + an _atomic_write temp file, all fresh
    orphan = os.path.join(t.root, "data", "inflight-000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not yet referenced")
    cur = t.snapshot()
    stale = Snapshot.from_json(cur.to_json())
    stale.version = cur.version + 7
    t.log._atomic_write(t.log._vpath(stale.version), stale.to_json())
    tmp_manifest = os.path.join(t.log.meta, "v99.json.tmp-deadbeef")
    with open(tmp_manifest, "w") as f:
        f.write("{}")

    t.vacuum(retain_versions=1)  # default grace
    assert os.path.exists(orphan)
    assert os.path.exists(t.log._vpath(stale.version))
    assert os.path.exists(tmp_manifest)

    t.vacuum(retain_versions=1, stale_grace_sec=0)
    assert not os.path.exists(orphan)
    assert not os.path.exists(t.log._vpath(stale.version))
    assert not os.path.exists(tmp_manifest)


def test_stage_mediums_produce_identical_state(spark, tmp_path, monkeypatch):
    """Small batches stage the LWW winners via localCheckpoint, big ones
    via a parquet round-trip; the two mediums must be invisible to the
    result.  STAGE_SMALL_ROWS=0 forces every batch down the parquet path;
    the default routes these small batches through the checkpoint path."""
    from etl_spark.catalog import plan

    ev = events_df(spark, 600, n_repos=5, paths_per_repo=12)
    halves = [ev.filter(F.col("seq") < 300), ev.filter(F.col("seq") >= 300)]
    states = {}
    for name, small_rows in [("ckpt", plan.STAGE_SMALL_ROWS), ("parquet", 0)]:
        monkeypatch.setattr(plan, "STAGE_SMALL_ROWS", small_rows)
        t = LakeTable.create(spark, str(tmp_path / name), n_buckets=4, salt=2)
        for bid, h in enumerate(halves):
            t.apply_batch(canonicalize(h), bid)
        states[name] = t.read().select("repo", "path", "commit", "content_sha")
    a, b = states["ckpt"], states["parquet"]
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_metrics_compaction_consolidates_and_heals(spark, tmp_path):
    """Per-batch lineage files fold into span files (file count must
    track maintenance cadence, not batch count at 10^10 scale), with
    identical metrics content; a crash between span rename and original
    deletion self-heals on the next run."""
    import shutil as _sh

    t, ev = _mk(spark, tmp_path)
    for b in range(5):
        chunk = ev.filter(
            (F.col("seq") >= b * 80) & (F.col("seq") < (b + 1) * 80)
        )
        t.apply_batch(canonicalize(chunk), b)
    mdir = os.path.join(t.root, "metrics")
    before = sorted(
        map(tuple, t.metrics().select("batch_id", "part_id", "rows_applied").collect())
    )
    res = t.compact_metrics(keep_recent=2)
    assert res["consolidated"] == 3 and res["span"] == (0, 2)
    names = sorted(os.listdir(mdir))
    assert names == [
        "batch-00000003.parquet",
        "batch-00000004.parquet",
        "span-00000000-00000002.parquet",
    ]
    after = sorted(
        map(tuple, t.metrics().select("batch_id", "part_id", "rows_applied").collect())
    )
    assert after == before  # lossless fold
    # crash simulation: an original inside the span range reappears
    # (rename happened, deletes didn't).  A true crash leftover PREDATES
    # the span file (it was written before the fold ran), so the sim must
    # backdate it — a NEWER file is a rollback re-ingest, which the heal
    # keeps (see test_rollback_truncates_and_heals_metrics_lineage).
    leftover = os.path.join(mdir, "batch-00000001.parquet")
    _sh.copy(os.path.join(mdir, "batch-00000004.parquet"), leftover)
    span_mtime = os.path.getmtime(
        os.path.join(mdir, "span-00000000-00000002.parquet")
    )
    os.utime(leftover, (span_mtime - 60, span_mtime - 60))
    res2 = t.compact_metrics(keep_recent=2)
    assert res2["healed"] == 1 and res2["consolidated"] == 0
    assert sorted(
        map(tuple, t.metrics().select("batch_id", "part_id", "rows_applied").collect())
    ) == before
    # idempotent once steady
    assert t.compact_metrics(keep_recent=2) == {"consolidated": 0, "healed": 0}


def test_vacuum_expires_old_quarantine_dirs(spark, tmp_path):
    """Quarantined reject dirs expire once the fence is far enough past
    them (bounded forensic shelf life; data/ vacuuming never walks
    quarantine/)."""
    t, ev = _mk(spark, tmp_path)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1)
    qroot = os.path.join(t.root, "quarantine")
    for bid in (0, 1):
        qdir = os.path.join(qroot, f"batch-{bid:08d}")
        os.makedirs(qdir)
        with open(os.path.join(qdir, "part-0.parquet"), "w") as f:
            f.write("x")
    removed = t.vacuum(
        retain_versions=2, stale_grace_sec=0, quarantine_retain_batches=1
    )
    assert os.path.join("quarantine", "batch-00000000") in removed
    assert not os.path.exists(os.path.join(qroot, "batch-00000000"))
    assert os.path.exists(os.path.join(qroot, "batch-00000001"))  # retained


def test_describe_history_audit_trail(spark, tmp_path):
    """Every commit records its operation + wall time: the audit trail a
    production table needs to answer 'what produced v7 and when'."""
    # high debt cap: the MoR batch must not trigger an extra auto-compact
    # commit (that would add its own history row)
    t, ev = _mk(spark, tmp_path, mor_compact_ratio=100.0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 200)), 1, mode="mor")
    t.compact()
    t.rollback(t.history()[1])
    h = t.describe_history().orderBy("version").collect()
    assert [r["op"] for r in h] == [
        "create", "merge-cow", "merge-mor", "compact", "rollback"
    ]
    assert all(r["ts"] > 0 for r in h)
    assert h[-1]["restored_version"] == str(h[1]["version"])
    assert h[-1]["rows"] == h[1]["rows"]
    # fence advance on an all-duplicate batch is itself audited
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 200)), 5)
    ops = [r["op"] for r in t.describe_history().orderBy("version").collect()]
    assert ops[-1] == "fence"


def test_max_file_bytes_bounds_data_file_sizes(spark, tmp_path):
    """A fat bucket must split into several ~max_file_bytes files (each
    still single-bucket) instead of one enormous file — both on the
    merge write and on compaction; state and pruned reads unchanged."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), n_buckets=2, salt=1,
        max_file_bytes=16 * 1024,
    )
    ev = events_df(spark, 800, n_repos=3, paths_per_repo=100)
    t.apply_batch(canonicalize(ev), 0)
    snap = t.snapshot()
    per_bucket: dict[int, int] = {}
    for e in snap.files:
        assert len(e.buckets) == 1  # slicing never mixes buckets in a file
        per_bucket[e.buckets[0]] = per_bucket.get(e.buckets[0], 0) + 1
    assert max(per_bucket.values()) >= 2, f"no bucket was sliced: {per_bucket}"
    big = 4 * max(e.bytes for e in snap.files)
    state = sorted(
        map(tuple, t.read().select("repo", "path", "content_sha").collect())
    )
    # pruned point read still resolves across sliced files
    some_repo = state[0][0]
    pruned = t.read(repo=some_repo).select("repo").distinct().collect()
    assert [r["repo"] for r in pruned] == [some_repo]
    # compaction keeps the bound (and the fold is lossless)
    t.compact()
    snap2 = t.snapshot()
    assert all(len(e.buckets) == 1 for e in snap2.files)
    assert max(e.bytes for e in snap2.files) <= big
    assert len(snap2.files) >= 3  # still several files per fat bucket
    state2 = sorted(
        map(tuple, t.read().select("repo", "path", "content_sha").collect())
    )
    assert state2 == state


def test_write_stats_fast_path_matches_scan(spark, tmp_path):
    """Manifest entries built from write-time observed stats must be
    byte-identical to what the authoritative post-write scan produces —
    for both the CoW merge and the MoR delta path (VERDICT r4 #3: no
    second read of written data on the commit path)."""
    t, ev = _mk(spark, tmp_path, mor_compact_ratio=100.0)
    ev = canonicalize(ev)
    t.apply_batch(ev.filter(F.col("seq") < 150), 0)  # CoW (first write)
    t.apply_batch(ev.filter((F.col("seq") >= 150) & (F.col("seq") < 300)), 1)
    t.apply_batch(ev.filter(F.col("seq") >= 300), 2, mode="mor")
    snap = t.snapshot()
    checked = 0
    for entries in (snap.files, snap.delta_files):
        # single-file deltas (no bucket= layout) can't round-trip through
        # _scan_written (the bucket column is dropped in the file); their
        # observed stats are verified by direct read below instead
        bucketed = [e for e in entries if "/bucket=" in e.path]
        single = [e for e in entries if "/bucket=" not in e.path]
        dirs = sorted({e.path.split("/bucket=")[0] for e in bucketed})
        for d in dirs:
            mine = sorted(
                (e for e in entries if e.path.startswith(d + "/")),
                key=lambda e: e.path,
            )
            scanned = t._scan_written(d)
            assert [vars(e) for e in mine] == [vars(e) for e in scanned], d
            checked += len(mine)
        for e in single:
            df = spark.read.parquet(os.path.join(t.root, e.path))
            got = df.agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.when(F.col("_deleted"), F.lit(0)).otherwise(F.lit(1))
                ).alias("live"),
                F.min("repo").alias("min_repo"),
                F.max("repo").alias("max_repo"),
            ).first()
            assert e.rows == int(got["rows"])
            assert e.live_rows == int(got["live"])
            assert e.min_repo == got["min_repo"]
            assert e.max_repo == got["max_repo"]
            assert e.bytes == os.path.getsize(os.path.join(t.root, e.path))
            real_buckets = {
                int(r["b"])
                for r in df.select(
                    t._bucket_expr(snap).alias("b")
                ).distinct().collect()
            }
            assert real_buckets <= set(e.buckets)
            checked += 1
    assert checked == len(snap.files) + len(snap.delta_files) > 0


def test_live_row_count_metadata_matches_scans(spark, tmp_path):
    """Snapshots without pending deltas know their exact live row count
    from metadata alone (VERDICT r4 #6); MoR snapshots answer None and
    compaction restores exactness.  Cross-checked against full scans."""
    t, ev = _mk(spark, tmp_path, mor_compact_ratio=100.0)
    ev2 = events_df(spark, 400, n_repos=5, paths_per_repo=12, delete_pct=20)
    t.apply_batch(canonicalize(ev2.filter(F.col("seq") < 200)), 0)
    t.apply_batch(canonicalize(ev2.filter(F.col("seq") >= 200)), 1, mode="mor")
    t.compact()
    for v in t.history():
        snap = t.snapshot(v)
        meta_count = snap.live_row_count()
        if snap.delta_files:
            assert meta_count is None  # honest: overlap needs a read
        else:
            assert meta_count == t.read(version=v).count()
    h = {r["version"]: r["live_rows"] for r in t.describe_history().collect()}
    head = t.snapshot()
    assert h[head.version] == t.read().count()
