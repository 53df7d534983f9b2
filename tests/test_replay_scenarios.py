"""The six mandated end-to-end fixture scenarios (FIXTURES.md §1.4):
replay-determinism, out-of-order, duplicate-event, mid-stream
schema-change, resume-from-checkpoint (in test_streaming.py), skew.

Each scenario replays deterministic events through the full engine and
diffs the final table state against the serial pandas oracle — the
executable stand-in for the reference final state (SURVEY.md §0)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.oracle import FINAL_COLUMNS, replay_events, state_digest
from etl_spark.pipeline import canonicalize
from etl_spark.streaming.sink import CdcSink


def _final_state(table: LakeTable, cols=None) -> pd.DataFrame:
    cols = cols or FINAL_COLUMNS
    return (
        table.read()
        .select(*cols)
        .toPandas()
        .sort_values(["repo", "path"], kind="mergesort")
        .reset_index(drop=True)
    )


def _assert_state_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want), f"{len(got)} rows vs oracle {len(want)}"
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def _apply_batches(table, ev, bounds, delivery="ordered", batch_ids=None):
    sink = CdcSink(table, delivery=delivery)
    for i, (lo, hi) in enumerate(bounds):
        chunk = ev.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        bid = batch_ids[i] if batch_ids else i
        sink.apply(chunk, bid)
    return sink


def test_fixture1_replay_determinism(spark, tmp_path):
    ev = events_df(spark, 900, n_repos=8, paths_per_repo=25)
    digests = []
    for run in range(2):
        t = LakeTable.create(spark, str(tmp_path / f"lake{run}"), n_buckets=8, salt=4)
        _apply_batches(t, ev, [(0, 300), (300, 600), (600, 900)])
        digests.append(state_digest(_final_state(t)))
    assert digests[0] == digests[1]
    _assert_state_equal(
        _final_state(LakeTable.load(spark, str(tmp_path / "lake0"))),
        replay_events(ev.toPandas()),
    )


def test_fixture2_out_of_order_delivery(spark, tmp_path):
    """Events arbitrarily scattered across batches (no per-partition
    prefix contract) — tombstoned LWW must still converge."""
    ev = events_df(spark, 800, n_repos=6, paths_per_repo=20)
    # batch assignment by hash of seq: wildly out of order
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8, salt=4)
    sink = CdcSink(t, delivery="unordered")
    for b in range(4):
        chunk = ev.filter(F.pmod(F.xxhash64("seq", F.lit(7)), F.lit(4)) == b)
        sink.apply(chunk, b)
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))


def test_fixture3_duplicate_events(spark, tmp_path):
    """At-least-once delivery: a third of events re-delivered in later
    batches, and one whole batch re-applied with a fresh batch id."""
    ev = events_df(spark, 600, n_repos=6, paths_per_repo=20)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8, salt=4)
    sink = CdcSink(t, delivery="ordered")
    sink.apply(ev.filter(F.col("seq") < 200), 0)
    sink.apply(ev.filter((F.col("seq") >= 200) & (F.col("seq") < 400)), 1)
    # duplicates: re-deliver a slice of batch 0 inside batch 2
    dup = ev.filter(F.col("seq") < 70)
    sink.apply(ev.filter(F.col("seq") >= 400).unionByName(dup), 2)
    # full batch re-delivered under a NEW batch id (watermark admission)
    sink.apply(ev.filter((F.col("seq") >= 200) & (F.col("seq") < 400)), 3)
    stats = sink.applied[-1]
    assert stats["events"] == 0  # everything was a duplicate
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))


def test_fixture3b_batch_id_fence(spark, tmp_path):
    ev = events_df(spark, 300)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4, salt=2)
    t.apply_batch(canonicalize(ev), 0)
    v = t.snapshot().version
    stats = t.apply_batch(canonicalize(ev), 0)  # foreachBatch replay
    assert stats["skipped"] and t.snapshot().version == v
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))


def test_fixture4_mid_stream_schema_change(spark, tmp_path):
    """A new column ('branch') appears in the extra map partway through;
    earlier rows must be back-filled as nulls, final schema is the union."""
    ev = events_df(spark, 600, n_repos=6, paths_per_repo=20)
    with_extra = ev.withColumn(
        "extra",
        F.when(
            F.col("seq") >= 300,
            F.create_map(
                F.lit("branch"),
                F.concat(F.lit("b-"), F.pmod("seq", F.lit(3)).cast("string")),
            ),
        ),
    )
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8, salt=4)
    sink = CdcSink(t)
    sink.apply(with_extra.filter(F.col("seq") < 300), 0)
    assert t.snapshot().schema_version == 0
    sink.apply(with_extra.filter(F.col("seq") >= 300), 1)
    snap = t.snapshot()
    assert snap.schema_version == 1 and "branch" in snap.columns
    got = _final_state(t, FINAL_COLUMNS + ["branch"])
    want = replay_events(with_extra.toPandas(), promoted=["branch"])
    _assert_state_equal(got, want)
    # back-fill: keys never touched after seq 300 have null branch
    assert got["branch"].isna().any() and got["branch"].notna().any()


def test_fixture6_skew_hot_repo(spark, tmp_path):
    """~50% of events on one hot repo: promotion fires, the repo is
    salted across dedicated buckets, state still matches the oracle."""
    ev = events_df(spark, 1500, n_repos=10, paths_per_repo=20, hot_pct=50)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8, salt=4)
    # low threshold so promotion triggers at fixture scale
    snap = t.snapshot()
    snap0 = t.snapshot()
    snap0.properties["hot_min_rows"] = "500"
    snap0.properties["hot_frac"] = "0.3"
    snap0.version = snap.version + 1
    snap0.parent = snap.version
    t.log.commit(snap0, expect_parent=snap.version)

    sink = CdcSink(t)
    sink.apply(ev.filter(F.col("seq") < 500), 0)
    sink.apply(ev.filter((F.col("seq") >= 500) & (F.col("seq") < 1000)), 1)
    sink.apply(ev.filter(F.col("seq") >= 1000), 2)

    snap = t.snapshot()
    assert "repo-hot" in snap.hot_repos, "hot repo must be promoted"
    hot_buckets = {
        b
        for e in snap.files
        for b in e.buckets
        if b >= snap.n_buckets
    }
    assert len(hot_buckets) > 1, "hot repo must be salted over >1 bucket"
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))
    # read-by-repo pruning returns exactly the hot repo's rows
    hot_rows = t.read(repo="repo-hot").count()
    oracle = replay_events(ev.toPandas())
    assert hot_rows == int((oracle["repo"] == "repo-hot").sum())


def test_unordered_delete_then_late_upsert(spark, tmp_path):
    """Tombstone semantics: a delete (seq 10) applied before a LATE lower
    upsert (seq 5) must keep the key absent."""
    rows = [
        (10, 0, "delete", "r", "p.py", "c10", None),
        (5, 0, "update", "r", "p.py", "c5", "old content\n"),
    ]
    cols = "seq long, part_id int, op string, repo string, path string, commit string, content string"
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=2, salt=2)
    mk = lambda r: spark.createDataFrame([r], cols).withColumn(
        "ts", F.timestamp_seconds(F.col("seq"))
    ).withColumn("lang", F.lit(None).cast("string")).withColumn(
        "extra", F.lit(None).cast("map<string,string>")
    )
    sink = CdcSink(t, delivery="unordered")
    sink.apply(mk(rows[0]), 0)
    sink.apply(mk(rows[1]), 1)
    assert t.read().count() == 0
    assert t.read(include_tombstones=True).count() == 1


def test_cow_merges_match_oracle(spark, tmp_path):
    """Copy-on-write merges reach the oracle state, for in-order halves
    and for out-of-order, re-delivered and seq-tied batches (every
    batch after the first merges through the rewrite kernel)."""
    ev = events_df(spark, 700, n_repos=6, paths_per_repo=15)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4, salt=2)
    for b, (lo, hi) in enumerate([(0, 350), (350, 700)]):
        chunk = ev.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        t.apply_batch(canonicalize(chunk), b)
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))

    ev = events_df(
        spark, 6000, seed=21, n_repos=10, paths_per_repo=40, hot_pct=20,
        content_bytes=128,
    )
    batches = [
        ev.filter("seq % 3 != 2"),
        ev.filter("seq % 3 = 2").union(ev.limit(300)),  # out of order + redelivery
        ev.limit(500),  # pure duplicates incl. seq ties
    ]
    t = LakeTable.create(spark, str(tmp_path / "redeliver"), n_buckets=8, salt=4)
    for b, chunk in enumerate(batches):
        st = t.apply_batch(chunk, b, delivery="unordered",
                           canonicalizer=canonicalize)
        assert st["mode"] == "cow", st
    _assert_state_equal(_final_state(t), replay_events(ev.toPandas()))
