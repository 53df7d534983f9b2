"""The engine reads its own parquet with schemas it already knows.

- Building a read launches no Spark job: no footer-reading schema
  inference before the data job.
- Files written before an ``extra`` key was promoted read the new column
  as null, through the changelog, an incremental view refresh and a
  targeted compaction that folds pre- and post-promotion files.
- The declared type of a promoted column is string, so a batch that
  would add any other type is refused before a table file is written.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark.catalog import plan
from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.functions.xxhash import cold_bucket
from etl_spark.operators.incremental import IncrementalView
from etl_spark.oracle import FINAL_COLUMNS, replay_events
from etl_spark.pipeline import canonicalize
from etl_spark.streaming.sink import CdcSink

COLS = FINAL_COLUMNS + ["branch"]
N_BUCKETS = 4
PROMOTING_REPO = "repo-0"


def _jobs_while(spark, build):
    """Spark job ids launched while ``build()`` runs, and its result."""
    sc = spark.sparkContext
    group = f"declared-reads-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "declared-schema read test")
    try:
        out = build()
        return list(sc.statusTracker().getJobIdsForGroup(group)), out
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def _state(df) -> pd.DataFrame:
    return (
        df.select(*COLS)
        .toPandas()
        .sort_values(["repo", "path"], kind="mergesort")
        .reset_index(drop=True)
    )


def _evolving(spark, tmp_path):
    """A merge-on-read table across the promotion of ``extra['branch']``.

    Batch 0 writes every bucket without ``branch``.  Batch 1 holds one
    repo's events, carries ``branch`` and promotes it, rewriting only
    that repo's bucket.  Batch 2 lands as one pending multi-bucket delta
    with ``branch`` on half its events.  Returns the table, the version
    before promotion, a view refreshed at that version, and the applied
    events."""
    ev = events_df(spark, 900, n_repos=6, paths_per_repo=12, delete_pct=8)
    ev = ev.withColumn(
        "extra",
        F.when(
            F.col("seq") % 2 == 0,
            F.create_map(F.lit("branch"), F.concat(F.lit("b"), F.col("seq"))),
        ),
    )
    batches = [
        ev.filter(F.col("seq") < 300).withColumn(
            "extra", F.lit(None).cast("map<string,string>")
        ),
        ev.filter(
            (F.col("seq") >= 300) & (F.col("seq") < 450)
            & (F.col("repo") == PROMOTING_REPO)
        ),
        ev.filter(F.col("seq") >= 450),
    ]
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), n_buckets=N_BUCKETS, salt=2,
        write_mode="mor", mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    view = IncrementalView(t, str(tmp_path / "view"), ["repo"])
    sink = CdcSink(t)
    sink.apply(batches[0], 0)
    v_before = t.snapshot().version
    view.refresh()
    sink.apply(batches[1], 1)
    sink.apply(batches[2], 2)
    snap = t.snapshot()
    assert "branch" in snap.columns and snap.schema_version == 1
    assert snap.delta_files, "batch 2 must stay a pending delta"
    applied = pd.concat([b.toPandas() for b in batches], ignore_index=True)
    return t, v_before, view, applied


def test_building_reads_launches_no_spark_job(spark, tmp_path):
    t, v_before, _, _ = _evolving(spark, tmp_path)
    jobs, frames = _jobs_while(
        spark,
        lambda: [t.read(), t.read(repo="repo-1"), t.read_changes(v_before)],
    )
    assert jobs == [], f"building reads launched Spark jobs {jobs}"
    assert all("branch" in f.columns for f in frames)
    # the counter sees jobs when there are some
    jobs, _ = _jobs_while(spark, lambda: frames[1].count())
    assert jobs


def test_promotion_boundary_reads_null_in_older_files(spark, tmp_path):
    t, v_before, view, applied = _evolving(spark, tmp_path)
    want_before = replay_events(
        applied[applied["seq"] < 300], promoted=["branch"]
    )
    want = replay_events(applied, promoted=["branch"])
    assert want["branch"].isna().any() and want["branch"].notna().any()

    # changelog across the promotion commit: every pre-image predates
    # the column, post-images match the oracle
    ch = t.read_changes(v_before, include_pre=True).toPandas()
    assert ch["pre_branch"].isna().all()
    keys_before = set(zip(want_before["repo"], want_before["path"]))
    keys_now = set(zip(want["repo"], want["path"]))
    ops = ch.groupby("change_op").size().to_dict()
    assert ops.get("insert", 0) == len(keys_now - keys_before)
    assert ops.get("delete", 0) == len(keys_before - keys_now)
    post = (
        ch[ch["change_op"] != "delete"][COLS]
        .sort_values(["repo", "path"], kind="mergesort")
        .reset_index(drop=True)
    )
    changed = want.merge(post[["repo", "path"]], on=["repo", "path"])
    pd.testing.assert_frame_equal(post, changed[COLS], check_dtype=False)

    # the view's incremental refresh spans the same commits
    assert view.refresh()["mode"] == "incremental"
    got_view = {r["repo"]: r["n_rows"] for r in view.read().collect()}
    assert got_view == want.groupby("repo").size().to_dict()

    # a targeted compaction folding a pre-promotion base file with the
    # post-promotion delta keeps the older rows' nulls
    snap = t.snapshot()
    delta_buckets = {b for e in snap.delta_files for b in e.buckets}
    target = min(
        delta_buckets - {cold_bucket(PROMOTING_REPO, N_BUCKETS)}
    )
    base = [e for e in snap.files if target in e.buckets]
    assert base and all(
        "branch" not in pq.read_schema(os.path.join(t.root, e.path)).names
        for e in base
    ), "the folded base file must predate the promoted column"
    t.compact(buckets=[target])
    assert not any(target in e.buckets for e in t.snapshot().delta_files)
    got = _state(t.read())
    pd.testing.assert_frame_equal(got, want[COLS], check_dtype=False)
    in_target = got[
        got["repo"].map(lambda r: cold_bucket(r, N_BUCKETS)) == target
    ]
    assert in_target["branch"].isna().any()
    assert in_target["branch"].notna().any()


@pytest.mark.parametrize("stage_small_rows", [25_000, 0])  # both stage media
def test_non_string_column_is_refused_before_any_write(
    spark, tmp_path, monkeypatch, stage_small_rows
):
    monkeypatch.setattr(plan, "STAGE_SMALL_ROWS", stage_small_rows)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4, salt=2)
    ev = events_df(spark, 200, n_repos=4, paths_per_repo=10)
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 100)), 0)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), t.root)
            for d, _, fs in os.walk(t.root)
            for f in fs
        )

    before, version = listing(), t.snapshot().version
    bad = canonicalize(ev.filter(F.col("seq") >= 100)).withColumn(
        "stars", F.col("seq").cast("int")
    )
    with pytest.raises(TypeError, match="stars int"):
        t.apply_batch(bad, 1)
    assert listing() == before
    assert t.snapshot().version == version
    # a string column of the same name is accepted
    ok = canonicalize(ev.filter(F.col("seq") >= 100)).withColumn(
        "stars", F.col("seq").cast("string")
    )
    t.apply_batch(ok, 1)
    assert "stars" in t.snapshot().columns


def test_view_state_reads_without_a_job(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4, salt=2)
    ev = events_df(spark, 300, n_repos=4, paths_per_repo=10)
    view = IncrementalView(
        t, str(tmp_path / "view"), ["lang"],
        lambda c: {"chars": F.length(c("content")).cast("decimal(12,2)")},
    )
    t.apply_batch(canonicalize(ev.filter(F.col("seq") < 150)), 0)
    view.refresh()
    t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 150)), 1)
    assert view.refresh()["mode"] == "incremental"
    jobs, state = _jobs_while(spark, view.read)
    assert jobs == []
    # the incremental merge widens the decimal; the read keeps the
    # written type and the values of a full recompute
    full = view._full_aggregate(t.snapshot().version)
    assert state.schema["chars"].dataType != full.schema["chars"].dataType
    assert sorted(map(tuple, state.collect()), key=str) == sorted(
        map(tuple, full.select(*state.columns).collect()), key=str
    )
