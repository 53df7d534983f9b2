"""Spark job counts of steady micro-batches.

Per-batch fixed cost is mostly job count: a 90-event tail batch moves
almost no data, so every extra job is latency.  These tests pin how many
jobs one steady merge-on-read batch and one small copy-on-write batch
launch, so a change cannot add a job without editing a number here.
Each ceiling is the count measured, twice, when it was last set; the
copy-on-write count was set when that batch's merge became the rewrite
kernel alone (slice and batch rows straight into ``_latest_rows``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.pipeline import canonicalize
from tests.test_declared_reads import _jobs_while

BASE_EVENTS = 4000
TAIL_EVENTS = 90
MOR_BATCH_JOBS = 9
COW_BATCH_JOBS = 9


def _table(spark, root, **props):
    """A 16-bucket table holding a ``BASE_EVENTS``-event base, and the
    event stream that continues it."""
    ev = events_df(spark, BASE_EVENTS + 2 * TAIL_EVENTS, n_repos=40)
    t = LakeTable.create(spark, root, n_buckets=16, salt=8, **props)
    t.apply_batch(ev.filter(F.col("seq") < BASE_EVENTS), 0,
                  canonicalizer=canonicalize)
    return t, ev


def _tail(ev, i):
    lo = BASE_EVENTS + i * TAIL_EVENTS
    return ev.filter((F.col("seq") >= lo) & (F.col("seq") < lo + TAIL_EVENTS))


def test_steady_mor_batch_job_count(spark, tmp_path):
    t, ev = _table(spark, str(tmp_path / "t"), write_mode="auto")
    # warm: the first delta pays one-time costs (code generation, the
    # first localCheckpoint); the second is the steady batch
    t.apply_batch(_tail(ev, 0), 1, canonicalizer=canonicalize)
    jobs, st = _jobs_while(
        spark, lambda: t.apply_batch(_tail(ev, 1), 2, canonicalizer=canonicalize)
    )
    assert st["mode"] == "mor"
    assert not st["compacted"]
    assert len(jobs) <= MOR_BATCH_JOBS, len(jobs)


def test_small_cow_batch_job_count(spark, tmp_path):
    t, ev = _table(spark, str(tmp_path / "t"), write_mode="cow")
    t.apply_batch(_tail(ev, 0), 1, canonicalizer=canonicalize)
    jobs, st = _jobs_while(
        spark, lambda: t.apply_batch(_tail(ev, 1), 2, canonicalizer=canonicalize)
    )
    assert st["mode"] == "cow"
    assert len(jobs) <= COW_BATCH_JOBS, len(jobs)
