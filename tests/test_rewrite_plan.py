"""Plan shape of the one rewrite kernel (``LakeTable._latest_rows``).

Bucket and file slice are pure functions of the key, so a rewrite that
folds pending merge-on-read deltas needs exactly ONE shuffle: the
writer's placement exchange, with last-write-wins resolved in the sort
the writer consumes.  These tests count the nodes in the executed plan
of every data-file write and check the state is unchanged."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.pipeline import canonicalize

STATE = ["repo", "path", "commit", "lang", "content", "content_sha"]


@pytest.fixture
def writes(monkeypatch):
    """(table-relative dir, DataFrame) of every parquet write."""
    seen: list[tuple[str, object]] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        seen.append((path.split("/data/", 1)[-1], self._df))
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return seen


def _plan_counts(df) -> tuple[int, int]:
    """(shuffle Exchange nodes, Sort nodes) in ``df``'s executed plan;
    broadcast exchanges are not counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange ", plan)), len(re.findall(r"\bSort \[", plan))


def _state(t):
    return sorted(map(tuple, t.read().select(*STATE).collect()))


def _debt_table(spark, root):
    """A copy-on-write base plus two pending multi-bucket MoR deltas."""
    ev = events_df(spark, 1000, n_repos=6, paths_per_repo=40)
    t = LakeTable.create(
        spark, root, n_buckets=4, salt=2, write_mode="mor",
        mor_compact_ratio=100.0, mor_max_delta_files=1000,
    )
    for i, (lo, hi) in enumerate([(0, 400), (400, 600), (600, 700)]):
        chunk = ev.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        t.apply_batch(canonicalize(chunk), i, mode="cow" if i == 0 else "mor")
    assert t.snapshot().delta_files, "the slice must carry pending deltas"
    return t, ev


def test_cow_fold_writes_through_one_exchange(spark, tmp_path, writes):
    t, ev = _debt_table(spark, str(tmp_path / "t"))
    mor, _ = _debt_table(spark, str(tmp_path / "mor"))
    writes.clear()
    st = t.apply_batch(canonicalize(ev.filter(F.col("seq") >= 700)), 3, mode="cow")
    assert st["mode"] == "cow"
    assert not t.snapshot().delta_files  # the slice's deltas were folded
    (df,) = [df for d, df in writes if d.startswith("b00000003-")]
    assert _plan_counts(df) == (1, 1)
    # the same batch as one more pending delta reads the same state
    mor.apply_batch(canonicalize(ev.filter(F.col("seq") >= 700)), 3, mode="mor")
    assert _state(t) == _state(mor)


def test_targeted_compaction_writes_through_one_exchange(spark, tmp_path, writes):
    t, ev = _debt_table(spark, str(tmp_path / "t"))
    snap = t.snapshot()
    spans = sorted({b for e in snap.delta_files for b in e.buckets})
    assert len(spans) > 1, "the deltas must span several buckets"
    before = _state(t)

    # a partial multi-bucket delta: fold one bucket, leave the rest
    writes.clear()
    res = t.compact(buckets=[spans[0]])
    assert res["buckets"] == [spans[0]]
    (df,) = [df for d, df in writes if d.startswith("compact-")]
    assert _plan_counts(df) == (1, 1)
    assert all(spans[0] not in e.buckets for e in t.snapshot().delta_files)
    assert _state(t) == before

    # whole delta files: fold every remaining bucket
    writes.clear()
    t.compact(buckets=spans[1:])
    (df,) = [df for d, df in writes if d.startswith("compact-")]
    assert _plan_counts(df) == (1, 1)
    assert not t.snapshot().delta_files
    assert _state(t) == before
