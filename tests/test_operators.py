"""Unit tests: LWW dedup, watermark vector, bucket assignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.functions.hashing import key_bucket
from etl_spark.operators.lww import lww_latest, lww_latest_firstvalue
from etl_spark.operators.watermark import (
    admission_filter,
    batch_high_watermarks,
    merge_watermarks,
)


def _events(spark):
    rows = [
        (1, 0, "a", "p1", "v1"),
        (5, 1, "a", "p1", "v5"),
        (3, 0, "a", "p1", "v3"),
        (2, 0, "b", "p1", "v2"),
        (4, 1, "b", "p2", "v4"),
    ]
    return spark.createDataFrame(
        rows, "seq long, part_id int, repo string, path string, content string"
    )


def test_lww_latest_keeps_max_seq(spark):
    out = lww_latest(_events(spark), ["repo", "path"], "seq")
    got = {(r["repo"], r["path"]): (r["seq"], r["content"]) for r in out.collect()}
    assert got == {("a", "p1"): (5, "v5"), ("b", "p1"): (2, "v2"), ("b", "p2"): (4, "v4")}


def test_lww_firstvalue_form_agrees(spark):
    df = _events(spark)
    cols = df.columns
    a = lww_latest(df, ["repo", "path"]).select(*cols).orderBy("repo", "path").collect()
    c = (
        lww_latest_firstvalue(df, ["repo", "path"])
        .select(*cols)
        .orderBy("repo", "path")
        .collect()
    )
    assert a == c


def test_watermark_batch_and_merge(spark):
    wm = batch_high_watermarks(_events(spark))
    assert wm == {0: 3, 1: 5}
    merged = merge_watermarks({0: 10, 2: 7}, wm)
    assert merged == {0: 10, 1: 5, 2: 7}  # never regresses


def test_admission_filter_drops_at_or_below(spark):
    out = admission_filter(_events(spark), {0: 2, 1: 4}, spark)
    assert sorted(r["seq"] for r in out.collect()) == [3, 5]
    # unknown partition admits everything
    out2 = admission_filter(_events(spark), {9: 100}, spark)
    assert out2.count() == 5


def test_key_bucket_stable_and_salted(spark):
    df = spark.createDataFrame(
        [("hot", f"p{i}") for i in range(40)] + [("cold", "x")],
        "repo string, path string",
    )
    out = df.select(
        "repo", key_bucket(F.col("repo"), F.col("path"), 8, ["hot"], 4).alias("b")
    ).collect()
    hot_buckets = {r["b"] for r in out if r["repo"] == "hot"}
    cold_buckets = {r["b"] for r in out if r["repo"] == "cold"}
    assert hot_buckets <= set(range(8, 12)) and len(hot_buckets) > 1  # salted range
    assert cold_buckets <= set(range(8))  # cold stays in base range
