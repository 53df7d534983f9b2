"""Scale-hazard regression guards (VERDICT r1 items 1-3, 7).

These tests pin the *shape* of the fixes, not just the answers:
- duplicate_clusters must keep a FLAT plan across many propagation
  rounds (no lineage chain → no O(rounds²) recompute);
- the per-batch stats job must never collect one driver row per
  distinct repo (long-tail batches would OOM the driver);
- repo→bucket resolution must run driver-side with zero Spark jobs,
  bit-identical to Spark's xxhash64.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.catalog.plan import plan_layout
from etl_spark.catalog.table import LakeTable
from etl_spark.fixtures import events_df
from etl_spark.functions.xxhash import cold_bucket, xxhash64
from etl_spark.ops import dedup
from etl_spark.pipeline import canonicalize


def test_duplicate_clusters_flat_plan_deep_chain(spark):
    # path graph 0-1-...-12: the min label travels one hop per round, so
    # convergence needs 12 propagation rounds (+1 to observe no change) —
    # well past the depth where unchecked lineage used to blow up
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    out = dedup.duplicate_clusters(pairs, ids, max_iterations=30)
    rows = out.collect()
    assert len(rows) == 13
    assert all(r["cluster_id"] == 0 for r in rows)
    # per-round localCheckpoint => the final labels are a scan of
    # materialized blocks, not a 12-deep join chain
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, f"labels lineage not flattened:\n{plan}"


def test_duplicate_clusters_pointer_jumping_beats_diameter(spark):
    # 40-node path: plain hash-min needs 39 rounds; pointer jumping
    # (label := label[label] each round) must converge within 8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    out = dedup.duplicate_clusters(pairs, ids, max_iterations=8)
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["cluster_id"] == 0 for r in rows)


def test_duplicate_clusters_nonconvergence_is_loud(spark):
    # an exhausted round budget must raise, never return half-propagated
    # labels (r2 verdict: the silent 20-round cap)
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, ids, max_iterations=2)


def test_repo_stats_collect_is_bounded(spark, tmp_path):
    # long-tail micro-batch: ~100k distinct repos in one batch.  The
    # driver must only ever see the part_id vector + top-K heavy hitters.
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    ev = events_df(spark, 200_000, seed=11, n_repos=200_000, paths_per_repo=2)
    n_repos = ev.select("repo").distinct().count()
    assert n_repos >= 100_000
    stats = t.apply_batch(ev, 0, canonicalizer=canonicalize)
    assert stats["events"] == 200_000
    assert stats["repo_stat_rows"] <= 200, (
        f"driver collected {stats['repo_stat_rows']} repo rows"
    )


def test_hot_promotion_survives_topk_cap(spark, tmp_path):
    # the capped collect must still surface genuinely hot repos
    t = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=8, salt=4, hot_min_rows=1000
    )
    ev = events_df(spark, 5000, seed=6, hot_pct=60, hot_repo="repo-hot")
    stats = t.apply_batch(ev, 0, canonicalizer=canonicalize)
    assert "repo-hot" in stats["promoted"] or "repo-hot" in t.snapshot().hot_repos


def test_driver_xxhash64_matches_spark(spark):
    samples = [
        "",
        "a",
        "abc",
        "abcd",
        "abcdefg",
        "abcdefgh",
        "repo-7",
        "café/über.py",
        "x" * 31,
        "y" * 32,
        "z" * 100,
        "repo-" + "0123456789" * 7,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(16)).alias("b"),
    ).collect()
    for r in rows:
        assert xxhash64(r["s"].encode("utf-8")) == r["h"], r["s"]
        assert cold_bucket(r["s"], 16) == r["b"], r["s"]


def test_pruned_read_launches_no_jobs(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    ev = events_df(spark, 2000, seed=3)
    t.apply_batch(ev, 0, canonicalizer=canonicalize)
    snap = t.snapshot()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    # key→bucket resolution must be pure driver-side metadata (the r1
    # version launched a spark.range(1) job per call)
    buckets = [t._bucket_of_repo(snap, f"repo-{i}") for i in range(10)]
    after = len(tracker.getJobIdsForGroup() or [])
    assert all(buckets) and after == before, "_bucket_of_repo launched Spark jobs"
    # and the pruned scan still reads the right rows
    assert t.read(repo="repo-3").filter(F.col("repo") != "repo-3").count() == 0


def test_simhash_hot_band_cap_defuses_degenerate_corpus(spark):
    # 1000 near-empty docs sharing one word collapse to ONE fingerprint:
    # every band bucket holds all 1000 docs -> ~2M candidate pairs
    # uncapped.  With the cap the degenerate bands drop out entirely and
    # a genuinely distinct near-dup pair is still found via its own
    # (cold) bands.
    rows = [(i, "boilerplate header") for i in range(1000)]
    rows += [(2000, "alpha beta gamma delta epsilon zeta"),
             (2001, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_hamming_pairs(df, max_distance=6, max_band_freq=100)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (2000, 2001) in got
    # no pair from the degenerate clique survives
    assert all(a >= 2000 for a, _ in got), got
    # and on a benign corpus the cap changes nothing
    benign = spark.createDataFrame(
        [(i, f"unique doc number {i} with words {i * 7} {i * 13}") for i in range(50)],
        "doc_id long, text string",
    )
    a = {(r["id_a"], r["id_b"], r["hamming"])
         for r in dedup.simhash_hamming_pairs(benign, max_distance=10).collect()}
    b = {(r["id_a"], r["id_b"], r["hamming"])
         for r in dedup.simhash_hamming_pairs(
             benign, max_distance=10, max_band_freq=100).collect()}
    assert a == b


def test_embedding_hot_bucket_cap(spark):
    # 500 all-positive vectors share sign bucket 2^6-1; uncapped that is
    # ~125k in-bucket comparisons.  Capped, the hot bucket drops and the
    # distinct near-dup pair in a cold bucket is still found.
    import random

    rnd = random.Random(7)
    rows = [(i, [abs(rnd.gauss(0, 1)) + 0.01 for _ in range(64)])
            for i in range(500)]
    neg = [-1.0] * 32 + [1.0] * 32
    rows += [(9000, [x * 1.0 for x in neg]), (9001, [x * 0.9 for x in neg])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = dedup.embedding_neardup_pairs(
        df, threshold=0.9, bucket_bits=6, max_bucket_freq=100
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(9000, 9001)}


def test_driver_murmur3_matches_spark(spark):
    """Spark's hash() on int32 == the driver-side murmur3_int32 twin —
    the invariant the exact writer-partition placement stands on."""
    from etl_spark.functions.murmur import murmur3_int32, pmod32

    vals = list(range(-50, 50)) + [2**31 - 1, -(2**31), 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    rows = df.select(
        "x", F.hash("x").alias("h"), F.pmod(F.hash("x"), F.lit(32)).alias("p")
    ).collect()
    for r in rows:
        assert murmur3_int32(r["x"]) == r["h"], r["x"]
        assert pmod32(murmur3_int32(r["x"]), 32) == r["p"], r["x"]


def test_placement_tokens_land_exact(spark):
    """repartition(n, token) puts group i in partition i — collision-free
    by construction, for several n."""
    from etl_spark.functions.murmur import placement_tokens

    for n in (1, 7, 32, 100):
        toks = placement_tokens(n)
        assert len(set(toks)) == n
        df = spark.createDataFrame([(int(t),) for t in toks], "t int")
        rows = (
            df.repartition(n, "t")
            .select("t", F.spark_partition_id().alias("p"))
            .collect()
        )
        got = {r["t"]: r["p"] for r in rows}
        assert all(got[toks[i]] == i for i in range(n)), n


def test_slice_parallelism_floor():
    """The parallelism floor slices the largest buckets first and
    respects the 16MB small-file floor."""
    bb = {0: 100 << 20, 1: 40 << 20, 2: 10 << 20}
    ks = plan_layout(bb, bb, max_file_bytes=512 << 20, parallelism=6).ks
    # 3 groups -> floor 6: bucket 0 (largest per-slice) splits first
    assert sum(ks.get(b, 1) for b in bb) == 6
    assert ks[0] >= ks.get(1, 1) >= ks.get(2, 1)
    # never slices below ~16MB per slice
    for b, k in ks.items():
        assert bb[b] // k >= 16 << 20 or k == 1
    # floor off -> no slicing below max_file_bytes
    assert plan_layout(bb, bb, max_file_bytes=512 << 20, parallelism=0).ks == {}
