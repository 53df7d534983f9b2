from perfbench.stats import (
    batch_versions,
    freshness_ms,
    hi_percentile,
    median,
    segment_batches,
)


def test_hi_percentile_keeps_ten_samples_beyond():
    vals = list(range(1, 61))  # 60 samples
    value, pct, n = hi_percentile(vals)
    assert (value, n) == (50, 60)
    assert sum(v > value for v in vals) == 10
    assert abs(pct - 100 * 50 / 60) < 1e-9


def test_hi_percentile_at_the_edge_and_below():
    value, pct, n = hi_percentile(range(11))  # 11 samples: the minimum
    assert (value, n) == (0, 11)
    assert abs(pct - 100 / 11) < 1e-9
    # ten or fewer samples support no such percentile: report the maximum
    assert hi_percentile([3, 1, 2]) == (3.0, 100.0, 3)
    assert hi_percentile([]) == (0.0, 0.0, 0)


def test_hi_percentile_ignores_input_order():
    vals = [5.0, 1.0, 9.0, 7.0, 3.0] * 5
    assert hi_percentile(vals) == hi_percentile(sorted(vals))


def test_segment_batches_maps_each_segment_to_first_covering_batch():
    seg_last = [10, 20, 30, 40, 50]
    # batch 3 re-admits nothing new below batch 2's reach
    ends = {1: 20, 2: 35, 3: 33, 4: 40}
    assert segment_batches(seg_last, ends) == [1, 1, 2, 4, None]


def test_batch_versions_takes_the_merge_not_the_compaction():
    # v3 is a compaction commit repeating v2's fence
    fence = [(0, -1), (1, 0), (2, 1), (3, 1), (4, 2)]
    assert batch_versions([1, 2, None, 9], fence) == [2, 4, None, None]


def test_segment_to_freshness_end_to_end():
    seg_last = [100, 200, 300]
    ends = {1: 100, 2: 300}
    fence = [(0, 0), (1, 1), (2, 1), (3, 2)]
    mtime = {0: 0.0, 1: 10.5, 2: 11.0, 3: 14.0}
    versions = batch_versions(segment_batches(seg_last, ends), fence)
    fresh = freshness_ms([10.0, 10.2, 10.4], [mtime[v] for v in versions])
    assert [round(f) for f in fresh] == [500, 3800, 3600]
    assert round(median(fresh)) == 3600
    assert freshness_ms([1.0, 2.0], [None, 2.5]) == [500.0]
