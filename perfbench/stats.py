"""Pure helpers: percentiles and the segment -> batch -> version mapping.

Kept Spark-free so the benchmark's own tests exercise them in
milliseconds.
"""

from __future__ import annotations

import bisect
import statistics

HI_TAIL = 10  # samples that must lie beyond the reported high percentile


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def hi_percentile(values) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that still has at
    least HI_TAIL samples beyond it.

    With n sorted samples that is the sample at index n - HI_TAIL - 1: the
    HI_TAIL samples above it are what make the figure a percentile rather
    than a single outlier.  HI_TAIL or fewer samples support no such
    percentile; the maximum is reported instead, as the 100th percentile,
    so the caller can print that it is a maximum."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= HI_TAIL:
        return float(vals[-1]), 100.0, n
    i = n - HI_TAIL - 1
    return float(vals[i]), 100.0 * (i + 1) / n, n


def segment_batches(
    seg_last_seq: list[int], batch_end_seq: dict[int, int]
) -> list[int | None]:
    """Batch that made each segment visible.

    ``seg_last_seq`` holds the highest fresh seq of each segment, in
    release order; ``batch_end_seq`` maps a committed batch id to the
    highest seq it admitted (from the table's persisted lineage).  Both
    the source and the table apply segments in seq order, so a segment
    is visible with the first batch whose admitted range reaches its
    last seq.  None marks a segment no batch reached."""
    order = sorted(batch_end_seq)
    # running max: a batch's range never shrinks what an earlier batch
    # already made visible
    reach, hi = [], -1
    for b in order:
        hi = max(hi, batch_end_seq[b])
        reach.append(hi)
    out: list[int | None] = []
    for s in seg_last_seq:
        i = bisect.bisect_left(reach, s)
        out.append(order[i] if i < len(order) else None)
    return out


def batch_versions(
    batches: list[int | None], version_fence: list[tuple[int, int]]
) -> list[int | None]:
    """First snapshot version whose fence (last_batch_id) covers each batch.

    ``version_fence`` is [(version, last_batch_id)] in version order.
    Compaction commits repeat their parent's fence; taking the first
    version keeps the merge commit that made the rows visible."""
    out: list[int | None] = []
    for b in batches:
        v = None
        if b is not None:
            for ver, fence in version_fence:
                if fence >= b:
                    v = ver
                    break
        out.append(v)
    return out


def freshness_ms(
    release: list[float], visible: list[float | None]
) -> list[float]:
    """Per-segment release -> visible latency in ms (invisible ones dropped)."""
    return [
        (v - r) * 1000.0 for r, v in zip(release, visible) if v is not None
    ]
