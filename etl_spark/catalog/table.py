"""LakeTable — the transactional, bucketed, upsert-able lake table.

Storage model
-------------
- Immutable parquet data files under ``data/b<batch>/bucket=N/`` —
  written ``partitionBy("bucket")`` so every file belongs to exactly
  one bucket by construction; the snapshot manifest records each
  file's bucket + repo min/max (file-level pruning without any
  Catalyst DSv1 cooperation).
- Keys are hash-bucketed: cold repo -> pmod(xxhash64(repo), n_buckets)
  (so reads filtered by repo prune to one bucket); hot repos are salted
  across a dedicated range of ``salt`` buckets (skew defense).  Hot-set
  promotion is sticky and migrates the repo's old bucket in the same
  commit, keeping key->bucket resolution consistent at all times.
- Copy-on-write merge: a micro-batch rewrites only files whose bucket
  set intersects the batch's touched buckets; everything else is carried
  forward by reference in the manifest.

The rewrite kernel
------------------
Every rewritten file comes out of ONE kernel (``_latest_rows``): the
touched slice and the batch's rows are unioned, shuffled once into
their (bucket, slice) placement, and the latest row per key is kept in
the sort the writer consumes.  Big merge-on-read deltas, compaction and
delta folds use the same kernel.  There is no broadcast-join merge for
small batches: the placement shuffle would run after it anyway, so it
only added jobs.

Batch planning
--------------
The planner decides, the executor runs.  Every decision of a write —
stage medium, histogram source, the rewrite's bucket closure and its
rewritten/carried files, CoW vs MoR, delta file vs kernel, file slices
and placement, write-time stats vs a scan, the inline debt fold — is
made by ``etl_spark.catalog.plan`` from the manifest and a few measured
facts, without Spark.  ``apply_batch`` and ``compact`` measure, ask the
planner, and run exactly its plan.

Scale notes (100 TB / 1000 executors): the only per-batch driver state is
the manifest (file entries) and the watermark vector.  Steady-state file
count stays ~O(n_buckets + data/128MB) because survivor rewrites
re-consolidate each touched bucket.  At very large file counts the flat
manifest JSON would shard into Iceberg-style manifest lists — the
``SnapshotLog`` seam isolates that change.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from etl_spark.catalog.plan import (
    STATS_SPLIT_BYTES,
    BatchFacts,
    Layout,
    bucket_debt,
    bucket_id_space,
    plan_batch,
    plan_compact,
    plan_debt_fold,
    plan_stage,
    promote_hot,
)
from etl_spark.catalog.snapshot import FileEntry, Snapshot, SnapshotLog
from etl_spark.functions.hashing import key_bucket
from etl_spark.functions.xxhash import cold_bucket
from etl_spark.operators.lww import lww_latest
from etl_spark.operators.watermark import (
    admission_filter,
    merge_watermarks,
)
from etl_spark.schemas import (
    KEY_COLUMNS,
    METRICS_SCHEMA,
    TABLE_COLUMNS,
    table_schema,
)

# event-envelope columns that never become table columns
ENVELOPE_COLUMNS = {"seq", "part_id", "op", "ts", "extra"}
SYSTEM = {"_ingest_seq", "_batch_id", "_deleted", "bucket"}


def _keep_latest(df: DataFrame, *placement: str) -> DataFrame:
    """The one last-write-wins order: per key, keep the row with the
    highest ``_ingest_seq``; a seq tie keeps the lowest ``_batch_id``
    (the earliest-applied batch — idempotent re-delivery, and one winner
    even if a producer emitted distinct payloads under one seq).  Reads,
    the changelog, merges and compaction all resolve through here.

    ``placement`` columns (pure functions of the key) lead the window
    partitioning so the window reuses a shuffle already laid out on
    them.  Spark plans the ``row_number() == 1`` filter as a
    ``WindowGroupLimit``."""
    from pyspark.sql import Window

    w = Window.partitionBy(*placement, *KEY_COLUMNS).orderBy(
        F.desc("_ingest_seq"), F.asc("_batch_id")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _apply_props(props: dict, updates: dict | None) -> None:
    """Apply a set_properties dict: a None value DELETES the key (used by
    the streaming sink to atomically retire a predecessor checkpoint's
    epoch-offset mapping in the same commit that installs its own)."""
    for k, v in (updates or {}).items():
        if v is None:
            props.pop(k, None)
        else:
            props[k] = v


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log = SnapshotLog(root)

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        salt: int = 8,
        hot_repos: list[str] | None = None,
        hot_frac: float = 0.30,
        hot_min_rows: int = 10_000,
        repo_stats_topk: int = 200,
        write_mode: str = "cow",
        mor_min_amplification: float = 4.0,
        mor_compact_ratio: float = 0.5,
        mor_max_delta_files: int = 64,
        manifest_shard_min_files: int = 4096,
        manifest_shard_buckets: int = 16,
        max_file_bytes: int = 512 << 20,
        compact_max_rewrite_bytes: int = 16 << 30,
        mor_small_delta_bytes: int = 64 << 20,
    ) -> "LakeTable":
        t = cls(spark, root)
        if t.log.exists():
            raise RuntimeError(f"table already exists at {root}")
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = Snapshot(
            version=0,
            op="create",
            ts=time.time(),
            schema_version=0,
            columns=list(TABLE_COLUMNS),
            n_buckets=n_buckets,
            salt=salt,
            hot_repos=list(hot_repos or []),
            properties={
                "hot_frac": str(hot_frac),
                "hot_min_rows": str(hot_min_rows),
                "repo_stats_topk": str(repo_stats_topk),
                "write_mode": write_mode,
                "mor_min_amplification": str(mor_min_amplification),
                "mor_compact_ratio": str(mor_compact_ratio),
                "mor_max_delta_files": str(mor_max_delta_files),
                "manifest_shard_min_files": str(manifest_shard_min_files),
                "manifest_shard_buckets": str(manifest_shard_buckets),
                "max_file_bytes": str(max_file_bytes),
                "compact_max_rewrite_bytes": str(compact_max_rewrite_bytes),
                "mor_small_delta_bytes": str(mor_small_delta_bytes),
                "total_events": "0",
            },
        )
        t.log.commit(snap, expect_parent=None)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        if not t.log.exists():
            raise FileNotFoundError(f"no table at {root}")
        return t

    def snapshot(self, version: int | str | None = None) -> Snapshot:
        """Current snapshot, or time travel by version number or tag name."""
        if isinstance(version, str):
            tags = self.log.read_tags()
            if version not in tags:
                raise KeyError(f"no tag {version!r} (tags: {sorted(tags)})")
            version = tags[version]
        return self.log.read(version)

    def history(self) -> list[int]:
        return self.log.history()

    def describe_history(self) -> DataFrame:
        """Commit audit trail (Delta ``DESCRIBE HISTORY`` / Iceberg
        snapshot-summary analog): one row per retained snapshot with the
        operation that produced it, commit wall time, fence, and file
        counts.  Driver-side O(retained versions) manifest reads — an
        audit/maintenance API, not a data path (vacuum bounds it)."""
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        cur = self.log.current_version()
        rows = []
        for v in self.history():
            if v > cur:
                continue  # stale above-pointer leftovers are not commits
            s = self.snapshot(v)
            rows.append(
                (
                    v,
                    s.parent,
                    s.op,
                    float(s.ts),
                    s.last_batch_id,
                    s.schema_version,
                    len(s.files),
                    len(s.delta_files),
                    sum(e.rows for e in s.files),
                    # exact from metadata when the snapshot has no pending
                    # deltas (null otherwise — a count then needs a read)
                    s.live_row_count(),
                    s.properties.get("restored_version"),
                )
            )
        schema = StructType(
            [
                StructField("version", LongType(), False),
                StructField("parent", LongType(), True),
                StructField("op", StringType(), False),
                StructField("ts", DoubleType(), False),
                StructField("last_batch_id", LongType(), False),
                StructField("schema_version", LongType(), False),
                StructField("n_files", LongType(), False),
                StructField("n_delta_files", LongType(), False),
                StructField("rows", LongType(), False),
                StructField("live_rows", LongType(), True),
                StructField("restored_version", StringType(), True),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    # ------------------------------------------------------------------ #
    # named refs (Iceberg tag analog)
    # ------------------------------------------------------------------ #
    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a named ref to a snapshot version (default: current).
        Tagged versions are exempt from vacuum's retention window, so a
        tag is a durable restore point for ``rollback``/time travel."""
        if version is None:
            version = self.log.current_version()
        elif (
            version not in self.history()
            or version > self.log.current_version()
        ):
            # history() lists stale above-current v-files from crashed
            # commits; tagging one would pin never-committed state that
            # vacuum still removes (dangling tag) — only committed
            # versions are taggable
            raise KeyError(f"no committed snapshot v{version}")
        tags = self.log.read_tags()
        tags[name] = int(version)
        self.log.write_tags(tags)
        return int(version)

    def drop_tag(self, name: str) -> None:
        tags = self.log.read_tags()
        tags.pop(name, None)
        self.log.write_tags(tags)

    def tags(self) -> dict[str, int]:
        return self.log.read_tags()

    # ------------------------------------------------------------------ #
    # reads
    # ------------------------------------------------------------------ #
    def _read_files(self, snap: Snapshot, entries: list[FileEntry]) -> DataFrame:
        """``entries`` at ``snap``'s columns, read with the declared
        schema: no inference job, and files older than a promoted column
        read it as null."""
        schema = table_schema(snap.columns)
        if not entries:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, e.path) for e in entries]
        return self.spark.read.schema(schema).parquet(*paths)

    def _resolve(
        self,
        snap: Snapshot,
        base_entries: list[FileEntry],
        delta_entries: list[FileEntry],
    ) -> DataFrame:
        """Effective table rows (incl. tombstones) under merge-on-read:
        base rows are unique per key; pending delta files may hold newer
        versions — ``_keep_latest`` resolves them, the same order the
        copy-on-write merges and compaction use.  With no pending deltas
        this is a plain scan (zero extra shuffle — the copy-on-write
        fast path).

        Scale: the window runs ONLY over base files in delta-touched
        buckets; every other base file bypasses it as a plain scan
        union'd on top — one pending KB-sized delta must never force a
        key shuffle of the whole table."""
        if not delta_entries:
            return self._read_files(snap, base_entries)
        delta_buckets = {b for e in delta_entries for b in e.buckets}
        touched = [e for e in base_entries if set(e.buckets) & delta_buckets]
        untouched = [
            e for e in base_entries if not (set(e.buckets) & delta_buckets)
        ]
        resolved = _keep_latest(self._read_files(snap, touched + delta_entries))
        if not untouched:
            return resolved
        return self._read_files(snap, untouched).unionByName(resolved)

    def read(
        self,
        version: int | None = None,
        include_tombstones: bool = False,
        repo: str | None = None,
    ) -> DataFrame:
        """Current (or time-travel) table state.  ``repo=`` prunes files
        via manifest bucket + min/max stats before any Spark scan."""
        snap = self.snapshot(version)
        entries = snap.files
        dentries = snap.delta_files
        if repo is not None:
            b = self._bucket_of_repo(snap, repo)

            def prune(es: list[FileEntry]) -> list[FileEntry]:
                return [
                    e
                    for e in es
                    if (set(b) & set(e.buckets))
                    and (e.min_repo is None or e.min_repo <= repo)
                    and (e.max_repo is None or repo <= e.max_repo)
                ]

            entries, dentries = prune(entries), prune(dentries)
        df = self._resolve(snap, entries, dentries)
        if repo is not None:
            df = df.filter(F.col("repo") == repo)
        if not include_tombstones:
            df = df.filter(~F.col("_deleted")).drop("_deleted")
        return df

    def _bucket_of_repo(self, snap: Snapshot, repo: str) -> list[int]:
        """Buckets a repo's keys may live in under the snapshot's hot set.

        Cold-repo hashing runs entirely driver-side (memoized pure-Python
        XXH64, verified bit-identical to Spark's ``xxhash64``) — a pruned
        ``read(repo=...)`` launches ZERO extra Spark jobs."""
        if repo in snap.hot_repos:
            i = snap.hot_repos.index(repo)
            lo = snap.n_buckets + i * snap.salt
            return list(range(lo, lo + snap.salt))
        return [cold_bucket(repo, snap.n_buckets)]

    def _bucket_expr(self, snap: Snapshot):
        return key_bucket(
            F.col("repo"), F.col("path"), snap.n_buckets, snap.hot_repos, snap.salt
        )

    # ------------------------------------------------------------------ #
    # the transactional upsert (the core of the engine)
    # ------------------------------------------------------------------ #
    def apply_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        delivery: str = "ordered",
        canonicalizer=None,
        mode: str | None = None,
        set_properties: dict[str, str] | None = None,
    ) -> dict:
        """Exactly-once merge of one micro-batch.

        set_properties       — table properties committed ATOMICALLY with
                               this batch (same snapshot swap); used by
                               the streaming sink to persist its
                               epoch→batch-id offset so the mapping
                               survives restarts.
        delivery='ordered'   — source honors per-partition prefix replay;
                               events at-or-below the watermark are dropped
                               as duplicates (fast path).
        delivery='unordered' — no admission filter; correctness rests on
                               the tombstoned LWW merge alone.
        canonicalizer        — optional transform (normalize/tag/sha256)
                               applied AFTER last-write-wins dedup, so the
                               expensive row pipeline runs once per
                               winning key instead of once per event.
                               When None, ``batch_df`` must already be
                               canonical.
        mode                 — 'cow' (copy-on-write, default), 'mor'
                               (merge-on-read delta file), or 'auto'
                               (MoR when the rows that copy-on-write
                               would rewrite exceed
                               ``mor_min_amplification`` × delta keys);
                               None reads the table property
                               ``write_mode``.
        Returns a stats dict (also the metrics-table rows' source).
        """
        t0 = time.monotonic()
        snap = self.snapshot()
        if batch_id <= snap.last_batch_id:
            return {"batch_id": batch_id, "skipped": True, "reason": "fenced"}

        # NO Spark cache anywhere: the in-memory columnar store was
        # measured as the bottleneck on KB-wide content rows (~10s per
        # 800MB encode/decode, and it does not scale with cores).
        # Instead: (a) the lineage/stats job runs on a NARROW projection
        # (parquet column pruning keeps content entirely unread) with its
        # own exact dedup, (b) the data path goes straight into the LWW
        # window — ONE shuffle, by key; identical re-delivered rows sort
        # adjacently and row_number keeps exactly one, so a separate
        # dropDuplicates shuffle is redundant — and (c) the canonical
        # delta is STAGED once as parquet, written and re-read in
        # parallel; every consumer below scans the stage.
        d0 = batch_df.select("part_id", "seq", "repo").dropDuplicates(
            ["part_id", "seq"]
        )
        data = batch_df
        if delivery == "ordered" and snap.watermarks:
            d0 = admission_filter(d0, snap.wm(), self.spark)
            data = admission_filter(data, snap.wm(), self.spark)

        d = lww_latest(data, KEY_COLUMNS, "seq")
        stage_rel = os.path.join("tmp", f"stage-{batch_id:08d}-{uuid.uuid4().hex[:8]}")
        stage_dir = os.path.join(self.root, stage_rel)
        try:
            return self._apply_inner(
                d0, d, batch_id, snap, t0, stage_dir, canonicalizer, mode,
                set_properties,
            )
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)

    def _apply_inner(self, d0, d, batch_id, snap, t0, stage_dir,
                     canonicalizer=None, mode=None, set_properties=None) -> dict:
        """Measure the batch's facts, let ``plan_batch`` decide, run
        exactly that plan, commit."""
        phases: dict[str, float] = {}
        last = [t0]

        def mark(name: str) -> None:  # seconds since the previous mark
            now = time.monotonic()
            phases[name] = round(now - last[0], 3)
            last[0] = now

        rows = self._collect_stats(d0, snap)
        part_rows = [r for r in rows if r["part_id"] is not None]
        repo_rows = [r for r in rows if r["part_id"] is None]
        batch_wm = {int(r["part_id"]): int(r["end_seq"]) for r in part_rows}
        n_events = sum(int(r["rows_applied"]) for r in part_rows)
        mark("stats_job")

        if n_events == 0:
            # all-duplicate batch: still commit the fence so replay skips it
            new = self._child(snap)
            new.op = "fence"
            new.last_batch_id = batch_id
            _apply_props(new.properties, set_properties)
            self._write_metrics(batch_id, [], t0)  # before commit: see below
            self.log.commit(new, expect_parent=snap.version)
            return {"batch_id": batch_id, "events": 0, "skipped": False}

        # hot-repo accounting + promotion, before bucket assignment
        new_snap = self._child(snap)
        promoted = promote_hot(
            new_snap, {r["repo"]: int(r["rows_applied"]) for r in repo_rows},
            n_events,
        )
        bucket = self._bucket_expr(new_snap)
        staged, histogram = self._stage(d, new_snap, n_events, bucket, stage_dir)
        d = canonicalizer(staged) if canonicalizer is not None else staged
        # schema evolution: delta columns not yet in the table.  Reads
        # declare promoted columns as strings, so any other type is
        # refused here, before a table file is written.
        added = [f for f in d.schema.fields
                 if f.name not in ENVELOPE_COLUMNS and f.name not in snap.columns]
        bad = [f"{f.name} {f.dataType.simpleString()}" for f in added
               if not isinstance(f.dataType, StringType)]
        if bad:
            raise TypeError(f"batch {batch_id} adds non-string column(s) "
                            f"{', '.join(bad)}: new table columns must be strings")
        new_cols = [f.name for f in added]
        all_cols = list(snap.columns) + new_cols
        mark("stage_delta")
        facts = BatchFacts(n_events, promoted, histogram(), new_cols)
        mark("bucket_job")

        plan = plan_batch(
            snap, facts, self.spark.sparkContext.defaultParallelism, mode
        )
        if new_cols:
            new_snap.columns = all_cols
            new_snap.schema_version = snap.schema_version + 1
        delta_rows = self._to_table_rows(d, batch_id, all_cols)
        rel_dir = os.path.join(
            "data",
            f"{'d' if plan.use_mor else 'b'}{batch_id:08d}-{uuid.uuid4().hex[:8]}",
        )
        if plan.single_file:
            new_entries = self._write_delta_single(
                delta_rows, rel_dir, plan.batch_buckets, bucket
            )
            mark("merge_write")
            mark("scan_written")
        else:
            # copy-on-write: the touched slice — base files PLUS any
            # pending delta files in those buckets, read unresolved at
            # the batch's columns (files older than a column promoted now
            # read it as null) — is rewritten with the batch's rows; the
            # kernel keeps the latest row per key.  A big merge-on-read
            # delta is the batch's rows alone.
            inputs = [delta_rows]
            slice_files = plan.slice_base + plan.slice_delta
            if not plan.use_mor and slice_files:
                inputs = [self._read_files(new_snap, slice_files), delta_rows]
            new_entries = self._write_bucketed(
                self._latest_rows(inputs, all_cols, bucket, plan.layout),
                rel_dir,
                plan.touched if plan.observe_stats else None,
                mark,
            )

        # -- commit ---------------------------------------------------------
        if plan.use_mor:
            new_snap.files = list(snap.files)
            new_snap.delta_files = list(snap.delta_files) + new_entries
        else:
            new_snap.files = plan.carried + new_entries
            new_snap.delta_files = plan.carried_delta
        new_snap.op = "merge-mor" if plan.use_mor else "merge-cow"
        new_snap.last_batch_id = batch_id
        new_snap.watermarks = {
            str(k): v for k, v in merge_watermarks(snap.wm(), batch_wm).items()
        }
        new_snap.properties["total_events"] = str(
            int(snap.properties.get("total_events", "0")) + n_events
        )
        _apply_props(new_snap.properties, set_properties)
        # metrics BEFORE the snapshot commit: the file is named by batch
        # id (idempotent overwrite on replay), so a crash between the
        # two leaves either a harmless orphan metrics file (batch will
        # re-merge under the same id) or nothing — never a committed
        # batch without lineage
        latency_ms = self._write_metrics(batch_id, part_rows, t0)
        self.log.commit(new_snap, expect_parent=snap.version)
        mark("commit")

        # delta-debt control: a merge-on-read commit may trip an inline,
        # targeted fold (``plan_debt_fold``)
        fold = plan_debt_fold(new_snap) if plan.use_mor else []
        if fold:
            self.compact(buckets=fold)

        return {
            "batch_id": batch_id,
            "skipped": False,
            "phases": phases,
            "events": n_events,
            "repo_stat_rows": len(repo_rows),
            "delta_keys": plan.delta_keys,
            "mode": "mor" if plan.use_mor else "cow",
            "touched_buckets": plan.touched,
            "rewrote_files": 0 if plan.use_mor else len(plan.slice_base),
            "carried_files": len(plan.carried),
            "new_files": len(new_entries),
            "delta_files_pending": (
                len(self.snapshot().delta_files)
                if fold
                else len(new_snap.delta_files)
            ),
            "compacted": bool(fold),
            "promoted": promoted,
            "latency_ms": latency_ms,
        }

    def _collect_stats(self, d0: DataFrame, snap: Snapshot) -> list:
        """Lineage + watermark + hot-repo stats in ONE aggregation pass
        (grouping sets: by part_id for the watermark vector / metrics,
        by repo for skew accounting).  Narrow projection: parquet column
        pruning means the content column is never read here.  The
        aggregate is persisted (narrow rows — columnar cache is only
        hostile to KB-wide contents) so the per-repo side can be capped
        EXECUTOR-side: the driver collects the small part_id vector plus
        at most ``repo_stats_topk`` heavy-hitter repos
        (TakeOrderedAndProject), never one row per distinct repo — a
        10^7-event long-tail batch would otherwise OOM the driver.

        SINGLE-CHAIN job discipline: overlapping this job with the
        staging work (two concurrent AQE SQL executions, one on the
        stream-execution JVM thread under pinned-thread Py4J) hits a
        lost-stage-event race in Spark's AdaptiveSparkPlanExec and hangs
        the stream on an idle JVM (jstack-verified).  Latency wins must
        come from FUSING jobs on the one chain, never from overlapping
        SQL executions."""
        from pyspark import StorageLevel

        topk = int(snap.properties.get("repo_stats_topk", "200"))
        # Two scoped confs, restored before the wide stage/merge jobs run
        # (safe: the per-batch job chain is single-threaded, see above).
        # The scan is NARROW (3 pruned columns, ~2% of file bytes), so the
        # engine-wide 32MB split size tuned for the WIDE content path made
        # ~75 near-empty tasks on a 2.4GB segment, whose launch overhead
        # WAS the phase cost: split coarser.  AQE size-based coalescing
        # would fold the ~30MB deduped projection's shuffles into ONE
        # partition, one task aggregating the whole batch serially
        # (measured 8-24s stalls): off, so partitions follow the constant
        # spark.sql.shuffle.partitions at every parallelism level.
        conf = self.spark.conf
        prev_split = conf.get("spark.sql.files.maxPartitionBytes")
        prev_coal = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
        conf.set("spark.sql.files.maxPartitionBytes", str(STATS_SPLIT_BYTES))
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            stats_df = (
                d0.select("part_id", "seq", "repo")
                .groupingSets([["part_id"], ["repo"]], "part_id", "repo")
                .agg(
                    F.min("seq").alias("start_seq"),
                    F.max("seq").alias("end_seq"),
                    F.count("*").alias("rows_applied"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            try:
                # ONE collect for both slices (they split driver-side on
                # the part_id null marker): a second job submission is
                # pure fixed cost at steady-state micro-batch sizes, and
                # both branches scan the same persisted aggregate
                return (
                    stats_df.filter(F.col("part_id").isNotNull())
                    .unionByName(
                        stats_df.filter(
                            F.col("part_id").isNull() & F.col("repo").isNotNull()
                        )
                        .orderBy(F.desc("rows_applied"), F.asc("repo"))
                        .limit(topk)
                    )
                    .collect()
                )
            finally:
                stats_df.unpersist()
        finally:
            conf.set("spark.sql.files.maxPartitionBytes", prev_split)
            conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coal)

    def _stage(self, d: DataFrame, snap: Snapshot, n_events: int, bucket, stage_dir: str):
        """Stage the RAW LWW winners: the one key-shuffle materializes
        once, in parallel, WITHOUT the canonicalize pipeline on its
        critical path; the bucket histogram reads the raw stage, and
        canonicalize (normalize/NFC/sha256 — including the only Python
        hop) runs exactly once, applied to the staged scan feeding the
        merge write.  ``plan_stage`` picks the medium and the histogram
        source; either way every consumer scans one materialization.

        Returns the staged frame and a thunk for its per-bucket
        ``{bucket: (rows, bytes)}`` histogram."""
        bucket_ids = bucket_id_space(snap)
        stage = plan_stage(n_events, len(bucket_ids))
        if stage.checkpoint:
            staged = d.localCheckpoint(eager=False)
            return staged, lambda: self._bucket_histogram(staged, bucket)
        to_write, obs = d, None
        if stage.observe_histogram:
            # exact conditional sums pivoted over the bucket id space ride
            # the stage write: re-scanning the staged delta, content
            # included, was a second read of the batch plus one more job
            per_row = self._row_bytes_expr(d)
            obs = Observation()
            aggs = []
            for b in bucket_ids:
                # condition on a MATERIALIZED bucket column: inlining the
                # raw bucket expression (xxhash + salt CASE) into every
                # conditional aggregate re-evaluates the hash once per agg
                # per row (no CSE across agg buffers) — ~2 x |bucket_ids|
                # hashes/row of pure waste
                w = F.col("_stage_b") == b
                aggs += [
                    F.sum(F.when(w, 1).otherwise(0)).alias(f"cnt_{b}"),
                    F.sum(F.when(w, per_row).otherwise(0)).alias(f"bytes_{b}"),
                ]
            to_write = (
                d.withColumn("_stage_b", bucket)
                .observe(obs, *aggs)
                .drop("_stage_b")
            )
        to_write.write.mode("overwrite").parquet(stage_dir)
        staged = self.spark.read.schema(d.schema).parquet(stage_dir)
        if obs is None:
            return staged, lambda: self._bucket_histogram(staged, bucket)

        def observed() -> dict[int, tuple[int, int]]:
            vals = obs.get
            return {
                b: (int(vals[f"cnt_{b}"] or 0), int(vals[f"bytes_{b}"] or 0))
                for b in bucket_ids
                if int(vals[f"cnt_{b}"] or 0) > 0
            }

        return staged, observed

    # ------------------------------------------------------------------ #
    # merge strategies
    # ------------------------------------------------------------------ #
    def _to_table_rows(self, d: DataFrame, batch_id: int, all_cols: list[str]) -> DataFrame:
        is_del = F.col("op") == "delete"
        out = d.select(
            *KEY_COLUMNS,
            *[
                F.col(c).alias(c)
                for c in all_cols
                if c not in KEY_COLUMNS and c not in SYSTEM and c in d.columns
            ],
            F.col("seq").alias("_ingest_seq"),
            F.lit(batch_id).cast("long").alias("_batch_id"),
            is_del.alias("_deleted"),
        )
        for c in all_cols:  # columns the delta doesn't carry -> null
            if c not in out.columns:
                out = out.withColumn(c, F.lit(None).cast("string"))
        return out.select(*all_cols)

    @staticmethod
    def _slice_expr(ks: dict[int, int]):
        """The ``_slice`` column of ``Layout.ks``: a path-hash slice id in
        [0, k) for every row of a sliced bucket, 0 for all other rows —
        a pure function of the key, like the bucket."""
        expr = F.lit(0)
        for b, k in sorted(ks.items()):
            expr = (
                F.when(
                    F.col("bucket") == b,
                    F.pmod(F.xxhash64(F.col("path")), F.lit(k)).cast("int"),
                )
                .otherwise(expr)
            )
        return expr

    @staticmethod
    def _placement_expr(pairs: list[tuple[int, int]]):
        """Shuffle token landing (bucket, slice) group ``pairs[i]`` in
        partition i of ``repartition(len(pairs), token)``.

        ``repartition(n, col)`` routes by ``pmod(murmur3(col), n)``;
        hashing n group ids into n partitions leaves ~n/e partitions
        empty and stacks 2-3 groups on others (balls-in-bins) — measured
        as 5.7/8 cores busy on the 8-core scaling leg (uneven write
        waves) while 2 cores ran saturated.  ``placement_tokens`` inverts
        Spark's hash so the repartition lands exactly one group per
        partition: even waves, every file written by its own task."""
        from etl_spark.functions.murmur import placement_tokens

        toks = placement_tokens(len(pairs))
        kv = []
        for i, (b, s) in enumerate(pairs):
            kv += [F.lit(b * (1 << 20) + s), F.lit(int(toks[i]))]
        key = (
            F.col("bucket").cast("long") * F.lit(1 << 20)
            + F.col("_slice").cast("long")
        )
        # element_at over a literal map is a linear scan of its keys per
        # row (Spark map literals have no hashed lookup), so up to 2048
        # comparisons at the cap.  Group counts are buckets x slices: a
        # 16-bucket table with the parallelism floor's few slices per
        # bucket is tens of groups, a small cost next to the
        # KB-wide row's shuffle write it feeds.
        return F.element_at(F.create_map(*kv), key).cast("int")

    def _latest_rows(self, inputs: list[DataFrame], cols: list[str], bucket,
                     layout: Layout) -> DataFrame:
        """The one rewrite kernel: every copy-on-write merge, big
        merge-on-read delta, compaction and delta fold writes through it.

        Unions ``inputs`` (base slice, pending deltas, the batch's rows —
        whichever the caller has), adds ``bucket`` and ``_slice``, and
        shuffles ONCE into ``layout.npart`` partitions: on the exact
        ``_placement_expr`` token when the layout has placement pairs,
        else hash on (bucket, _slice).  Bucket and slice are pure
        functions of the key, so every row of a key is already in one
        partition: ``_keep_latest`` runs there with the placement columns
        leading its window, and the final sort is the window's own sort
        (placement, then key), which is also the writer's order — no
        second exchange or sort.  Bucket-clustering every output file
        (then writing ``partitionBy("bucket")``) keeps each data file in
        exactly one bucket, so the manifest needs no stats guessing and
        copy-on-write pruning stays exact.

        The first row per key is kept even for one input that is
        already key-unique (a fresh table's first write, a big delta),
        so there is one code path.

        ``_batch_id`` ASC is the right tie-break for merges too:
        ``apply_batch`` fences every ``batch_id <= last_batch_id``,
        rollback restores the manifest and the fence together, and
        compaction keeps each row's ``_batch_id`` — so every row already
        in the table has a lower ``_batch_id`` than the incoming batch,
        and "the target row wins a seq tie" is exactly ``_batch_id`` ASC.
        """
        u = inputs[0]
        for df in inputs[1:]:
            u = u.unionByName(df)
        u = u.withColumn("bucket", bucket).withColumn(
            "_slice", self._slice_expr(layout.ks)
        )
        if layout.pairs is not None:
            # bucket and _slice lead so the output is ordered by the
            # writer's partition column; _tok makes the window's
            # clustering a superset of the shuffle's
            place = ["bucket", "_slice", "_tok"]
            u = u.withColumn("_tok", self._placement_expr(layout.pairs))
            u = u.repartition(layout.npart, "_tok")
        else:
            place = ["bucket", "_slice"]
            u = u.repartition(layout.npart, *place)
        return (
            _keep_latest(u, *place)
            .sortWithinPartitions(*place, *KEY_COLUMNS)
            .select(*cols, "bucket")
        )

    # ------------------------------------------------------------------ #
    # file stats / metrics / maintenance
    # ------------------------------------------------------------------ #
    def _write_bucketed(self, df: DataFrame, rel_dir: str, observe: list[int] | None,
                        mark=lambda phase: None) -> list[FileEntry]:
        """Write ``df`` ``partitionBy("bucket")`` under ``rel_dir`` and
        return the new files' manifest entries.

        With ``observe`` buckets, the stats are observed DURING the write
        job (one pass over the data): per-bucket conditional aggregates
        ride the write plan, and because that layout writes exactly one
        file per non-empty bucket (``plan_batch`` decides when) they map
        1:1 onto output files.  Otherwise, or when the written layout is
        not the predicted one, the column-pruned post-write scan
        (``_scan_written``) is the authority."""
        obs = None
        if observe is not None:
            obs = Observation()
            aggs = []
            for b in observe:
                w = F.col("bucket") == b
                aggs += [
                    F.sum(F.when(w, 1).otherwise(0)).alias(f"rows_{b}"),
                    F.sum(
                        F.when(w & ~F.col("_deleted"), 1).otherwise(0)
                    ).alias(f"live_{b}"),
                    F.min(F.when(w, F.col("repo"))).alias(f"min_{b}"),
                    F.max(F.when(w, F.col("repo"))).alias(f"max_{b}"),
                ]
            df = df.observe(obs, *aggs)
        df.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(self.root, rel_dir)
        )
        mark("merge_write")
        entries = None
        if obs is not None:
            vals = obs.get
            entries = self._entries_from_stats(rel_dir, {
                b: {
                    "rows": int(vals[f"rows_{b}"] or 0),
                    "live": int(vals[f"live_{b}"] or 0),
                    "min_repo": vals[f"min_{b}"],
                    "max_repo": vals[f"max_{b}"],
                }
                for b in observe
            })
        if entries is None:
            entries = self._scan_written(rel_dir)
        mark("scan_written")
        return entries

    def _scan_written(self, rel_dir: str) -> list[FileEntry]:
        """Manifest entries for freshly written data files.

        Stats are collected EXECUTOR-side: one column-pruned Spark scan
        of the just-written directory (only ``repo`` + the ``bucket``
        partition column leave the parquet reader — freshly written
        pages are still in the OS cache) aggregated per source file.
        The previous design parsed every file's parquet footer in a
        driver thread pool — milliseconds at sf0.1, but a backfill
        commit writing thousands of files would serialize its commit
        latency on driver I/O (VERDICT r3).  Driver work is now one
        small collect (a row per file) plus ``os.stat`` per file for
        sizes; per-file buckets stay EXACT because data is written
        ``partitionBy("bucket")``.
        """
        from urllib.parse import unquote, urlparse

        abs_dir = os.path.join(self.root, rel_dir)
        # an empty write (no partition dirs) has nothing to scan
        if not any(s.startswith("bucket=") for s in os.listdir(abs_dir)):
            return []
        # declared schema (no inference job); ``bucket`` is the
        # partition column, typed here and parsed from the directory
        schema = table_schema(["repo", "_deleted"]).add("bucket", IntegerType())
        stats = (
            self.spark.read.schema(schema).parquet(abs_dir)
            .groupBy(F.input_file_name().alias("_file"), F.col("bucket"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.when(F.col("_deleted"), F.lit(0)).otherwise(F.lit(1))
                ).alias("live_rows"),
                F.min("repo").alias("min_repo"),
                F.max("repo").alias("max_repo"),
            )
            .collect()
        )
        entries = []
        for r in stats:
            local = unquote(urlparse(r["_file"]).path)
            rel = os.path.relpath(local, self.root)
            entries.append(
                FileEntry(
                    path=rel,
                    rows=int(r["rows"]),
                    buckets=[int(r["bucket"])],
                    min_repo=r["min_repo"],
                    max_repo=r["max_repo"],
                    bytes=os.path.getsize(local),
                    live_rows=int(r["live_rows"]),
                )
            )
        return sorted(entries, key=lambda e: e.path)

    def _entries_from_stats(
        self, rel_dir: str, per_bucket: dict[int, dict]
    ) -> list[FileEntry] | None:
        """Manifest entries from stats observed during the write — the
        zero-extra-read commit path.  Only valid for the
        one-file-per-bucket layout: every non-empty bucket directory
        must hold exactly one data file and every observed non-empty
        bucket must have written one.  Anything else (a layout this
        code didn't predict) returns None and the caller falls back to
        the authoritative post-write scan — the fast path may only ever
        be DROPPED, never wrong."""
        abs_dir = os.path.join(self.root, rel_dir)
        entries: list[FileEntry] = []
        seen: set[int] = set()
        for sub in os.listdir(abs_dir):
            if not sub.startswith("bucket="):
                continue
            b = int(sub.split("=", 1)[1])
            files = [
                f
                for f in os.listdir(os.path.join(abs_dir, sub))
                if f.endswith(".parquet")
            ]
            st = per_bucket.get(b)
            if st is None or len(files) != 1 or st["rows"] <= 0:
                return None
            fp = os.path.join(abs_dir, sub, files[0])
            entries.append(
                FileEntry(
                    path=os.path.relpath(fp, self.root),
                    rows=int(st["rows"]),
                    buckets=[b],
                    min_repo=st["min_repo"],
                    max_repo=st["max_repo"],
                    bytes=os.path.getsize(fp),
                    live_rows=int(st["live"]),
                )
            )
            seen.add(b)
        if any(
            st["rows"] > 0 for b, st in per_bucket.items() if b not in seen
        ):
            return None  # a non-empty bucket wrote no directory: scan
        return sorted(entries, key=lambda e: e.path)

    def _child(self, snap: Snapshot) -> Snapshot:
        child = Snapshot.from_json(snap.to_json())
        child.version = snap.version + 1
        child.parent = snap.version
        child.op = ""  # commit sites stamp their operation
        child.ts = time.time()
        # restore markers describe exactly ONE commit (the rollback
        # itself); inheriting them would make describe_history report
        # every later merge/fence as a restore (ADVICE r4)
        child.properties.pop("rolled_back_from", None)
        child.properties.pop("restored_version", None)
        return child

    @staticmethod
    def _row_bytes_expr(df: DataFrame):
        """Uncompressed payload estimate per row.  Counts EVERY string
        column (not just content): wide promoted ``extra`` columns would
        otherwise undercount file slicing and the one-file delta test."""
        str_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() == "string"
        ]
        return sum(
            (F.length(F.coalesce(F.col(c), F.lit(""))) for c in str_cols),
            F.lit(64).cast("long"),
        )

    def _bucket_histogram(self, staged: DataFrame, bucket) -> dict[int, tuple[int, int]]:
        """Per-bucket (rows, bytes) over the staged LWW winners.

        Doubles as the delta-key count AND the delta payload size
        (drives file slicing and the one-file delta test); it reads the RAW
        stage so the canonicalize pipeline is not re-triggered (raw
        content length ≈ canonical length for sizing purposes).  On the
        big-batch path these numbers ride the stage write as observe
        aggregates instead (exact same expressions); this job is the
        fallback (small/localCheckpoint batches, wide bucket spaces)."""
        per_row = self._row_bytes_expr(staged)
        rows = (
            staged.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("cnt"), F.sum(per_row).alias("bytes"))
            .collect()
        )
        return {int(r["bucket"]): (int(r["cnt"]), int(r["bytes"] or 0)) for r in rows}

    def _write_delta_single(
        self, delta_rows: DataFrame, rel_dir: str, buckets: list[int], bexpr
    ) -> list[FileEntry]:
        """Write a small merge-on-read delta as EXACTLY ONE data file
        spanning ``buckets`` (its manifest entry carries the set for
        pruning).  Rows are clustered by bucket inside the file so a
        future row-group-pruned reader keeps working if one is added.
        Stats ride the write job via ``observe`` — no post-write read."""
        from pyspark.sql import Observation

        obs = Observation()
        out_dir = os.path.join(self.root, rel_dir)
        (
            delta_rows.withColumn("bucket", bexpr)
            .repartition(1)
            .sortWithinPartitions("bucket", "repo", "path")
            .drop("bucket")
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(~F.col("_deleted"), 1).otherwise(0)).alias("live"),
                F.min("repo").alias("min_repo"),
                F.max("repo").alias("max_repo"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        parts = [
            n
            for n in os.listdir(out_dir)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
        if len(parts) != 1:
            # repartition(1) is a one-task → one-file guarantee; anything
            # else is a layout this code didn't predict — fail LOUDLY
            # before a wrong manifest entry is committed
            raise RuntimeError(
                f"single-file delta wrote {len(parts)} files in {rel_dir}"
            )
        vals = obs.get
        return [
            FileEntry(
                path=os.path.join(rel_dir, parts[0]),
                rows=int(vals["rows"] or 0),
                buckets=list(buckets),
                min_repo=vals["min_repo"],
                max_repo=vals["max_repo"],
                bytes=os.path.getsize(os.path.join(out_dir, parts[0])),
                live_rows=int(vals["live"] or 0),
            )
        ]

    def _write_metrics(self, batch_id: int, part_rows, t0: float) -> int:
        """Lineage rows, one per (batch, source partition).  File named by
        batch id -> re-delivery overwrites identically (idempotent)."""
        import pyarrow as pa

        latency_ms = int((time.monotonic() - t0) * 1000)
        mdir = os.path.join(self.root, "metrics")
        os.makedirs(mdir, exist_ok=True)
        rows = {
            "batch_id": [batch_id] * max(1, len(part_rows)),
            "part_id": [int(r["part_id"]) for r in part_rows] or [-1],
            "start_seq": [int(r["start_seq"]) for r in part_rows] or [-1],
            "end_seq": [int(r["end_seq"]) for r in part_rows] or [-1],
            "rows_applied": [int(r["rows_applied"]) for r in part_rows] or [0],
            "merge_latency_ms": [latency_ms] * max(1, len(part_rows)),
        }
        schema = pa.schema(
            [
                ("batch_id", pa.int64()),
                ("part_id", pa.int32()),
                ("start_seq", pa.int64()),
                ("end_seq", pa.int64()),
                ("rows_applied", pa.int64()),
                ("merge_latency_ms", pa.int64()),
            ]
        )
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(pa.table(rows, schema=schema), tmp)
        os.replace(tmp, os.path.join(mdir, f"batch-{batch_id:08d}.parquet"))
        return latency_ms

    def metrics(self) -> DataFrame:
        mdir = os.path.join(self.root, "metrics")
        return self.spark.read.schema(METRICS_SCHEMA).parquet(mdir)

    @staticmethod
    def _truncate_span(mdir: str, lo: int, hi: int, name: str, fence: int) -> None:
        """Rewrite one span file keeping only rows with batch_id <= fence
        (atomic: the shrunken span lands by rename BEFORE the original is
        removed — a crash in between leaves both, and the containment
        heal in compact_metrics drops the stale superset)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as _pq

        src = os.path.join(mdir, name)
        if lo <= fence:
            t = _pq.read_table(src)
            kept = t.filter(pc.less_equal(t["batch_id"], fence))
            if kept.num_rows:
                tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
                _pq.write_table(kept, tmp)
                os.replace(
                    tmp,
                    os.path.join(mdir, f"span-{lo:08d}-{fence:08d}.parquet"),
                )
        os.remove(src)

    def _truncate_metrics(self, fence: int) -> dict:
        """Drop lineage above ``fence`` — the rollback companion (ADVICE
        r4): a rollback un-commits every batch above the restored fence,
        and re-ingest may REUSE those batch ids; stale per-batch files
        and folded span rows for them would otherwise masquerade as the
        re-ingested batches' lineage (and the heal step would delete the
        fresh files as 'crash leftovers').  Runs right after the rollback
        commit; the compact_metrics heal rules cover the crash window in
        between."""
        import re

        mdir = os.path.join(self.root, "metrics")
        if not os.path.isdir(mdir):
            return {"batch_files_removed": 0, "spans_truncated": 0}
        removed = 0
        truncated = 0
        for name in sorted(os.listdir(mdir)):
            m = re.fullmatch(r"batch-(\d+)\.parquet", name)
            if m and int(m.group(1)) > fence:
                os.remove(os.path.join(mdir, name))
                removed += 1
                continue
            m = re.fullmatch(r"span-(\d+)-(\d+)\.parquet", name)
            if m and int(m.group(2)) > fence:
                self._truncate_span(
                    mdir, int(m.group(1)), int(m.group(2)), name, fence
                )
                truncated += 1
        return {"batch_files_removed": removed, "spans_truncated": truncated}

    def compact_metrics(self, keep_recent: int = 256) -> dict:
        """Consolidate per-batch lineage files (maintenance).

        Every batch writes one tiny ``metrics/batch-<id>.parquet`` — at
        the 10^10-event design point that is millions of KB-sized files
        and the lineage table becomes unreadable (listing cost) long
        before it becomes large.  All but the newest ``keep_recent``
        batch files fold into one ``span-<lo>-<hi>.parquet`` (ranges
        never overlap, so successive maintenance runs add one span per
        ~keep_recent batches — file count tracks log-ish, not batch
        count).  Recent batches stay as per-batch files because replay
        re-delivery overwrites them BY NAME (idempotence); batches at or
        below a span's high end are final — the fence guarantees they
        can never be re-merged — so folding them is safe.

        Crash-safe: the span file lands by atomic rename BEFORE the
        originals are removed; a crash in between leaves duplicates that
        the heal step removes (originals whose id falls inside an
        existing span's range).

        Rollback interplay (ADVICE r4): ``rollback`` truncates lineage
        above the restored fence via ``_truncate_metrics``; three heal
        rules here cover its crash windows so folded spans can never
        shadow re-ingested batches: (1) a span reaching above the
        CURRENT fence is truncated to it (folds never run above the
        fence, so only a crashed rollback truncation leaves one);
        (2) a per-batch file NEWER than the span covering its id is a
        re-ingest, not a crash leftover — the span is truncated below
        the earliest such id and the fresh lineage kept; (3) a span
        whose range CONTAINS another span's range is the stale original
        of an interrupted truncation (fold ranges never overlap) and is
        dropped."""
        import re

        import pyarrow as pa
        import pyarrow.parquet as _pq

        mdir = os.path.join(self.root, "metrics")
        if not os.path.isdir(mdir):
            return {"consolidated": 0, "healed": 0}
        fence = self.snapshot().last_batch_id

        def list_files():
            spans = []  # (lo, hi, filename)
            batches = []  # (batch_id, filename)
            for name in os.listdir(mdir):
                m = re.fullmatch(r"batch-(\d+)\.parquet", name)
                if m:
                    batches.append((int(m.group(1)), name))
                    continue
                m = re.fullmatch(r"span-(\d+)-(\d+)\.parquet", name)
                if m:
                    spans.append((int(m.group(1)), int(m.group(2)), name))
            return sorted(spans), sorted(batches)

        spans, batches = list_files()

        # heal rule 2 FIRST: a batch file NEWER than its covering span is
        # a re-ingest under a reused id — the span rows from that id up
        # are pre-rollback garbage; truncate below the earliest such id.
        # Must run before rule 1: rule 1 rewrites spans with fresh
        # mtimes, which would destroy the very evidence this rule reads.
        def mtime(name: str) -> float:
            return os.path.getmtime(os.path.join(mdir, name))

        fresh = [
            bid
            for bid, bname in batches
            for lo, hi, sname in spans
            if lo <= bid <= hi and mtime(bname) > mtime(sname)
        ]
        dirty = False
        if fresh:
            cut = min(fresh) - 1
            for lo, hi, name in spans:
                if hi > cut:
                    self._truncate_span(mdir, lo, hi, name, cut)
            spans, batches = list_files()
        # heal rule 1: spans above the fence (crashed rollback truncation)
        for lo, hi, name in spans:
            if hi > fence:
                self._truncate_span(mdir, lo, hi, name, fence)
                dirty = True
        if dirty:
            spans, batches = list_files()
        # heal rule 3: containment — drop the stale superset span left by
        # an interrupted truncation (write-new happens before remove-old)
        stale = [
            a
            for a in spans
            if any(
                a is not b and a[0] <= b[0] and b[1] <= a[1] for b in spans
            )
        ]
        for lo, hi, name in stale:
            os.remove(os.path.join(mdir, name))
            spans.remove((lo, hi, name))
        healed = 0
        for bid, name in list(batches):
            if any(lo <= bid <= hi for lo, hi, _ in spans):
                os.remove(os.path.join(mdir, name))  # crash leftover
                batches.remove((bid, name))
                healed += 1
        # never fold above the fence: a metrics file for an uncommitted
        # batch is a pre-commit orphan that replay overwrites BY NAME
        foldable = [b for b in batches if b[0] <= fence]
        if len(foldable) <= keep_recent:
            return {"consolidated": 0, "healed": healed}
        fold = foldable[:-keep_recent] if keep_recent > 0 else foldable
        tables = [
            _pq.read_table(os.path.join(mdir, name)) for _, name in fold
        ]
        lo, hi = fold[0][0], fold[-1][0]
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        _pq.write_table(pa.concat_tables(tables), tmp)
        os.replace(tmp, os.path.join(mdir, f"span-{lo:08d}-{hi:08d}.parquet"))
        for _, name in fold:
            os.remove(os.path.join(mdir, name))
        return {"consolidated": len(fold), "healed": healed, "span": (lo, hi)}

    def stats(self) -> dict:
        """Manifest-derived table statistics — makes copy-on-write
        amplification and bucket balance measurable (no data scan).

        write_amplification = total rows ever written to data files
        (live rows across ALL retained versions' new files) divided by
        total events applied: the CoW cost knob that bucket granularity
        controls.

        ``rows_live`` counts BASE-file rows only; pending merge-on-read
        delta rows are reported separately (``delta_rows_pending``) —
        their overlap with base keys is unknowable from the manifest
        alone, so the resolved live count requires a read."""
        snap = self.snapshot()
        by_bucket: dict[int, int] = {}
        for e in snap.files:
            for b in e.buckets:
                by_bucket[b] = by_bucket.get(b, 0) + e.rows
        rows_live = sum(e.rows for e in snap.files)
        seen: set[str] = set()
        rows_written = 0
        for v in self.history():
            s = self.snapshot(v)
            for e in s.files + s.delta_files:
                if e.path not in seen:
                    seen.add(e.path)
                    rows_written += e.rows
        total_events = int(snap.properties.get("total_events", "0")) or 1
        buckets = sorted(by_bucket.values(), reverse=True)
        return {
            "version": snap.version,
            "schema_version": snap.schema_version,
            "files": len(snap.files),
            "rows_live": rows_live,
            "bytes_live": sum(e.bytes for e in snap.files),
            "total_events_applied": total_events,
            "rows_written_all_versions": rows_written,
            "write_amplification": round(rows_written / total_events, 2),
            "delta_files_pending": len(snap.delta_files),
            "delta_rows_pending": sum(e.rows for e in snap.delta_files),
            "hot_repos": list(snap.hot_repos),
            "n_buckets_used": len(by_bucket),
            "bucket_skew": round(buckets[0] / max(1, buckets[-1]), 2)
            if buckets
            else None,
            "watermarks": snap.wm(),
        }

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_pre: bool = False,
    ) -> DataFrame:
        """Row-level changelog between two snapshots (CDC-out, the
        Iceberg-changelog analog): one row per key whose LIVE image
        differs, with ``change_op`` in {insert, update, delete}, the
        post-image columns, and ``pre_content_sha`` for update/delete.

        Both sides read at ``to_version``'s columns, so a column
        promoted in between shows null on the pre-image.

        Scale: carried-forward files (same manifest path in both
        snapshots) are skipped outright — copy-on-write guarantees a
        key's old and new images are either BOTH in rewritten files or
        both carried (bucket rewrites are whole-bucket, and hot-repo
        promotion migrates the old bucket in the same commit), so the
        diff join only scans rewritten buckets.  Cost is proportional
        to churn, not table size; unchanged survivors inside rewritten
        buckets are dropped by an ``_ingest_seq`` equality check (no
        content compare).  A pure compaction commit therefore yields
        ZERO change rows.
        """
        snap_a = self.snapshot(from_version)
        snap_b = self.snapshot(to_version)
        if snap_b.version < snap_a.version:
            raise ValueError(
                f"to_version {snap_b.version} precedes from_version {snap_a.version}"
            )
        files_a = snap_a.files + snap_a.delta_files
        files_b = snap_b.files + snap_b.delta_files
        paths_a = {e.path for e in files_a}
        paths_b = {e.path for e in files_b}
        diff_a = [e for e in files_a if e.path not in paths_b]
        diff_b = [e for e in files_b if e.path not in paths_a]
        if snap_a.delta_files or snap_b.delta_files:
            # merge-on-read: a key's old image may sit in a CARRIED base
            # file while its new image arrives via a delta file, so the
            # carried files of every touched bucket join the diff as
            # context and each side LWW-resolves to its effective image.
            # Unchanged keys resolve identically on both sides and are
            # suppressed by the _ingest_seq equality below; cost is still
            # proportional to touched buckets, never table size.
            touched = {b for e in diff_a + diff_b for b in e.buckets}
            context = [
                e
                for e in files_a
                if e.path in paths_b and set(e.buckets) & touched
            ]
            old = _keep_latest(self._read_files(snap_b, diff_a + context))
            new = _keep_latest(self._read_files(snap_b, diff_b + context))
        else:
            # pure copy-on-write: whole-bucket rewrites guarantee a key's
            # old and new images are either both in the diff sets or both
            # carried — no resolution window needed
            old = self._read_files(snap_b, diff_a)
            new = self._read_files(snap_b, diff_b)
        data_cols = [c for c in snap_b.columns if c not in KEY_COLUMNS]
        o = old.select(
            *KEY_COLUMNS, *[F.col(c).alias(f"_o_{c}") for c in data_cols]
        )
        n = new.select(
            *KEY_COLUMNS, *[F.col(c).alias(f"_n_{c}") for c in data_cols]
        )
        j = o.join(n, KEY_COLUMNS, "full_outer")
        o_live = F.col("_o__deleted") == F.lit(False)  # null-safe: null -> false
        n_live = F.col("_n__deleted") == F.lit(False)
        o_live = F.coalesce(o_live, F.lit(False))
        n_live = F.coalesce(n_live, F.lit(False))
        unchanged = F.col("_o__ingest_seq").eqNullSafe(F.col("_n__ingest_seq"))
        change_op = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & ~n_live, F.lit("delete"))
            .when(o_live & n_live & ~unchanged, F.lit("update"))
        )
        post = [
            F.col(f"_n_{c}").alias(c)
            for c in data_cols
            if not c.startswith("_")
        ]
        # pre-image columns power downstream incremental view maintenance
        # (update deltas need the OLD value to retract); content_sha's
        # pre-image is always present as the cheap row-identity witness
        pre = (
            [
                F.col(f"_o_{c}").alias(f"pre_{c}")
                for c in data_cols
                if not c.startswith("_") and c != "content_sha"
            ]
            if include_pre
            else []
        )
        return (
            j.withColumn("change_op", change_op)
            .filter(F.col("change_op").isNotNull())
            .select(
                "change_op",
                *KEY_COLUMNS,
                *post,
                *pre,
                F.col("_o_content_sha").alias("pre_content_sha"),
                F.coalesce(F.col("_n__ingest_seq"), F.col("_o__ingest_seq")).alias(
                    "_ingest_seq"
                ),
            )
        )

    def maintain(
        self,
        retain_versions: int = 2,
        max_files_per_bucket: float = 2.0,
        max_delta_ratio: float = 0.25,
        stale_grace_sec: float = 600.0,
        max_rewrite_bytes: int | None = None,
    ) -> dict:
        """Stats-driven table maintenance in one call — the nightly job a
        10^10-event table needs: compact when small files or pending
        merge-on-read delta debt accumulate, then expire old snapshots
        and delete orphans.  All thresholds are manifest-derived (zero
        data scans when nothing needs doing).

        Compaction is TARGETED (bounded-pause): only buckets over
        threshold — too many files, or delta rows above
        ``max_delta_ratio`` of the bucket's base rows — are rewritten;
        everything else is carried by reference.  ``max_rewrite_bytes``
        further caps one maintenance slice: debt-heaviest buckets fold
        first, the rest wait for the next call (each slice makes
        progress, so the debt drains across calls instead of stalling a
        stream for one table-sized rewrite — VERDICT r4 #1)."""
        snap = self.snapshot()
        debt = bucket_debt(snap)
        over = [
            (b, d) for b, d in debt.items()
            if d["files"] > max_files_per_bucket
            or d["delta_rows"] > max_delta_ratio * max(1, d["base_rows"])
        ]
        # debt-heaviest first: pending delta rows dominate read cost,
        # file count breaks ties (small-file fragmentation)
        over.sort(key=lambda bd: (-bd[1]["delta_rows"], -bd[1]["files"]))
        selected: list[int] = []
        est_bytes = 0
        deferred = 0
        for b, d in over:
            if (
                max_rewrite_bytes is not None
                and selected
                and est_bytes + d["bytes"] > max_rewrite_bytes
            ):
                deferred += 1
                continue
            selected.append(b)
            est_bytes += d["bytes"]
        did_compact = False
        delta_rows_folded = 0
        if selected:
            delta_rows_folded = sum(debt[b]["delta_rows"] for b in selected)
            self.compact(buckets=selected)
            did_compact = True
        removed = self.vacuum(
            retain_versions=retain_versions, stale_grace_sec=stale_grace_sec
        )
        mstats = self.compact_metrics()
        return {
            "compacted": did_compact,
            "buckets_compacted": sorted(selected),
            "buckets_deferred": deferred,
            "rewrote_bytes_est": est_bytes if did_compact else 0,
            "files_before": len(snap.files),
            "delta_rows_folded": delta_rows_folded,
            "files_now": len(self.snapshot().files),
            "orphans_removed": len(removed),
            "metrics_consolidated": mstats.get("consolidated", 0),
        }

    def vacuum(
        self,
        retain_versions: int = 2,
        stale_grace_sec: float = 600.0,
        quarantine_retain_batches: int = 1024,
    ) -> list[str]:
        """Expire old snapshots and delete unreferenced (orphan) data files.

        The keep-set anchors on the LATEST pointer, never the directory
        listing: a crash between writing v(N+1).json and swapping the
        pointer leaves a STALE manifest above the current version, and
        counting it toward ``retain_versions`` would let vacuum expire
        the live manifest (data loss).  Stale above-current v-files are
        themselves garbage and removed here.

        ``stale_grace_sec`` (ADVICE r3): anything that LOOKS like crash
        garbage — unreferenced data files, above-current v-files,
        ``.tmp-`` manifests — is indistinguishable from a commit that is
        in flight RIGHT NOW between its file writes and the pointer swap.
        The engine is single-writer by design, but a nightly maintain()
        running beside the streaming tailer is exactly that race; only
        remove candidates whose mtime is older than the grace window
        (any in-flight commit finishes in seconds).  Pass 0 to force."""
        now = time.time()

        def expired(fp: str) -> bool:
            try:
                return now - os.path.getmtime(fp) >= stale_grace_sec
            except OSError:
                return False  # vanished mid-walk: someone else owns it

        cur = self.log.current_version()
        versions = self.history()
        committed = [v for v in versions if v <= cur]
        stale = [v for v in versions if v > cur]
        keep = set(committed[-retain_versions:])
        # tagged versions are durable restore points: exempt from the
        # retention window (their manifests AND data files stay live)
        keep |= {v for v in self.log.read_tags().values() if v in set(committed)}
        referenced: set[str] = set()
        for v in keep:
            s = self.snapshot(v)
            for e in s.files + s.delta_files:
                referenced.add(e.path)
        removed = []
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for name in filenames:
                fp = os.path.join(dirpath, name)
                rel = os.path.relpath(fp, self.root)
                if rel not in referenced and expired(fp):
                    os.remove(fp)
                    removed.append(rel)
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        for v in committed:
            if v not in keep:
                os.remove(self.log._vpath(v))
        for v in stale:  # crashed-commit leftovers (pointer never swapped)
            if expired(self.log._vpath(v)):
                os.remove(self.log._vpath(v))
                removed.append(os.path.relpath(self.log._vpath(v), self.root))
        # crashed _atomic_write temp files in meta/
        for name in os.listdir(self.log.meta):
            fp = os.path.join(self.log.meta, name)
            if ".tmp-" in name and expired(fp):
                os.remove(fp)
                removed.append(os.path.join("meta", name))
        # quarantine retention: reject dirs are forensic evidence with a
        # bounded shelf life — once the fence is quarantine_retain_batches
        # past a batch, its rejects expire (they would otherwise
        # accumulate one dir per dirty batch forever; data/ vacuuming
        # never touches them)
        qroot = os.path.join(self.root, "quarantine")
        if os.path.isdir(qroot) and quarantine_retain_batches >= 0:
            fence = self.snapshot(cur).last_batch_id
            for name in sorted(os.listdir(qroot)):
                if not name.startswith("batch-"):
                    continue
                try:
                    bid = int(name.split("-", 1)[1])
                except ValueError:
                    continue
                qdir = os.path.join(qroot, name)
                if bid <= fence - quarantine_retain_batches and expired(qdir):
                    shutil.rmtree(qdir, ignore_errors=True)
                    removed.append(os.path.join("quarantine", name))
        # content-addressed manifest shards referenced by no kept snapshot
        shards_dir = self.log.shards_dir
        if os.path.isdir(shards_dir):
            kept_shards: set[str] = set()
            for v in keep:
                kept_shards.update(self.snapshot(v).file_shards)
            for name in os.listdir(shards_dir):
                fp = os.path.join(shards_dir, name)
                if os.path.join("shards", name) not in kept_shards and expired(fp):
                    os.remove(fp)
                    removed.append(os.path.join("meta", "shards", name))
        return removed

    def compact(
        self,
        n_buckets: int | None = None,
        buckets: list[int] | None = None,
    ) -> dict:
        """Rewrite data files into ~one file per bucket, folding pending
        merge-on-read delta files into the base (maintenance).

        ``buckets`` restricts the rewrite to the given storage buckets
        (targeted / bounded-pause compaction): only files whose bucket
        set intersects the selection are resolved and rewritten; every
        other base and delta file is carried forward by reference.  Key
        correctness needs no cross-bucket context — a key lives in
        exactly one bucket under the snapshot's layout, so folding one
        bucket's base∪delta is a complete LWW resolution for its keys.
        This is what keeps maintenance pauses bounded at 10^10-event
        scale: a debt trip rewrites the debt-heavy buckets, never the
        table.

        ``n_buckets`` rescales the hash-bucket layout in the same commit
        (partition-spec evolution): a table that outgrew its bucket count
        — fat buckets mean fat copy-on-write rewrites — is re-hashed
        once, and every subsequent read/merge/pruned-scan resolves
        against the new count (cold-bucket hashing and hot-repo salt
        ranges both derive from the snapshot's ``n_buckets``, so the
        switch is atomic with the data rewrite).  A rescale moves keys
        across buckets, so it is inherently full-table: the two knobs
        are mutually exclusive.

        ``plan_compact`` decides the selection and the file layout, with
        the same slicing and placement rules as a merge write."""
        if n_buckets is not None and buckets is not None:
            raise ValueError("bucket rescale is full-table: pass one of "
                             "n_buckets / buckets, not both")
        snap = self.snapshot()
        plan = plan_compact(
            snap, buckets, n_buckets, self.spark.sparkContext.defaultParallelism
        )
        if plan is None:  # nothing selected: no-op
            return {
                "files_before": len(snap.files),
                "delta_files_folded": 0,
                "files_after": len(snap.files),
                "n_buckets": snap.n_buckets,
                "buckets": [],
                "rewrote_bytes": 0,
            }
        new_snap = self._child(snap)
        if n_buckets is not None:
            new_snap.n_buckets = n_buckets
        # Delta files spanning buckets OUTSIDE the selection (small deltas
        # are written as one multi-bucket file) must be SPLIT, not folded
        # whole: folding their out-of-set rows would emit those rows as
        # new base rows while the same buckets' old base files are
        # carried — duplicate keys in the base set.  The selected buckets'
        # rows fold below (a filter on the bucket derived from repo + the
        # snapshot layout — no layout assumption on the file); the
        # remainder is rewritten as a single fresh leftover delta file,
        # which also collapses the partial files' pending chain into one
        # file as a side effect.
        dread = self._read_files(snap, plan.sel_delta)
        leftover_entries: list[FileEntry] = []
        if plan.partial:
            bexpr_old = self._bucket_expr(snap)  # layout unchanged here
            in_sel = bexpr_old.isin(*sorted(set(buckets)))
            dread = dread.filter(in_sel)
            lrel = os.path.join("data", f"dleft-{uuid.uuid4().hex[:8]}")
            leftover_entries = self._write_delta_single(
                self._read_files(snap, plan.partial).filter(~in_sel),
                lrel,
                plan.leftover_buckets,
                bexpr_old,
            )
            if leftover_entries and leftover_entries[0].rows == 0:
                shutil.rmtree(os.path.join(self.root, lrel), ignore_errors=True)
                leftover_entries = []
        rel_dir = os.path.join("data", f"compact-{uuid.uuid4().hex[:8]}")
        new_entries = self._write_bucketed(
            self._latest_rows(
                [self._read_files(snap, plan.sel_base), dread],
                snap.columns,
                self._bucket_expr(new_snap),
                plan.layout,
            ),
            rel_dir,
            None,
        )
        new_snap.files = plan.carried + new_entries
        new_snap.delta_files = plan.carried_delta + leftover_entries
        new_snap.op = "compact"
        self.log.commit(new_snap, expect_parent=snap.version)
        return {
            "files_before": len(snap.files),
            "delta_files_folded": len(plan.sel_delta),
            "files_after": len(new_snap.files),
            "n_buckets": new_snap.n_buckets,
            # targeted mode reports the FOLDED selection — a partially-
            # selected multi-bucket delta file's other buckets were split
            # into the leftover, not folded
            "buckets": plan.folded,
            "rewrote_bytes": plan.rewrite_bytes,
        }

    def rollback(self, version: int | str) -> dict:
        """Restore the table to an earlier snapshot (Delta ``RESTORE`` /
        Iceberg ``rollback_to_snapshot`` analog) as a NEW commit — the
        version chain stays monotonic and append-only, so the rollback is
        itself time-travelable, auditable, and changelog-visible
        (``read_changes`` across it emits the revert diff, which
        ``IncrementalView`` consumes like any other delta).

        Restored verbatim from the target: data state (``files`` +
        ``delta_files``), bucket layout (``n_buckets``/``salt``/
        ``hot_repos`` — the restored files were written under it), schema
        (``columns``/``schema_version``), the admission watermark vector,
        ``repo_stats``, ``last_batch_id``, and properties.  Restoring the
        fence + watermarks is what makes re-ingest work: events after the
        restore point re-admit instead of being dropped as duplicates.
        ``stream_epoch_offset`` is the one property cleared — a post-
        rollback re-tail runs under a FRESH checkpoint whose epochs
        restart at 0, so the next stream must re-derive its mapping from
        the restored fence (a stale offset would silently fence-drop or
        double-apply).

        Zero data I/O: like every commit, this writes one manifest and
        swaps the pointer — restored files are referenced, never copied.
        Fails loudly if vacuum already reclaimed any target file (tag the
        restore point to exempt it from retention)."""
        cur = self.snapshot()
        target = self.snapshot(version)  # raises if manifest expired
        if target.version == cur.version:
            raise ValueError(f"already at v{cur.version}")
        if target.version > cur.version:
            raise ValueError(
                f"cannot roll forward: v{target.version} > current v{cur.version}"
            )
        missing = [
            e.path
            for e in target.files + target.delta_files
            if not os.path.exists(os.path.join(self.root, e.path))
        ]
        if missing:
            raise RuntimeError(
                f"rollback to v{target.version} impossible: {len(missing)} data "
                f"file(s) already vacuumed (first: {missing[0]}); tag restore "
                "points to keep them live"
            )
        new_snap = self._child(target)
        new_snap.version = cur.version + 1
        new_snap.parent = cur.version
        new_snap.op = "rollback"
        new_snap.properties = {
            k: v
            for k, v in target.properties.items()
            # every stream mapping (legacy global or per-query-id key):
            # a post-rollback re-tail must re-derive from the restored
            # fence, and the restored properties may predate the stream
            if not k.startswith("stream_epoch_offset")
        }
        new_snap.properties["rolled_back_from"] = str(cur.version)
        new_snap.properties["restored_version"] = str(target.version)
        self.log.commit(new_snap, expect_parent=cur.version)
        # lineage follows the fence: batches above the restored fence are
        # no longer committed, and re-ingest may reuse their ids — stale
        # per-batch files and folded span rows must go NOW (ADVICE r4;
        # compact_metrics' heal rules cover a crash in this window)
        mtrunc = self._truncate_metrics(new_snap.last_batch_id)
        return {
            "version": new_snap.version,
            "restored": target.version,
            "rolled_back_from": cur.version,
            "last_batch_id": new_snap.last_batch_id,
            "metrics_truncated": mtrunc,
        }
