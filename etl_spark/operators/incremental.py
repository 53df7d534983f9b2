"""Incremental view maintenance over the lake table's changelog.

``IncrementalView`` keeps a grouped-aggregate table (counts + additive
measures) continuously consistent with a ``LakeTable`` WITHOUT
rescanning it: each ``refresh()`` consumes
``read_changes(last_version, current, include_pre=True)`` and applies
retract/apply deltas —

- insert  → +1 row, +measures(post image)
- delete  → −1 row, −measures(pre image)
- update  → both: retract under the PRE-image group, apply under the
  POST-image group (so views grouped by a mutable column, e.g. ``lang``,
  move rows between groups correctly)

Cost per refresh is proportional to churn (the changelog scans only
rewritten buckets) plus the view's own (small) state — the classic
incremental-view-maintenance contract a 10^10-event table needs for
its downstream rollups.

Exactness: measures should be integer / decimal expressions (counts,
byte lengths, exact sums) and NULL-total-safe: an all-NULL group sums
to 0 in this view (both the full build and the incremental merge
normalize NULL totals to 0 — wrap nullable inputs in ``coalesce`` if a
different zero is wanted).  Float measures would drift from a full
recompute by accumulation order — same caveat as every IVM system.

Recovery: if the view's checkpoint version has been expired by
``vacuum``/``maintain`` before a refresh, the view detects it and falls
back to one full rebuild (mode ``"rebuild"``) — it never wedges.

State is a tiny parquet + a ``meta.json`` {last_version, state_dir,
definition fingerprint} swapped atomically (write-temp +
``os.replace``); a crashed refresh leaves the previous consistent state
and its orphan directory is swept by the next successful refresh.
Single-refresher model (same as the table's single-writer model): a
DataFrame from ``read()`` is valid until the NEXT refresh replaces the
state — collect or persist before refreshing if you need it longer.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_spark.catalog.table import LakeTable
from etl_spark.schemas import KEY_COLUMNS

MeasureFn = Callable[[Callable[[str], Column]], dict[str, Column]]

# footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class IncrementalView:
    def __init__(
        self,
        table: LakeTable,
        root: str,
        group_cols: list[str],
        measures: MeasureFn | None = None,
    ):
        """``measures`` receives a column resolver and returns named
        additive expressions, e.g.::

            lambda c: {"total_chars": F.length(c("content")).cast("long")}

        The resolver binds to the post-image on apply and the pre-image
        on retract — write measures only through it.  (Key columns are
        immutable across an update, so the resolver hands them back
        unprefixed on both sides.)"""
        self.table = table
        self.root = root
        self.group_cols = list(group_cols)
        self.measures = measures or (lambda c: {})
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------ #
    def _meta_path(self) -> str:
        return os.path.join(self.root, "meta.json")

    def _meta(self) -> dict | None:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _measure_names(self) -> list[str]:
        return sorted(self.measures(lambda name: F.col(name)))

    def _definition(self) -> dict:
        # fingerprint of the view definition: reopening the same root
        # with different group columns or measure names must not merge
        # incompatible state.  (A changed measure FORMULA under the same
        # name is undetectable — use a new name or a new root.)
        return {"group_cols": self.group_cols, "measures": self._measure_names()}

    def read(self) -> DataFrame:
        meta = self._meta()
        if meta is None:
            raise FileNotFoundError("view has never been refreshed")
        state = os.path.join(self.root, meta["state_dir"])
        # the schema Spark recorded in one state file's footer, read on
        # the driver: no inference job, and exact for every view root
        part = next(n for n in sorted(os.listdir(state)) if n.endswith(".parquet"))
        footer = pq.read_schema(os.path.join(state, part)).metadata
        schema = StructType.fromJson(json.loads(footer[SPARK_SCHEMA_KEY]))
        return self.table.spark.read.schema(schema).parquet(state)

    # ------------------------------------------------------------------ #
    def _resolver(self, side: str) -> Callable[[str], Column]:
        if side == "post":
            return lambda name: F.col(name)
        # pre-image side: key columns have no pre_ image (immutable)
        return lambda name: (
            F.col(name) if name in KEY_COLUMNS else F.col(f"pre_{name}")
        )

    def _full_aggregate(self, version: int) -> DataFrame:
        src = self.table.read(version=version)
        m = self.measures(self._resolver("post"))
        aggs = [F.count("*").alias("n_rows")] + [
            # normalize an all-NULL group's total to 0 — the incremental
            # merge coalesces the same way, keeping the two paths equal
            F.coalesce(F.sum(expr), F.lit(0)).alias(name)
            for name, expr in sorted(m.items())
        ]
        return src.groupBy(*self.group_cols).agg(*aggs)

    def _delta(self, changes: DataFrame) -> DataFrame:
        post = self.measures(self._resolver("post"))
        pre = self.measures(self._resolver("pre"))
        names = sorted(post)

        def group_of(prefix: str) -> list[Column]:
            # key columns are immutable across an update; data columns
            # use their pre_ image on the retract side
            out = []
            for g in self.group_cols:
                col = g if (prefix == "" or g in KEY_COLUMNS) else f"pre_{g}"
                out.append(F.col(col).alias(g))
            return out

        # measures keep their declared type (long, DECIMAL, ...) — no
        # forced cast, so exact decimal sums stay exact
        apply_side = changes.filter(
            F.col("change_op").isin("insert", "update")
        ).select(
            *group_of(""),
            F.lit(1).cast("long").alias("_dn"),
            *[post[n].alias(n) for n in names],
        )
        retract_side = changes.filter(
            F.col("change_op").isin("delete", "update")
        ).select(
            *group_of("pre_"),
            F.lit(-1).cast("long").alias("_dn"),
            *[(-pre[n]).alias(n) for n in names],
        )
        return (
            apply_side.unionByName(retract_side)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("_dn").alias("_dn"),
                *[F.sum(n).alias(n) for n in names],
            )
        )

    def refresh(self) -> dict:
        cur = self.table.snapshot().version
        meta = self._meta()
        names = self._measure_names()
        if meta is not None and meta.get("definition") != self._definition():
            raise ValueError(
                "view definition changed (group columns or measure names) — "
                "use a fresh view root, or delete meta.json to force a rebuild"
            )
        if meta is not None and meta["last_version"] == cur:
            return {"mode": "noop", "last_version": cur}

        if meta is None:
            new_state = self._full_aggregate(cur)
            mode = "full"
        else:
            try:
                changes = self.table.read_changes(
                    meta["last_version"], cur, include_pre=True
                )
            except FileNotFoundError:
                # the checkpoint snapshot was expired by vacuum/maintain:
                # fall back to ONE full rebuild instead of wedging
                new_state = self._full_aggregate(cur)
                return self._swap(new_state, cur, mode="rebuild")
            delta = self._delta(changes)
            old = self.read().alias("s")
            d = delta.alias("d")
            # NULL-SAFE join on the group key: a nullable group column
            # (e.g. lang) must line its state row up with its delta row —
            # a name-list join would treat NULL != NULL and emit two rows
            cond = None
            for g in self.group_cols:
                term = F.col(f"s.{g}").eqNullSafe(F.col(f"d.{g}"))
                cond = term if cond is None else cond & term
            merged = old.join(d, cond, "full_outer").select(
                *[
                    F.coalesce(F.col(f"s.{g}"), F.col(f"d.{g}")).alias(g)
                    for g in self.group_cols
                ],
                (
                    F.coalesce(F.col("s.n_rows"), F.lit(0))
                    + F.coalesce(F.col("d._dn"), F.lit(0))
                ).alias("n_rows"),
                *[
                    (
                        F.coalesce(F.col(f"s.{n}"), F.lit(0))
                        + F.coalesce(F.col(f"d.{n}"), F.lit(0))
                    ).alias(n)
                    for n in names
                ],
            )
            new_state = merged.filter(F.col("n_rows") > 0)
            mode = "incremental"
        return self._swap(new_state, cur, mode)

    def _swap(self, new_state: DataFrame, cur: int, mode: str) -> dict:
        state_dir = f"state-v{cur:08d}-{uuid.uuid4().hex[:8]}"
        new_state.write.mode("overwrite").parquet(
            os.path.join(self.root, state_dir)
        )
        tmp = self._meta_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "last_version": cur,
                    "state_dir": state_dir,
                    "definition": self._definition(),
                },
                f,
            )
        os.replace(tmp, self._meta_path())
        # sweep every superseded/orphaned state dir (including leftovers
        # from refreshes that crashed between write and swap)
        for name in os.listdir(self.root):
            if name.startswith("state-") and name != state_dir:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return {"mode": mode, "last_version": cur}
