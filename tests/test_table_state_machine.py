"""Stateful differential test: random sequences of table operations
against the serial oracle.

A hypothesis ``RuleBasedStateMachine`` drives one tiny table through
``apply_batch`` (copy-on-write / merge-on-read / auto x ordered /
unordered delivery, with re-delivered duplicates, out-of-order seqs and
seq ties across source partitions, and now and then an already-fenced
batch id), ``compact`` (targeted — including a
partial multi-bucket delta —, full, and bucket rescale) and
``rollback``.  A model tracks, per committed version, the admitted
events, the watermark vector and the fence.  After every step:

- ``read()`` equals ``oracle.replay_events`` over the admitted events;
- no key appears twice in the base files;
- ``snapshot().live_row_count()``, when known, equals the rows read.

The shapes are tiny (three repos in three different buckets, four paths
each, batches of up to 20 events) and ``mor_small_delta_bytes`` is low,
so merge-on-read batches take both the single-file delta and the kernel
delta, and debt trips fold inline.  Hot-repo promotion is reachable
(``hot_min_rows`` is small).  Vacuum and crash-restart are not modelled.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import uuid
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

from etl_spark.catalog.table import LakeTable
from etl_spark.functions.xxhash import cold_bucket
from etl_spark.oracle import FINAL_COLUMNS, replay_events
from etl_spark.pipeline import canonicalize
from etl_spark.schemas import EVENT_SCHEMA

REPOS = ["alpha", "beta", "eta"]  # cold buckets 3, 1, 2 of 4
PATHS = [f"src/m{i}.py" for i in range(4)]
T0 = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Model:
    admitted: tuple  # ((part_id, seq), batch_id) per admitted event
    wm: tuple  # sorted (part_id, seq) watermark vector
    fence: int


def _row(seq: int, part: int, repo: str, path: str, op: str, variant: int):
    return {
        "seq": seq, "part_id": part, "op": op, "ts": T0 + dt.timedelta(seconds=seq),
        "repo": repo, "path": path, "commit": f"c{seq}p{part}", "lang": None,
        "content": None if op == "delete" else f"v{variant}  \r\nbody {seq}\t\n",
        "extra": None,
    }


class TableMachine(RuleBasedStateMachine):
    def __init__(self, spark, root):
        super().__init__()
        self.spark = spark
        self.t = LakeTable.create(
            spark, root, n_buckets=4, salt=2, hot_min_rows=30, hot_frac=0.45,
            mor_min_amplification=2.0, mor_small_delta_bytes=600,
            mor_compact_ratio=2.0, mor_max_delta_files=4,
        )
        self.events: dict[tuple[int, int], dict] = {}  # (part, seq) -> row
        self.hi = 0
        self.n_applied = 0
        self.version = self.t.log.current_version()
        self.states = {self.version: Model((), (), -1)}

    def _record(self, model: Model) -> None:
        """Map every version committed since the last step to ``model``."""
        cur = self.t.log.current_version()
        for v in range(self.version + 1, cur + 1):
            self.states[v] = model
        self.version = cur

    @initialize()
    def base(self):
        """Every key once, copy-on-write: later batches update rows that
        already sit in base files of every bucket."""
        rows = [
            self._event(i % 2, repo, path, "upsert", 0)
            for i, (repo, path) in enumerate(
                (r, p) for r in REPOS for p in PATHS
            )
        ]
        self._apply(rows, "cow", "ordered")

    def _event(self, part: int, repo: str, path: str, op: str, variant: int,
               off: int = 1) -> dict:
        """The event at seq ``hi + off`` of source partition ``part``.
        (part_id, seq) names one event: drawing it again is a re-delivery
        of the identical row."""
        seq = max(0, self.hi + off)
        row = self.events.setdefault(
            (part, seq), _row(seq, part, repo, path, op, variant)
        )
        self.hi = max(self.hi, seq + 1)
        return row

    def _draw_batch(self, rnd, n: int, repos: list[str]) -> list[dict]:
        """``n`` events over ``repos``: a fifth are deletes, and half land
        at or below the newest seq (out of order, re-delivered, or tied
        with the other partition)."""
        return [
            self._event(
                rnd.randint(0, 1), rnd.choice(repos), rnd.choice(PATHS),
                "delete" if rnd.random() < 0.2 else "upsert",
                rnd.randint(0, 2), rnd.randint(-4, 3),
            )
            for _ in range(n)
        ]

    def _split_delta_repos(self) -> list[str]:
        """Cold repos whose bucket lies in a pending multi-bucket delta
        file that also spans other buckets."""
        snap = self.t.snapshot()
        spans = [set(e.buckets) for e in snap.delta_files if len(e.buckets) > 1]
        return [
            r for r in REPOS
            if r not in snap.hot_repos
            and any(cold_bucket(r, snap.n_buckets) in s for s in spans)
        ]

    def _apply(self, rows, mode, delivery, stale=False):
        model = self.states[self.version]
        if stale:
            # a re-delivered batch id at or below the fence is a no-op
            st_ = self.t.apply_batch(
                self.spark.createDataFrame(rows, EVENT_SCHEMA), model.fence,
                canonicalizer=canonicalize,
            )
            assert st_["skipped"]
            return
        wm = dict(model.wm)
        admitted = [
            r for r in rows
            if delivery == "unordered" or r["seq"] > wm.get(r["part_id"], -1)
        ]
        for r in admitted:
            wm[r["part_id"]] = max(wm.get(r["part_id"], -1), r["seq"])
        bid = model.fence + 1
        self.t.apply_batch(
            self.spark.createDataFrame(rows, EVENT_SCHEMA), bid,
            delivery=delivery, canonicalizer=canonicalize, mode=mode,
        )
        self._record(Model(
            model.admitted + tuple(((r["part_id"], r["seq"]), bid) for r in admitted),
            tuple(sorted(wm.items())), bid,
        ))

    @rule(rnd=st.randoms(use_true_random=True))
    def apply_batch(self, rnd):
        """One batch whose size, repos, mode, delivery and
        events all come from ``rnd``: tail-sized batches land under
        merge-on-read as one delta file for all their buckets, bigger
        ones as the kernel's per-bucket files.  The batch count is mixed
        into the seed so the all-zero first example is a varied run too,
        not one batch repeated."""
        self.n_applied += 1
        rnd = random.Random(rnd.getrandbits(32) * 1000 + self.n_applied)
        n = rnd.randint(*rnd.choice([(1, 4), (8, 16)]))
        repos = rnd.choice(
            [REPOS, REPOS[:2], REPOS[1:], REPOS[::2]] + [[r] for r in REPOS]
        )
        self._apply(
            self._draw_batch(rnd, n, repos),
            rnd.choice(["auto", "auto", "cow", "mor"]),
            rnd.choice(["ordered", "unordered"]),
            stale=rnd.random() < 0.1,
        )

    @precondition(lambda self: self._split_delta_repos())
    @rule(rnd=st.randoms(use_true_random=True))
    def apply_cow_batch_over_part_of_a_delta(self, rnd):
        """Copy-on-write on one bucket of a pending multi-bucket delta
        file: the rewrite must take the file's other buckets along."""
        repo = rnd.choice(self._split_delta_repos())
        self._apply(
            self._draw_batch(rnd, rnd.randint(1, 4), [repo]), "cow",
            rnd.choice(["ordered", "unordered"]),
        )

    @rule(
        data=st.data(),
        kind=st.sampled_from(["targeted", "targeted", "full", "rescale", "rollback"]),
    )
    def compact_or_roll_back(self, data, kind):
        """Maintenance between batches: a compaction, or a rollback."""
        snap = self.t.snapshot()
        model = self.states[self.version]
        if kind == "targeted":
            spans = sorted({b for e in snap.files + snap.delta_files for b in e.buckets})
            sel = data.draw(st.lists(
                st.sampled_from(spans or [0]), min_size=1, max_size=2, unique=True
            ))
            self.t.compact(buckets=sel)
        elif kind == "full":
            self.t.compact()
        elif kind == "rescale":
            self.t.compact(n_buckets=data.draw(st.sampled_from([2, 3, 4])))
        elif self.version > 0:
            # the simplest draw undoes the last commit
            target = data.draw(
                st.sampled_from(sorted(self.states, reverse=True)[1:])
            )
            self.t.rollback(target)
            model = self.states[target]
        self._record(model)

    @invariant()
    def matches_the_serial_oracle(self):
        model = self.states[self.version]
        # LWW order: highest seq wins; a seq tie goes to the earliest
        # applied batch, then (within a batch) the highest part_id.
        # replay_events sorts stably by seq, so the winner goes last.
        ordered = sorted(model.admitted, key=lambda a: (a[0][1], -a[1], a[0][0]))
        events = pd.DataFrame(
            [self.events[k] for k, _ in ordered],
            columns=["seq", "op", "repo", "path", "commit", "lang", "content"],
        )
        want = replay_events(events)[FINAL_COLUMNS]
        got = (
            self.t.read().select(*FINAL_COLUMNS).toPandas()
            .sort_values(["repo", "path"], kind="mergesort")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

        snap = self.t.snapshot()
        keys = [
            k
            for e in snap.files
            for k in zip(*pq.read_table(
                os.path.join(self.t.root, e.path), columns=["repo", "path"]
            ).to_pydict().values())
        ]
        assert len(keys) == len(set(keys)), "a key appears twice in the base"
        live = snap.live_row_count()
        if live is not None:
            assert live == len(got)


def test_table_api_matches_serial_oracle(spark, tmp_path):
    run_state_machine_as_test(
        lambda: TableMachine(spark, str(tmp_path / uuid.uuid4().hex[:8])),
        settings=settings(
            max_examples=3,
            stateful_step_count=13,
            deadline=None,
            derandomize=True,
            database=None,
            # every step runs Spark jobs: report a failure unshrunk
            # rather than spend minutes minimizing it
            phases=[Phase.generate],
            suppress_health_check=list(HealthCheck),
        ),
    )
