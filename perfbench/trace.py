"""Spans around the engine's public calls, recorded from outside.

The tracer patches the listed public methods for the duration of a
traced pass and restores them afterwards; the engine's own files are
never edited.  Spans nest per thread (the streaming sink runs on the
foreachBatch callback thread), carry the batch id of the micro-batch
that caused them, and stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch (Spark's clock too)
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    batch: int | None = None
    attrs: dict = field(default_factory=dict)
    cost: float = 0.0  # seconds the tracer itself spent recording this span

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        c0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = self.spans[parent].batch
        sp = Span(name, time.time(), parent=parent, batch=batch, attrs=attrs)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        cost = time.perf_counter() - c0
        try:
            yield sp
        finally:
            c1 = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            # a sink span learns its table batch id from the apply below it
            if parent is not None and self.spans[parent].batch is None:
                self.spans[parent].batch = sp.batch
            sp.cost = cost + time.perf_counter() - c1

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        ivs = sorted((c.start, c.end) for c in self.children(idx))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.ms - covered * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), default=str) + "\n")

    # ------------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None,
             keep_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``batch_arg`` is the positional index of a batch-id argument;
        ``keep_result`` copies fields of the return value into the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            batch = None
            if batch_arg is not None and len(args) > batch_arg:
                batch = args[batch_arg]
            with tracer.span(name, batch=batch) as sp:
                out = orig(*args, **kwargs)
                if keep_result is not None:
                    sp.attrs.update(keep_result(out))
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every public entry point the per-layer metrics read."""
        from etl_spark.catalog.snapshot import SnapshotLog
        from etl_spark.catalog.table import LakeTable
        from etl_spark.operators.incremental import IncrementalView
        from etl_spark.streaming import sink as sink_mod

        def apply_fields(stats: dict) -> dict:
            keep = ("skipped", "events", "phases", "mode", "compacted",
                    "rewrote_files", "delta_files_pending")
            return {k: stats[k] for k in keep if k in stats}

        # the sink's argument is the streaming epoch, not the table batch
        # id; its span inherits the id from the apply_batch beneath it
        self.wrap(sink_mod.CdcSink, "apply", "CdcSink.apply")
        self.wrap(sink_mod, "observed_extra_keys", "observed_extra_keys")
        self.wrap(LakeTable, "apply_batch", "LakeTable.apply_batch", batch_arg=2,
                  keep_result=apply_fields)
        for attr in ("compact", "snapshot", "read", "read_changes"):
            self.wrap(LakeTable, attr, f"LakeTable.{attr}")
        self.wrap(SnapshotLog, "commit", "SnapshotLog.commit")
        self.wrap(IncrementalView, "refresh", "IncrementalView.refresh")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
