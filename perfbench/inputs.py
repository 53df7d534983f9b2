"""Workload inputs: seeded change events cut into binlog segments, and the
serial oracle's expectations for them.

Events are drawn from a seeded numpy generator, so the same seed gives
the same events.  Segments are written with pyarrow: in-order
seq ranges, each re-delivering a seeded share of the previous segment's
events (the at-least-once source contract: a duplicate never arrives
before its original).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# KB-wide source files, a 20% hot repo, 500 cold repos
SHAPE = dict(n_repos=500, paths_per_repo=20, hot_pct=20, content_bytes=1024)
HOT_REPO = "repo-hot"
COLD_REPO = "repo-7"


# Arrow twin of etl_spark.schemas.EVENT_SCHEMA
EVENT_ARROW = pa.schema([
    ("seq", pa.int64()),
    ("part_id", pa.int32()),
    ("op", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
    ("extra", pa.map_(pa.string(), pa.string())),
])


_TAILS = [
    "\r\nint x = 1;   \r\nreturn x;\n",
    "\nline with trailing spaces   \nnext\t\n\n\n",
    "\n{accent} unicode line\n",
    "\nno final newline",
    "\nplain line\n",
]
_FILLER = "    let value_{k} = compute(input);   \r\n"


def generate(n: int, seed: int) -> pa.Table:
    """``n`` change events (seq 0..n-1) drawn from ``seed``, in the shape of
    the engine's fixture generator (``etl_spark.fixtures``): 45% updates,
    5% deletes, the rest inserts; the hot repo has 4x the paths of a
    cold one; content is KB-wide with the CRLF, trailing-space, tab and
    NFD-accent lines that normalize and the NFC hop must fix.  Numpy
    draws keep set-up short at 10^5 events."""
    from etl_spark.fixtures import _EXTS, _NFD_ACCENT, TS_EPOCH

    rng = np.random.default_rng(seed)
    seq = np.arange(n, dtype=np.int64)
    hot = rng.integers(0, 100, n) < SHAPE["hot_pct"]
    cold = rng.integers(0, SHAPE["n_repos"], n)
    n_paths = np.where(hot, SHAPE["paths_per_repo"] * 4, SHAPE["paths_per_repo"])
    path_id = rng.integers(0, 1 << 30, n) % n_paths
    ext = rng.integers(0, len(_EXTS), n)
    mod = rng.integers(0, 8, n)
    opr = rng.integers(0, 100, n)
    op = np.where((opr < 5) & (seq > 100), "delete",
                  np.where(opr < 50, "update", "insert"))
    tail = rng.integers(0, len(_TAILS), n)
    ada = rng.integers(0, 100, n) < 5
    tails = [t.format(accent=_NFD_ACCENT) for t in _TAILS]
    reps = max(1, SHAPE["content_bytes"] // len(_FILLER.format(k=0)))
    fill = [_FILLER.format(k=k) * reps for k in range(97)]
    repo = [HOT_REPO if h else f"repo-{c}" for h, c in zip(hot, cold)]
    path = [f"src/m{m}/f{i}.{_EXTS[e]}" for m, i, e in zip(mod, path_id, ext)]
    content = [
        None if o == "delete" else f"// {r}:{p} v{s}{tails[t]}{fill[s % 97]}"
        for s, o, r, p, t in zip(range(n), op, repo, path, tail)
    ]
    commit = [hashlib.sha256(f"c{s}".encode()).hexdigest()[:40] for s in range(n)]
    return pa.table({
        "seq": seq,
        "part_id": (seq % 4).astype(np.int32),
        "op": op.astype(object),
        "ts": (TS_EPOCH + seq) * 1_000_000,
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": pa.array(np.where(ada, "ada", None), pa.string()),
        "content": content,
        "extra": pa.nulls(n, EVENT_ARROW.field("extra").type),
    }, schema=EVENT_ARROW)


def cut(events: pa.Table, sizes: list[int], dup_pct: float, seed: int) -> list[pa.Table]:
    """Cut ``events`` (seq-sorted) into consecutive segments of ``sizes``
    rows; each segment after the first also re-delivers ``dup_pct``% of
    its predecessor's events."""
    if sum(sizes) > events.num_rows:
        raise ValueError("not enough events for the segments")
    rng = np.random.default_rng(seed)
    out, lo, prev = [], 0, None
    for size in sizes:
        seg = events.slice(lo, size)
        lo += size
        if prev is not None and dup_pct > 0:
            pick = rng.random(prev.num_rows) < dup_pct / 100.0
            seg = pa.concat_tables([prev.filter(pa.array(pick)), seg])
        out.append(seg)
        prev = events.slice(lo - size, size)
    return out


def last_seq(seg: pa.Table) -> int:
    return int(pc.max(seg["seq"]).as_py())


def write(seg: pa.Table, path: str, row_groups: int = 1) -> None:
    """One parquet file per segment; ``row_groups`` splits keep a large
    segment scannable by several tasks without a repartition."""
    rg = max(1, -(-seg.num_rows // max(1, row_groups)))
    pq.write_table(seg, path, row_group_size=rg)


class Expected:
    """Oracle expectations for a set of delivered events.

    Row counts, per-repo counts and changelog sizes come from a
    vectorized key-level last-write-wins replay; the content-level serial
    oracle (normalize, lang, sha256 twins) runs only when the full-state
    digest is asked for."""

    def __init__(self, events: list[pa.Table]):
        self.tables = events
        self.events = pd.concat(
            [t.select(["seq", "op", "repo", "path", "commit"]).to_pandas()
             for t in events],
            ignore_index=True,
        )
        last = self.events.sort_values("seq", kind="mergesort").drop_duplicates(
            ["repo", "path"], keep="last"
        )
        self.keys = last.loc[last["op"] != "delete", ["repo", "path", "commit"]]

    def digest(self, repos: list[str]) -> str:
        """Content-level oracle digest of the final rows of ``repos``."""
        from etl_spark.oracle import replay_events, state_digest

        cols = ["seq", "op", "repo", "path", "commit", "lang", "content"]
        pick = pa.array(repos)
        sample = pd.concat(
            [t.filter(pc.is_in(t["repo"], value_set=pick)).select(cols).to_pandas()
             for t in self.tables],
            ignore_index=True,
        )
        return state_digest(replay_events(sample))

    def rows(self) -> int:
        return len(self.keys)

    def repo_rows(self, repo: str) -> int:
        return int((self.keys["repo"] == repo).sum())

    def per_repo(self) -> dict[str, int]:
        return {str(k): int(v) for k, v in self.keys.groupby("repo").size().items()}

    def changed_since(self, before: "Expected | None") -> int:
        """Keys whose live image differs from ``before`` (a changelog's size)."""
        if before is None:
            return self.rows()
        m = before.keys.merge(self.keys, on=["repo", "path"], how="outer",
                              suffixes=("_a", "_b"))
        return int((m["commit_a"] != m["commit_b"]).sum())
