"""Canonical schemas for the engine (declared, never inferred).

FIXTURES.md §1.1/§1.2 define the logical shapes; BASELINE.json:15 fixes
the lake-table core columns (repo, path, commit, lang, content).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# change_events — binlog-style event envelope (FIXTURES.md §1.2)
# ---------------------------------------------------------------------------
EVENT_SCHEMA = StructType(
    [
        StructField("seq", LongType(), nullable=False),
        StructField("part_id", IntegerType(), nullable=False),
        StructField("op", StringType(), nullable=False),  # insert | update | delete
        StructField("ts", TimestampType(), nullable=False),
        StructField("repo", StringType(), nullable=False),
        StructField("path", StringType(), nullable=False),
        StructField("commit", StringType(), nullable=False),
        StructField("lang", StringType(), nullable=True),
        StructField("content", StringType(), nullable=True),  # null for deletes
        StructField("extra", MapType(StringType(), StringType()), nullable=True),
    ]
)

EVENT_COLUMNS = [f.name for f in EVENT_SCHEMA.fields]

# ---------------------------------------------------------------------------
# source_code — the keyed lake table (FIXTURES.md §1.1)
# core logical columns + engine system columns
# ---------------------------------------------------------------------------
CORE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
SYSTEM_COLUMNS = ["content_sha", "_ingest_seq", "_batch_id", "_deleted"]

# _deleted: tombstone flag.  Deletes are retained as tombstones so that
# last-write-wins merge converges for ARBITRARY delivery order (a late,
# lower-seq upsert arriving after a delete must lose to the tombstone).
# Tombstones are dropped from reads and GC'd via LakeTable.vacuum().
TABLE_SCHEMA = StructType(
    [
        StructField("repo", StringType(), nullable=False),
        StructField("path", StringType(), nullable=False),
        StructField("commit", StringType(), nullable=False),
        StructField("lang", StringType(), nullable=True),
        StructField("content", StringType(), nullable=True),  # null on tombstones
        StructField("content_sha", StringType(), nullable=True),  # null on tombstones
        StructField("_ingest_seq", LongType(), nullable=False),
        StructField("_batch_id", LongType(), nullable=False),
        StructField("_deleted", BooleanType(), nullable=False),
    ]
)

TABLE_COLUMNS = [f.name for f in TABLE_SCHEMA.fields]

# key of the lake table
KEY_COLUMNS = ["repo", "path"]


def table_schema(columns: list[str]) -> StructType:
    """Declared read schema for a snapshot's ``columns``.

    System and core columns take their ``TABLE_SCHEMA`` types; promoted
    ``extra`` columns are strings (``apply_batch`` refuses any other
    type).  Reading the engine's own files with this schema skips the
    footer-reading inference job, and files written before a column was
    promoted read it as null."""
    declared = {f.name: f for f in TABLE_SCHEMA.fields}
    return StructType(
        [declared.get(c, StructField(c, StringType(), nullable=True)) for c in columns]
    )


# ---------------------------------------------------------------------------
# metrics / lineage table (FIXTURES.md §1.3)
# ---------------------------------------------------------------------------
METRICS_SCHEMA = StructType(
    [
        StructField("batch_id", LongType(), nullable=False),
        StructField("part_id", IntegerType(), nullable=False),
        StructField("start_seq", LongType(), nullable=False),
        StructField("end_seq", LongType(), nullable=False),
        StructField("rows_applied", LongType(), nullable=False),
        StructField("merge_latency_ms", LongType(), nullable=False),
    ]
)
