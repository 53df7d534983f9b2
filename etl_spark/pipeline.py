"""The row-transform pipeline: raw change events -> canonical upsert rows.

canonicalize(events) applies, fully vectorized:
  1. content normalization (one Arrow UDF: pyarrow kernels for line
     endings and whitespace, NFC on non-ASCII rows)
  2. lang tagging (explicit > extension > shebang)
  3. sha256 fingerprint of the NORMALIZED content (the per-row invariant)

Deletes pass through with null content/sha.  The output carries the full
event envelope (seq/part_id/op/ts/extra) — the merge operators downstream
consume it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.functions.hashing import content_sha256
from etl_spark.functions.lang import tag_lang
from etl_spark.functions.normalize import normalize_content

CANONICAL_COLUMNS = [
    "seq",
    "part_id",
    "op",
    "ts",
    "repo",
    "path",
    "commit",
    "lang",
    "content",
    "content_sha",
    "extra",
]


def canonicalize(events: DataFrame, nfc: bool = True) -> DataFrame:
    """events (EVENT_SCHEMA-shaped) -> canonical upsert rows."""
    norm = normalize_content(F.col("content"), nfc=nfc)
    out = (
        events.withColumn("content", norm)
        .withColumn("lang", tag_lang(F.col("path"), F.col("content"), F.col("lang")))
        .withColumn("content_sha", content_sha256(F.col("content")))
    )
    cols = [c for c in CANONICAL_COLUMNS if c in out.columns]
    return out.select(*cols)
