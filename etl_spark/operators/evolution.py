"""Additive schema evolution (BASELINE.json:6: "new columns back-filled
as nulls").

A mid-stream new column first travels inside the event envelope's
``extra`` map (so the streaming query never restarts on schema change —
file sources would otherwise require it).  The sink promotes observed
extra keys to top-level columns data-driven:

- per batch, one tiny agg discovers the distinct extra keys present;
- keys already promoted (recorded in the table snapshot's column list)
  plus newly observed ones become top-level string columns via
  ``try_element_at(extra, k)`` (null when absent — the back-fill);
- the table commit bumps ``schema_version`` and appends the columns;
  readers declare the snapshot's schema (promoted columns are strings,
  ``schemas.table_schema``), so files written before a promotion read
  the new column as null without a schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.schemas import TABLE_COLUMNS

# names that can never be promoted (core schema + engine internals)
RESERVED = set(TABLE_COLUMNS) | {"seq", "part_id", "op", "ts", "extra", "bucket"}

# promotable names must be plain identifiers: a key like "a.b" or
# "a`b" would be parsed as nested-field access / break quoting in every
# downstream F.col()/select(), killing the stream on a poison event —
# and the "_" / "pre_" prefixes are engine temporaries (_rn, _dn, ...)
# and changelog pre-images respectively
PROMOTABLE_RE = "^(?!pre_)[A-Za-z][A-Za-z0-9_]*$"


def observed_extra_keys(batch: DataFrame, max_keys: int = 64) -> list[str]:
    """Distinct keys present in the batch's ``extra`` maps (small agg).

    Capped at ``max_keys`` (executor-side TakeOrdered, deterministic
    first-alphabetical): schema keys are few by design, and a poisoned
    batch carrying millions of distinct map keys must not flood the
    driver or the table schema — surplus keys simply stay in ``extra``
    until a later batch promotes them."""
    if "extra" not in batch.columns:
        return []
    rows = (
        batch.select(F.explode(F.map_keys("extra")).alias("k"))
        # reserved / non-identifier names are filtered BEFORE the cap so
        # they can never consume promotion slots in a key-flooded batch
        # (a malformed key stays in `extra` instead of wedging the query)
        .filter(~F.col("k").isin(sorted(RESERVED)))
        .filter(F.col("k").rlike(PROMOTABLE_RE))
        .distinct()
        .orderBy("k")
        .limit(max_keys)
        .collect()
    )
    return sorted(r["k"] for r in rows)


def promote_extra(batch: DataFrame, promoted: list[str]) -> DataFrame:
    """Lift ``promoted`` extra-map keys to top-level (null-backfilled)."""
    import re

    out = batch
    for k in promoted:
        if k in RESERVED or k in out.columns or not re.match(PROMOTABLE_RE, k):
            continue
        out = out.withColumn(k, F.try_element_at(F.col("extra"), F.lit(k)))
    return out
