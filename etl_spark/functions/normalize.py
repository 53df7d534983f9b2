"""Content normalization — the first row transform of the CDC pipeline.

Rules (applied in order; dual-implemented in ``etl_spark.oracle`` and
cross-checked by tests):

1. line-ending canonicalization: CRLF / lone CR -> LF
2. per-line trailing [space,tab] strip
3. trailing-newline collapse + final-newline policy: non-empty content
   ends with exactly one ``\\n``; content that normalizes to empty stays ""
4. unicode NFC normalization

All four steps run in ONE Arrow crossing: a PySpark ``arrow_udf`` that
takes the content column as a ``pa.Array`` and returns one.  NFC has no
Spark builtin, so content must reach Python anyway; once every row
crosses, the cheapest place for steps 1-3 is the same crossing, in
Arrow's C++ kernels.  The JVM alternative (literal ``replace`` plus
``split`` / ``transform(rtrim)`` / ``array_join``) allocated an array
per dirty row and cost ~70% of canonicalize.

- Steps 1-3 are ``pyarrow.compute`` kernels.  The two regex passes run
  on RE2, which is linear-time and allocates no per-match state, unlike
  Java's ``regexp_replace``.
- Step 4 runs only on rows with non-ASCII bytes (``string_is_ascii``;
  ASCII is NFC-invariant).  Those rows go through ``unicodedata`` and
  are scattered back with ``replace_with_mask``.
  ``pc.utf8_normalize`` is NOT used: in pyarrow 16.1 it returns NFD
  input unchanged (``utf8_normalize(NFD("café"), "NFC")`` keeps 5
  code points).  A test pins this with NFD inputs built at run time.

Per-row Python UDFs are banned engine-wide (BASELINE.json:15); a
plan-shape test asserts one ArrowEvalPython node and no BatchEvalPython.
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType


def _canonical_lines(a: pa.Array) -> pa.Array:
    """Steps 1-3 on an Arrow string array (nulls propagate)."""
    a = pc.replace_substring(a, "\r\n", "\n")
    a = pc.replace_substring(a, "\r", "\n")
    a = pc.replace_substring_regex(a, r"[ \t]+\n", "\n")
    # after the pass above no [ \t] precedes a "\n", so the end run is
    # \n*[ \t]*: the twin's two end strips in one pass
    a = pc.replace_substring_regex(a, r"[ \t\n]+$", "")
    return pc.if_else(
        pc.greater(pc.binary_length(a), 0),
        pc.binary_join_element_wise(a, "\n", ""),
        a,
    )


def _nfc(a: pa.Array) -> pa.Array:
    """Step 4: NFC on the non-ASCII rows only (nulls propagate)."""
    mask = pc.invert(pc.fill_null(pc.string_is_ascii(a), True))
    if not pc.any(mask).as_py():
        return a
    fixed = [unicodedata.normalize("NFC", s) for s in pc.filter(a, mask).to_pylist()]
    return pc.replace_with_mask(a, mask, pa.array(fixed, a.type))


@arrow_udf(StringType())
def _normalize_nfc(a: pa.Array) -> pa.Array:
    return _nfc(_canonical_lines(a))


@arrow_udf(StringType())
def _normalize_no_nfc(a: pa.Array) -> pa.Array:
    return _canonical_lines(a)


def normalize_content(col: Column, nfc: bool = True) -> Column:
    """Full normalization of a content column (null-safe: null -> null).
    ``nfc=False`` stops after step 3."""
    return (_normalize_nfc if nfc else _normalize_no_nfc)(col)


# ---------------------------------------------------------------------------
# Python twin (oracle + property tests)
# ---------------------------------------------------------------------------
import re  # noqa: E402

_TRAIL_WS_NL = re.compile(r"[ \t]+\n")
_TRAIL_WS_END = re.compile(r"[ \t]+$")
_TRAIL_NL = re.compile(r"\n+$")


def normalize_content_py(s: str | None) -> str | None:
    """Reference Python implementation — must match ``normalize_content``."""
    if s is None:
        return None
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = _TRAIL_WS_NL.sub("\n", s)
    s = _TRAIL_WS_END.sub("", s)
    s = _TRAIL_NL.sub("", s)
    if s:
        s = s + "\n"
    return unicodedata.normalize("NFC", s)
