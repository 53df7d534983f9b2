"""Unit tests: normalization / lang tagging / sha256 — Spark vs Python
twins, plus the plan-shape guard (no per-row Python, BASELINE.json:15)."""

from __future__ import annotations

import hashlib
import unicodedata

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_spark.fixtures import events_df
from etl_spark.functions.hashing import content_sha256, content_sha256_py
from etl_spark.functions.lang import tag_lang, tag_lang_py
from etl_spark.functions.normalize import normalize_content, normalize_content_py
from etl_spark.pipeline import canonicalize
from etl_spark.plans.guard import assert_vectorized, executed_plan_str

CASES = [
    "plain\n",
    "crlf line\r\nsecond\r\n",
    "lone cr\rnext\n",
    "trailing spaces   \nmore\t\n",
    "no final newline",
    "many newlines\n\n\n\n",
    "",
    "   ",
    "\n",
    "café nfd accent\n",  # NFC-normalizes
    "tab\tinside\n",
    "mixed   \r\n\r\nend  ",
    "é already nfc\n",
]


def _spark_norm(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "content string")
    out = df.select(normalize_content(F.col("content")).alias("n"))
    assert_vectorized(out)
    return [r["n"] for r in out.collect()]


def test_normalize_matches_python_twin(spark):
    got = _spark_norm(spark, CASES)
    want = [normalize_content_py(v) for v in CASES]
    assert got == want


def test_normalize_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "content string")
    out = df.select(normalize_content(F.col("content")).alias("n")).collect()
    assert out[0]["n"] is None


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters=["\x00"]
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_normalize_property(spark, texts):
    got = _spark_norm(spark, texts)
    want = [normalize_content_py(v) for v in texts]
    assert got == want


# Weighted toward the inputs the rules act on: CRLF and lone CR, runs of
# trailing blanks before a newline and at the end, a decomposed accent
# (e + U+0301) and one non-BMP character.
_HAZARDS = st.sampled_from(
    ["\r", "\r", "\n", "\n", " ", " ", "\t", "e", "e", "\u0301", "\U0001F600"]
)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(_HAZARDS, max_size=30).map("".join),
        min_size=1,
        max_size=20,
    )
)
def test_normalize_property_hazards(spark, texts):
    df = spark.createDataFrame([(v,) for v in texts], "content string")
    rows = df.select(
        normalize_content(F.col("content")).alias("n"),
        normalize_content(F.col("content"), nfc=False).alias("lines"),
    ).collect()
    want = [normalize_content_py(v) for v in texts]
    assert [r["n"] for r in rows] == want
    assert [unicodedata.normalize("NFC", r["lines"]) for r in rows] == want


def test_normalize_nfc_of_nfd_input(spark):
    # pyarrow 16.1's pc.utf8_normalize(..., "NFC") returns NFD input
    # unchanged; normalize_content must not rely on it.  The NFD inputs
    # are built here so the file's own encoding cannot pre-compose them.
    nfd = [
        unicodedata.normalize("NFD", v)
        for v in ["café\n", "Ångström  \r\nnaïve\t\n", "ñ\n\n\n"]
    ]
    values = nfd + [None, "", "   ", "\n", " \t\n  \n\t "]
    got = _spark_norm(spark, values)
    want = [normalize_content_py(v) for v in values]
    assert got == want
    assert got[:3] == ["caf\u00e9\n", "\u00c5ngstr\u00f6m\nna\u00efve\n", "\u00f1\n"]
    assert got[0] != nfd[0]
    assert want[3:] == [None, "", "", "", ""]


@pytest.mark.parametrize("nfc", [True, False])
def test_canonicalize_one_arrow_crossing(spark, nfc):
    plan = executed_plan_str(canonicalize(events_df(spark, 20), nfc=nfc))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "array_join" not in plan


def test_sha256_matches_hashlib(spark):
    vals = [c for c in CASES if c]
    df = spark.createDataFrame([(v,) for v in vals], "content string")
    got = [r["h"] for r in df.select(content_sha256(F.col("content")).alias("h")).collect()]
    want = [hashlib.sha256(v.encode("utf-8")).hexdigest() for v in vals]
    assert got == want
    assert content_sha256_py(vals[0]) == want[0]


LANG_CASES = [
    # (path, content, explicit, expected)
    ("a/b/main.py", "print(1)\n", None, "python"),
    ("x.rs", "fn main() {}\n", None, "rust"),
    ("script", "#!/usr/bin/env python3\nprint(1)\n", None, "python"),
    ("run", "#!/bin/bash\nset -e\n", None, "shell"),
    ("noext", "plain text\n", None, None),
    ("weird.zzz", "???\n", None, None),
    ("x.PY", "caps ext\n", None, "python"),
    ("a.tar.gz", "bin\n", None, None),
    ("m.c", "int main;\n", "ada", "ada"),  # explicit wins
    ("d/e.jsx", "x\n", None, "javascript"),
]


def test_lang_tagging(spark):
    df = spark.createDataFrame(
        [(p, c, e) for p, c, e in [(a, b, c) for a, b, c, _ in LANG_CASES]],
        "path string, content string, lang string",
    )
    out = df.select(
        tag_lang(F.col("path"), F.col("content"), F.col("lang")).alias("t")
    ).collect()
    got = [r["t"] for r in out]
    want = [exp for _, _, _, exp in LANG_CASES]
    assert got == want
    # python twin agrees
    assert [tag_lang_py(p, c, e) for p, c, e, _ in LANG_CASES] == want


def test_plan_guard_catches_per_row_udf(spark):
    from pyspark.sql.functions import udf

    bad = udf(lambda x: x, "string")
    df = spark.range(3).select(bad(F.col("id").cast("string")).alias("x"))
    with pytest.raises(AssertionError, match="BatchEvalPython"):
        assert_vectorized(df)
