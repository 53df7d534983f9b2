"""Queries must run under sessions the engine did not configure.

``get_spark`` sets byte sizes as bare integers, but any Spark session
may hold them as size strings (``134217728b``, ``4mb``).  A separate
SQL session over the shared context, with only those confs set, runs
the dedup queries whose ``spread`` hint reads them over a small
``documents`` parquet file.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_spark.ops.text import size_bytes
from etl_spark.queries import LOCAL_QUERIES

SIZE_CONFS = {
    "spark.sql.files.maxPartitionBytes": "134217728b",
    "spark.sql.files.openCostInBytes": "4mb",
}

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark value line"
).split()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Directory holding ``documents.parquet``: 40 documents plus 20
    near-duplicates that differ from one of them in the last word."""
    texts = [
        " ".join(WORDS[(i * 7 + j * 3 + j * j) % len(WORDS)] for j in range(20 + i % 9))
        for i in range(40)
    ]
    texts += [t.rsplit(" ", 1)[0] + " vector" for t in texts[:20]]
    d = tmp_path_factory.mktemp("sf")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": [f"src{i % 3}" for i in range(len(texts))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        d / "documents.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def stock(spark):
    s = spark.newSession()
    for k, v in SIZE_CONFS.items():
        s.conf.set(k, v)
    return s


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh_pairs",
        "dedup_cluster_neardups",
        "dedup_simhash64_pairs",
    ],
)
def test_dedup_query_runs_under_size_string_confs(stock, corpus, name):
    assert LOCAL_QUERIES[name](stock, corpus).count() > 0


@pytest.mark.parametrize(
    "value, want",
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("4mb", 4 << 20),
        ("4M", 4 << 20),
        ("1g", 1 << 30),
        (" 2kb ", 2048),
    ],
)
def test_size_bytes_reads_spark_size_strings(value, want):
    assert size_bytes(value) == want


@pytest.mark.parametrize("value", ["", "1.5g", "12 parsecs", "-4mb"])
def test_size_bytes_rejects_malformed(value):
    with pytest.raises(ValueError):
        size_bytes(value)


def test_spread_fails_open(spark, monkeypatch):
    from etl_spark.ops import text

    def unreadable(df):
        raise ValueError("unreadable size conf")

    monkeypatch.setattr(text, "_scan_splits", unreadable)
    df = spark.range(3)
    with pytest.warns(RuntimeWarning, match="no parallelism hint"):
        assert text.spread(df) is df
