"""The one gram builder and its DuckDB twin.

``operators.dedup.shingles`` (explode of the distinct
``functions.gram_hashes``) must produce, doc for doc, the gh set the
oracles compute with ``hash60_sql(unnest(grams_sql(words_sql(text), n)))``
— on the edge texts where tokenisers usually disagree.
"""
import hashlib

import pytest

from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D

EDGE_TEXTS = [
    (1, ""),
    (2, " \t\n  \r "),
    (3, None),
    (4, "one two"),
    (5, "a b a b a b a b a b a b a b"),  # grams repeat within the doc
    (6, "\n\tlead and trail whitespace on both edges\t\n"),
    (7, "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps in the warm sun"),
]


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", EDGE_TEXTS)
    yield con
    con.close()


@pytest.mark.parametrize("n", [1, 2, 3, 5, 12])
def test_shingles_match_duckdb_twin_on_edge_texts(spark, duck, n):
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    got: dict = {}
    for r in D.shingles(df, "doc_id", "text", n).collect():
        got.setdefault(r["doc_id"], set()).add(r["gh"])
    want: dict = {}
    sql = (
        f"SELECT doc_id, "
        f"{CF.hash60_sql(f'unnest({CF.grams_sql(CF.words_sql(), n)})')} AS gh "
        f"FROM documents"
    )
    for doc_id, gh in duck.execute(sql).fetchall():
        want.setdefault(doc_id, set()).add(gh)
    assert got == want
    assert 3 not in got  # NULL text has no grams on either engine
    if n > 2:
        assert 4 not in got  # shorter than n: no grams, not junk


def test_gram_hashes_keep_order_and_duplicates(spark):
    df = spark.createDataFrame([("x y x y x",)], "text string")
    w = df.select(CF.words("text").alias("w"))
    got = w.select(CF.gram_hashes(F.col("w"), 2).alias("g")).first()["g"]
    assert got == [_h60("x y"), _h60("y x"), _h60("x y"), _h60("y x")]


def test_gram_hashes_short_doc(spark):
    # guard: sequence(1,k) descends for k<1 — must yield empty, not junk
    df = spark.createDataFrame([("one two",), ("a b c",)], "text string")
    w = df.select(CF.words("text").alias("w"))
    got = w.select(F.size(CF.gram_hashes(F.col("w"), 3)).alias("n")).collect()
    assert sorted(r["n"] for r in got) == [0, 1]
