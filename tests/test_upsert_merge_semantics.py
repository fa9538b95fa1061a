"""The MERGE rule of ``sinks.upsert`` on every layout it rewrites: a
bucketed index (the bucket-scoped merge), a flat one (the one-time
migration to buckets) and a Hive ``_type=``-partitioned one (kept
type-partitioned). Three facts are pinned:

* existing rows whose key the batch does not carry all survive, even
  when the index holds that key more than once (raw appends can);
* the key is null-safe: a NULL ``_type`` row is replaced, not
  duplicated;
* within one batch the winner of a key is the row with the highest
  ``md5(_source)``, then the highest ``_size``.
"""
import hashlib
import json

import pytest
from pyspark.sql import functions as F

from chillastic_spark.sinks import upsert
from chillastic_spark.sources import DocumentStore, bucket_expr

N_BUCKETS = 8
LAYOUTS = ["bucketed", "flat", "type_partitioned"]
SCHEMA = "_index string, _type string, _id string, _source string, _size long"


def _df(spark, rows):
    return spark.createDataFrame(
        [("ix", t, i, json.dumps({"v": v}), s) for t, i, v, s in rows], SCHEMA
    )


def _seed(spark, store, rows, layout):
    """Raw (unmerged) rows in the given layout, duplicates kept."""
    df = _df(spark, rows)
    if layout == "bucketed":
        store.set_bucket_count("ix", N_BUCKETS)
        store.write_documents(df, "ix", mode="append")
    elif layout == "flat":
        store.write_documents(df, "ix", mode="overwrite")
    else:
        store.write_documents(df, "ix", mode="overwrite", partition_by=["_type"])


def _rows_by_id(spark, store):
    got = {}
    for r in store.read(spark, "ix").collect():
        got.setdefault(r["_id"], []).append((r["_type"], json.loads(r["_source"])["v"], r["_size"]))
    return got


def _bucket_sibling(spark, of: str, candidates: list) -> str:
    """A candidate id hashing into the same bucket as ``of``."""
    df = spark.createDataFrame([(i,) for i in [of, *candidates]], "_id string")
    b = {r["_id"]: r["b"] for r in df.select("_id", bucket_expr(N_BUCKETS).alias("b")).collect()}
    return next(i for i in candidates if b[i] == b[of])


@pytest.mark.parametrize("layout", LAYOUTS)
def test_duplicate_old_keys_outside_the_batch_survive(spark, tmp_path, layout):
    store = DocumentStore(str(tmp_path / "s"))
    ids = [f"doc{i}" for i in range(40)]
    rows = [("t", i, n, 10) for n, i in enumerate(ids)] + [("t", "doc1", -1, 10)]
    _seed(spark, store, rows, layout)
    # the batch touches doc1's bucket without carrying doc1
    sib = _bucket_sibling(spark, "doc1", [i for i in ids if i != "doc1"])
    upsert(spark, store, _df(spark, [("t", sib, 1000, 10), ("t", "docNEW", 7, 10)]),
           n_buckets=N_BUCKETS)
    got = _rows_by_id(spark, store)
    assert sorted(got["doc1"]) == [("t", -1, 10), ("t", 1, 10)]
    assert got[sib] == [("t", 1000, 10)]
    assert got["docNEW"] == [("t", 7, 10)]
    assert sum(len(v) for v in got.values()) == 42


@pytest.mark.parametrize("layout", LAYOUTS)
def test_null_type_key_is_replaced_not_duplicated(spark, tmp_path, layout):
    store = DocumentStore(str(tmp_path / "s"))
    _seed(spark, store, [(None, "a", 1, 10), ("t", "b", 2, 10)], layout)
    upsert(spark, store, _df(spark, [(None, "a", 3, 10)]), n_buckets=N_BUCKETS)
    upsert(spark, store, _df(spark, [(None, "a", 4, 10)]), n_buckets=N_BUCKETS)
    got = _rows_by_id(spark, store)
    assert got == {"a": [(None, 4, 10)], "b": [("t", 2, 10)]}


def test_within_batch_tie_break_is_md5_then_size(spark, tmp_path):
    """The winner is fixed by content, never by arrival order, on the
    migrating upsert and on the merging one alike."""
    store = DocumentStore(str(tmp_path / "s"))
    # the md5 winner (17) is neither the first, the last, the largest
    # value nor the largest _source string
    sources = [5, 17, 21, 28]
    win = max(sources, key=lambda v: hashlib.md5(json.dumps({"v": v}).encode()).hexdigest())
    batch = [("t", "k", v, 10) for v in sources] + [("t", "s", 9, 5), ("t", "s", 9, 7)]
    assert win == 17
    for rows in (batch, batch[::-1]):  # migrating, then merging
        assert upsert(spark, store, _df(spark, rows), n_buckets=N_BUCKETS) == 2
        assert _rows_by_id(spark, store) == {"k": [("t", win, 10)], "s": [("t", 9, 7)]}
    assert store.bucket_count("ix") == N_BUCKETS
