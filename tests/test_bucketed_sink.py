"""Bucket-scoped MERGE: an upsert of k docs rewrites ONLY the buckets
containing those keys (VERDICT r2 item 2 — the S4 sink must not cost
O(|index|) per batch). Proven at the filesystem level: untouched bucket
dirs keep the same inodes and mtimes across a merge."""
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from chillastic_spark.sinks import purge, upsert
from chillastic_spark.sources import DocumentStore, bucket_expr

N_BUCKETS = 8


def _corpus(spark, n=200):
    return spark.range(n).select(
        F.lit("ix").alias("_index"),
        F.lit("t").alias("_type"),
        F.concat(F.lit("doc"), F.col("id")).alias("_id"),
        F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
        F.lit(10).cast("long").alias("_size"),
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [("ix", "t", _id, json.dumps({"v": v}), 10) for _id, v in rows],
        "_index string, _type string, _id string, _source string, _size long",
    )


def _buckets_of(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "_id string")
    return {
        r["b"] for r in df.select(bucket_expr(N_BUCKETS).alias("b")).collect()
    }


def _bucket_sigs(store, index):
    """{bucket_dir_name: {(file, inode, mtime_ns)}} for every bucket."""
    sigs = {}
    for p in store.bucket_paths(index):
        st = {
            (f, os.stat(os.path.join(p, f)).st_ino, os.stat(os.path.join(p, f)).st_mtime_ns)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }
        sigs[os.path.basename(p)] = st
    return sigs


def test_first_upsert_migrates_to_bucketed_layout(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    assert upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS) == 200
    assert store.bucket_count("ix") == N_BUCKETS
    assert len(store.bucket_paths("ix")) <= N_BUCKETS
    assert store.read(spark, "ix").count() == 200
    # all 200 ids present exactly once
    assert store.read(spark, "ix").select("_id").distinct().count() == 200


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")

    batch_ids = ["doc0", "doc1", "docNEW"]
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, batch_ids)}
    upsert(
        spark, store,
        _batch(spark, [("doc0", 1000), ("doc1", 1001), ("docNEW", 1002)]),
        n_buckets=N_BUCKETS,
    )
    after = _bucket_sigs(store, "ix")

    untouched_seen = 0
    for name, sig in before.items():
        if name in touched:
            assert after[name] != sig, f"touched bucket {name} not rewritten"
        else:
            assert after[name] == sig, (
                f"untouched bucket {name} was rewritten — merge is not bucket-scoped"
            )
            untouched_seen += 1
    assert untouched_seen >= 1  # the claim is vacuous if every bucket was hit

    # merge semantics intact: updates landed, insert landed, count is 201
    got = {
        r["_id"]: json.loads(r["_source"])["v"]
        for r in store.read(spark, "ix").collect()
    }
    assert len(got) == 201
    assert got["doc0"] == 1000 and got["doc1"] == 1001 and got["docNEW"] == 1002
    assert got["doc5"] == 5  # untouched doc unchanged


def test_bucketed_upsert_is_idempotent(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    b = _batch(spark, [("a", 1), ("b", 2)])
    upsert(spark, store, _corpus(spark, 50), n_buckets=N_BUCKETS)
    upsert(spark, store, b, n_buckets=N_BUCKETS)
    upsert(spark, store, b, n_buckets=N_BUCKETS)  # re-delivery
    assert store.read(spark, "ix").count() == 52


def test_bucket_pruned_read(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 100), n_buckets=N_BUCKETS)
    ids = [f"doc{i}" for i in range(100)]
    some = _buckets_of(spark, ids[:10])
    pruned = store.read(spark, "ix", buckets=sorted(some))
    full = store.read(spark, "ix")
    assert pruned.count() < full.count()
    # pruned read contains every doc whose id hashes into those buckets
    want = {
        i for i in ids if next(iter(_buckets_of(spark, [i]))) in some
    }
    assert {r["_id"] for r in pruned.collect()} == want


def test_bucketed_purge_rewrites_only_victim_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")
    victims = ["doc3", "doc7"]
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, victims)}
    assert purge(spark, store, "ix", victims) == 2
    after = _bucket_sigs(store, "ix")
    for name, sig in before.items():
        if name not in touched:
            assert after.get(name) == sig, f"untouched bucket {name} rewritten by purge"
    assert store.read(spark, "ix").count() == 198


def test_write_documents_append_routes_into_buckets(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 40), n_buckets=N_BUCKETS)
    before = _bucket_sigs(store, "ix")
    extra = _batch(spark, [("x1", 1), ("x2", 2)])
    store.write_documents(extra, "ix", mode="append")
    after = _bucket_sigs(store, "ix")
    # raw append adds files, never rewrites existing ones
    for name, sig in before.items():
        assert sig <= after.get(name, set()), f"append rewrote files in {name}"
    assert store.read(spark, "ix").count() == 42


def test_bucketed_compaction_preserves_layout_and_content(spark, tmp_path):
    from chillastic_spark.sources.maintenance import compact_index

    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 60), n_buckets=N_BUCKETS)
    # several appends → many small files per bucket
    for i in range(3):
        store.write_documents(
            _batch(spark, [(f"y{i}a", i), (f"y{i}b", i)]), "ix", mode="append"
        )
    res = compact_index(spark, store, "ix", target_file_bytes=1 << 30)
    assert res["compacted"]
    assert res["after"]["n_files"] <= res["before"]["n_files"]
    assert store.bucket_count("ix") == N_BUCKETS  # layout survives OPTIMIZE
    assert store.read(spark, "ix").count() == 66
    # a follow-up merge still only touches its buckets
    before = _bucket_sigs(store, "ix")
    touched = {f"bucket-{b:04d}" for b in _buckets_of(spark, ["doc0"])}
    upsert(spark, store, _batch(spark, [("doc0", 9)]), n_buckets=N_BUCKETS)
    after = _bucket_sigs(store, "ix")
    for name, sig in before.items():
        if name not in touched:
            assert after[name] == sig


def test_stray_scratch_dirs_do_not_break_reads(spark, tmp_path):
    """A crash can leave .merge-/.old- scratch dirs behind; reads and
    index listings must ignore them."""
    import os

    import shutil

    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 30), n_buckets=N_BUCKETS)
    os.makedirs(store.index_path("ix") + ".merge-deadbeef/__bucket=0")
    os.makedirs(store.index_path("ix") + ".old-cafe")
    # a DATA-BEARING swap leftover: copy a live bucket to bucket-NNNN.old-x
    live = store.bucket_paths("ix")[0]
    shutil.copytree(live, live + ".old-1234")
    assert store.list_data_indices() == ["ix"]
    assert store.read(spark, "ix").count() == 30  # no double-count
    # and a subsequent merge still works
    upsert(spark, store, _batch(spark, [("z", 1)]), n_buckets=N_BUCKETS)
    assert store.read(spark, "ix").count() == 31


def test_null_typed_docs_replace_instead_of_duplicating(spark, tmp_path):
    """Typeless envelopes (_type NULL — ES 7+/8 documents) must MERGE:
    a plain equi-join anti-join never matches NULL == NULL, which
    silently duplicated every null-typed doc on re-upsert."""
    store = DocumentStore(str(tmp_path / "s"))
    nullbatch = spark.createDataFrame(
        [("ix", None, "a", json.dumps({"v": 1}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    upsert(spark, store, nullbatch, n_buckets=N_BUCKETS)
    newer = spark.createDataFrame(
        [("ix", None, "a", json.dumps({"v": 2}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    upsert(spark, store, newer, n_buckets=N_BUCKETS)
    rows = store.read(spark, "ix").collect()
    assert len(rows) == 1, rows  # replaced, not duplicated
    assert json.loads(rows[0]["_source"]) == {"v": 2}


def test_null_index_is_a_clear_error(spark, tmp_path):
    import pytest

    store = DocumentStore(str(tmp_path / "s2"))
    bad = spark.createDataFrame(
        [(None, "t", "a", json.dumps({"v": 1}), 10)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    with pytest.raises(ValueError, match="NULL _index"):
        upsert(spark, store, bad, n_buckets=N_BUCKETS)


def test_upsert_heals_interrupted_bucket_swap(spark, tmp_path):
    """A crash between _swap_bucket's two renames leaves the live
    bucket only in a .old- dir that readers deliberately ignore — the
    next delivery must restore it BEFORE merging, or the bucket's
    pre-crash rows are permanently dropped."""
    import os

    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "store"))
    upsert(spark, store, _corpus(spark, 100), n_buckets=N_BUCKETS)
    victim = store.bucket_paths("ix")[0]
    os.rename(victim, victim + ".old-crashed1")
    assert not os.path.isdir(victim)  # the crash window
    # next delivery heals first, then merges — nothing lost
    upsert(spark, store, _batch(spark, [("docNEW", 1)]), n_buckets=N_BUCKETS)
    assert store.read(spark, "ix").count() == 101


def _upsert_jobs(spark, store, df, **kw) -> int:
    """Spark jobs one upsert launches: statusTracker ids under a job
    group set for the call alone."""
    sc = spark.sparkContext
    group = "upsert-budget-" + uuid.uuid4().hex
    sc.setJobGroup(group, "upsert job budget")
    try:
        upsert(spark, store, df, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_migrating_upsert_job_budget(spark, tmp_path):
    """The batch facts (destination indices, NULL-_id check, delivered
    count) come from ONE grouped action, not three."""
    store = DocumentStore(str(tmp_path / "s"))
    assert _upsert_jobs(spark, store, _corpus(spark, 50), n_buckets=N_BUCKETS) <= 6


def test_bucketed_upsert_job_budget(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _corpus(spark, 50), n_buckets=N_BUCKETS)
    batch = _batch(spark, [("doc1", 7), ("docNEW", 1)])
    assert _upsert_jobs(spark, store, batch) <= 8
    assert store.read(spark, "ix").count() == 51


@pytest.mark.parametrize("raw", ["abc", "", "3.5", "0", "-4", "10000"])
def test_malformed_store_buckets_env_is_rejected(monkeypatch, raw):
    from chillastic_spark.sources import _env_bucket_count

    monkeypatch.setenv("CHILLASTIC_STORE_BUCKETS", raw)
    with pytest.raises(ValueError, match=r"CHILLASTIC_STORE_BUCKETS .*\[1, 9999\]"):
        _env_bucket_count()
    monkeypatch.setenv("CHILLASTIC_STORE_BUCKETS", "64")
    assert _env_bucket_count() == 64
