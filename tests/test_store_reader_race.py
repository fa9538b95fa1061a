"""Reader-vs-compactor torture for the DOCUMENT STORE (r10 — the store
twin of tests/test_index_reader_race.py).

Before the store swap-window protocol, ``DocumentStore.read`` checked
``os.path.isdir`` and listed files with NO lock: a read landing between
``compact_index``'s two renames saw the live dir missing and silently
served an EMPTY frame from a populated index (and a bucketed read could
silently drop the bucket being swapped). Now every rename window runs
under an EXCLUSIVE flock on ``<index>.swap.lock`` and the read path
holds its SHARED side around the existence check + listing; a dir found
missing UNDER the lock with ``.old-`` leftovers is a crashed swap that
the read path heals itself.

Proven here with real OS processes:
1. a reader arriving while a compactor is parked INSIDE the mid-swap
   window BLOCKS — it never returns an empty/partial frame;
2. after the compactor is SIGKILLed inside the window, the reader
   proceeds, heals the crashed swap from the ``.old-`` snapshot, and
   serves the full pre-compaction row set;
3. in-process: a read on a crash-leftover state heals without any
   maintenance call.
"""
import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPACT_VICTIM = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["CHILLASTIC_TEST_PAUSE"] = "store_mid_swap"
from chillastic_spark.session import get_spark
from chillastic_spark.sources import DocumentStore
from chillastic_spark.sources.maintenance import compact_index
spark = get_spark("store-compact-victim")
spark.sparkContext.setLogLevel("ERROR")
store = DocumentStore({root!r})
compact_index(spark, store, "ix", target_file_bytes=1 << 30)
"""

READER = """
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from chillastic_spark.session import get_spark
from chillastic_spark.sources import DocumentStore
spark = get_spark("store-reader")
spark.sparkContext.setLogLevel("ERROR")
store = DocumentStore({root!r})
open({qmark!r}, "w").close()  # spark is up: about to enter the guard
n = store.read(spark, "ix").count()
with open({out!r}, "w") as f:
    json.dump({{"rows": n}}, f)
"""


def _spawn(src: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", src],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )


def _wait_file(path: str, timeout: float = 300.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"{path} never appeared")
        time.sleep(0.5)


def _flat_store(spark, tmp_path, batches=4, rows=50):
    """A FLAT index accreting small files (raw appends never convert
    to the bucketed layout), so compact_index takes the whole-dir
    two-rename swap path."""
    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "store"))
    for j in range(batches):
        df = spark.range(j * rows, (j + 1) * rows).select(
            F.lit("ix").alias("_index"),
            F.lit("t").alias("_type"),
            F.col("id").cast("string").alias("_id"),
            F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
            F.lit(10).cast("long").alias("_size"),
        )
        store.write_documents(df, "ix")
    return store


def test_store_reader_blocks_on_live_swap_then_serves_full_index(
    spark, tmp_path
):
    store = _flat_store(spark, tmp_path)
    total = store.read(spark, "ix").count()
    assert total == 200

    data_dir = os.path.dirname(store.index_path("ix"))
    out = str(tmp_path / "reader-out.json")
    qmark = str(tmp_path / "reader-querying")
    victim = _spawn(COMPACT_VICTIM.format(repo=REPO, root=store.root))
    reader = None
    try:
        _wait_file(os.path.join(data_dir, ".paused-store_mid_swap"))
        # mid-swap: live index dir renamed away, swap flock held
        assert not os.path.isdir(store.index_path("ix"))

        reader = _spawn(
            READER.format(repo=REPO, root=store.root, out=out, qmark=qmark)
        )
        _wait_file(qmark)
        deadline = time.time() + 6
        while time.time() < deadline:
            assert reader.poll() is None, "reader exited during a live swap"
            assert not os.path.exists(out), (
                "reader returned during the mid-swap window — the old "
                "behavior silently served an EMPTY index here"
            )
            time.sleep(0.5)
    finally:
        victim.kill()  # SIGKILL inside the window; kernel drops the flock
        victim.wait(timeout=60)

    # blocked reader proceeds, heals the crashed swap from .old-, and
    # serves the FULL pre-compaction rows
    try:
        _wait_file(out, timeout=300)
    finally:
        if reader is not None and reader.poll() is None:
            reader.kill()
    reader.wait(timeout=60)
    with open(out) as f:
        assert json.load(f)["rows"] == total
    # and the tree is healed: live dir back, no stale leftovers restored
    assert os.path.isdir(store.index_path("ix"))


def test_read_heals_crashed_flat_swap_in_process(spark, tmp_path):
    import shutil

    store = _flat_store(spark, tmp_path, batches=2)
    total = store.read(spark, "ix").count()
    path = store.index_path("ix")
    # simulate the crash window: live dir renamed away, tmp left behind
    os.rename(path, path + ".old-deadbeef")
    os.makedirs(path + ".compact-deadbeef")
    got = store.read(spark, "ix").count()
    assert got == total  # healed at read time, not silently empty
    assert os.path.isdir(path)
    shutil.rmtree(path + ".compact-deadbeef", ignore_errors=True)


def test_read_heals_crashed_bucket_swap_in_process(spark, tmp_path):
    from chillastic_spark.sinks import upsert
    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "store"))
    df = spark.range(100).select(
        F.lit("ix").alias("_index"),
        F.lit("t").alias("_type"),
        F.col("id").cast("string").alias("_id"),
        F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
        F.lit(10).cast("long").alias("_size"),
    )
    upsert(spark, store, df, n_buckets=4)
    # simulate the crash window of one bucket's swap: live bucket dir
    # renamed away, new one never installed
    victim = store.bucket_paths("ix")[0]
    os.rename(victim, victim + ".old-deadbeef")
    got = store.read(spark, "ix").count()
    assert got == 100  # healed at read time, not silently incomplete
    assert os.path.isdir(victim)
    assert not os.path.exists(victim + ".old-deadbeef")


def test_read_absent_index_still_empty_and_creates_nothing(spark, tmp_path):
    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "s2"))
    assert store.read(spark, "never-built").count() == 0
    # reads must not materialize lock files / dirs for absent indices
    assert not os.path.exists(store.index_path("never-built") + ".swap.lock")
