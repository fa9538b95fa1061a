"""Materialized ANN vector index — the serving-path twin of
``operators.similarity.lsh_topk`` (mirroring how sources/search_index.py
materializes the inverted text index).

Layout: the corpus is written ONCE with its LSH bucket id as a Hive
partition column (``bucket=NNN/``), plus a ``meta.json`` recording the
hash family (planes/seed) and corpus stats. A query then:

1. derives its probe bucket ids with the SAME deterministic hyperplane
   family (no state beyond meta.json — the planes are hash-derived);
2. reads the index with a ``bucket IN (...)`` predicate, which Spark
   turns into PartitionFilters: only the probed bucket DIRECTORIES are
   listed and scanned — at 2^planes buckets the serving scan touches
   probes/2^planes of the corpus instead of all of it;
3. scores candidates with the identical rounded-cosine ranking, so
   results are bit-identical to the scan-time ``lsh_topk`` (test-pinned).

Incremental adds append into the same bucket partitions (dynamic
partition append — untouched buckets' files are never rewritten).
"""
from __future__ import annotations

import json
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators.similarity import (
    _empty_topk,
    _rank_topk,
    _unit_rows,
    random_hyperplane_buckets,
)

META = "meta.json"
DATA = "data"
COMPACT_JOURNAL = "compact-journal.json"

_VI_LOCKS: dict[str, threading.Lock] = {}
_VI_GUARD = threading.Lock()


def _vi_thread_lock(index_dir: str) -> threading.Lock:
    with _VI_GUARD:
        return _VI_LOCKS.setdefault(os.path.abspath(index_dir), threading.Lock())


@contextmanager
def _writer_lock(index_dir: str):
    """In-process thread lock + cross-process flock around every
    artifact mutation (the search_index._writer_lock convention).
    Without it a reader's recovery races a LIVE compaction's renames:
    the reader cannot distinguish a crashed swap from an in-flight one,
    starts deleting the .new- dir the compactor is about to install,
    and the compactor's final cleanup then removes the only complete
    copy — a permanently truncated index with no error."""
    from chillastic_spark.locks import FileLock

    os.makedirs(index_dir, exist_ok=True)
    with _vi_thread_lock(index_dir), FileLock(
        os.path.join(index_dir, ".swap.lock")
    ):
        yield


def _write_meta(index_dir: str, meta: dict, name: str = META) -> None:
    """Atomic meta write (tmp + os.replace) — an in-place json.dump
    killed mid-write leaves a truncated file that bricks every later
    _meta() read even though the parquet data is intact (same recipe
    as search_index's stats.json)."""
    path = os.path.join(index_dir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, path)


def _recover_compact(index_dir: str, data_name: str = DATA) -> None:
    """Roll an interrupted compaction swap forward — JOURNAL-keyed
    (the search_index convention): the journal is written after the
    compacted ``data.new-<tag>`` is complete and removed after the
    swap finishes, so its absence means nothing is mid-flight and the
    fast path here stays LOCKLESS. With a journal present, the writer
    lock serializes against a possibly-live compactor (journal gone by
    the time we hold the lock → no-op)."""
    if not os.path.exists(os.path.join(index_dir, COMPACT_JOURNAL)):
        return
    with _writer_lock(index_dir):
        _recover_compact_locked(index_dir, data_name)


@contextmanager
def _reader_snapshot(index_dir: str):
    """Shared-lock read window (r9 verdict #4) — the vector twin of
    search_index._reader_snapshot: a serving read's journal check,
    meta read, and parquet FILE LISTING run inside one ``LOCK_SH``
    window on the ``.swap.lock`` every writer holds ``LOCK_EX`` on.
    A live compactor owns EX from before the journal write until
    after the journal removal, so a journal seen under SH is a CRASH
    leftover: release, roll forward (EX), retry. Without the window a
    reader racing a live compaction hits the between-renames state
    (data dir missing) and misreads it as a BOOTSTRAP-EMPTY index —
    silently empty results from a populated index. Readers share the
    window; a writer waits out at most the listing."""
    from chillastic_spark.locks import FileLock

    jpath = os.path.join(index_dir, COMPACT_JOURNAL)
    os.makedirs(index_dir, exist_ok=True)
    for attempt in range(4):
        lock = FileLock(os.path.join(index_dir, ".swap.lock"), shared=True)
        lock.acquire()
        if not os.path.exists(jpath):
            try:
                yield
            finally:
                lock.release()
            return
        lock.release()
        _recover_compact(index_dir)
    raise RuntimeError(
        f"{index_dir}: compact journal persists after repeated recovery — "
        "the index artifacts need manual inspection"
    )


def _recover_compact_locked(index_dir: str, data_name: str = DATA) -> None:
    """The recovery body — caller MUST hold _writer_lock. Heals every
    crash window of compact_vector_index's swap (journal → rename
    data→old → rename new→data → rmtree old → journal removed):
    live missing → install the JOURNALED new (complete by construction)
    or restore the journaled old; live present → the swap either hadn't
    started or finished — discard the journaled tagged dirs either way.

    Tag-keyed on purpose: an ORPHAN ``data.new-<other>`` from a crash
    before a journal write is NOT a valid swap source — installing the
    lexicographically-last tagged dir could resurrect a stale
    compaction output and silently lose every vector appended since.
    Orphans (tagged dirs with no matching journal) are cleaned at
    ``compact_vector_index`` start, never installed."""
    import shutil

    journal = os.path.join(index_dir, COMPACT_JOURNAL)
    if not os.path.exists(journal):
        return  # a live compactor finished while we waited on the lock
    with open(journal) as f:
        tag = json.load(f).get("tag")  # atomic write → complete JSON
    live = os.path.join(index_dir, data_name)
    new = os.path.join(index_dir, f"{data_name}.new-{tag}")
    old = os.path.join(index_dir, f"{data_name}.old-{tag}")
    if not os.path.exists(live):
        if os.path.exists(new):
            # crashed between the two renames: the journaled compacted
            # dir is complete (the journal is written only after it)
            os.rename(new, live)
        elif os.path.exists(old):
            # crashed after data→old but the new dir also vanished:
            # restore the pre-compaction data
            os.rename(old, live)
    for d in (new, old):  # superseded journaled leftovers only
        shutil.rmtree(d, ignore_errors=True)
    os.remove(journal)


def build_vector_index(
    df: DataFrame,
    index_dir: str,
    planes: int = 6,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Bucket the corpus and write it partitioned by bucket id.

    Runs under the writer lock (r9 verdict #4): a REBUILD's
    ``mode('overwrite')`` deletes the live data dir before rewriting
    it — unlocked, a concurrent reader's listing lands in that window
    and serves a partial (or empty) index with no error."""
    first = df.select(F.col(vec_col)).first()
    dims = len(first[0]) if first and first[0] is not None else None
    rows = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        random_hyperplane_buckets(vec_col, planes, seed, dims=dims).alias("bucket"),
    )
    data = os.path.join(index_dir, DATA)
    with _writer_lock(index_dir):
        _recover_compact_locked(index_dir)
        rows.write.mode("overwrite").partitionBy("bucket").parquet(data)
        spark = df.sparkSession
        # count the WRITTEN index (parquet footers — nearly free), not the
        # input: df.count() would re-run the whole upstream pipeline a
        # third time, and for a nondeterministic df could disagree with
        # what actually landed on disk. An empty-corpus build leaves a data
        # dir with no part files — that reads as 0, not an error.
        try:
            n_written = spark.read.parquet(data).count()
        except Exception:  # bootstrap-empty index
            n_written = 0
        meta = {
            "planes": planes,
            "seed": seed,
            "n_vectors": n_written,
            "n_buckets": 1 << planes,
            # persisted so every later bucket computation (update, serve)
            # can embed the plane coefficients as literals instead of
            # hashing planes*dims md5s per row
            "dims": dims,
        }
        _write_meta(index_dir, meta)
    return meta


def update_vector_index(
    df_new: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_existing: str = "error",
) -> dict:
    """Append new vectors into their bucket partitions (dynamic
    partition append: existing buckets' files are untouched).

    Duplicate-id guard (same contract as ``update_inverted_index``):
    ``on_existing='skip'`` anti-joins out ids already indexed — the
    idempotence an at-least-once streaming source needs on redelivery;
    the default ``'error'`` raises. Without the guard a redelivered
    batch would double-count ``n_vectors``, and a RE-ADDED id with a
    CHANGED embedding could land in a different bucket, making
    multi-probe queries see two rows with different cosines and serve
    whichever survives dropDuplicates — nondeterministic results."""
    # the whole update runs in the single-writer window (same
    # convention as the doc store and search_index): an unlocked
    # append races a live compaction's swap — freshly appended part
    # files ride into the data.old- dir and are rmtree'd
    with _writer_lock(index_dir):
        _recover_compact_locked(index_dir)
        meta = _meta(index_dir)
        # within-batch duplicates first: identical (id, embedding) copies
        # collapse deterministically; the SAME id with DIFFERENT embeddings
        # inside one batch is a data error in every mode — appending both
        # recreates exactly the nondeterministic-serving hazard the
        # cross-batch guard below exists to prevent
        df_new = df_new.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).dropDuplicates(["vec_id", "embedding"])
        batch_dup = (
            df_new.groupBy("vec_id").count().filter(F.col("count") > 1).limit(3)
        )
        clash_in = [r["vec_id"] for r in batch_dup.collect()]
        if clash_in:
            raise ValueError(
                f"batch contains the same vec_id with different embeddings "
                f"(e.g. {clash_in}) — resolve upstream; neither skip nor "
                "error mode can order them deterministically"
            )
        rows = df_new.select(
            "vec_id",
            "embedding",
            random_hyperplane_buckets(
                "embedding", meta["planes"], meta["seed"], dims=meta.get("dims")
            ).alias("bucket"),
        )
        spark = df_new.sparkSession
        try:
            existing_ids = spark.read.parquet(os.path.join(index_dir, DATA)).select(
                "vec_id"
            )
        except Exception as e:
            # ONLY the bootstrap case is recoverable: an index built from an
            # EMPTY frame has a data dir with no part files ('Unable to
            # infer schema') or no dir yet (PATH_NOT_FOUND). Any other read
            # failure (corrupt footer, permissions, transient FS) must NOT
            # silently disable the duplicate guard.
            msg = str(e)
            if not (
                "UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg
                or "PATH_NOT_FOUND" in msg
            ):
                raise
            existing_ids = rows.select("vec_id").limit(0)
        if on_existing == "skip":
            rows = rows.join(existing_ids.distinct(), "vec_id", "left_anti")
        else:
            dup = rows.select("vec_id").join(existing_ids, "vec_id", "semi")
            clash = [r["vec_id"] for r in dup.limit(3).collect()]
            if clash:
                raise ValueError(
                    f"vector ids already indexed (e.g. {clash}); use "
                    "on_existing='skip' for at-least-once redelivery, or "
                    "rebuild the index to change embeddings"
                )
        # pin before writing: the skip-mode anti-join READS the same data
        # dir the append writes — cutting lineage here avoids a
        # self-read-while-write plan. Forced 'local': the pinned frame is
        # batch-sized and a lost-block failure just retries the batch.
        from chillastic_spark.persist import materialize, release

        rows = materialize(rows, mode="local")
        try:
            n_added = rows.count()
            if n_added:
                rows.write.mode("append").partitionBy("bucket").parquet(
                    os.path.join(index_dir, DATA)
                )
        finally:
            release(rows)
        # recount from the written footers rather than += n_added: a crash
        # after the append but before this write must not leave n_vectors
        # permanently understated on the retry (the retry's skip anti-join
        # sees the appended rows, so += would skip them)
        try:
            meta["n_vectors"] = spark.read.parquet(
                os.path.join(index_dir, DATA)
            ).count()
        except Exception:  # still-empty bootstrap index (no part files)
            meta["n_vectors"] += n_added
        _write_meta(index_dir, meta)
        # batch-scoped observability rides the RETURN only (n_added is
        # per-call; persisting it in meta.json would misread as a
        # corpus stat on the next load) — r9 verdict #3
        return {**meta, "n_added": n_added}


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, META)) as f:
        return json.load(f)


def ann_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    probes: int = 1,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine for each query, served from the materialized
    index — bit-identical ranking to ``lsh_topk`` at the same
    planes/probes, but scanning only the probed bucket partitions.

    The queries frame is collected ONCE (|queries| × probes rows —
    queries are small by the same contract that lets lsh_topk broadcast
    them); both the probe frame and the partition predicate derive from
    that one collect, so a nondeterministic queries frame can never
    produce a bucket list that disagrees with the join-time probes
    (silently missing neighbors).

    Meta read + data listing run inside one ``_reader_snapshot``
    window, so a live compaction's mid-swap state (data dir renamed
    away) can never be misread as a bootstrap-empty index.
    """
    with _reader_snapshot(index_dir):
        meta = _meta(index_dir)
        try:
            data_df = spark.read.parquet(os.path.join(index_dir, DATA))
        except Exception as e:
            # bootstrap-empty index: a partitionBy write of an empty
            # corpus leaves a data dir with NO part files (nothing to
            # infer a schema from). Under the reader lock with no
            # journal this is GENUINELY empty — a mid-swap missing dir
            # cannot reach here (the compactor holds the exclusive
            # lock through the whole swap). Serving before the first
            # non-empty batch returns empty results, not a crash.
            msg = str(e)
            if not (
                "UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg
                or "PATH_NOT_FOUND" in msg
            ):
                raise
            data_df = None
    planes = meta["planes"]
    base = random_hyperplane_buckets(
        vec_col, planes, meta["seed"], dims=meta.get("dims")
    )
    # THE shared probe policy (operators.similarity.probe_buckets_expr)
    # — a policy change must hit the scan-time operator and the served
    # index together or results silently diverge
    from chillastic_spark.operators.similarity import probe_buckets_expr

    probe_buckets = probe_buckets_expr(base, probes, planes)
    from chillastic_spark.operators.similarity import _id_type

    qid_t = _id_type(queries, query_id_col)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        CF.as_double_array(vec_col).alias("qvec"),
        probe_buckets.alias("bs"),
    ).collect()
    if not q_rows:
        return _empty_topk(spark, qid_t=qid_t)
    probe = [(r["query_id"], r["qvec"], int(b)) for r in q_rows for b in r["bs"]]
    q = spark.createDataFrame(
        probe, f"query_id {qid_t}, qvec array<double>, bucket int"
    )
    wanted = sorted({b for _, _, b in probe})
    if data_df is None:  # bootstrap-empty index (listed under the lock)
        return _empty_topk(spark, qid_t=qid_t)
    idx = (
        data_df
        .filter(F.col("bucket").isin(wanted))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            CF.as_double_array("embedding").alias("vec"),
            "bucket",
        )
    )
    scored = (
        idx.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", CF.round_det(CF.cosine(F.col("vec"), F.col("qvec")), 6))
        # cross-dimension pairs drop (NULL cosine = width mismatch) —
        # the exact mirror of lsh_topk's filter; the served index and
        # the scan-time operator must rank identically
        .filter(F.col("cos").isNotNull())
        .select("query_id", "neighbor_id", "cos")
    )
    return _rank_topk(scored, k)


def compact_vector_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge the small files incremental adds accrete into one file per
    bucket partition (same maintenance need as the document store's
    compact_index; run it in the same single-writer window). Rows never
    change buckets, so serving results are identical before and after —
    only the file count drops.

    Crash-safe AND concurrency-safe: the compacted dir is written
    first, then a journal is committed, then the three-step swap runs
    (rename data → ``data.old-<tag>``, rename new → data, remove old,
    remove journal) — all under ``_writer_lock``, so a concurrent
    reader/updater's recovery can never mistake this in-flight swap for
    a crashed one and delete the only complete copy. Recovery is
    journal-keyed (``_recover_compact``): any crash window rolls
    forward from the tagged leftovers."""
    import shutil
    import uuid

    with _writer_lock(index_dir):
        _recover_compact_locked(index_dir)
        # after recovery no journal exists, so any tagged dir still on
        # disk is an ORPHAN from a crash before its journal write —
        # clean it here (under the writer lock) so a later journaled
        # crash can never mistake it for the live swap's source
        for d in os.listdir(index_dir):
            if d.startswith(DATA + ".new-") or d.startswith(DATA + ".old-"):
                shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
        data = os.path.join(index_dir, DATA)
        df = spark.read.parquet(data)
        # one shuffle partition per bucket value → exactly one file each
        compacted = df.repartition(F.col("bucket"))
        tag = uuid.uuid4().hex[:8]
        new = f"{data}.new-{tag}"
        compacted.write.partitionBy("bucket").parquet(new)
        journal = os.path.join(index_dir, COMPACT_JOURNAL)
        _write_meta(index_dir, {"tag": tag}, name=COMPACT_JOURNAL)
        old = f"{data}.old-{tag}"
        os.rename(data, old)
        # torture-test crash window: journal committed, live data dir
        # renamed away, compacted dir not yet installed — the window
        # _recover_compact_locked rolls FORWARD from
        from chillastic_spark.locks import test_pause

        test_pause("vi_mid_swap", index_dir)
        os.rename(new, data)
        shutil.rmtree(old)
        os.remove(journal)
        n_files = sum(
            1 for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")
        )
    return {"n_files": n_files}


# ------------------------------------------------------------- IVF index

IVF_META = "ivf_meta.json"
IVF_DATA = "ivf_data"


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_cells="auto",
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    calibrate: bool = True,
    target_recall: float = 0.8,
) -> dict:
    """Materialized IVF index — the second ANN serving path next to the
    LSH one: the coarse quantizer trains once (driver k-means on the
    deterministic hash-ordered sample, operators.similarity), its
    centroid matrix is persisted in the meta file (plain floats — the
    whole 'model'), and the corpus is written partitioned by cell id.
    A probe reads only its ``nprobe`` nearest cell partitions.
    ``n_cells='auto'`` sizes cells to the corpus (~512 rows/cell, the
    sweep-picked rule — see operators.similarity._auto_cells).

    ``calibrate=True`` (default, r11) additionally measures THIS
    corpus's held-out recall curve against the centroids being
    persisted (one bounded Spark job — ``ivf_recall_curve``'s per-cell
    top-k; n_queries·n_cells·k rows to the driver, never the corpus)
    and stores the smallest nprobe meeting ``target_recall`` as
    ``calibrated_nprobe`` in the meta. Serving then probes a MEASURED
    per-corpus fraction by default: ~1-2 cells on a clustered corpus
    (SWEEP_ann_r10: recall 0.897 at a 3% scan) instead of a blind
    constant — and on a structureless corpus the calibration honestly
    demands the wide scan the recall floor requires. Build-time cost,
    amortized over the index lifetime; a corpus too small to hold out
    queries from skips calibration with a warning rather than failing
    the build."""
    from chillastic_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_coarse_centroids,
        resolve_n_cells,
    )

    from chillastic_spark.operators.similarity import DROP_COUNTERS

    n_cells = resolve_n_cells(df, n_cells, vec_col)
    C = ivf_coarse_centroids(
        df, n_cells=n_cells, iters=iters, sample=sample,
        id_col=id_col, vec_col=vec_col,
    )
    calibration = None
    if calibrate:
        from chillastic_spark.operators.similarity import calibrate_nprobe

        try:
            pick = calibrate_nprobe(
                df, target_recall=target_recall, n_cells=n_cells,
                sample=sample, id_col=id_col, vec_col=vec_col,
                centroids=C,
            )
            calibration = {
                k: pick[k]
                for k in (
                    "nprobe",
                    "scan_frac",
                    "recall_at_k",
                    "target_recall",
                    "met_target",
                )
            }
        except ValueError as e:  # too small a corpus: no held-out queries
            import logging

            logging.getLogger("chillastic_spark.vector_index").warning(
                "build_ivf_index: nprobe calibration skipped (%s) — "
                "serving falls back to the uncalibrated default", e,
            )
    assigned = ivf_assign_cells(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        C,
        vec_col="embedding",
    )
    data = os.path.join(index_dir, IVF_DATA)
    # writer lock (r9 verdict #4): a REBUILD's overwrite deletes the
    # live cell dirs before rewriting — unlocked, a concurrent reader's
    # listing lands mid-delete and serves a partial index silently
    with _writer_lock(index_dir):
        assigned.write.mode("overwrite").partitionBy("cell").parquet(data)
        dropped = DROP_COUNTERS.get("ivf_assign_cells")
        meta = {
            "n_cells": len(C),
            "centroids": [[float(x) for x in row] for row in C],
            # measured serving default (None when calibration was
            # skipped): the smallest nprobe meeting target_recall on
            # THIS corpus, held out — what ann_query_ivf_index probes
            # when the caller does not pass nprobe explicitly
            "calibrated_nprobe": (
                calibration["nprobe"] if calibration else None
            ),
            "calibration": calibration,
            # footer count of what was actually written, not a third pass
            # over the input pipeline
            "n_vectors": df.sparkSession.read.parquet(data).count(),
            # rows the assignment stage dropped during THIS build's write
            # (NULL / NULL-element / NaN / off-width vectors) — persisted
            # so a mixed-width corpus losing index rows is dashboard-
            # visible (vector_index_health / GET /indexes/health, r9
            # verdict #3), not only a DROP_COUNTERS log line
            "dropped_rows": int(dropped.value) if dropped is not None else 0,
        }
        _write_meta(index_dir, meta, name=IVF_META)
    if meta["dropped_rows"]:
        import logging

        logging.getLogger("chillastic_spark.vector_index").warning(
            "build_ivf_index: dropped %d unindexable vectors "
            "(NULL/NaN/off-width) — see ivf_meta.json dropped_rows",
            meta["dropped_rows"],
        )
    return meta


def ann_query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: "int | None" = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine served from the materialized IVF index —
    identical ranking to scan-time ``ivf_topk`` at the same quantizer
    (the persisted centroids ARE that quantizer), scanning only the
    probed cell partitions. Meta read + cell listing share one
    ``_reader_snapshot`` window so a live rebuild's overwrite (which
    deletes cell dirs before rewriting) can never serve a partial
    index.

    ``nprobe=None`` (default, r11) probes the index's MEASURED
    ``calibrated_nprobe`` (build-time held-out calibration against the
    persisted centroids — see ``build_ivf_index``), falling back to
    the historical constant 3 for indexes built without calibration.
    An explicit int always wins."""
    import numpy as np

    with _reader_snapshot(index_dir):
        with open(os.path.join(index_dir, IVF_META)) as f:
            meta = json.load(f)
        try:
            idx_raw = spark.read.parquet(os.path.join(index_dir, IVF_DATA))
        except Exception as e:
            # a hand-rolled/damaged meta with no data dir (or an
            # empty-write dir with no part files) must serve empty
            # results, not crash — under the reader lock this state is
            # genuinely bootstrap-empty, never a live rebuild mid-swap
            msg = str(e)
            if not (
                "UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg
                or "PATH_NOT_FOUND" in msg
            ):
                raise
            idx_raw = None
    if nprobe is None:
        nprobe = meta.get("calibrated_nprobe") or 3
    C = np.array(meta["centroids"], dtype=np.float64)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        CF.as_double_array(vec_col).alias("qvec"),
    ).collect()
    # bootstrap-empty index (no centroids to probe / no data dir) or no
    # queries: empty results, not a numpy matmul ValueError mid-stream
    if not q_rows or C.size == 0 or idx_raw is None:
        from chillastic_spark.operators.similarity import _id_type

        return _empty_topk(spark, qid_t=_id_type(queries, query_id_col))
    Q = np.array([r["qvec"] for r in q_rows], dtype=np.float64)
    # zero-norm queries → zero vector (cos 0 per _unit_rows), not a
    # NaN row whose argsort picks arbitrary probe cells
    Qn = _unit_rows(Q)
    probe_cells = np.argsort(-(Qn @ C.T), axis=1, kind="stable")[:, : max(nprobe, 1)]
    probe = [
        (r["query_id"], r["qvec"], int(c))
        for r, cells in zip(q_rows, probe_cells)
        for c in cells
    ]
    # carry the caller's query-id TYPE (string ids work on the LSH
    # serving path; hardcoding long here made the twins diverge)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    q = spark.createDataFrame(
        probe, f"query_id {qid_t}, qvec array<double>, cell int"
    )
    wanted = sorted({c for _, _, c in probe})
    idx = (
        idx_raw
        .filter(F.col("cell").isin(wanted))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            CF.as_double_array("embedding").alias("vec"),
            "cell",
        )
    )
    scored = (
        idx.join(F.broadcast(q), ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", CF.round_det(CF.cosine(F.col("vec"), F.col("qvec")), 6))
        .select("query_id", "neighbor_id", "cos")
    )
    return _rank_topk(scored, k)
