"""Idempotent upsert sink (SURVEY §2.1 S4/S5).

The reference achieves effectively-once delivery with at-least-once
scroll + ``doc_as_upsert`` bulk updates (transfer.js:175-189). The
Spark-native equivalent is a MERGE on ``(_index,_type,_id)``: new rows
replace existing rows with the same key, unseen keys append.

On parquet (this repo's storage) the merge is BUCKET-SCOPED: every
index is laid out in N hash buckets of ``_id`` (sources.bucket_expr),
and a batch rewrites only the buckets containing its keys. Their rows
and the batch meet in ONE exchange hash-partitioned on the bucket,
where a window per key does the merge (:func:`_merge`) and the same
task writes the bucket as one file, swapped in per bucket dir — the
Iceberg "hash distribution" / Delta "optimized write" layout. Write
amplification is O(|index|·touched/N) per batch instead of O(|index|).
On a real deployment the same call maps 1:1 to Delta/Iceberg ``MERGE
INTO`` over a bucket-partitioned table (transactional, partition-
pruned), which is the 100 TB path; the dir swap here exists only
because plain parquet has no transaction log.

The first upsert against a flat index migrates it to the bucketed
layout (one full rewrite through the same merge, once), mirroring how a
Delta conversion works. Every rewrite here follows the store's rewrite
protocol (locks, heal, scratch write, two-rename swap), defined once in
:mod:`chillastic_spark.sources`.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chillastic_spark.sources import (
    BUCKET_MARKER,
    ENVELOPE_SCHEMA,
    N_BUCKETS_DEFAULT,
    DocumentStore,
    bucket_expr,
    cluster_by_bucket,
    scratch_dir,
    store_mutation,
    swap_dir,
    write_bucket_tmp,
)
from chillastic_spark.sources.maintenance import _is_type_partitioned, file_stats

KEY = ["_index", "_type", "_id"]


def dedup_within_batch(df: DataFrame) -> DataFrame:
    """Keep ONE row per (_index,_type,_id), chosen by a DETERMINISTIC
    tie-break: highest md5(_source), then _size. "Arrival order" is not
    meaningful after a distributed mutate (and would vary with
    partitioning); a stable winner keeps re-runs byte-identical. Shared
    by this sink and the Delta sink (whose MERGE throws on two source
    rows matching one target). The engine upserts a run of one source
    index's size-range subtasks as one batch (Engine.run_task), so two
    rows with one key in different size ranges resolve here too: the
    outcome no longer depends on how the planner split the sizes."""
    rank = F.row_number().over(
        Window.partitionBy(*KEY).orderBy(F.desc(F.md5(F.col("_source"))), F.desc("_size"))
    )
    return df.withColumn("__rk", rank).filter(F.col("__rk") == 1).drop("__rk")


def _touched_buckets(df: DataFrame, n_buckets: int) -> list[int]:
    """Sorted hash buckets holding ``df``'s ids (one small collect)."""
    return sorted(
        r["b"] for r in df.select(bucket_expr(n_buckets).alias("b")).distinct().collect()
    )


def _normalise(df: DataFrame) -> DataFrame:
    cols = []
    for f_ in ENVELOPE_SCHEMA.fields:
        if f_.name in df.columns:
            cols.append(F.col(f_.name).cast(f_.dataType))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*cols)


def _auto_buckets(index_path: str) -> int:
    """Bucket count for a first-time migration: one bucket per ~256 MB
    of existing data, power of two, clamped to [N_BUCKETS_DEFAULT, 4096].

    The merge prunes to the buckets holding batch keys, and k uniform
    keys touch ~k buckets — so the pruning only bites when N is well
    above the batch size. Sizing N by bytes keeps both properties at
    any scale: a 1 TB index gets 4096 buckets (a 1k-doc batch rewrites
    ≤¼ of it, a 100-doc micro-batch ≤2.5%), while a test-sized index
    stays at the floor and out of small-file territory."""
    import math

    total = file_stats(index_path)["total_bytes"] if os.path.isdir(index_path) else 0
    target = max(total // (256 << 20), 1)
    n = 1 << math.ceil(math.log2(target)) if target > 1 else 1
    return min(max(n, N_BUCKETS_DEFAULT), 4096)


def upsert(
    spark: SparkSession,
    store: DocumentStore,
    df: DataFrame,
    n_buckets: "int | None" = None,
) -> int:
    """MERGE ``df`` into ``store`` keyed on (_index,_type,_id).

    Within-batch duplicates keep ONE row (:func:`dedup_within_batch`,
    the rule the Delta sink shares). Returns rows delivered. ``n_buckets``
    applies only when an index is first converted to the bucketed
    layout (default: sized from the index bytes, see _auto_buckets);
    an already-bucketed index keeps its pinned N.
    """
    df = dedup_within_batch(_normalise(df)).cache()
    try:
        # the batch facts in ONE action (which also fills the cache):
        # per destination index, its row count and its NULL-_id count
        facts = (
            df.groupBy("_index")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("_id").isNull()).alias("null_ids"),
            )
            .collect()
        )
        if any(r["_index"] is None for r in facts):
            raise ValueError(
                "upsert: rows with NULL _index cannot be delivered — "
                "every envelope row needs a destination index"
            )
        # NULL _id is equally undeliverable, and worse than a failed
        # merge: xxhash64(NULL) yields a NULL bucket, which crashes the
        # touched-bucket sort on a bucketed index and lands rows in a
        # __HIVE_DEFAULT_PARTITION__ dir on migration — where the
        # bucket-id parse aborts MID-rename-loop (rows already moved
        # duplicate on retry). Validate up front like _index.
        if any(r["null_ids"] for r in facts):
            raise ValueError(
                "upsert: rows with NULL _id cannot be delivered — the "
                "merge key and the bucket hash both need a document id"
            )
        for r in facts:
            index = r["_index"]
            path = store.index_path(index)
            batch = df.filter(F.col("_index") == index)
            with store_mutation(path):
                nb = store.bucket_count(index)
                touched = None if nb is None else _touched_buckets(batch, nb)
                existing = store.read(spark, index, buckets=touched)
                if nb is None and os.path.isdir(path) and _is_type_partitioned(path):
                    # a Hive _type= index (the layout write_documents
                    # recommends at scale) keeps it: bucketing would drop its
                    # per-type pruning and blind streams on the typed subdirs
                    _atomic_replace(store, index, _merge(existing, batch))
                    continue
                # a flat (or empty) index migrates to buckets, once
                n = nb or n_buckets or _auto_buckets(path)
                if not 0 < n <= 9999:
                    # bucket dirs are bucket-NNNN and the stream glob
                    # matches exactly 4 digits: bucket 10000 never streams
                    raise ValueError(f"n_buckets must be in [1, 9999] (got {n})")
                merged = _merge(existing, batch, n, len(touched) if nb else n)
                if nb is None:
                    _replace_index_bucketed(store, index, merged, n)
                else:
                    _replace_buckets(store, index, nb, merged, touched)
        return sum(r["n"] for r in facts)
    finally:
        df.unpersist()


def _merge(existing: DataFrame, batch: DataFrame, n_buckets=None, n_written=0) -> DataFrame:
    """The MERGE rule, one window per key: a key the batch carries keeps
    only its batch row, any other key all its existing rows. The window
    groups NULLs, so a NULL-_type key is replaced, not duplicated. With
    ``n_buckets`` it reuses the exchange of :func:`cluster_by_bucket`."""
    rows = existing.withColumn("__new", F.lit(False)).unionByName(
        batch.withColumn("__new", F.lit(True))
    )
    if n_buckets is not None:
        rows = cluster_by_bucket(rows, n_buckets, n_written)
    keys = [k for k in ("__bucket", *KEY) if k in rows.columns]
    rows = rows.withColumn("__newest", F.max("__new").over(Window.partitionBy(*keys)))
    return rows.filter(F.col("__new") == F.col("__newest")).drop("__new", "__newest")


def _replace_buckets(
    store: DocumentStore, index: str, n_buckets: int, merged: DataFrame,
    touched: list[int],
) -> None:
    """Rewrite ONLY the touched buckets. Untouched bucket dirs (the
    other N−|touched|) are never opened, listed, or rewritten; a
    touched bucket with no surviving rows is deleted."""
    path = store.index_path(index)
    with scratch_dir(path, "merge") as tmp:
        parts = write_bucket_tmp(merged, tmp, n_buckets)
        for b in touched:
            swap_dir(path, store.bucket_path(index, b), parts.get(b))


def _replace_index_bucketed(
    store: DocumentStore, index: str, merged: DataFrame, n_buckets: int
) -> None:
    """Full rewrite into the bucketed layout (migration / first write)."""
    path = store.index_path(index)
    with scratch_dir(path, "new") as new:
        for b, part in write_bucket_tmp(merged, new, n_buckets).items():
            bucket_dir = os.path.basename(store.bucket_path(index, b))
            os.rename(part, os.path.join(new, bucket_dir))
        # marker rides the swap: the new dir is born bucketed, so no
        # crash window exists where bucket dirs are visible under a
        # "flat" index
        with open(os.path.join(new, BUCKET_MARKER), "w") as f:
            f.write(str(n_buckets))
        swap_dir(path, path, new)


def purge(
    spark: SparkSession,
    store: DocumentStore,
    index: str,
    ids: DataFrame | list[str],
    type: "str | None" = None,
) -> int:
    """Targeted delete by document id (right-to-be-forgotten): rewrite
    WITHOUT the given ``_id``s and atomically swap — bucket-scoped on a
    bucketed index (only buckets holding victim ids are rewritten).

    ``ids`` may be a list (small, driver-side) or a DataFrame with an
    ``_id`` column (billions of ids: the anti-join broadcasts or
    shuffles as Catalyst sees fit). Returns rows removed. The reverse
    of upsert's effectively-once delivery — re-running a purge is a
    no-op, so it composes with checkpointed task resume.
    """
    if isinstance(ids, list):
        id_df = spark.createDataFrame([(i,) for i in ids], "_id string")
    else:
        id_df = ids.select(F.col("_id").cast("string"))
    # NULL victim ids match nothing in the anti-join (the es_purge
    # convention) — and a NULL bucket hash would crash the touched-
    # bucket sort below, so drop them before planning
    victims = id_df.filter(F.col("_id").isNotNull()).distinct()
    with store_mutation(store.index_path(index)):
        nb = store.bucket_count(index)
        buckets = None if nb is None else _touched_buckets(victims, nb)
        existing = store.read(spark, index, buckets=buckets)
        if type is not None:
            match = existing.filter(F.col("_type") == type).join(victims, "_id", "semi")
            kept = existing.join(
                match.select("_type", "_id"), ["_type", "_id"], "left_anti"
            )
            removed = match.count()
        else:
            kept = existing.join(victims, "_id", "left_anti")
            # one narrow semi-join count (the dual of the typed
            # branch's match.count) instead of two full scans
            removed = existing.join(victims, "_id", "semi").count()
        if removed == 0:
            return 0
        if nb is not None:
            _replace_buckets(store, index, nb, _normalise(kept), buckets)
        else:
            _atomic_replace(store, index, _normalise(kept))
    return removed


def _atomic_replace(store: DocumentStore, index: str, merged: DataFrame) -> None:
    """Whole-dir swap for a FLAT index (purge on never-upserted data,
    upsert into a type-partitioned one). A Hive ``_type=`` layout is
    preserved (the same detection compaction uses) — rewriting it flat
    would silently destroy the partition pruning every per-type read
    depends on."""
    path = store.index_path(index)
    writer = merged.write.mode("overwrite")
    if os.path.isdir(path) and _is_type_partitioned(path):
        writer = writer.partitionBy("_type")
    with scratch_dir(path, "tmp") as tmp:
        writer.parquet(tmp)
        swap_dir(path, path, tmp)
