"""Compaction: file counts shrink, content identical, pruned layout survives."""
from pyspark.sql import functions as F

from chillastic_spark.sources import DocumentStore
from chillastic_spark.sources.maintenance import compact_index, compact_store, file_stats


def _seed(spark, store, index, n=200, n_files=40, partitioned=False):
    df = (
        spark.range(n)
        .select(
            F.lit(index).alias("_index"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("_type"),
            F.col("id").cast("string").alias("_id"),
            F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
            (F.col("id") % 7 + 1).alias("_size"),
        )
        .repartition(n_files)
    )
    store.write_documents(
        df, index, partition_by=["_type"] if partitioned else None
    )
    return df


def test_compact_shrinks_files_preserves_rows(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"))
    _seed(spark, store, "idx1")
    before = file_stats(store.index_path("idx1"))
    assert before["n_files"] >= 30
    want = sorted(
        (r["_id"], r["_source"]) for r in store.read(spark, "idx1").collect()
    )
    out = compact_index(spark, store, "idx1", target_file_bytes=64 * 1024 * 1024)
    assert out["compacted"] and out["after"]["n_files"] < before["n_files"]
    got = sorted(
        (r["_id"], r["_source"]) for r in store.read(spark, "idx1").collect()
    )
    assert got == want


def test_compact_preserves_type_partition_pruning(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"))
    _seed(spark, store, "idx2", partitioned=True)
    out = compact_index(spark, store, "idx2", target_file_bytes=64 * 1024 * 1024)
    assert out["compacted"]
    # layout survived: hive dirs still present and the per-type scan
    # plan prunes partitions instead of filtering rows
    df = spark.read.parquet(store.index_path("idx2")).filter(F.col("_type") == "t1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_type" in plan
    assert df.count() == store.read(spark, "idx2", type="t1").count() > 0


def test_compact_is_noop_when_already_compact(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"))
    _seed(spark, store, "idx3", n_files=1)
    out = compact_store(spark, store)
    assert out["idx3"]["compacted"] is False
    assert out["idx3"]["after"] == out["idx3"]["before"]


def test_sorted_compaction_gives_disjoint_file_ranges(spark, tmp_path):
    """sort_by clustering must leave each parquet file with a disjoint
    _size min/max footer range — the property file/row-group skipping
    needs for range predicates."""
    import glob

    import pyarrow.parquet as pq

    store = DocumentStore(str(tmp_path / "store"))
    df = _seed(spark, store, "idx4", n=4000, n_files=20)
    out = compact_index(
        spark, store, "idx4", target_file_bytes=16 * 1024, sort_by=["_size"]
    )
    assert out["compacted"] and out["after"]["n_files"] >= 2
    ranges = []
    for f in glob.glob(store.index_path("idx4") + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "_size"
        )
        stats = [md.row_group(g).column(col_idx).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary value may touch)
    # content unchanged
    assert store.read(spark, "idx4").count() == 4000


def _file_ranges(path, col):
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == col
        )
        stats = [
            md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)
        ]
        out.append((min(s.min for s in stats), max(s.max for s in stats)))
    return out


def test_zorder_layout_clusters_all_columns(spark, tmp_path):
    """Morton layout: per-file footer ranges must be narrow on BOTH
    zorder columns (file skipping works for either predicate), where a
    linear sort leaves the trailing column unclustered."""
    from pyspark.sql import functions as F

    from chillastic_spark.sources.maintenance import zorder_layout

    grid = spark.range(128 * 128).select(
        (F.col("id") % 128).alias("x"), F.floor(F.col("id") / 128).alias("y")
    )
    zpath = str(tmp_path / "zorder")
    zorder_layout(grid, ["x", "y"], n_files=16, bits=7).write.parquet(zpath)

    for col in ("x", "y"):
        widths = [hi - lo for lo, hi in _file_ranges(zpath, col)]
        assert sum(widths) / len(widths) <= 0.55 * 127, (col, widths)

    lpath = str(tmp_path / "linear")
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)
    y_widths = [hi - lo for lo, hi in _file_ranges(lpath, "y")]
    # the linear layout cannot skip on y — files span ~the whole range
    assert sum(y_widths) / len(y_widths) >= 0.9 * 127


def test_compact_zorder_preserves_rows(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"))
    _seed(spark, store, "idxz", n=3000, n_files=12)
    out = compact_index(
        spark,
        store,
        "idxz",
        target_file_bytes=16 * 1024,
        zorder_by=["_size", "_id"],
    )
    assert out["compacted"]
    assert store.read(spark, "idxz").count() == 3000


def test_store_health_report(spark, store_factory):
    from chillastic_spark.sinks import upsert
    from chillastic_spark.sources import ENVELOPE_SCHEMA
    from chillastic_spark.sources.maintenance import store_health_report

    store = store_factory("health", {"idx1": [
        {"_id": f"id{i}", "_type": "t", "_source": {"v": i}} for i in range(10)
    ]})
    # a few micro-upserts accrete small files
    for j in range(3):
        rows = [("idx1", "t", f"id{j}", '{"v": 99}', 5)]
        upsert(spark, store, spark.createDataFrame(rows, ENVELOPE_SCHEMA))
    rep = store_health_report(store)
    assert "idx1" in rep
    r = rep["idx1"]
    assert r["n_files"] >= 1 and r["total_bytes"] > 0
    assert 0.0 <= r["small_file_frac"] <= 1.0
    assert r["needs_compaction"] in (True, False)
    # bucketed layout figures are coherent when present
    if r["n_buckets"]:
        assert r["files_per_bucket_min"] <= r["files_per_bucket_max"]


def test_bucketed_swap_recovery_heals_missing_bucket(spark, tmp_path):
    """A crash between the two swap renames leaves a bucket's live dir
    missing with only the .old- sibling — recovery must be keyed off
    the LEFTOVER (bucket_paths only lists existing dirs), or the
    bucket's documents stay invisible forever."""
    import os

    from chillastic_spark.sinks import upsert

    store = DocumentStore(str(tmp_path / "store"))
    df = spark.range(100).select(
        F.lit("ixb").alias("_index"),
        F.lit("t").alias("_type"),
        F.col("id").cast("string").alias("_id"),
        F.to_json(F.struct(F.col("id").alias("v"))).alias("_source"),
        F.lit(10).cast("long").alias("_size"),
    )
    upsert(spark, store, df, n_buckets=4)
    total = store.read(spark, "ixb").count()
    assert total == 100
    # simulate the crash window on one bucket: live dir renamed away
    victim = store.bucket_paths("ixb")[0]
    os.rename(victim, victim + ".old-deadbeef")
    assert not os.path.isdir(victim)  # docs invisible
    compact_index(spark, store, "ixb")
    assert store.read(spark, "ixb").count() == total  # healed


def test_swap_recovery_restores_newest_and_removes_stale(spark, tmp_path):
    """Multiple .old- leftovers: restore the NEWEST (mtime — the hex
    suffixes are unordered), remove superseded snapshots; with the live
    dir present every .old- is stale and is removed."""
    import os
    import time

    from chillastic_spark.sources.maintenance import _recover_interrupted_swap

    root = tmp_path / "r"
    root.mkdir()
    live = str(root / "idx")

    def mk(name, marker):
        d = root / name
        d.mkdir()
        (d / marker).touch()
        return str(d)

    stale = mk("idx.old-aaaa", "stale")
    time.sleep(0.02)
    newest = mk("idx.old-zzzz", "current")
    os.utime(stale, (1, 1))  # force older mtime regardless of suffix
    _recover_interrupted_swap(live)
    assert os.path.exists(os.path.join(live, "current"))  # newest won
    assert not os.path.exists(stale) and not os.path.exists(newest)

    # live present → leftovers are superseded snapshots, removed
    leftover = mk("idx.old-ffff", "old")
    _recover_interrupted_swap(live)
    assert os.path.exists(os.path.join(live, "current"))
    assert not os.path.exists(leftover)


def test_zorder_many_columns_keeps_high_bits(spark, tmp_path):
    """With 7 zorder columns the 63-bit budget caps bits/column to 9 —
    the cap must apply BEFORE scaling, or the interleave reads only
    each value's low-order bits and the curve orders on noise. With all
    columns equal the Z-key is monotone in the value, so a single-file
    layout must come back exactly value-sorted."""
    from chillastic_spark.sources.maintenance import zorder_layout

    cols = [f"c{i}" for i in range(7)]
    df = (
        spark.range(256)
        .select((F.col("id") * 16).alias("v"))
        .orderBy(F.rand(7))
        .select("v", *[F.col("v").alias(c) for c in cols])
    )
    out = zorder_layout(df, cols, n_files=1, bits=12)
    vals = [r["v"] for r in out.select("v").toLocalIterator()]
    assert vals == sorted(vals)
