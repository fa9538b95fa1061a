"""Materialized vector index: serving must be bit-identical to the
scan-time LSH operator, probes must prune to bucket partitions, and
incremental adds must land without rewriting existing buckets."""
import os

import pyspark.sql.functions as F

from chillastic_spark.operators.similarity import lsh_topk
from chillastic_spark.sources.vector_index import (
    ann_query_index,
    build_vector_index,
    update_vector_index,
)
from chillastic_spark.tables import load

SF = "/root/testdata/sf0.001"
PLANES = 5


def _queries(e):
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_index_serving_matches_scan_time_lsh(spark, tmp_path):
    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "vidx")
    meta = build_vector_index(e, idx, planes=PLANES)
    assert meta["n_vectors"] == e.count()
    for probes in (1, 3):
        got = {
            (r["query_id"], r["neighbor_id"], r["cos"])
            for r in ann_query_index(
                spark, idx, _queries(e), k=10, probes=probes
            ).collect()
        }
        want = {
            (r["query_id"], r["neighbor_id"], r["cos"])
            for r in lsh_topk(e, _queries(e), k=10, planes=PLANES, probes=probes).collect()
        }
        assert got == want and len(want) > 0, probes


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "vidx2")
    build_vector_index(e, idx, planes=PLANES)
    df = ann_query_index(spark, idx, _queries(e), k=5, probes=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # the scan lists only the probed bucket dirs, not all 2^planes
    n_dirs = sum(
        1 for d in os.listdir(os.path.join(idx, "data")) if d.startswith("bucket=")
    )
    assert n_dirs > 5  # corpus spreads over many buckets...
    assert "bucket IN" in plan or "bucket#" in plan  # ...but the probe filters


def test_incremental_add_preserves_existing_files(spark, tmp_path):
    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "vidx3")
    old = e.filter(F.col("vec_id") >= 10)
    new = e.filter(F.col("vec_id") < 10)
    build_vector_index(old, idx, planes=PLANES)

    def files():
        out = {}
        for dirpath, _d, fs in os.walk(os.path.join(idx, "data")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = files()
    meta = update_vector_index(new, idx)
    assert meta["n_vectors"] == e.count()
    after = files()
    # all pre-existing files still present and untouched
    for p, mt in before.items():
        assert p in after and after[p] == mt
    assert len(after) > len(before)
    # the updated index serves the union, identical to scan-time
    got = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=10).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in lsh_topk(e, _queries(e), k=10, planes=PLANES).collect()
    }
    assert got == want


def test_compaction_shrinks_files_and_preserves_results(spark, tmp_path):
    from chillastic_spark.sources.vector_index import compact_vector_index

    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "vidx4")
    build_vector_index(e.filter(F.col("vec_id") >= 200), idx, planes=PLANES)
    for lo, hi in ((0, 50), (50, 120), (120, 200)):
        update_vector_index(
            e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), idx
        )
    before = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=10).collect()
    }
    n_before = sum(
        1
        for _, _, fs in os.walk(os.path.join(idx, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    stats = compact_vector_index(spark, idx)
    assert stats["n_files"] < n_before
    after = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=10).collect()
    }
    assert after == before


def test_ivf_index_serving_matches_scan_time(spark, tmp_path):
    from chillastic_spark.operators.similarity import ivf_topk
    from chillastic_spark.sources.vector_index import (
        ann_query_ivf_index,
        build_ivf_index,
    )

    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf-idx")
    meta = build_ivf_index(e, idx, n_cells=8)
    assert meta["n_cells"] == 8 and len(meta["centroids"][0]) == 64
    got = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_ivf_index(spark, idx, _queries(e), k=10, nprobe=3).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ivf_topk(e, _queries(e), k=10, n_cells=8, nprobe=3).collect()
    }
    assert got == want and len(want) > 0
    # the probe scan is partition-pruned to the probed cells
    df = ann_query_ivf_index(spark, idx, _queries(e), k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_ivf_build_calibrates_nprobe_per_corpus(spark, tmp_path):
    """r11: build-time held-out nprobe calibration. On a corpus WITH
    cluster structure the persisted ``calibrated_nprobe`` is a small
    fraction of the cells (the measured scan-fraction win) and meets
    the recall target; serving with the default (nprobe=None) probes
    exactly that; ``calibrate=False`` keeps the legacy constant."""
    import numpy as np

    from chillastic_spark.sources.vector_index import (
        ann_query_ivf_index,
        build_ivf_index,
    )

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(512):
        c = centers[i % 8]
        v = c + 0.01 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    idx = str(tmp_path / "ivf-cal")
    meta = build_ivf_index(e, idx, n_cells=8)
    cal = meta["calibration"]
    assert meta["calibrated_nprobe"] == cal["nprobe"]
    assert cal["met_target"] and cal["recall_at_k"] >= 0.8
    # clustered corpus: the measured pick probes far below cells/2
    assert cal["nprobe"] <= 3, f"calibration did not exploit structure: {cal}"

    q = e.filter("vec_id >= 504").selectExpr(
        "vec_id as query_id", "embedding"
    )
    default_rows = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_ivf_index(spark, idx, q, k=5).collect()
    }
    explicit_rows = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_ivf_index(
            spark, idx, q, k=5, nprobe=cal["nprobe"]
        ).collect()
    }
    assert default_rows == explicit_rows and default_rows

    # uncalibrated build: meta records None, serving falls back to the
    # historical constant 3
    idx2 = str(tmp_path / "ivf-uncal")
    meta2 = build_ivf_index(e, idx2, n_cells=8, calibrate=False)
    assert meta2["calibrated_nprobe"] is None
    legacy = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_ivf_index(spark, idx2, q, k=5).collect()
    }
    legacy_explicit = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_ivf_index(spark, idx2, q, k=5, nprobe=3).collect()
    }
    assert legacy == legacy_explicit


def _tiny_corpus(spark):
    rows = [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(24)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_build_falls_back_when_corpus_too_small_to_calibrate(
    spark, tmp_path, monkeypatch, caplog
):
    """The expected calibration failure — no usable held-out queries —
    logs a warning and builds an uncalibrated index."""
    import logging

    import chillastic_spark.operators.similarity as S
    from chillastic_spark.sources.vector_index import build_ivf_index

    def no_queries(*a, **k):
        raise ValueError("ivf_recall_curve: no usable held-out queries")

    monkeypatch.setattr(S, "ivf_recall_curve", no_queries)
    with caplog.at_level(logging.WARNING, "chillastic_spark.vector_index"):
        meta = build_ivf_index(_tiny_corpus(spark), str(tmp_path / "i"), n_cells=2)
    assert meta["calibrated_nprobe"] is None and meta["calibration"] is None
    assert "calibration skipped" in caplog.text
    assert meta["n_vectors"] == 24


def test_ivf_build_calibration_programming_error_propagates(
    spark, tmp_path, monkeypatch
):
    """Calibration is advisory only against a too-small corpus: a
    programming error inside it must surface, not be logged away."""
    import pytest

    import chillastic_spark.operators.similarity as S
    from chillastic_spark.sources.vector_index import build_ivf_index

    def broken(*a, **k):
        raise TypeError("calibrate_nprobe() got an unexpected keyword")

    monkeypatch.setattr(S, "calibrate_nprobe", broken)
    with pytest.raises(TypeError, match="unexpected keyword"):
        build_ivf_index(_tiny_corpus(spark), str(tmp_path / "i"), n_cells=2)


def test_update_rejects_duplicate_ids_and_skip_is_idempotent(spark, tmp_path):
    """At-least-once redelivery: on_existing='skip' makes a replayed
    batch a no-op (n_vectors stable, no duplicate rows); the default
    raises so a changed embedding can't silently serve two versions."""
    import pytest

    from chillastic_spark.sources.vector_index import (
        ann_query_index,
        build_vector_index,
        update_vector_index,
    )

    base = spark.range(20).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 4), j -> cast(pmod(id * j, 7) as double)) as embedding",
    )
    idx = str(tmp_path / "vidx")
    build_vector_index(base, idx, planes=4)
    batch = spark.range(20, 25).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 4), j -> cast(pmod(id * j, 7) as double)) as embedding",
    )
    m1 = update_vector_index(batch, idx)
    # replay: skip mode is a no-op
    m2 = update_vector_index(batch, idx, on_existing="skip")
    assert m2["n_vectors"] == m1["n_vectors"] == 25
    # default mode refuses the duplicate ids outright
    with pytest.raises(ValueError, match="already indexed"):
        update_vector_index(batch, idx)
    # and the index has exactly one row per id
    rows = spark.read.parquet(idx + "/data").groupBy("vec_id").count()
    assert rows.filter("count > 1").count() == 0


def test_ivf_query_edge_guards(spark, tmp_path):
    """No queries → schema-stable empty result (not a numpy AxisError);
    a zero-norm query follows the _unit_rows rule (cos 0 everywhere)
    instead of NaN-poisoning probe-cell selection."""
    from chillastic_spark.sources.vector_index import (
        ann_query_ivf_index,
        build_ivf_index,
    )

    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf-edge")
    build_ivf_index(e, idx, n_cells=4)
    empty = ann_query_ivf_index(
        spark, idx, _queries(e).limit(0), k=5, nprobe=2
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["query_id", "neighbor_id", "cos"]
    zq = spark.range(1).selectExpr(
        "9999 as query_id",
        "transform(sequence(1, 64), j -> cast(0.0 as double)) as embedding",
    )
    # zero-norm query: probe cells are the _unit_rows zero-vector rule
    # and the zero-safe cosine scores 0 everywhere (under ANSI mode the
    # bare division used to FAIL the job, not just NaN)
    rows = ann_query_ivf_index(spark, idx, zq, k=5, nprobe=2).collect()
    assert len(rows) == 5
    assert all(r["cos"] == 0.0 for r in rows)


def test_update_after_empty_build_bootstraps(spark, tmp_path):
    """An index built from an EMPTY frame (bootstrap-then-stream) must
    accept its first update instead of crashing on the unreadable
    empty data dir."""
    from chillastic_spark.sources.vector_index import (
        ann_query_index,
        build_vector_index,
        update_vector_index,
    )

    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 4), j -> cast(pmod(id * j + 1, 7) as double)) as embedding",
    )
    idx = str(tmp_path / "vidx-empty")
    build_vector_index(mk(0, 0), idx, planes=4)
    m = update_vector_index(mk(0, 10), idx, on_existing="skip")
    assert m["n_vectors"] == 10
    q = mk(0, 2).selectExpr("vec_id as query_id", "embedding")
    assert ann_query_index(spark, idx, q, k=3).count() > 0


def test_compact_crash_recovery_rolls_forward(spark, tmp_path):
    """Review findings (r5 + r6): a crash between the two swap renames
    left NO data dir with nothing to heal it, and a lockless recovery
    raced a live compactor. The swap is now JOURNAL-keyed: the journal
    is committed after the compacted dir is complete and removed after
    the swap, so every simulated crash window below carries one —
    and recovery without a journal is deliberately a no-op (that state
    means a compactor is live or the index is virgin)."""
    import json as _json
    import shutil

    from chillastic_spark.sources.vector_index import (
        COMPACT_JOURNAL,
        DATA,
        _recover_compact,
        compact_vector_index,
    )

    def _journal(tag):
        with open(os.path.join(idx, COMPACT_JOURNAL), "w") as f:
            _json.dump({"tag": tag}, f)

    e = load(spark, SF, "embeddings").limit(200)
    idx = str(tmp_path / "vidx")
    build_vector_index(e, idx, planes=PLANES)
    want = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    data = os.path.join(idx, DATA)

    # window 1: compacted dir fully written, journal committed, data
    # renamed away, crash before new->data (the lethal window)
    shutil.copytree(data, data + ".new-dead1")
    _journal("dead1")
    os.rename(data, data + ".old-dead1")
    assert not os.path.exists(data)
    _recover_compact(idx)
    assert os.path.exists(data)
    assert not os.path.exists(data + ".new-dead1")
    assert not os.path.exists(data + ".old-dead1")
    got = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert got == want

    # window 2: crash after new->data (journal still present), old
    # leftover remains
    shutil.copytree(data, data + ".old-dead2")
    _journal("dead2")
    # entry points heal implicitly (query calls _recover_compact)
    got2 = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert got2 == want
    assert not os.path.exists(data + ".old-dead2")

    # and a full compaction still round-trips
    compact_vector_index(spark, idx)
    got3 = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in ann_query_index(spark, idx, _queries(e), k=5).collect()
    }
    assert got3 == want


def test_update_rejects_within_batch_conflicts_and_collapses_copies(
    spark, tmp_path
):
    """Review finding: the duplicate guard only checked against the
    EXISTING index. Identical (id, embedding) copies inside one batch
    collapse to one row; the same id with different embeddings raises
    in every mode."""
    import pytest as _pytest

    from chillastic_spark.sources.vector_index import _meta

    e = load(spark, SF, "embeddings")
    idx = str(tmp_path / "vidx")
    build_vector_index(e.limit(10), idx, planes=PLANES)

    fresh = e.filter(F.col("vec_id") >= 100).limit(2)
    doubled = fresh.unionByName(fresh)  # identical copies
    meta = update_vector_index(doubled, idx, on_existing="skip")
    assert meta["n_vectors"] == 12  # 10 + 2, not 10 + 4

    conflict = fresh.unionByName(
        fresh.withColumn(
            "embedding", F.transform("embedding", lambda x: x + F.lit(1.0).cast("float"))
        )
    )
    for mode in ("skip", "error"):
        with _pytest.raises(ValueError, match="different embeddings"):
            update_vector_index(conflict, idx, on_existing=mode)
    assert _meta(idx)["n_vectors"] == 12  # nothing appended


def test_string_ids_work_across_the_ann_surface(spark, tmp_path):
    """Review finding: ivf_topk/pq_topk/brute_force_topk_fast and the
    empty-queries edge hardcoded long ids. String ids must flow through
    every path with the same ranking as the long-id twin."""
    from chillastic_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_fast,
        ivf_topk,
        pq_topk,
    )

    e = load(spark, SF, "embeddings").limit(300)
    es = e.select(
        F.concat(F.lit("v"), F.format_string("%04d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    qs = es.filter(F.col("vec_id") < "v0005").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    slow = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in brute_force_topk(es, qs, k=5).collect()
    }
    fast = {
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in brute_force_topk_fast(es, qs, k=5).collect()
    }
    assert fast == slow and len(slow) == 25

    # IVF + PQ: string ids must not crash; per-query row counts hold
    ivf = ivf_topk(es, qs, k=5, n_cells=4, nprobe=4)
    assert ivf.groupBy("query_id").count().filter("count != 5").count() == 0
    assert dict(ivf.dtypes)["query_id"] == "string"
    pq = pq_topk(es, qs, k=5, m=16, n_centroids=8, refine=3)
    assert pq.groupBy("query_id").count().filter("count != 5").count() == 0

    # empty-queries edge keeps the caller's id type
    empty = qs.limit(0)
    assert dict(ivf_topk(es, empty, k=5).dtypes)["query_id"] == "string"
    assert dict(brute_force_topk_fast(es, empty, k=5).dtypes)["query_id"] == "string"
