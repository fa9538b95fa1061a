"""Adaptive scan fan-out (tables._fanout, r10 optimization round).

The testdata parquet is single-file single-row-group, so a plain scan
is ONE task; load() hash-repartitions the heavy-map-work tables to
defaultParallelism when (and only when) the layout actually starves
parallelism. These tests pin the decision rule — when it fires, when
it must not, and the opt-outs — against real testdata files.
"""
from __future__ import annotations

import os

import pytest

from chillastic_spark import tables as T

SF01 = "/root/testdata/sf0.1"
SF0001 = "/root/testdata/sf0.001"


def test_task_estimate_single_row_group_is_one():
    # one file, one row group → the split planner cannot exceed 1 task
    assert T._scan_task_estimate(
        os.path.join(SF01, "documents.parquet"), 128 << 20, cap=32
    ) == 1


def test_fanout_fires_for_documents_at_sf01(spark):
    d = T.load(spark, SF01, "documents")
    assert d.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_default_off_for_light_tables(spark):
    # events/lineitem consumers are filter+agg shaped: blanket fan-out
    # measured a net loss (OPTIMIZATION_r10.md), so they are opt-in.
    # (lineitem still shows >1 split partitions from the size-based
    # file splitter — the point is no repartition Exchange is added.)
    for name in ("events", "lineitem"):
        d = T.load(spark, SF01, name)
        assert (
            "RepartitionByExpression"
            not in d._jdf.queryExecution().logical().toString()
        ), name


def test_fanout_opt_in_and_opt_out(spark):
    par = spark.sparkContext.defaultParallelism
    assert T.load(spark, SF01, "lineitem", fanout=True).rdd.getNumPartitions() == par
    assert T.load(spark, SF01, "documents", fanout=False).rdd.getNumPartitions() == 1


def test_fanout_respects_byte_floor(spark):
    # sf0.001 documents ≈ 64 KiB < the 512 KiB floor → plain scan, so
    # the small-SF correctness/plan-shape surfaces keep today's shapes
    assert T.load(spark, SF0001, "documents").rdd.getNumPartitions() == 1


def test_fanout_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("CHILLASTIC_SCAN_FANOUT", "off")
    assert T.load(spark, SF01, "documents").rdd.getNumPartitions() == 1


@pytest.mark.parametrize("bad", ["OFF", "0", "", "on", "Auto", "false"])
def test_malformed_fanout_knob_is_rejected(spark, monkeypatch, bad):
    # only auto/off exist: a near-miss such as 'OFF' or '0' must not
    # leave the fan-out silently on
    monkeypatch.setenv("CHILLASTIC_SCAN_FANOUT", bad)
    with pytest.raises(ValueError, match="CHILLASTIC_SCAN_FANOUT must be auto or off"):
        T.load(spark, SF01, "documents")
    with pytest.raises(ValueError, match="CHILLASTIC_SCAN_FANOUT"):
        T.load(spark, SF01, "nation")  # checked for every table


def test_fanout_noop_when_layout_already_parallel(spark, tmp_path):
    # write the same table as many small files: the task estimate
    # clears defaultParallelism and the fan-out must NOT fire
    src = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    out = str(tmp_path / "documents.parquet")
    src.repartition(spark.sparkContext.defaultParallelism).write.parquet(out)
    est = T._scan_task_estimate(out, 128 << 20, cap=8)
    assert est >= 8
    d = T._fanout(spark, spark.read.parquet(out), out, "documents")
    # no Exchange on top: partitioning is whatever the scan yields
    assert "RepartitionByExpression" not in d._jdf.queryExecution().logical().toString()


@pytest.mark.parametrize("name", ["nation", "region", "supplier", "part"])
def test_dimension_tables_never_fan_out(spark, name):
    assert T.load(spark, SF01, name).rdd.getNumPartitions() == 1
