"""Loaders for the driver-generated testdata tables (TESTDATA.md)."""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _events_ts_is_nanos(path: str) -> bool:
    """Probe the parquet footer for a TIMESTAMP(NANOS) ts column —
    driver-side, one footer, no Spark job."""
    import glob

    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    if not files:
        return False
    try:
        import pyarrow as pa

        t = pq.read_schema(files[0]).field("ts").type
        # type-level check, not a string match: a tz-annotated nanos
        # column prints 'timestamp[ns, tz=UTC]' and a string equality
        # would miss it — the Spark read then throws the exact
        # 'Illegal Parquet type' this probe exists to absorb
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return False  # unreadable/odd schema: let the Spark read report it


# --------------------------------------------------------- scan fan-out
#
# The testdata tables ship as SINGLE-FILE, SINGLE-ROW-GROUP parquet, so
# a Spark scan of them is exactly ONE task no matter how many cores the
# session has: parquet only splits at row-group boundaries, and every
# map-side operator fused into the scan stage (tokenise, explode, md5,
# regex scrub, partial aggregation) runs serialized on one core while
# the other 31 idle. That is the guide's "one huge unsplittable file"
# input-skew case, and the remedy is the guide's: repartition
# immediately after the read — but ADAPTIVELY, so the shuffle only
# happens when the scan is actually parallelism-starved:
#
#   * fires only when the file layout yields fewer scan tasks than the
#     session's defaultParallelism (row-group-aware estimate from the
#     parquet footers) — at production scale (many files / many row
#     groups per file) the estimate clears parallelism and the path is
#     a no-op, so this is NOT a local[32]-only constant: the decision
#     derives from input layout vs session parallelism wherever it runs;
#   * fires only above a small byte floor: dimension tables (region,
#     nation, supplier, part, customer) stay broadcast-side scans;
#   * hash-repartitions on the table's high-cardinality natural key
#     (deterministic under task retry, no round-robin pre-sort, and
#     thousands of distinct values per partition so the spread is even);
#     downstream per-key exchanges on the same key are then reused.
#
# Results are partitioning-independent by the repo's determinism
# contract (DECIMAL/rounded-term sums, id tie-breaks) — re-proven this
# round by running the full duckdb oracle gate at sf0.1 WITH the
# fan-out firing (OPTIMIZATION_r10.md). Trade-off: a filter above the
# repartition no longer reaches PushedFilters — irrelevant in the
# firing regime (single row group ⇒ row-group stats can prune nothing)
# and absent in the non-firing regime (big inputs keep today's scan
# shape, pushdown intact). CHILLASTIC_SCAN_FANOUT=off disables.

_FANOUT_KEYS = {
    # l_orderkey alone (not +l_linenumber): ~150k distinct orders
    # spread 32 partitions fine, and single-key partitioning satisfies
    # every downstream clustering that includes l_orderkey (the
    # basket-pairs distinct + self-join reuse this exchange outright)
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
}
# Tables fanned out BY DEFAULT: the ones whose consumers do heavy
# per-row map work (tokenise/explode/md5, vector math) where the
# measured win is large (BENCH_AB this round: jaccard 0.71x, minhash
# 0.63x, incremental 0.67x, text_features 0.54x, similarity_topk
# 0.70x). Light filter+aggregate consumers (relational/events family)
# measured a net LOSS under blanket fan-out (extra exchange + lost
# pushdown for ~no parallelizable work: events_hourly 1.8x, q6 1.33x),
# so everything else is opt-in per call site via load(..., fanout=True).
_FANOUT_DEFAULT = {"documents", "embeddings"}
_FANOUT_MIN_BYTES = 512 * 1024
_FANOUT_MAX_FOOTERS = 64  # more files than this ⇒ parallelism is fine


def _scan_task_estimate(path: str, max_partition_bytes: int, cap: int) -> int:
    """Row-group-aware scan-task estimate for a parquet file or
    directory, early-exiting once ``cap`` tasks are proven. Each file
    contributes min(ceil(bytes/maxPartitionBytes), row_groups) — the
    split planner can cut a file no finer than its row groups."""
    import glob
    import math

    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    if len(files) >= min(cap, _FANOUT_MAX_FOOTERS):
        return len(files)
    tasks = 0
    for f in files:
        try:
            rg = pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            return cap  # unreadable footer: assume fine, change nothing
        tasks += min(
            max(1, math.ceil(os.path.getsize(f) / max_partition_bytes)), max(1, rg)
        )
        if tasks >= cap:
            return tasks
    return tasks


def _input_bytes(path: str) -> int:
    import glob

    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _fanout_allowed() -> bool:
    """``CHILLASTIC_SCAN_FANOUT``: ``auto`` (default) or ``off``, read
    at call time; any other value raises a ValueError naming it."""
    raw = os.environ.get("CHILLASTIC_SCAN_FANOUT", "auto")
    if raw not in ("auto", "off"):
        raise ValueError(f"CHILLASTIC_SCAN_FANOUT must be auto or off (got {raw!r})")
    return raw == "auto"


def _fanout(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    name: str,
    fanout: "bool | None" = None,
) -> DataFrame:
    if not _fanout_allowed():
        return df
    keys = _FANOUT_KEYS.get(name)
    if fanout is None:
        fanout = name in _FANOUT_DEFAULT
    if keys is None or not fanout:
        return df
    try:
        par = spark.sparkContext.defaultParallelism
        if _input_bytes(path) < _FANOUT_MIN_BYTES:
            return df
        try:
            raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
            digits = "".join(c for c in str(raw) if c.isdigit())
            maxpb = int(digits) if digits else 128 * 1024 * 1024
        except Exception:
            maxpb = 128 * 1024 * 1024
        if _scan_task_estimate(path, maxpb, cap=par) >= par:
            return df
    except Exception:
        return df  # estimation trouble: keep the plain scan
    return df.repartition(par, *keys)


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout: "bool | None" = None,
) -> DataFrame:
    if name == "events":
        # events.ts HAS shipped as parquet TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read nanos as long and
        # floor-convert to micros — exactly DuckDB's TIMESTAMP_NS →
        # TIMESTAMP truncation. The legacy flag is SESSION-GLOBAL and
        # makes every later nanos parquet silently read as bigint, so
        # only set it when this file's footer actually carries nanos
        # (micros-era data never mutates the session).
        path = os.path.join(sf_dir, "events.parquet")
        is_nanos = _events_ts_is_nanos(path)
        if is_nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        # div 1000 ONLY when the footer proved nanos: a bigint ts can
        # also mean the file genuinely stores int64 (e.g. epoch-micros
        # staged by a producer) — guessing nanos there would shrink
        # every timestamp 1000x with no error. FLOOR division (via the
        # non-negative pmod remainder), not `div`: `div` truncates
        # toward zero, but DuckDB's TIMESTAMP_NS → TIMESTAMP cast
        # floors, so a pre-epoch nanos ts would land 1 µs later than
        # the oracle sees it
        if is_nanos and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
        return _fanout(spark, df, path, name, fanout)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _fanout(spark, spark.read.parquet(path), path, name, fanout)

