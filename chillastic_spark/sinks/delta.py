"""Delta Lake MERGE adapter for the upsert/purge sink (jar-gated).

The parquet DocumentStore implements MERGE semantics by hand
(bucket-scoped read → anti-join → atomic dir swap, sinks/__init__.py)
because plain parquet has no transaction log. On a real deployment the
same delivery contract maps 1:1 onto ``MERGE INTO`` over a Delta (or
Iceberg — identical SQL surface) table partitioned by the hash-bucket
column:

    upsert (doc_as_upsert, transfer.js:175-189) →
        MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
        THEN INSERT * — transactional, idempotent re-delivery
    purge (right-to-be-forgotten)               →
        MERGE ... WHEN MATCHED THEN DELETE
    bucket pruning (sources.bucket_expr)        →
        t.__bucket = s.__bucket in the ON clause — the engine prunes
        the scan to touched partitions, the same O(touched/N) write
        amplification the dir-swap store measures

Like the es-hadoop module (sources/elasticsearch.py), the delta-spark
jar is not in this container: SQL/option translation below is pure and
unit-tested; the executing entry points probe the classpath and raise a
clear error when the extension is absent. The parquet path is
completely untouched — ``DeltaStore`` is opt-in via a ``delta:`` URL.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark.sinks import dedup_within_batch
from chillastic_spark.sources import N_BUCKETS_DEFAULT, bucket_expr

# null-safe on EVERY key part: a NULL _id (or _index) row must match
# its previous delivery, not silently never-match (NULL = NULL is NULL
# in plain SQL) and duplicate on every at-least-once redelivery — the
# parquet twin's merge window (sinks._merge) groups NULLs for this reason.
# The __bucket equality stays plain =: bucket_expr is never NULL
# (xxhash64(NULL) is the seed constant), and <=> there would defeat
# partition pruning on some engines.
MERGE_KEY = "t._index <=> s._index AND t._type <=> s._type AND t._id <=> s._id"


def bucket_sql(n_buckets: int) -> str:
    """The SQL twin of sources.bucket_expr — both sides of a MERGE must
    agree on the hash for partition pruning to be correct."""
    return f"CAST(pmod(xxhash64(_id), {n_buckets}) AS INT)"


def create_table_sql(table: str, n_buckets: int = N_BUCKETS_DEFAULT) -> str:
    """DDL for the envelope table, partitioned by the hash bucket —
    the Delta/Iceberg analog of the bucketed store layout."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        "  _index STRING, _type STRING, _id STRING,\n"
        "  _source STRING, _size BIGINT,\n"
        f"  __bucket INT\n"
        ") USING delta PARTITIONED BY (__bucket)"
    )


def merge_upsert_sql(table: str, source_view: str = "__batch") -> str:
    """Idempotent doc_as_upsert as one transactional MERGE. The source
    view must carry a ``__bucket`` column (add_bucket_column); matching
    it in the ON clause lets the engine prune to touched partitions."""
    return (
        f"MERGE INTO {table} t\n"
        f"USING {source_view} s\n"
        f"ON {MERGE_KEY} AND t.__bucket = s.__bucket\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def merge_purge_sql(table: str, ids_view: str = "__victims") -> str:
    """Right-to-be-forgotten as MERGE ... DELETE. ``ids_view`` carries
    (_index, _type, _id, __bucket): the INDEX equality scopes the
    delete to the purged index (one table holds ALL indices — without
    it same-id docs in other indices would be destroyed), the bucket
    equality prunes partitions, and the optional type restriction is a
    VIEW COLUMN (NULL = no restriction), never interpolated SQL — a
    quoted/crafted doc_type cannot alter the predicate."""
    return (
        f"MERGE INTO {table} t\n"
        f"USING {ids_view} s\n"
        # <=> mirrors MERGE_KEY: a NULL-keyed doc is upsertable, so it
        # must be purgeable too, and purge()'s pre-count uses the same
        # null-safe predicate — plain = would count such a victim yet
        # never delete it (count overstates, row lingers).
        "ON t._index <=> s._index AND t._id <=> s._id"
        " AND t.__bucket = s.__bucket"
        " AND (s._type IS NULL OR t._type = s._type)\n"
        "WHEN MATCHED THEN DELETE"
    )


# Supported Spark-line → Delta artifact matrix (public delta.io
# compatibility table): each Delta protocol line binds to one Spark
# minor and one Scala binary version. Pinned by per-combo goldens
# (tests/goldens/delta_merge_*.json) so an adapter regression breaks a
# golden even though the jars can't run in this container.
DELTA_COMPAT: dict[str, tuple[str, str]] = {
    "4.0": ("2.13", "4.0.0"),   # Spark 4.0.x — Scala 2.13 only
    "3.5": ("2.12", "3.3.2"),   # Spark 3.5.x — Delta 3.x line
    "3.4": ("2.12", "2.4.0"),   # Spark 3.4.x — last Delta 2.x line
}


def delta_session_options(spark_line: "str | None" = None) -> dict[str, str]:
    """Session config required for the Delta SQL surface — the
    deployment recipe the jar gate error points at. ``spark_line``
    ("major.minor", default: the running pyspark) selects the matching
    Delta artifact from DELTA_COMPAT. Lines NEWER than the matrix fall
    forward to the newest combo (a future 4.x is at least plausibly
    compatible); unknown OLDER lines raise — silently handing Spark 3.3
    the Scala-2.13 Delta-4.0 jar would fail with opaque classloading
    errors at runtime instead of a clear message here."""
    if spark_line is None:
        import pyspark

        spark_line = ".".join(pyspark.__version__.split(".")[:2])
    if spark_line in DELTA_COMPAT:
        scala, delta = DELTA_COMPAT[spark_line]
    else:
        newest = max(DELTA_COMPAT, key=lambda v: tuple(map(int, v.split("."))))
        try:
            newer = tuple(map(int, spark_line.split("."))) > tuple(
                map(int, newest.split("."))
            )
        except ValueError:
            newer = False
        if not newer:
            raise ValueError(
                f"no supported Delta artifact for Spark {spark_line}; "
                f"supported lines: {sorted(DELTA_COMPAT)}"
            )
        scala, delta = DELTA_COMPAT[newest]
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog":
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        "spark.jars.packages": f"io.delta:delta-spark_{scala}:{delta}",
    }


def add_bucket_column(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("__bucket", bucket_expr(n_buckets))


def delta_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "io.delta.sql.DeltaSparkSessionExtension"
        )
        return True
    except Exception:  # noqa: BLE001 — classpath probe
        return False


def _require_delta(spark: SparkSession) -> None:
    if not delta_available(spark):
        opts = ", ".join(f"{k}={v}" for k, v in delta_session_options().items())
        raise RuntimeError(
            f"delta-spark jar not on the classpath; start the session with {opts}"
        )


class DeltaStore:
    """Destination adapter speaking the sink surface (deliver/purge)
    over Delta MERGE — opt-in via ``open_store("delta:<table>")``.

    One Delta table holds all indices (the ``_index`` column is part of
    the merge key), partitioned by ``__bucket``; ``n_buckets`` must be
    stable for the table's lifetime, exactly like the parquet store's
    ``.n_buckets`` marker."""

    def __init__(self, table: str, n_buckets: int = N_BUCKETS_DEFAULT):
        self.table = table
        self.n_buckets = n_buckets

    def reachable(self) -> bool:  # admission probe: jar present?
        spark = SparkSession.getActiveSession()
        return spark is not None and delta_available(spark)

    def index_path(self, index: str) -> str:  # lock key for Transfer
        return f"delta:{self.table}/{index}"

    def ensure_table(self, spark: SparkSession) -> None:
        _require_delta(spark)
        spark.sql(create_table_sql(self.table, self.n_buckets))

    def deliver(self, spark: SparkSession, df: DataFrame, flush_size: int = 100) -> int:
        """Transactional MERGE of an envelope DataFrame (flush_size is
        a no-op here — the transaction replaces batch flushing).

        The batch is checkpointed once (the upstream pipeline — e.g. an
        ES sliced scan — runs a single time for both the count and the
        MERGE), deduped within-batch by the SAME deterministic
        tie-break as the parquet upsert (Delta MERGE throws on multiple
        source rows matching one target), and exposed under a
        per-call view name so concurrent run_task threads sharing the
        session can truly interleave."""
        import uuid

        self.ensure_table(spark)
        from chillastic_spark.persist import materialize, release

        pinned = materialize(add_bucket_column(df, self.n_buckets))
        try:
            batch = dedup_within_batch(pinned)
            n = batch.count()
            view = f"__batch_{uuid.uuid4().hex}"
            batch.createOrReplaceTempView(view)
            try:
                spark.sql(merge_upsert_sql(self.table, source_view=view))
            finally:
                spark.catalog.dropTempView(view)
        finally:
            # per-batch pin: freed even when count/view/MERGE fails, so
            # a retried deliver never accumulates leaked blocks
            release(pinned)
        return n

    def purge(
        self,
        spark: SparkSession,
        index: str,
        ids: "DataFrame | list[str]",
        type: Optional[str] = None,
    ) -> int:
        import uuid

        _require_delta(spark)
        # purging before the first delivery (or replaying against a
        # fresh table) must return 0 like the parquet/ES twins, not
        # raise TABLE_OR_VIEW_NOT_FOUND
        self.ensure_table(spark)
        if isinstance(ids, list):
            # a Python None means a NULL-keyed victim (null-safe MERGE
            # key), not the literal string 'None' — str(None) would
            # delete an unrelated doc with _id='None'
            id_df = spark.createDataFrame(
                [(str(i) if i is not None else None,) for i in ids],
                "_id string",
            )
        else:
            id_df = ids.select(F.col("_id").cast("string"))
        victims = add_bucket_column(
            id_df.distinct()
            .withColumn("_index", F.lit(index))
            .withColumn("_type", F.lit(type).cast("string")),
            self.n_buckets,
        )
        # count the victims present BEFORE the MERGE (pruned semi-join
        # on the same predicate). DESCRIBE HISTORY LIMIT 1 is NOT tied
        # to this purge's commit — under a concurrent writer it reads
        # the OTHER writer's metrics and reports 0 for a purge that
        # deleted rows. The semi-join is exact unless another process
        # deletes the same victim keys in the race window, which is the
        # caller's own concurrent-purge race, not a metrics artifact.
        t = spark.table(self.table)
        v = F.broadcast(victims)
        n = t.join(
            v,
            t["_index"].eqNullSafe(v["_index"])
            & (t["__bucket"] == v["__bucket"])
            & t["_id"].eqNullSafe(v["_id"])
            & (v["_type"].isNull() | (t["_type"] == v["_type"])),
            "left_semi",
        ).count()
        view = f"__victims_{uuid.uuid4().hex}"
        victims.createOrReplaceTempView(view)
        try:
            spark.sql(merge_purge_sql(self.table, ids_view=view))
        finally:
            spark.catalog.dropTempView(view)
        return n

    # -- catalog surface: a Delta destination stores documents only.
    # Index/template config subtasks need a catalog store; failing with
    # a clear contract error at the call beats an AttributeError
    # mid-run (Transfer.transfer_indices dispatches on the store kind).
    def put_indices(self, indices) -> None:
        raise RuntimeError(
            "delta: destinations hold documents only — index-config "
            "subtasks need a parquet or ES destination (route catalog "
            "transfer separately or drop transfer.indices from the task)"
        )

    def put_templates(self, templates) -> None:
        raise RuntimeError(
            "delta: destinations hold documents only — template "
            "subtasks need a parquet or ES destination"
        )
