"""Batch 9 — interpolated percentiles, market-basket co-occurrence,
dataset split manifests, and the pivot⁻¹ (unpivot) operator.

Scale notes:
* percentiles: ONE shuffle on event_type serves both windows (rank +
  count share the partitioning); the interpolation picks ≤2 rows per
  percentile per group, so the final agg is tiny;
* basket pairs: per-order self equi-join (never a cross join) — fanout
  is bounded by lines-per-order², the classic co-occurrence shape;
  top-k runs as TakeOrderedAndProject (no global sort materialised);
* the split manifest is a narrow hash gate + small agg — no shuffle
  before the aggregate's map-side combine;
* pivot uses a FIXED column domain (no extra distinct-collect pass) and
  unpivot is a narrow Expand — the round trip proves pivot∘unpivot is
  the identity on observed cells.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chillastic_spark import functions as CF
from chillastic_spark.queries import Query
from chillastic_spark.tables import load


# ------------------------------------------- interpolated percentiles

_PCTS = {"p50": 0.5, "p90": 0.9, "p99": 0.99}


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (percentile_cont
    semantics) of `value` per event_type — the exact companion to the
    GK sketch in ``sketch_value_quantiles``.

    Built from explicit rank arithmetic instead of the engine's
    percentile_cont so the identical IEEE expression runs in the
    oracle: pos = 1 + p·(n−1); result = v⌊pos⌋·(1−frac) + v⌈pos⌉·frac.
    Each output cell sums at most two non-zero terms (plus exact
    zeros), so float addition order cannot diverge.
    """
    e = load(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = (
        e.select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
    )
    keep = F.lit(False)
    cells = []
    for name, p in _PCTS.items():
        keep = keep | CF.pct_keep(F.col("rn"), F.col("n"), p)
        cell = CF.pct_cell(F.col("value"), F.col("rn"), F.col("n"), p)
        cells.append(CF.round_det(F.sum(cell), 6).alias(name))
    return r.filter(keep).groupBy("event_type").agg(*cells)


def _pct_cell_sql(p: float) -> str:
    return CF.round_det_sql(f"sum({CF.pct_cell_sql('value', p)})", 6)


VALUE_PERCENTILES_SQL = f"""
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type,
       {_pct_cell_sql(0.5)} AS p50,
       {_pct_cell_sql(0.9)} AS p90,
       {_pct_cell_sql(0.99)} AS p99
FROM r
WHERE {" OR ".join(CF.pct_keep_sql(p) for p in _PCTS.values())}
GROUP BY event_type
"""


# ------------------------------------------- market-basket pairs

def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs most often ordered together — market-basket
    co-occurrence via a per-order self equi-join.

    The join key is l_orderkey, so fanout is lines-per-order² (bounded,
    ~7² here), never |parts|². Ordering is (count DESC, part_a,
    part_b): a total order, so the limit is deterministic and runs as
    TakeOrderedAndProject.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    return pairs.orderBy(F.desc("n_orders"), "part_a", "part_b").limit(20)


BASKET_PART_PAIRS_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM d a JOIN d b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


# ------------------------------------------- dataset split manifest

SPLIT_BOUNDS = (80, 90)  # <80 train, <90 val, else test


def dataset_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment manifest per language.

    hash60(doc_id‖'#split') % 100 gates each doc into a split — the
    same doc lands in the same split on every run, retry, engine, and
    cluster size (no RNG, no sampleBy), which is what makes the split
    reproducible in a checkpointed 100 TB pipeline. Counts and char
    volumes are exact BIGINT sums.
    """
    d = load(spark, sf_dir, "documents")
    gate = CF.hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#split"))) % 100
    split = (
        F.when(gate < SPLIT_BOUNDS[0], F.lit("train"))
        .when(gate < SPLIT_BOUNDS[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


DATASET_SPLIT_SQL = f"""
SELECT CASE
         WHEN {CF.hash60_sql("doc_id::VARCHAR || '#split'")} % 100 < {SPLIT_BOUNDS[0]} THEN 'train'
         WHEN {CF.hash60_sql("doc_id::VARCHAR || '#split'")} % 100 < {SPLIT_BOUNDS[1]} THEN 'val'
         ELSE 'test'
       END AS split,
       lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY 1, 2
"""


# ------------------------------------------- pivot → unpivot round trip

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts pivoted wide (one column per event_type,
    FIXED domain so no distinct-collect pre-pass) then unpivoted back
    to long form — exercising both reshape operators; the oracle is the
    plain long-form aggregate, proving pivot∘unpivot is the identity on
    observed cells.
    """
    e = load(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(["hour"], EVENT_TYPES, "event_type", "n_events")
    return long.filter(F.col("n_events").isNotNull())


EVENTS_UNPIVOT_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
FROM events
GROUP BY 1, 2
"""


QUERIES = {
    "value_percentiles": Query(value_percentiles, VALUE_PERCENTILES_SQL),
    "basket_part_pairs": Query(basket_part_pairs, BASKET_PART_PAIRS_SQL),
    "dataset_split_manifest": Query(dataset_split_manifest, DATASET_SPLIT_SQL),
    "events_unpivot_roundtrip": Query(events_unpivot_roundtrip, EVENTS_UNPIVOT_SQL),
}
