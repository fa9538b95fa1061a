"""Batch 8 — time-series gap-filling, multi-grain aggregation, and
data-quality auditing: the remaining analytics shapes a warehouse /
hypertable user expects (SURVEY.md §8 extensions).

Scale notes (correctness verified on local[32]; plan shapes chosen for
a 1000-executor cluster):
* gap-filling joins a tiny generated grid (|event_types| × hours)
  against an ALREADY-AGGREGATED hourly table — both sides are
  post-shuffle-small no matter the raw input size;
* grouping sets run as ONE scan + Expand (Catalyst), not four scans;
* the referential audit is anti-joins on the FK columns only (column
  pruning reaches the parquet scan) — dims broadcast when small;
* the transition matrix is one window shuffle on user_id then a
  map-side-combined count.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D
from chillastic_spark.persist import materialize
from chillastic_spark.queries import Query
from chillastic_spark.tables import load


# ------------------------------------------------- gap-fill + LOCF

def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-(event_type, hour) series with zero-filled counts and
    last-observation-carried-forward value sums — the hypertable
    `time_bucket_gapfill + locf` operation.

    The grid is generated from the aggregated bounds (min/max hour per
    type), so its size is |types| × hours regardless of raw row count;
    the LOCF window runs over that small grid, never the raw events.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )
    # hourly feeds two consumers (bounds + the grid join); materialise
    # the small aggregate once or Catalyst re-derives BOTH subtrees from
    # the raw scan — at 100 TB that is two full passes over events.
    hourly = materialize(hourly)
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    filled = grid.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("gap_filled"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
    )


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
         round(sum(value::DECIMAL(18,6)), 4)::DOUBLE AS sum_value
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds)
SELECT g.event_type, g.hour,
       coalesce(h.n_events, 0) AS n_events,
       h.n_events IS NULL AS gap_filled,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
FROM grid g LEFT JOIN hourly h
  ON g.event_type = h.event_type AND g.hour = h.hour
"""


# ------------------------------------------------- grouping sets

def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue at four grains in one pass — (nation, year),
    (nation), (year), grand total — via GROUPING SETS.

    Catalyst compiles this to ONE join + Expand + aggregate: the fact
    table is scanned and joined once, not four times. Nation (25 rows)
    is broadcast; the customer join shuffles on the key.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
            "o_totalprice",
        )
    )
    gs = base.groupingSets(
        [["nation", "yr"], ["nation"], ["yr"], []], "nation", "yr"
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return gs.select(
        F.coalesce("nation", F.lit("ALL")).alias("nation"),
        F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("order_year"),
        "revenue",
        "n_orders",
    )


REVENUE_GROUPING_SETS_SQL = """
WITH b AS (
  SELECT n_name AS nation, year(o_orderdate) AS yr, o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey)
SELECT coalesce(nation, 'ALL') AS nation,
       coalesce(yr::VARCHAR, 'ALL') AS order_year,
       round(sum(o_totalprice::DECIMAL(14,2)), 2)::DOUBLE AS revenue,
       count(*) AS n_orders
FROM b
GROUP BY GROUPING SETS ((nation, yr), (nation), (yr), ())
"""


# ------------------------------------------------- ntile deciles

def balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account-balance deciles (exact ntile(10) semantics)
    with per-decile stats — the exact-quantile companion to the GK
    sketch in ``sketch_value_quantiles``.

    Scale shape (ONE shuffle, no window, no single-task total sort):
    EXACT global ranks come from range-partitioned distributed
    ranking — ``repartitionByRange`` on the sort key spreads the
    total order across partitions and ``sortWithinPartitions``
    finishes it locally (both inside the one materialized exchange).
    ``monotonically_increasing_id`` then encodes (partition id <<
    33) + local row offset for free — no second exchange, no window:
    a per-partition count pass (bounded collect: one row per
    partition) yields each partition's global rank offset, and
    rank = offset[pid] + local_offset + 1 is a narrow projection.
    The ntile bucket follows arithmetically from (rank, n): the
    first n%10 buckets take ceil(n/10) rows, the rest floor(n/10) —
    exactly SQL ntile over the same total order, so the DuckDB ntile
    oracle stays hash-exact. The sorted input is materialized
    (``persist.materialize(iterative=True)``) so partition ids AND
    intra-partition order are identical between the offset job and
    the rank job — under ``none`` the escalation to ``reliable``
    keeps that pin.

    For a quick approximate cut at 100 TB, :func:`balance_deciles_approx`
    trades rank exactness for a single sketch aggregate.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order = [F.col("c_acctbal").asc(), F.col("c_custkey").asc()]
    parts = materialize(
        c.repartitionByRange(nparts, *order).sortWithinPartitions(*order),
        iterative=True,  # pid + row-order stability across jobs is correctness
    ).withColumn("__mid", F.monotonically_increasing_id())
    pid = F.shiftright(F.col("__mid"), 33)
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    # bounded collect: ≤ nparts rows, independent of data volume
    rows = parts.groupBy(pid.alias("pid")).agg(F.count("*").alias("cnt")).collect()
    counts = sorted((r["pid"], r["cnt"]) for r in rows)
    total = sum(cnt for _, cnt in counts)
    offsets, acc = {}, 0
    for p, cnt in counts:
        offsets[p] = acc
        acc += cnt
    # long-cast every literal: F.lit(int) is IntegerType below 2^31 and
    # LongType above, and create_map rejects mixed types — on a table
    # whose cumulative offsets cross 2^31 (the scale this query exists
    # for) the analysis would fail with 'values should all be the same
    # type'
    off_map = F.create_map(
        *[F.lit(v).cast("long") for kv in offsets.items() for v in kv]
    )
    q, rem = divmod(total, 10)
    big = q + 1
    rank = F.col("__rank")
    d = (
        parts.withColumn("__rank", off_map[pid] + local + 1)
        .withColumn(
            "decile",
            F.when(
                rank <= rem * big, F.floor((rank - 1) / F.lit(big)) + 1
            ).otherwise(
                # unreachable when q == 0 (then rem*big == total);
                # max(q,1) keeps the divisor ANSI-safe regardless
                rem
                + F.floor((rank - rem * big - 1) / F.lit(max(q, 1)))
                + 1
            ),
        )
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_bal"),
    )


BALANCE_DECILES_SQL = """
WITH d AS (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer)
SELECT decile, count(*) AS n_customers,
       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS sum_bal
FROM d GROUP BY decile
"""


def balance_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path deciles — the 100 TB twin of :func:`balance_deciles`.

    Decile CUT POINTS come from one ``approx_percentile`` aggregate
    (a mergeable KLL-style sketch: map-side partials, one 1-row
    result), which is then BROADCAST onto the rows; each row's decile
    is "1 + number of cuts below my value" — a pure array expression.
    Plan: scan → partial/final sketch agg → broadcast join → 10-key
    hash agg. NO global window, NO total sort, nothing single-task —
    every stage is embarrassingly parallel at any scale (plan-guarded
    in tests/test_plan_shapes.py).

    Trade vs the exact query: bucket boundaries carry the sketch's
    rank error (≤ n/accuracy per cut, accuracy=10000 → ≤0.01% of
    rows per boundary, pinned in tests), and ties are split by VALUE
    (equal balances share a decile) rather than by rank. Rows-only
    correctness entry: DuckDB's approx_quantile uses a different
    sketch, so there is no cross-engine value-exact oracle — the
    error-bound property test is the contract.
    """
    c = load(spark, sf_dir, "customer")
    cuts = c.agg(
        F.percentile_approx(
            "c_acctbal",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(10_000),
        ).alias("cuts")
    )
    d = c.crossJoin(F.broadcast(cuts)).select(
        "c_acctbal",
        (
            F.size(F.filter("cuts", lambda x: F.col("c_acctbal") > x)) + 1
        ).alias("decile"),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_bal"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------- transition matrix

def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count and probability of event_type → next event_type.

    One window shuffle on user_id (lag), then a map-side-combined
    count over the tiny (prev, next) key space. The probability divides
    two BIGINTs — IEEE-identical in any engine — then rounds with the
    portable floor arithmetic.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = t.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("prev_type")
    return counts.withColumn(
        "p", CF.round_det(F.col("n") / F.sum("n").over(wt), 6)
    )


EVENT_TRANSITIONS_SQL = """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
           AS prev_type
  FROM events),
c AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       floor((n / (sum(n) OVER (PARTITION BY prev_type))) * 1000000.0 + 0.5)
         / 1000000.0 AS p
FROM c
"""


# ------------------------------------------------- referential audit

def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — rows whose FK
    has no parent, plus null-key counts. The ingestion-time data-quality
    gate a pipeline runs before publishing a snapshot.

    Each check is an anti-join on the key columns only (column pruning
    reaches the scan; dims broadcast when small). All-zero output is
    the healthy steady state — the operator exists for the day it
    isn't.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    e = load(spark, sf_dir, "events")

    def orphans(name: str, fact: DataFrame, lcol: str, dim: DataFrame, rcol: str) -> DataFrame:
        return (
            fact.select(lcol)
            .join(dim.select(rcol), fact[lcol] == dim[rcol], "left_anti")
            .agg(F.count("*").alias("orphans"))
            .select(F.lit(name).alias("check_name"), "orphans")
        )

    checks = [
        orphans("orders_without_customer", o, "o_custkey", c, "c_custkey"),
        orphans("lineitem_without_order", li, "l_orderkey", o, "o_orderkey"),
        orphans("lineitem_without_part", li, "l_partkey", p, "p_partkey"),
        orphans("lineitem_without_supplier", li, "l_suppkey", s, "s_suppkey"),
        e.filter(F.col("user_id").isNull())
        .agg(F.count("*").alias("orphans"))
        .select(F.lit("events_null_user").alias("check_name"), "orphans"),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionByName(chk)
    return out


REFERENTIAL_INTEGRITY_SQL = """
SELECT 'orders_without_customer' AS check_name, count(*) AS orphans
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem_without_order', count(*)
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem_without_part', count(*)
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem_without_supplier', count(*)
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'events_null_user', count(*) FROM events WHERE user_id IS NULL
"""


# ------------------------------------------------- n-gram containment

def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(d, n=3, threshold=0.9)


def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of ``dedup_ngram_containment``: ASYMMETRIC
    prefix filtering (the canonical smaller doc's rarest-gram prefix
    probes the full index — containment only bounds the overlap by the
    smaller side, so the symmetric Jaccard prefix rule doesn't apply).
    IDENTICAL output, same oracle SQL. Measured at sf0.1/t=0.9:
    1,130,536 candidates → 69,000 (16.4×), prefix index 11% of the
    full gram table — the high-threshold regime (quote/excerpt
    detection) is exactly where the asymmetric filter pays most."""
    d = load(spark, sf_dir, "documents")
    return D.ngram_containment_pairs_prefix(d, n=3, threshold=0.9)


# Shares the gram table with DEDUP_NGRAM_SQL (queries/documents.py);
# the scoring line is the only difference: common / min(|A|, |B|).
DEDUP_CONTAINMENT_SQL = f"""
WITH g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(CF.words_sql('text'), 3)}) AS gram FROM documents)
), sz AS (
  SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       floor((common / least(sa.sz, sb.sz)) * 10000.0 + 0.5) / 10000.0
         AS containment
FROM c JOIN sz sa ON c.ia = sa.doc_id JOIN sz sb ON c.ib = sb.doc_id
WHERE floor((common / least(sa.sz, sb.sz)) * 10000.0 + 0.5) / 10000.0 >= 0.9
"""


QUERIES = {
    "events_gapfill": Query(events_gapfill, EVENTS_GAPFILL_SQL, headline=True),
    "revenue_grouping_sets": Query(
        revenue_grouping_sets, REVENUE_GROUPING_SETS_SQL
    ),
    "balance_deciles": Query(balance_deciles, BALANCE_DECILES_SQL),
    "balance_deciles_approx": Query(balance_deciles_approx, None),
    "event_transitions": Query(event_transitions, EVENT_TRANSITIONS_SQL),
    "referential_integrity": Query(
        referential_integrity, REFERENTIAL_INTEGRITY_SQL
    ),
    "dedup_ngram_containment": Query(
        dedup_ngram_containment, DEDUP_CONTAINMENT_SQL
    ),
    "dedup_containment_prefix": Query(
        dedup_containment_prefix, DEDUP_CONTAINMENT_SQL, headline=True
    ),
}
