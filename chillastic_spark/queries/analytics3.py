"""Batch 7 — corpus-curation utilities a 100 TB training-data pipeline
needs beyond dedup: deterministic stratified sampling, bounded interval
joins, per-group top-k selection, corpus shape histograms, and int8
embedding quantization.

Scale notes (local[32] tests verify correctness; the plan shapes are
chosen for a 1000-executor cluster):
* sampling is a narrow filter on a hash — no shuffle, prunes at scan;
* the interval join buckets time into hour chunks so the join is a pure
  equi-join on (user_id, bucket) — Catalyst picks SMJ/shuffle-hash and
  AQE handles skew; no O(n²) theta-join fallback (BroadcastNestedLoop)
  can appear because every predicate is an equality;
* quantization is per-row array math (whole-stage codegen, no Python).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chillastic_spark import functions as CF
from chillastic_spark.operators import text as T
from chillastic_spark.operators.dedup import shingles
from chillastic_spark.queries import Query
from chillastic_spark.queries.documents import TEXT_FEATURES_SQL
from chillastic_spark.tables import load

_W = CF.words_sql("text")


# ------------------------------------------------- stratified sampling

# Per-language keep rate in percent: downsample the dominant language,
# keep the tail. Deterministic hash-gate sampling (not Bernoulli RNG)
# so re-runs, retries, and the SQL oracle all select the SAME rows —
# the property that makes sampling usable in a checkpointed pipeline.
SAMPLE_RATES = {"en": 20, "de": 60, "fr": 60, "es": 60, "zh": 60}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample of `documents`.

    hash60(doc_id || '#sample') % 100 < rate(lang). Narrow (no
    shuffle); at 100 TB this prunes rows inside the scan stage.
    Reference analog: the index/type filters prune work before the
    scan (app/services/subtasks.js:354-355); this is the row-level
    equivalent for corpus rebalancing.
    """
    d = load(spark, sf_dir, "documents")
    gate = CF.hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#sample"))) % 100
    rate = F.lit(0)
    for lang, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return d.filter(gate < rate).select("doc_id", "lang", "source")


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES.items()
) + " ELSE 0 END"

SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {CF.hash60_sql("doc_id::VARCHAR || '#sample'")} % 100 < {_RATE_SQL}
"""


# ------------------------------------------------- bounded interval join


def purchase_prior_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event: count + sum(value) of the SAME user's
    events in the preceding hour (attribution window).

    Implemented as a bucketed interval join: each probe row explodes to
    its hour bucket and the previous one, the build side keeps its
    single bucket, and the join is a pure equi-join on
    (user_id, bucket) with the exact range applied as a post-filter.
    A naive `t2.ts BETWEEN t1.ts - 1h AND t1.ts` join has no equality
    predicate on time and degenerates to a per-user cross product; the
    bucket key bounds every match to two partitions of work regardless
    of data volume.
    """
    e = load(spark, sf_dir, "events")
    hour = lambda c: F.floor(F.unix_timestamp(c) / F.lit(3600))  # noqa: E731
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withColumn("bucket", F.explode(F.array(hour("p_ts"), hour("p_ts") - 1)))
    )
    prior = e.select(
        "user_id", "ts", "value", hour(F.col("ts")).alias("bucket")
    )
    j = purchases.join(prior, ["user_id", "bucket"]).filter(
        (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < F.col("p_ts"))
    )
    return j.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("sum_prior_value"),
    )


PURCHASE_PRIOR_WINDOW_SQL = """
SELECT a.event_id,
       count(*) AS n_prior,
       round(sum(b.value::DECIMAL(18,6)), 2)::DOUBLE AS sum_prior_value
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts - INTERVAL 1 HOUR
 AND b.ts < a.ts
WHERE a.event_type = 'purchase'
GROUP BY a.event_id
"""


# ------------------------------------------------- per-group top-k


def quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per predicted language by quality score — the
    select-best-per-stratum step of a curation pipeline. row_number
    over (pred_lang) partitions; quality is already deterministically
    rounded (4 digits) by with_text_features, doc_id breaks ties."""
    d = T.with_text_features(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("pred_lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("pred_lang", "rk", "doc_id", "quality")
    )


QUALITY_TOPK_SQL = f"""
WITH tf AS ({TEXT_FEATURES_SQL}),
langed AS (
  SELECT tf.*, row_number() OVER (
      PARTITION BY pred_lang ORDER BY quality DESC, doc_id ASC) AS rk
  FROM tf)
SELECT pred_lang, rk, doc_id, quality FROM langed WHERE rk <= 5
"""


# ------------------------------------------------- BPE token budget


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language LLM token budget: whitespace vs BPE-ish pre-token
    counts and their ratio (the fertility proxy used for corpus token
    accounting). One scan, one tiny-key shuffle."""
    from chillastic_spark.operators.text import bpe_token_count

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(CF.words("text")).alias("ws"),
        bpe_token_count("text").alias("bpe"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
        )
        .withColumn(
            "bpe_per_ws",
            CF.round_det(F.col("bpe_tokens") / F.col("ws_tokens"), 6),
        )
    )


# derived MECHANICALLY from the one Spark definition (SQL single-quote
# doubling only) — a hand-maintained spelling silently goes stale when
# BPE_PATTERN changes and the parity failure surfaces rounds later
_BPE_PAT_SQL = T.BPE_PATTERN.replace("'", "''")

BPE_TOKEN_SQL = f"""
SELECT lang, count(*) AS n_docs,
       sum(len({_W}))::BIGINT AS ws_tokens,
       sum(len(regexp_extract_all(text, '{_BPE_PAT_SQL}')))::BIGINT AS bpe_tokens,
       {CF.round_det_sql(
           "sum(len(regexp_extract_all(text, '" + _BPE_PAT_SQL + "')))::BIGINT"
           f" / sum(len({_W}))::BIGINT", 6)} AS bpe_per_ws
FROM documents GROUP BY lang
"""


# ------------------------------------------------- corpus histogram


def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution: doc counts per 32-token bucket.
    One shuffle on a tiny key domain; the words array is materialised
    once before size() so codegen does not re-tokenise per use.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", CF.words("text").alias("w"))
    return (
        toks.select("lang", (F.floor(F.size("w") / 32) * 32).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


TOKEN_HISTOGRAM_SQL = f"""
SELECT (len({_W}) // 32) * 32 AS bucket_lo,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs
FROM documents
GROUP BY 1
"""


# ------------------------------------------------- int8 quantization


def embedding_int8_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale, the standard ANN-index compression) — validated by
    an integer checksum so the oracle is float-exact. Pure array math
    in whole-stage codegen; a 100 TB embedding table quantizes in the
    scan stage with no shuffle and 4× less sink I/O."""
    e = load(spark, sf_dir, "embeddings")
    v = CF.as_double_array("embedding")
    scaled = e.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("scale"),
    ).filter(F.col("scale") > 0)
    q = F.transform(F.col("v"), lambda x: F.floor(x / F.col("scale") * F.lit(127.0) + F.lit(0.5)))
    return scaled.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate(
            F.transform(q, lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_l1"),
    )


EMBEDDING_INT8_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
  FROM embeddings),
q AS (
  SELECT vec_id, len(v) AS n_dims,
         list_transform(v, x -> floor(x / scale * 127.0 + 0.5)) AS qv
  FROM scaled WHERE scale > 0)
SELECT vec_id, n_dims,
       list_sum(qv)::BIGINT AS q_sum,
       list_sum(list_transform(qv, x -> abs(x)))::BIGINT AS q_l1
FROM q
"""


# ------------------------------------------------- decontamination


def decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY
    5-gram with a held-out benchmark set (here a deterministic 5%
    hash-gated pseudo-benchmark of the same corpus).

    The benchmark gram table is tiny relative to the corpus (real
    benchmarks are ~10^5 docs vs 10^9), so it is broadcast: the corpus
    side never shuffles — contamination checking at 100 TB is one
    map-side semi-join in the scan stage. n_hits counts distinct
    shared grams so the downstream policy can threshold on severity.
    """
    d = load(spark, sf_dir, "documents")
    is_bench = (
        CF.hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#bench"))) % 100
    ) < 5
    grams = shingles(
        d.withColumn("is_bench", is_bench), "doc_id", "text", 5, extra_cols=["is_bench"]
    )
    bench_grams = grams.filter(F.col("is_bench")).select("gh").distinct()
    return (
        grams.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_grams), "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_hits"))
    )


DECONTAMINATE_SQL = f"""
WITH bench AS (
  SELECT doc_id FROM documents
  WHERE {CF.hash60_sql("doc_id::VARCHAR || '#bench'")} % 100 < 5
), g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W, 5)}) AS gram FROM documents)
), bg AS (
  SELECT DISTINCT gh FROM g JOIN bench USING (doc_id)
)
SELECT g.doc_id, count(DISTINCT g.gh) AS n_hits
FROM g JOIN bg USING (gh)
LEFT JOIN bench b ON g.doc_id = b.doc_id
WHERE b.doc_id IS NULL
GROUP BY g.doc_id
"""


# ------------------------------------------------- rollup cascade


def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats computed FROM the hourly pre-aggregate, not from raw
    events — the continuous-aggregate / hypertable-rollup cascade. At
    100 TB the hourly table is ~5 orders of magnitude smaller than the
    raw stream, so the daily (and monthly, …) rollups re-aggregate a
    tiny input; counts re-sum exactly, and value sums re-sum through
    DECIMAL so the cascade is drift-free (summing the rounded doubles
    would be order-dependent).
    """
    from chillastic_spark.queries.engine_parity import events_hourly

    hourly = events_hourly(spark, sf_dir)
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"), F.col("event_type")
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.round(F.sum(F.col("sum_value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )


EVENTS_DAILY_ROLLUP_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
         round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
  FROM events GROUP BY 1, 2)
SELECT date_trunc('day', hour) AS day, event_type,
       sum(cnt)::BIGINT AS cnt,
       round(sum(sum_value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value,
       count(*) AS n_hours
FROM hourly GROUP BY 1, 2
"""


# ------------------------------------------------- audio features (rows-only)


def audio_features_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framewise audio features over binary payloads (operators.
    multimodal.audio_features). Non-SQL-expressible (vectorised PCM
    framing inside mapInPandas) → rows-only driver check; exactness is
    covered by tests (frame-count formula, determinism, bounds)."""
    from chillastic_spark.operators.multimodal import (
        audio_features,
        with_binary_payload,
    )

    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return audio_features(d, fake=True)


# ------------------------------------------------- repetition scoring


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: fraction of
    duplicate word-bigrams and the most-frequent-token concentration —
    the standard boilerplate/spam gates of an LLM corpus filter.

    dup_bigram_frac is a pure per-row array expression (narrow); the
    token-concentration pass is one explode + two map-side-combining
    aggregations keyed by doc — both shapes scan-bound at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", CF.words("text").alias("w"))
    arr = w.select(
        "doc_id",
        F.size("w").alias("n_tok"),
        F.size(F.array_distinct(CF.gram_hashes(F.col("w"), 2))).alias("n_distinct_bi"),
    )
    dup = arr.filter(F.col("n_tok") >= 2).select(
        "doc_id",
        "n_tok",
        CF.round_det(
            F.lit(1.0) - F.col("n_distinct_bi") / (F.col("n_tok") - 1).cast("double"),
            4,
        ).alias("dup_bigram_frac"),
    )
    tok_counts = (
        w.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    return (
        dup.join(tok_counts, "doc_id")
        .select(
            "doc_id",
            "dup_bigram_frac",
            CF.round_det(F.col("max_tok") / F.col("n_tok").cast("double"), 4).alias(
                "top_tok_frac"
            ),
        )
    )


REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, {_W} AS w, len({_W}) AS n_tok, len({CF.grams_sql(_W, 2)}) AS n_distinct_bi
  FROM documents),
tok AS (
  SELECT doc_id, max(c) AS max_tok FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(w) AS t FROM w) GROUP BY doc_id, t)
  GROUP BY doc_id)
SELECT w.doc_id,
  floor((1.0 - n_distinct_bi / CAST(n_tok - 1 AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
    AS dup_bigram_frac,
  floor((max_tok / CAST(n_tok AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS top_tok_frac
FROM w JOIN tok ON w.doc_id = tok.doc_id
WHERE n_tok >= 2
"""


# ------------------------------------------------- per-source report


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: doc counts, mean quality, mean
    length, share of docs passing the quality gate. One
    map-side-combining aggregation over the text-features projection;
    averages derive from exact integer/4-digit-rounded sums so the
    report is engine-reproducible."""
    d = T.with_text_features(load(spark, sf_dir, "documents"))
    q4 = F.col("quality").cast("decimal(8,4)")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            CF.round_det(
                F.sum(q4).cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_quality"),
            CF.round_det(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 2
            ).alias("mean_tokens"),
            F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).alias("n_pass"),
        )
    )


SOURCE_QUALITY_SQL = f"""
WITH tf AS ({TEXT_FEATURES_SQL}),
joined AS (
  SELECT d.source, tf.quality, tf.n_tokens
  FROM documents d JOIN tf ON d.doc_id = tf.doc_id)
SELECT source, count(*) AS n_docs,
  floor((sum(quality::DECIMAL(8,4))::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0
    AS mean_quality,
  floor((sum(n_tokens)::DOUBLE / count(*)) * 100.0 + 0.5) / 100.0 AS mean_tokens,
  sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pass
FROM joined GROUP BY source
"""


# ------------------------------------------------- edit-distance verify


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of near-dup candidates: pairs
    blocked on the 8-word-prefix fingerprint (an inverted-index
    equi-join — never all-pairs), scored by Levenshtein distance of
    the 200-char prefixes. The blocked-candidates → exact-verify shape
    is how edit-distance dedup stays feasible at corpus scale;
    levenshtein is JVM-side (no Python)."""
    d = load(spark, sf_dir, "documents")
    w = CF.words("text")
    fp = d.select(
        "doc_id",
        F.substring("text", 1, 200).alias("prefix"),
        F.md5(F.concat_ws(" ", F.slice(w, 1, 8))).alias("pfp"),
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.pfp") == F.col("b.pfp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("edit_dist"),
        )
    )


DEDUP_EDIT_DISTANCE_SQL = f"""
WITH fp AS (
  SELECT doc_id, substr(text, 1, 200) AS prefix,
         md5(array_to_string(list_slice({_W}, 1, 8), ' ')) AS pfp
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist
FROM fp a JOIN fp b ON a.pfp = b.pfp AND a.doc_id < b.doc_id
"""


# ------------------------------------------------- cohort retention


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-active
    week, counted per week-offset of later activity. Two
    map-side-combining aggregations + one join on user_id — the
    activity table is pre-deduped to (user, week) before the join so
    the shuffle carries user-weeks, not raw events.
    """
    e = load(spark, sf_dir, "events")
    w = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    firsts = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        w.join(firsts, "user_id")
        .select(
            F.col("cohort").alias("cohort_week"),
            (F.floor(F.datediff(F.col("wk"), F.col("cohort")) / 7)).alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


USER_RETENTION_SQL = """
WITH w AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
f AS (
  SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id)
SELECT f.cohort AS cohort_week,
       (date_diff('day', f.cohort, w.wk) // 7)::BIGINT AS week_offset,
       count(DISTINCT w.user_id) AS n_users
FROM w JOIN f ON w.user_id = f.user_id
GROUP BY 1, 2
"""


QUERIES = {
    "events_daily_rollup": Query(events_daily_rollup, EVENTS_DAILY_ROLLUP_SQL),
    "dedup_edit_distance": Query(dedup_edit_distance, DEDUP_EDIT_DISTANCE_SQL),
    "user_retention_cohorts": Query(user_retention_cohorts, USER_RETENTION_SQL),
    "audio_features_meta": Query(audio_features_meta, None),
    "repetition_scores": Query(repetition_scores, REPETITION_SQL),
    "source_quality_report": Query(source_quality_report, SOURCE_QUALITY_SQL),
    "sample_stratified": Query(sample_stratified, SAMPLE_STRATIFIED_SQL),
    "decontaminate_flags": Query(decontaminate_flags, DECONTAMINATE_SQL),
    "purchase_prior_window": Query(
        purchase_prior_window, PURCHASE_PRIOR_WINDOW_SQL, headline=True
    ),
    "quality_topk_per_lang": Query(quality_topk_per_lang, QUALITY_TOPK_SQL),
    "token_histogram": Query(token_histogram, TOKEN_HISTOGRAM_SQL),
    "bpe_token_stats": Query(bpe_token_stats, BPE_TOKEN_SQL),
    "embedding_int8_checksum": Query(embedding_int8_checksum, EMBEDDING_INT8_SQL),
}
