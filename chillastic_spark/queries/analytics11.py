"""Batch 19 — model-based corpus filters (operators/lm.py): hashed
bigram-LM perplexity scoring and a fastText-style hashed linear
quality classifier. These close the model-based-filtering family of
the LLM curation surface (heuristic gates: documents.py/analytics9;
importance weighting: analytics8 DSIR; this batch: LM scoring).

Both are exactly oracle-checked at sf0.001 and sf0.01 — the
transcendental terms (ln, exp) are rounded at 6 digits and
DECIMAL-summed on both engines (the DSIR determinism recipe).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import lm
from chillastic_spark.queries import Query
from chillastic_spark.tables import load

NLL_KEEP_MAX = 10.5  # keep docs whose mean bigram nll is at most this


def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: per-doc mean negative
    log-likelihood under an add-1-smoothed hashed bigram LM trained on
    the corpus itself, plus the keep verdict at a fixed nll threshold
    (ppl = e^nll is monotone, so thresholding nll avoids cross-engine
    exp). Model tables are bounded by the hash bucket domain and
    broadcast — corpus size only affects the narrow scans."""
    d = load(spark, sf_dir, "documents")
    scored = lm.hashed_bigram_nll(d)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "nll",
        (F.col("nll").isNotNull() & (F.col("nll") <= NLL_KEEP_MAX)).alias("keep"),
    )


PERPLEXITY_SQL = f"""
WITH base AS ({lm.bigram_nll_sql()})
SELECT doc_id, n_bigrams, nll,
  (nll IS NOT NULL AND nll <= {NLL_KEEP_MAX}) AS keep
FROM base
"""


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier over hashed
    bag-of-words features: margin = mean feature weight, prob =
    sigmoid(margin). Weights here are the deterministic pseudo-model
    (operators/lm._pseudo_weight) so the full scoring path runs and
    hash-checks without shipping a trained model; a real (bucket, w)
    table drops in with the same plan."""
    d = load(spark, sf_dir, "documents")
    return lm.linear_quality_scores(d)


QUALITY_CLASSIFIER_SQL = lm.linear_quality_sql()


def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): one
    corpus pass builds the word-frequency table, then every merge
    round runs on the bounded vocab only. Rows-only entry — the
    iterative argmax loop is not SQL-expressible; determinism and
    merge-for-merge parity with a pure-Python replay are pinned in
    tests/test_bpe.py."""
    from chillastic_spark.operators import bpe

    d = load(spark, sf_dir, "documents")
    merges = bpe.train_bpe(d, n_merges=10)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank: int, left: string, right: string, merged: string",
    )


# ------------------------------------------------ binned interval join


def busy_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval analytics via the binned interval join
    (operators/interval.py): find busy windows — maximal runs of
    hours with above-average event counts (integer cross-multiplied
    comparison, no float) — then join ALL events back into those
    windows by time alone (no equi key) and report per-window totals.

    The island detection runs on the bounded hourly aggregate
    (≤ |hours| rows — its single-partition window is over that
    aggregate, never the events); the interval join is the scalable
    bin equi-join — plan-asserted free of BroadcastNestedLoopJoin.
    """
    from pyspark.sql import Window

    from chillastic_spark.operators.interval import bin_interval_join

    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = hourly.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_hours")
    )
    busy = (
        hourly.join(F.broadcast(tot))
        .filter(F.col("cnt") * F.col("n_hours") > F.col("total"))
        .select("h", "cnt")
    )
    # maximal runs of consecutive busy hours (bounded input: the
    # hourly aggregate) — hour minus rank collapses a run to one key
    w = Window.orderBy("h")
    runs = busy.withColumn(
        "grp",
        F.col("h").cast("long") - F.row_number().over(w) * 3600,
    )
    windows = runs.groupBy("grp").agg(
        F.min("h").alias("start_ts"),
        (F.max("h") + F.expr("INTERVAL 1 hour")).alias("end_ts"),
        F.count(F.lit(1)).alias("n_hours"),
    ).drop("grp")
    joined = bin_interval_join(e, "ts", windows, "start_ts", "end_ts")
    return (
        joined.groupBy("start_ts", "end_ts", "n_hours")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


BUSY_WINDOWS_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS cnt FROM events GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS total, count(*) AS n_hours FROM hourly
), busy AS (
  SELECT h, cnt FROM hourly, tot WHERE cnt * n_hours > total
), runs AS (
  SELECT h, epoch(h)::BIGINT - row_number() OVER (ORDER BY h) * 3600 AS grp
  FROM busy
), windows AS (
  SELECT min(h) AS start_ts, max(h) + INTERVAL 1 HOUR AS end_ts,
         count(*) AS n_hours
  FROM runs GROUP BY grp
)
SELECT w.start_ts, w.end_ts, w.n_hours, count(*) AS n_events,
  round(sum(e.value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
FROM windows w JOIN events e ON e.ts >= w.start_ts AND e.ts < w.end_ts
GROUP BY 1, 2, 3
"""


# --------------------------------------------- video frame sampling


def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video stats over the frame-sampling fan-out
    (operators/multimodal.sample_frames — the 1→N mapInPandas shape
    real ffmpeg extraction needs, with decode stubbed as byte
    slicing): frames per doc, sampled bytes, md5 of the first frame.

    EXACTLY oracle-checked, not rows-only: the corpus is pure ASCII
    (verified at every SF), so the fake byte-slice frames are
    closed-form expressible over the text in SQL — the md5 equality
    proves the Arrow fan-out reproduces the contract byte-for-byte.
    Skew note: sample_frames repartitions on a content hash first so
    a few huge payloads can't pin one executor.
    """
    from chillastic_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    d = load(spark, sf_dir, "documents")
    frames = sample_frames(
        with_binary_payload(d), every_n_bytes=64, max_frames=8
    )
    agg = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_bytes").alias("total_frame_bytes"),
        F.min(
            F.when(F.col("frame_idx") == 0, F.md5("frame"))
        ).alias("first_frame_md5"),
    )
    ids = d.select("doc_id")
    return ids.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
        "total_frame_bytes",
        "first_frame_md5",
    )


VIDEO_FRAMES_SQL = """
SELECT doc_id,
  least(8, length(text) // 64) AS n_frames,
  CASE WHEN length(text) >= 64
       THEN least(8, length(text) // 64) * 64 END AS total_frame_bytes,
  CASE WHEN length(text) >= 64
       THEN md5(substring(text, 1, 64)) END AS first_frame_md5
FROM documents
"""


def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh (TimescaleDB hypertable-rollup
    pattern): a late-arriving delta (event_id % 10 == 0 stands in for
    the new ingest) is aggregated ALONE and merged into the existing
    hourly rollup by delta-aggregation — full-outer join on the bucket
    key, counts added, DECIMAL partial sums added, rounding applied
    only at the end (partials stay exact so merge order can't drift).
    The oracle is the full recompute over all events: incremental ==
    from-scratch, hash-verified.

    Scale shape: the delta agg touches only new data; the merge join
    is on (hour, event_type) — bucket cardinality, not event
    cardinality. In the materialized store this is sinks.upsert /
    Delta MERGE INTO on the touched buckets only."""
    e = load(spark, sf_dir, "events")

    def hourly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )

    base = hourly(e.filter(F.col("event_id") % 10 != 0)).alias("b")
    delta = hourly(e.filter(F.col("event_id") % 10 == 0)).alias("d")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        base.join(delta, ["hour", "event_type"], "full_outer")
        .select(
            "hour",
            "event_type",
            (
                F.coalesce(F.col("b.cnt"), F.lit(0))
                + F.coalesce(F.col("d.cnt"), F.lit(0))
            ).alias("cnt"),
            F.round(
                F.coalesce(F.col("b.sv"), zero) + F.coalesce(F.col("d.sv"), zero),
                2,
            )
            .cast("double")
            .alias("sum_value"),
        )
    )


ROLLUP_REFRESH_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS cnt,
  round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS sum_value
FROM events GROUP BY 1, 2
"""


from chillastic_spark.operators import importance as _IMP

_KL_BUCKETS = _IMP.DEFAULT_BUCKETS  # same hashed vocab as DSIR
_KL_TERM_DIGITS = _IMP.KL_TERM_DIGITS  # oracle SQL mirrors the operator


def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift diagnostic: per-source KL divergence of the
    hashed-unigram distribution vs the whole corpus (add-1 smoothing
    over the observed bucket set) — the snapshot-vs-snapshot /
    shard-vs-corpus distribution monitor a curation pipeline runs
    before mixing. High KL = the source's vocabulary diverges from
    the corpus mean.

    Engine-exact by the DSIR recipe (operators/importance.py): the
    per-bucket term p·(ln p − ln q) is rounded at 9 digits and
    DECIMAL-summed, so bucket partitioning can't reorder the float
    sum. Scale shape: one token-stream agg (shuffle on (source,
    bucket)), then everything is bucket-cardinality (≤4096·|sources|)
    — corpus size only affects the narrow scan."""
    from chillastic_spark.operators.dedup import materialize

    d = load(spark, sf_dir, "documents")
    sb = materialize(
        _IMP.unigram_counts(d, "source", buckets=_KL_BUCKETS)
    )
    ref = sb.groupBy("bkt").agg(F.sum("ct").alias("cct"))
    return _IMP.unigram_kl(sb, ref)


def source_unigram_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric companion: per-source PSI (population stability
    index, Σ(p−q)·ln(p/q)) vs the corpus distribution — the metric ops
    dashboards put thresholds on (~0.1 watch / ~0.25 act). Same domain,
    smoothing, rounding, and scale shape as `source_unigram_kl`."""
    from chillastic_spark.operators.dedup import materialize

    d = load(spark, sf_dir, "documents")
    sb = materialize(
        _IMP.unigram_counts(d, "source", buckets=_KL_BUCKETS)
    )
    ref = sb.groupBy("bkt").agg(F.sum("ct").alias("cct"))
    return _IMP.unigram_psi(sb, ref)


def _drift_sql(term_tpl: str, out_name: str) -> str:
    """Shared DuckDB twin of the drift metrics: ``term_tpl`` is a
    format string over p/q (the smoothed shares; the self-case union
    domain IS the corpus bucket set, so `corpus` serves as the
    domain)."""
    b = _KL_BUCKETS
    p = "(ct + 1) / (n_tokens + n_obs)"
    q = "(cct + 1) / (tot + n_obs)"
    term = CF.round_det_sql(term_tpl.format(p=p, q=q), _KL_TERM_DIGITS)
    return f"""
WITH toks AS (
  SELECT source, {CF.hash60_sql("tok")} % {b} AS bkt
  FROM (SELECT source, unnest({CF.words_sql('text')}) AS tok
        FROM documents)
  WHERE tok != ''
), sb AS (
  SELECT source, bkt, count(*) AS ct FROM toks GROUP BY 1, 2
), corpus AS (SELECT bkt, sum(ct)::BIGINT AS cct FROM sb GROUP BY 1),
stot AS (SELECT source, sum(ct)::BIGINT AS n_tokens FROM sb GROUP BY 1),
tots AS (SELECT sum(ct)::BIGINT AS tot, count(DISTINCT bkt)::BIGINT AS n_obs FROM sb),
dom AS (
  SELECT s.source, s.n_tokens, c.bkt, c.cct, coalesce(sb.ct, 0) AS ct
  FROM corpus c CROSS JOIN stot s
  LEFT JOIN sb ON sb.source = s.source AND sb.bkt = c.bkt
)
SELECT source, n_tokens,
       {CF.round_det_sql(f"sum(({term})::DECIMAL(28,{_KL_TERM_DIGITS}))::DOUBLE", 6)} AS {out_name}
FROM dom CROSS JOIN tots
GROUP BY source, n_tokens
"""


def _kl_sql() -> str:
    return _drift_sql("({p}) * (ln({p}) - ln({q}))", "kl")


def _psi_sql() -> str:
    return _drift_sql("(({p}) - ({q})) * (ln({p}) - ln({q}))", "psi")


_PR_ITERS = 5


def knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding centrality: damped PageRank over the corpus k-NN
    similarity graph (operators/graph.py) — high ranks are the
    corpus's representative cores, low ranks its isolates (seed
    selection / outlier review in curation). A FIXED iteration count
    makes even this iterative fixpoint exactly SQL-checkable: the
    oracle unrolls the five power iterations as chained CTEs with the
    identical per-edge-rounded DECIMAL-sum arithmetic, so both engines
    produce bit-identical doubles (a NumPy replay is additionally
    pinned in tests/test_graph.py)."""
    from chillastic_spark.operators.graph import pagerank
    from chillastic_spark.queries.vectors import QUERIES as _VQ

    edges = _VQ["knn_graph_edges"].fn(spark, sf_dir).select("src", "dst")
    return pagerank(edges, iters=_PR_ITERS)


def source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio and distinct
    3-gram ratio — the corpus-level self-repetition measure checked
    before training (low gram_ratio = the source keeps repeating
    itself; the per-doc companion is `repetition_scores`). One
    materialized words projection feeds both explodes; everything
    downstream is source-cardinality."""
    from chillastic_spark.operators.dedup import materialize

    d = load(spark, sf_dir, "documents")
    w = materialize(d.select("source", CF.words("text").alias("w")))
    toks = (
        w.select("source", F.explode("w").alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
        )
    )
    grams = (
        w.select("source", F.explode(CF.gram_hashes(F.col("w"), 3)).alias("gm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gm").alias("distinct_grams"),
        )
    )
    return toks.join(grams, "source", "left").select(
        "source",
        "n_tokens",
        "distinct_tokens",
        CF.round_det(
            F.col("distinct_tokens") / F.col("n_tokens"), 6
        ).alias("ttr"),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("distinct_grams", F.lit(0)).alias("distinct_grams"),
        CF.round_det(F.col("distinct_grams") / F.col("n_grams"), 6).alias(
            "gram_ratio"
        ),
    )


_DIVERSITY_SQL = f"""
WITH w AS (
  SELECT source, {CF.words_sql('text')} AS w FROM documents
), t AS (
  SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS distinct_tokens
  FROM (SELECT source, unnest(w) AS tok FROM w) GROUP BY source
), g AS (
  SELECT source, count(*) AS n_grams, count(DISTINCT gm) AS distinct_grams
  FROM (SELECT source,
               unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                      i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS gm
        FROM w) GROUP BY source
)
SELECT t.source, n_tokens::BIGINT AS n_tokens,
       distinct_tokens::BIGINT AS distinct_tokens,
       {CF.round_det_sql("distinct_tokens / n_tokens", 6)} AS ttr,
       coalesce(n_grams, 0)::BIGINT AS n_grams,
       coalesce(distinct_grams, 0)::BIGINT AS distinct_grams,
       {CF.round_det_sql("distinct_grams / n_grams", 6)} AS gram_ratio
FROM t LEFT JOIN g ON t.source = g.source
"""


_VOCAB_SIZE = 1000


def source_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage diagnostic: per-source out-of-vocabulary
    rate against the corpus's top-1000 token vocabulary (count desc,
    token asc — deterministic cut). High OOV = the source's text
    won't tokenize economically with a corpus-trained vocab; the
    fixed-vocab stand-in for fertility-vs-trained-BPE checks.

    Scale shape: one token agg off a materialized token-count table;
    the vocabulary is a bounded broadcast (TakeOrderedAndProject cut,
    no window); per-source rates are source-cardinality."""
    from chillastic_spark.operators.dedup import materialize

    d = load(spark, sf_dir, "documents")
    toks = materialize(
        d.select("source", F.explode(CF.words("text")).alias("tok"))
        .filter(F.col("tok") != "")  # '' is not a token (empty docs)
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.sum("ct").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_SIZE)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left"
    )
    return flagged.groupBy("source").agg(
        F.sum("ct").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), F.col("ct")).otherwise(F.lit(0)))
        .alias("oov_tokens"),
        CF.round_det(
            F.sum(
                F.when(F.col("__in").isNull(), F.col("ct")).otherwise(F.lit(0))
            )
            / F.sum("ct"),
            6,
        ).alias("oov_rate"),
    )


_OOV_SQL = f"""
WITH toks AS (
  SELECT source, tok, count(*) AS ct
  FROM (SELECT source, unnest({CF.words_sql('text')}) AS tok
        FROM documents)
  WHERE tok != ''
  GROUP BY 1, 2
), vocab AS (
  SELECT tok FROM (SELECT tok, sum(ct) AS n FROM toks GROUP BY tok)
  ORDER BY n DESC, tok ASC LIMIT {_VOCAB_SIZE}
)
SELECT source, sum(ct)::BIGINT AS n_tokens,
       sum(CASE WHEN v.tok IS NULL THEN ct ELSE 0 END)::BIGINT AS oov_tokens,
       {CF.round_det_sql(
           "sum(CASE WHEN v.tok IS NULL THEN ct ELSE 0 END) / sum(ct)", 6
       )} AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY source
"""


_PMI_MIN_COUNT = 5
_PMI_K = 50


def top_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: top-50 adjacent word pairs by PMI
    (ln(p(ab)/(p(a)·p(b))), min bigram count 5) — the classic
    phrase-mining diagnostic (what multiword units should the
    tokenizer / stopword list know about?). PMI is computed as staged
    double divisions of integer counts plus ln (identical op order on
    both engines; no giant integer cross-products that could overflow
    at corpus scale), rounded at 6 digits; ties broken by the unique
    (w1, w2) key so the top-k is deterministic.

    Scale shape: one bigram agg + one unigram agg (each a single
    shuffle off the same materialized words projection), two equi-joins
    onto the vocab-bounded unigram table, broadcast 1-row totals,
    TakeOrderedAndProject top-k — no window, no cartesian."""
    from chillastic_spark.operators.dedup import materialize

    d = load(spark, sf_dir, "documents")
    w = materialize(d.select(CF.words("text").alias("w")))
    pairs_col = F.when(
        F.size("w") >= 2,
        F.arrays_zip(
            F.slice("w", 1, F.size("w") - 1),
            F.slice("w", 2, F.size("w") - 1),
        ),
    ).otherwise(F.array().cast("array<struct<`0`:string,`1`:string>>"))
    # pinned: pairs feeds BOTH the scored join chain and the b_total
    # broadcast — unpinned, the bigram explode + (w1,w2) shuffle ran
    # twice (r10 session 2: 4.11 → 3.08s median, outputs identical;
    # unlike the BM25 postings pin, the duplicated subtree here
    # contains a SHUFFLE, so cutting the recompute beats the extra
    # pin job)
    pairs = materialize(
        w.select(F.explode(pairs_col).alias("p"))
        .select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_COUNT)
    )
    uni = materialize(
        w.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = uni.agg(F.sum("n").alias("n_total"))
    b_total = pairs.agg(F.sum("n_ab").alias("b_total"))
    scored = (
        pairs.join(uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(b_total))
        .select(
            "w1", "w2", "n_ab", "n_a", "n_b",
            CF.round_det(
                F.log(F.col("n_ab") / F.col("b_total"))
                - F.log(F.col("n_a") / F.col("n_total"))
                - F.log(F.col("n_b") / F.col("n_total")),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_K)


_PMI_SQL = f"""
WITH w AS (
  SELECT {CF.words_sql('text')} AS w FROM documents
), bi AS (
  SELECT w1, w2, count(*) AS n_ab
  FROM (SELECT unnest(list_slice(w, 1, len(w) - 1)) AS w1,
               unnest(list_slice(w, 2, len(w))) AS w2
        FROM w WHERE len(w) >= 2)
  GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_COUNT}
), uni AS (
  SELECT tok, count(*) AS n FROM (SELECT unnest(w) AS tok FROM w) GROUP BY 1
), tot AS (SELECT sum(n)::BIGINT AS n_total FROM uni),
bt AS (SELECT sum(n_ab)::BIGINT AS b_total FROM bi)
SELECT b.w1, b.w2, b.n_ab::BIGINT AS n_ab, a.n::BIGINT AS n_a, c.n::BIGINT AS n_b,
       {CF.round_det_sql(
           "ln(b.n_ab / b_total) - ln(a.n / n_total) - ln(c.n / n_total)", 6
       )} AS pmi
FROM bi b JOIN uni a ON b.w1 = a.tok JOIN uni c ON b.w2 = c.tok
CROSS JOIN tot CROSS JOIN bt
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC LIMIT {_PMI_K}
"""


_LPA_ITERS = 3


def knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topical communities in the corpus: deterministic synchronous
    label propagation (operators/graph.label_propagation) over the
    undirected k-NN similarity graph — the clustering companion to
    `knn_pagerank` centrality. All-integer label votes make it
    cross-engine exact with no rounding recipe; the oracle unrolls the
    three rounds as chained CTEs over the kNN-graph SQL."""
    from chillastic_spark.operators.graph import label_propagation
    from chillastic_spark.queries.vectors import QUERIES as _VQ

    edges = _VQ["knn_graph_edges"].fn(spark, sf_dir).select("src", "dst")
    return label_propagation(edges, iters=_LPA_ITERS)


def _lpa_sql(iters: int = _LPA_ITERS) -> str:
    from chillastic_spark.queries.vectors import _knn_graph_sql

    parts = [
        f"WITH raw AS ({_knn_graph_sql()}),",
        "e0 AS (SELECT DISTINCT src, dst FROM raw),",
        "edges AS (SELECT src, dst FROM e0"
        " UNION SELECT dst AS src, src AS dst FROM e0),",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),",
    ]
    for i in range(1, iters + 1):
        prev = f"l{i - 1}"
        parts.append(
            f"v{i} AS (SELECT e.src AS node, l.label, count(*) AS cnt"
            f" FROM edges e JOIN {prev} l ON l.node = e.dst"
            f" GROUP BY 1, 2),"
        )
        parts.append(
            f"l{i} AS (SELECT node, label FROM v{i}"
            f" QUALIFY row_number() OVER"
            f" (PARTITION BY node ORDER BY cnt DESC, label ASC) = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, label FROM l{iters}")
    return "\n".join(parts)


def _pagerank_sql(iters: int = _PR_ITERS, damping: float = 0.85,
                  digits: int = 6) -> str:
    """Unrolled PageRank oracle: iteration i is one grouped decimal
    sum over (edges ⋈ deg ⋈ r_{i-1}) plus the dangling-mass scalar,
    mirroring operators/graph.pagerank term for term. Float literals
    are repr()'d Python doubles so (1.0 - damping) matches Spark's
    driver-side constant bit for bit."""
    from chillastic_spark.queries.vectors import _knn_graph_sql

    p = f"{10 ** digits}.0"
    dec = f"DECIMAL(28,{digits})"
    base = repr(1.0 - damping)  # 0.15000000000000002 — Spark's constant
    damp = repr(damping)
    parts = [
        f"WITH raw AS ({_knn_graph_sql()}),",
        "edges AS (SELECT DISTINCT src, dst FROM raw),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        "deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),",
        "r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" sum((floor(r.rank / d.out_deg * {p} + 0.5) / {p})::{dec})"
            f"::DOUBLE AS in_sum"
            f" FROM edges e JOIN deg d ON e.src = d.src"
            f" JOIN {prev} r ON r.node = e.src GROUP BY e.dst),"
        )
        parts.append(
            f"g{i} AS (SELECT coalesce(sum(r.rank::{dec}), 0)::DOUBLE"
            f" AS dmass FROM {prev} r LEFT JOIN deg d ON r.node = d.src"
            f" WHERE d.src IS NULL),"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" floor(({base}::DOUBLE + {damp}::DOUBLE *"
            f" (coalesce(c.in_sum, 0.0) + g.dmass / nn.n)) * {p} + 0.5)"
            f" / {p} AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.node"
            f" CROSS JOIN g{i} g CROSS JOIN nn),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, rank FROM r{iters}")
    return "\n".join(parts)


QUERIES = {
    "perplexity_filter": Query(perplexity_filter, PERPLEXITY_SQL),
    "quality_classifier_scores": Query(
        quality_classifier_scores, QUALITY_CLASSIFIER_SQL
    ),
    "bpe_trained_merges": Query(bpe_trained_merges, None),
    "busy_window_counts": Query(busy_window_counts, BUSY_WINDOWS_SQL),
    "video_frame_stats": Query(video_frame_stats, VIDEO_FRAMES_SQL),
    "knn_pagerank": Query(knn_pagerank, _pagerank_sql()),
    "rollup_incremental_refresh": Query(
        rollup_incremental_refresh, ROLLUP_REFRESH_SQL
    ),
    "source_unigram_kl": Query(source_unigram_kl, _kl_sql(), headline=True),
    "source_unigram_psi": Query(source_unigram_psi, _psi_sql()),
    "knn_communities": Query(knn_communities, _lpa_sql()),
    "source_diversity": Query(source_diversity, _DIVERSITY_SQL),
    "top_collocations": Query(top_collocations, _PMI_SQL),
    "source_oov_rate": Query(source_oov_rate, _OOV_SQL),
}
