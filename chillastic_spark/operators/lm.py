"""Model-based corpus filters: hashed bigram-LM perplexity scoring
(the CCNet/LLaMA-pipeline "perplexity filter" shape, Wenzek et al.
2020 arXiv:1911.00359) and a hashed linear quality classifier (the
fastText-style "looks like curated text" gate of the GPT-3/LLaMA
data pipelines, Brown et al. 2020 §A / Touvron et al. 2023 §2).

Both follow the bounded-hashed-feature design of
``operators/importance.dsir_weights``: token features hash into a
fixed bucket domain, so the "model" is a ≤2^16-row table that
BROADCASTS — corpus size only affects the narrow token scans, never
the model side. Hash collisions are the standard accepted
approximation (documented in the DSIR paper for the same trick).

Cross-engine determinism: every transcendental term (log, exp) is
computed on the same arithmetic both engines see, rounded with
``round_det`` at 6 digits, and summed as DECIMAL — the exact recipe
the DSIR operator's oracle equality already proves out.

In production the classifier weights come from a trained model; the
default here derives deterministic pseudo-weights from the bucket id
(a Knuth multiplicative hash into [-1, 1]) so the full scoring path
is exercised and exactly oracle-checkable without shipping a model.
Pass ``weights`` (bucket, w) to use real ones — same plan shape.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF

LM_BUCKETS = 65536
QC_BUCKETS = 4096
NLL_DIGITS = 6


def _bigram_stream(
    df: DataFrame, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """(doc_id, pb, bb) per bigram occurrence: hashed buckets of the
    context token and of the bigram. Narrow (per-row array expansion);
    the words array is projected once so codegen doesn't re-tokenise
    per bigram."""
    base = df.select(
        F.col(id_col).alias("doc_id"), CF.words(text_col).alias("__w")
    )
    w = F.col("__w")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.struct(
            F.element_at(w, i).alias("prev"),
            F.concat(
                F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
            ).alias("bigram"),
        ),
    )
    pairs = F.when(F.size(w) >= 2, pairs).otherwise(
        F.array().cast("array<struct<prev:string,bigram:string>>")
    )
    # explode_OUTER: a doc with < 2 tokens (or NULL text) keeps one
    # marker row with NULL buckets — the dsir_weights convention that
    # lets the per-doc aggregate be id-complete without a full-corpus
    # rejoin. Markers never match a count table and never feed one.
    return base.select("doc_id", F.explode_outer(pairs).alias("p")).select(
        "doc_id",
        (CF.hash60(F.col("p.prev")) % buckets).alias("pb"),
        (CF.hash60(F.col("p.bigram")) % buckets).alias("bb"),
    )


def score_bigrams_against(
    grams: DataFrame,
    ctx: DataFrame,
    big: DataFrame,
    buckets: int,
    frozen: bool = False,
) -> DataFrame:
    """(doc_id, n_bigrams, nll) from a bigram-bucket stream scored
    against the two LM count tables — THE one definition of the
    nll-term rounding and DECIMAL summation, shared by
    ``hashed_bigram_nll`` (self-trained: every real bucket exists in
    the model) and the streaming frozen-model path (``frozen=True``:
    buckets unseen in the frozen corpus count 0). A rounding or
    smoothing change here changes both scorers at once; duplicated,
    the streaming filter silently forks from the batch operator the
    composed pipeline is pinned against.

    Joins are LEFT so the marker rows (_bigram_stream's NULL-bucket
    rows for docs with < 2 tokens) ride through to the aggregate: they
    contribute no term and count 0 bigrams, making the output
    id-complete with NO corpus-sized rejoin. For real grams left ==
    inner (self-trained models contain every observed bucket), and the
    joins stay map-side broadcasts."""
    big_ct = (
        F.coalesce(F.col("big_ct"), F.lit(0)) if frozen else F.col("big_ct")
    )
    ctx_ct = (
        F.coalesce(F.col("ctx_ct"), F.lit(0)) if frozen else F.col("ctx_ct")
    )
    return (
        grams.join(F.broadcast(ctx), "pb", "left")
        .join(F.broadcast(big), "bb", "left")
        .withColumn(
            "nll_term",
            # the when() guard matters only in frozen mode, where the
            # coalesced 0-counts would otherwise give a MARKER row a
            # real smoothed term; unfrozen, a NULL bucket yields a NULL
            # term arithmetically
            F.when(
                F.col("bb").isNotNull(),
                CF.round_det(
                    -F.log((big_ct + 1) / (ctx_ct + F.lit(buckets))),
                    NLL_DIGITS,
                ),
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("bb").alias("n_bigrams"),
            F.sum(F.col("nll_term").cast("decimal(28,6)")).alias("__s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # marker-only docs: NULL __s / 0 → NULL (Spark's Divide
            # null-propagates before the zero check)
            CF.round_det(
                F.col("__s").cast("double") / F.col("n_bigrams"), 4
            ).alias("nll"),
        )
    )


def hashed_bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
) -> DataFrame:
    """(doc_id, n_bigrams, nll): per-doc mean negative log-likelihood
    under an add-1-smoothed hashed bigram LM trained on the corpus
    itself — p(cur|prev) ≈ (C(bb)+1) / (C(pb)+buckets), where C(bb)
    counts occurrences of the BIGRAM's hash bucket and C(pb) of the
    context token's bucket. Keying each count on a single bucket
    domain (never the (pb,bb) cross product) keeps BOTH model tables
    ≤ ``buckets`` rows — broadcastable at any corpus size; bucket
    collisions merging rare bigrams are the standard hashed-LM
    approximation. High nll = unlike the corpus (the perplexity-
    filter signal; ppl = e^nll, monotone — thresholds are stated on
    nll so no cross-engine exp is needed).

    Docs with < 2 tokens have no bigrams: n_bigrams = 0, nll NULL.

    Shape at 100 TB: one narrow bigram expansion feeding (a) two
    bounded-key aggregations (≤ buckets rows each — map-side combine
    does almost all the work) and (b) the scoring joins against the
    two BROADCAST count tables; one groupBy(doc). The model never
    scales with the corpus.
    """
    from chillastic_spark.persist import materialize

    grams = materialize(_bigram_stream(df, id_col, text_col, buckets))
    # markers (NULL buckets) never feed the model counts
    real = grams.filter(F.col("bb").isNotNull())
    ctx = real.groupBy("pb").agg(F.count(F.lit(1)).alias("ctx_ct"))
    big = real.groupBy("bb").agg(F.count(F.lit(1)).alias("big_ct"))
    # id-complete via the marker rows — no full-corpus rejoin (the r7
    # dsir_weights reshape): output is one row per distinct doc_id,
    # short/NULL-text docs read (n_bigrams=0, nll NULL)
    return score_bigrams_against(grams, ctx, big, buckets)


def bigram_nll_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LM_BUCKETS,
) -> str:
    """DuckDB twin of hashed_bigram_nll — identical hash, smoothing,
    rounding, DECIMAL summation, and the identical MARKER-ROW shape
    (docs with < 2 tokens keep one NULL-bucket row through the
    aggregate; no table rejoin — the dsir_weights_sql convention)."""
    w = CF.words_sql(text_col)
    prev_h = CF.hash60_sql("p.prev")
    big_h = CF.hash60_sql("p.prev || ' ' || p.cur")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
    unnest(CASE WHEN len({w}) >= 2
      THEN list_transform(range(1, greatest(len({w}) - 1, 0) + 1),
        i -> struct_pack(prev := {w}[i], cur := {w}[i + 1]))
      ELSE [struct_pack(prev := NULL, cur := NULL)] END) AS p
  FROM {table}
), grams AS (
  SELECT doc_id,
    CASE WHEN p.prev IS NULL THEN NULL ELSE {prev_h} % {buckets} END AS pb,
    CASE WHEN p.prev IS NULL THEN NULL
         ELSE {big_h} % {buckets} END AS bb
  FROM toks
), ctx AS (
  SELECT pb, count(*) AS ctx_ct FROM grams WHERE pb IS NOT NULL GROUP BY pb
), big AS (
  SELECT bb, count(*) AS big_ct FROM grams WHERE bb IS NOT NULL GROUP BY bb
), terms AS (
  SELECT doc_id, grams.bb,
    floor((-ln((big_ct + 1) / CAST(ctx_ct + {buckets} AS DOUBLE)))
      * 1000000.0 + 0.5) / 1000000.0 AS nll_term
  FROM grams LEFT JOIN ctx ON grams.pb = ctx.pb
             LEFT JOIN big ON grams.bb = big.bb
)
SELECT doc_id, count(bb) AS n_bigrams,
  CASE WHEN count(bb) = 0 THEN NULL
    ELSE floor((CAST(sum(CAST(nll_term AS DECIMAL(28,6))) AS DOUBLE)
      / count(bb)) * 10000.0 + 0.5) / 10000.0 END AS nll
FROM terms GROUP BY doc_id
"""


# ------------------------------------------------- linear classifier


def _pseudo_weight(bkt: Column) -> Column:
    """Deterministic stand-in weights in [-1, 1]: Knuth multiplicative
    hash of the bucket id. Exactly reproducible in SQL."""
    return ((bkt * 2654435761) % 2000001) / F.lit(1000000.0) - 1.0


def linear_quality_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = QC_BUCKETS,
    weights: DataFrame | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """(doc_id, n_feats, margin, prob, keep): fastText-style linear
    classifier over hashed bag-of-words features — margin = bias +
    mean feature weight, prob = sigmoid(margin) on the ROUNDED margin
    (both engines exponentiate the same 6-digit double).

    ``weights`` is a (bucket, w) table from a real trained model; the
    default derives deterministic pseudo-weights from the bucket id so
    the scoring path is fully exercised without one. Either way the
    weight side is ≤ ``buckets`` rows and broadcasts.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        # empty tokens carry no feature (split('') yields [''] — purged
        # INSIDE the array); explode_OUTER keeps one NULL marker row
        # for token-less docs so the per-doc aggregate is id-complete
        # with NO corpus-sized rejoin (the dsir_weights convention)
        F.explode_outer(
            F.filter(CF.words(text_col), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).select(
        "doc_id",
        (CF.hash60(F.concat(F.col("tok"), F.lit("#qc"))) % buckets).alias("bkt"),
    )
    if weights is None:
        # _pseudo_weight(NULL) is NULL arithmetically — markers carry
        # no feature weight
        toks = toks.withColumn("__w", CF.round_det(_pseudo_weight(F.col("bkt")), 6))
    else:
        toks = toks.join(
            F.broadcast(weights.select(F.col("bucket").alias("bkt"), F.col("w"))),
            "bkt",
            "left",
        ).withColumn(
            # guard the coalesce with the marker check: an unguarded
            # coalesce(w, 0.0) would give a MARKER row a real 0-weight
            # feature and count it
            "__w",
            F.when(F.col("bkt").isNotNull(), F.coalesce(F.col("w"), F.lit(0.0))),
        )
    per_doc = (
        toks.groupBy("doc_id")
        .agg(
            F.count("bkt").alias("n_feats"),
            F.sum(F.col("__w").cast("decimal(28,6)")).alias("__s"),
        )
        .select(
            "doc_id",
            "n_feats",
            # marker-only docs: NULL __s / 0 → NULL margin
            CF.round_det(
                F.lit(bias) + F.col("__s").cast("double") / F.col("n_feats"), 6
            ).alias("margin"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_feats",
        "margin",
        CF.round_det(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6).alias(
            "prob"
        ),
        # NULL- or empty-text docs read as explicit rejects, never
        # silently vanishing from the keep/reject accounting
        F.coalesce(F.col("margin") >= 0, F.lit(False)).alias("keep"),
    )


def linear_quality_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = QC_BUCKETS,
    bias: float = 0.0,
) -> str:
    """DuckDB twin — identical hash, pseudo-weights, rounding, DECIMAL
    summation, and the identical MARKER-ROW shape (token-less docs keep
    one NULL row through the aggregate; no table rejoin — the
    dsir_weights_sql convention)."""
    w = CF.words_sql(text_col)
    h = CF.hash60_sql("tok || '#qc'")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest(coalesce({w}, [''])) AS tok FROM {table}
), feat AS (
  SELECT doc_id,
    CASE WHEN tok = '' THEN NULL
      ELSE floor((((({h} % {buckets}) * 2654435761) % 2000001)
        / 1000000.0 - 1.0) * 1000000.0 + 0.5) / 1000000.0
    END AS w
  FROM toks
), per_doc AS (
  SELECT doc_id, count(w) AS n_feats,
    CASE WHEN count(w) = 0 THEN NULL
      ELSE floor(({bias} + CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE)
        / count(w)) * 1000000.0 + 0.5) / 1000000.0 END AS margin
  FROM feat GROUP BY doc_id
)
SELECT doc_id, n_feats, margin,
  floor((1.0 / (1.0 + exp(-margin))) * 1000000.0 + 0.5) / 1000000.0 AS prob,
  coalesce(margin >= 0, false) AS keep
FROM per_doc
"""
