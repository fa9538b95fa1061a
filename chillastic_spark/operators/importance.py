"""DSIR-style importance weighting for data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
arXiv:2302.03169): score every raw document by how target-like its
hashed unigram features are, so a curation run can resample the raw
pool toward a target domain.

Spark-first shape (designed for the 100 TB pool):
* features are HASHED into a fixed bucket table (default 4096), so the
  "language model" of both distributions is a bounded ``buckets``-row
  aggregate no matter the corpus size;
* one tokenise feeds a single conditional groupBy (raw and target
  counts in the same shuffle — the target is a predicate over the same
  pool, per the paper's setup);
* the per-bucket log-ratio table is broadcast back onto the token
  stream, so scoring is one map-side join + one groupBy(doc) — no
  second wide shuffle;
* per-token log-ratios are rounded (`round_det`) and summed through
  DECIMAL, making the doc weight independent of partitioning/engine —
  which is what lets the DuckDB oracle hash-check this operator.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF

DEFAULT_BUCKETS = 4096
LAM_DIGITS = 6  # per-bucket log-ratio rounding (pre-DECIMAL-sum)


def dsir_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    extra_cols: "list[str] | None" = None,
) -> DataFrame:
    """(doc_id, *extra_cols, n_tokens, weight): per-document importance
    weight = Σ_tokens λ(bucket(token)), where λ is the add-1-smoothed
    log-ratio of the target vs raw hashed-unigram distributions.

    ``target`` is a boolean Column over ``df``'s rows marking the
    target-domain subset (e.g. ``F.col("lang") == "en"``). Positive
    weights mean "looks like the target".

    Output contract: ONE row per distinct (doc_id, *extra_cols) group —
    NULL extras are preserved as their own groups (the aggregate is
    built from the token stream itself, so no join key can drop them);
    token-less docs carry (n_tokens=0, weight NULL).
    """
    from chillastic_spark.persist import materialize

    extra = list(extra_cols or [])
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra],
        # NULL-evaluating targets (e.g. lang IS NULL under lang=='en')
        # count as non-target, matching the SQL twin's CASE ... ELSE 0;
        # an un-coalesced NULL would poison the bucket's tgt_ct sum and
        # NULL the weight of every doc sharing the bucket
        F.coalesce(target, F.lit(False)).alias("__tgt"),
        # '' (from empty/whitespace-only text) is not a token and must
        # not contribute a model count or a weight term — purged INSIDE
        # the array, while explode_OUTER keeps one marker row
        # (tok NULL) for token-less docs. That marker is what makes the
        # final per-doc aggregate id-preserving WITHOUT a full-corpus
        # LeftOuter rejoin of the input (the r6 shape — a
        # SortMergeJoin over every doc id that existed only to
        # resurrect the handful of NULL-/empty-text rows).
        F.explode_outer(
            F.filter(CF.words(text_col), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).select(
        "doc_id",
        *extra,
        "__tgt",
        # NULL tok (the marker) hashes to NULL: never a model count,
        # never a lam match, counts 0 toward n_tokens
        (CF.hash60("tok") % buckets).alias("bkt"),
    )
    # the hashed token stream feeds BOTH the LM counts and the scoring
    # join — materialize it so the tokenise+md5 pass runs once (same
    # two-consumer pattern as the dedup shingle tables; the knob in
    # operators/dedup.materialize picks the cluster-appropriate mode)
    toks = materialize(toks)

    counts = toks.filter(F.col("bkt").isNotNull()).groupBy("bkt").agg(
        F.count(F.lit(1)).alias("raw_ct"),
        F.sum(F.col("__tgt").cast("long")).alias("tgt_ct"),
    )
    # model totals via an unpartitioned window over the ≤``buckets``-row
    # counts table, NOT a separate counts.agg() subtree: the aggregate
    # formulation re-ran the whole bucket aggregation over the token
    # pin a second time just to sum 4096 rows (plan-verified: two
    # HashAggregate passes over the pinned stream), where the window
    # computes the identical long sums inside the one counts pass —
    # SinglePartition over ≤4096 rows, no second corpus-pin pass.
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    raw_tot = F.sum("raw_ct").over(wall)
    tgt_tot = F.sum("tgt_ct").over(wall)
    b = F.lit(buckets)
    lam = counts.select(
        "bkt",
        CF.round_det(
            F.log((F.col("tgt_ct") + 1) / (tgt_tot + b))
            - F.log((F.col("raw_ct") + 1) / (raw_tot + b)),
            LAM_DIGITS,
        ).alias("lam"),
    )
    # LEFT broadcast join so the NULL-bkt marker rows ride through: a
    # NULL-/empty-text doc keeps an explicit (n_tokens=0, weight NULL)
    # row — silently missing rows break any resampling step keyed on
    # this table (hashed_bigram_nll convention). Every REAL token's
    # bucket is in lam by construction (lam is built from these same
    # rows), so left-vs-inner changes nothing for token rows, and the
    # join stays the same map-side BroadcastHashJoin — no full-corpus
    # SortMergeJoin anywhere in the plan.
    return (
        toks.join(F.broadcast(lam), "bkt", "left")
        .groupBy("doc_id", *extra)
        .agg(
            F.count("bkt").alias("n_tokens"),
            F.sum(F.col("lam").cast("decimal(28,6)")).cast("double").alias("weight"),
        )
        .select("doc_id", *extra, "n_tokens", "weight")
    )


def dsir_weights_sql(
    target_sql: str,
    buckets: int = DEFAULT_BUCKETS,
    extra_cols: "list[str] | None" = None,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`dsir_weights` — identical hashing,
    smoothing, rounding, and DECIMAL summation, and the identical
    MARKER-ROW shape: token-less docs keep one NULL-bucket row through
    the aggregate instead of being resurrected by a table rejoin. The
    rejoin the r6 twin used was not NULL-safe on extra_cols (a
    NULL-lang doc's real weight vanished to (0, NULL) in SQL but not in
    Spark) — building both sides from the same token stream makes the
    twin engine-exact for NULL extras and collapses duplicate
    (doc_id, extras) rows identically on both engines."""
    extra = list(extra_cols or [])
    ex_sel = "".join(f", {c}" for c in extra)
    ex_grp = "".join(f", {c}" for c in extra)
    lam_expr = CF.round_det_sql(
        f"ln((tgt_ct + 1) / (tgt_tot + {buckets}))"
        f" - ln((raw_ct + 1) / (raw_tot + {buckets}))",
        LAM_DIGITS,
    )
    return f"""
WITH toks AS (
  SELECT doc_id{ex_sel}, tgt,
         CASE WHEN tok = '' THEN NULL
              ELSE {CF.hash60_sql("tok")} % {buckets}
         END AS bkt
  FROM (SELECT doc_id{ex_sel}, ({target_sql}) AS tgt,
               unnest(coalesce({CF.words_sql('text')}, [''])) AS tok
        FROM {table})
), counts AS (
  SELECT bkt, count(*) AS raw_ct, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_ct
  FROM toks WHERE bkt IS NOT NULL GROUP BY bkt
), totals AS (
  SELECT sum(raw_ct) AS raw_tot, sum(tgt_ct) AS tgt_tot FROM counts
), lam AS (
  SELECT bkt, {lam_expr} AS lam FROM counts CROSS JOIN totals
)
SELECT doc_id{ex_grp}, count(bkt) AS n_tokens,
       sum(lam::DECIMAL(28,6))::DOUBLE AS weight
FROM toks LEFT JOIN lam USING (bkt)
GROUP BY doc_id{ex_grp}
"""


# ------------------------------------------------------------ drift (KL)

KL_TERM_DIGITS = 9  # per-bucket KL term rounding (pre-DECIMAL-sum)
KL_OUT_DIGITS = 6


def unigram_counts(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(group, bkt, ct): hashed-unigram bucket counts per group — the
    sufficient statistic both KL sides are built from. '' is not a
    token and must not contribute a model count (the dsir_weights
    convention): an empty/whitespace-only doc tokenises to [''] and
    would otherwise inject counts into the hash('') bucket, skewing
    drift scores by how many empty docs a source ships."""
    toks = (
        df.select(group_col, F.explode(CF.words(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .select(group_col, (CF.hash60("tok") % buckets).alias("bkt"))
    )
    return toks.groupBy(group_col, "bkt").agg(F.count(F.lit(1)).alias("ct"))


def _unigram_domain(
    sb: DataFrame, ref: DataFrame, group_col: str
) -> DataFrame:
    """Shared scaffolding of the drift metrics: the (group × bucket)
    smoothing domain with p/q ingredients attached.

    Each group's smoothing domain is the reference's observed buckets
    ∪ THAT GROUP'S OWN buckets. Including the group's novel buckets
    keeps both sides proper distributions (restricting to the
    reference domain would silently drop novel-vocabulary mass —
    exactly the drift the monitor exists to catch — and the lost mass
    can push a divergence negative); keeping the union PER GROUP means
    a source's score depends only on its own data and the frozen
    reference, never on which other sources happen to co-arrive in
    the same batch (a batch-wide union would let source B's novel
    buckets perturb source A's n_obs and terms). In the
    self-diagnostic case (ref derived from sb across all groups) every
    group's buckets are already in the reference, so the domain is
    exactly the reference's — the oracle SQL is unchanged."""
    ref_n = ref.agg(
        F.sum("cct").alias("tot"), F.count(F.lit(1)).alias("n_ref")
    )
    novel = sb.join(ref, "bkt", "left_anti")  # (group, bkt, ct) rows
    n_novel = novel.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    gstats = (
        sb.groupBy(group_col)
        .agg(F.sum("ct").alias("n_tokens"))
        .join(n_novel, group_col, "left")
        .withColumn("n_novel", F.coalesce("n_novel", F.lit(0)))
        .crossJoin(F.broadcast(ref_n))
        .withColumn("n_obs", F.col("n_ref") + F.col("n_novel"))
    )
    ref_part = (
        ref.crossJoin(F.broadcast(gstats))
        .join(sb, [group_col, "bkt"], "left")
        .withColumn("ct", F.coalesce("ct", F.lit(0)))
    )
    novel_part = novel.join(F.broadcast(gstats), group_col).withColumn(
        "cct", F.lit(0)
    )
    cols = [group_col, "bkt", "cct", "ct", "n_tokens", "n_obs", "tot"]
    return ref_part.select(*cols).union(novel_part.select(*cols))


def _drift_agg(
    dom: DataFrame,
    terms: "list[tuple]",
    group_col: str,
    term_digits: int,
    out_digits: int,
) -> DataFrame:
    """The determinism-critical recipe, in exactly one place: each
    (term, out_name) is rounded per bucket, DECIMAL-summed per group,
    and re-rounded — serving the single-metric functions and the
    combined one from the same code path."""
    dec = f"decimal(28,{term_digits})"
    cols = [
        CF.round_det(t, term_digits).cast(dec).alias(f"__t_{name}")
        for t, name in terms
    ]
    return (
        dom.select(group_col, "n_tokens", *cols)
        .groupBy(group_col, "n_tokens")
        .agg(
            *[
                CF.round_det(
                    F.sum(f"__t_{name}").cast("double"), out_digits
                ).alias(name)
                for _, name in terms
            ]
        )
    )


def _p_q():
    p = (F.col("ct") + 1) / (F.col("n_tokens") + F.col("n_obs"))
    q = (F.col("cct") + 1) / (F.col("tot") + F.col("n_obs"))
    return p, q


def unigram_kl(
    sb: DataFrame,
    ref: DataFrame,
    group_col: str = "source",
    term_digits: int = KL_TERM_DIGITS,
    out_digits: int = KL_OUT_DIGITS,
) -> DataFrame:
    """(group, n_tokens, kl): KL(P_group || Q_ref) with add-1 smoothing
    over the union bucket domain (see :func:`_unigram_domain` — KL is
    non-negative by Gibbs). ``sb`` is :func:`unigram_counts` of the
    data under test; ``ref`` is the frozen reference's (bkt, cct)
    table (for the batch self-diagnostic, ref is just sb re-aggregated
    over groups).

    Engine-exact by the DSIR recipe: per-bucket terms rounded then
    DECIMAL-summed, so bucket partitioning can't reorder float adds.
    Scale shape: everything after the token agg is bucket-cardinality;
    the group totals and reference totals are broadcast."""
    dom = _unigram_domain(sb, ref, group_col)
    p, q = _p_q()
    return _drift_agg(
        dom, [(p * (F.log(p) - F.log(q)), "kl")],
        group_col, term_digits, out_digits,
    )


def unigram_drift(
    sb: DataFrame,
    ref: DataFrame,
    group_col: str = "source",
    term_digits: int = KL_TERM_DIGITS,
    out_digits: int = KL_OUT_DIGITS,
) -> DataFrame:
    """(group, n_tokens, kl, psi): both drift metrics from ONE domain
    pass — the monitoring shape (the stream wants both; building the
    domain twice would double the bucket join for no reason). Values
    are bit-identical to :func:`unigram_kl` / :func:`unigram_psi`."""
    dom = _unigram_domain(sb, ref, group_col)
    p, q = _p_q()
    return _drift_agg(
        dom,
        [
            (p * (F.log(p) - F.log(q)), "kl"),
            ((p - q) * (F.log(p) - F.log(q)), "psi"),
        ],
        group_col, term_digits, out_digits,
    )


def unigram_psi(
    sb: DataFrame,
    ref: DataFrame,
    group_col: str = "source",
    term_digits: int = KL_TERM_DIGITS,
    out_digits: int = KL_OUT_DIGITS,
) -> DataFrame:
    """(group, n_tokens, psi): population stability index per group —
    the SYMMETRIC drift metric ops dashboards alarm on (PSI =
    Σ (p−q)·ln(p/q) = KL(P||Q) + KL(Q||P); conventional thresholds
    ~0.1 watch / ~0.25 act). Same union-domain smoothing, rounding,
    and scale shape as :func:`unigram_kl`; symmetric means a source
    that merely LOST vocabulary relative to the reference alarms just
    as loudly as one that gained it."""
    dom = _unigram_domain(sb, ref, group_col)
    p, q = _p_q()
    return _drift_agg(
        dom, [((p - q) * (F.log(p) - F.log(q)), "psi")],
        group_col, term_digits, out_digits,
    )
