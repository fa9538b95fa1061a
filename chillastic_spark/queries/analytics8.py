"""Batch 16 — curation-pipeline round-out: PII scrubbing audit, DSIR
importance weighting, domain-mixture planning, canonical-doc selection,
incremental (batch-vs-corpus) dedup, and SemDeDup-style embedding
cluster manifests.

Scale notes (the 100 TB contract for each):
* `pii_scrub_report` is pure regexp codegen + one groupBy(source) —
  narrow scan, bounded output (|sources| rows);
* `dsir_importance_weights` keeps both "language models" as a
  4096-row hashed-bucket table (one conditional groupBy) broadcast
  back onto the token stream — corpus size only affects the scans;
* `domain_mixture_manifest` is one agg to |sources| rows; the
  mixture math is integer/rounded-double arithmetic on aggregates;
* `dedup_keep_best` adds one broadcast-side quality join + a
  struct-max groupBy on top of the existing pair→cluster path;
* `dedup_incremental` computes signatures in ONE shared shuffle and
  joins incoming→existing bands only, so candidate volume scales with
  the ingest batch, not the corpus;
* `semantic_dedup_manifest` reuses the label-blocked cosine join (no
  all-pairs) and the pointer-jumping components loop.

PII augmentation note: the synthetic corpus contains no PII-shaped
strings, so the scrub query plants deterministic synthetic PII
(doc_id-derived emails/phones/account numbers/URLs) in-plan on BOTH
engines before scrubbing — the operator and its oracle see identical
inputs with non-trivial hit counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import importance as IMP
from chillastic_spark.operators import text as T
from chillastic_spark.operators.components import connected_components, duplicate_clusters
from chillastic_spark.operators.scrub import SCRUB_RULES, scrub_text
from chillastic_spark.queries import Query
from chillastic_spark.queries.documents import QUALITY_EXPR_SQL
from chillastic_spark.tables import load

# ------------------------------------------------------- PII scrub audit


def _augmented_text() -> "F.Column":
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" call +1 (555) 123-4567 now")).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" account 9"),
                F.lpad(((did * did) % 100000000).cast("string"), 8, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(F.lit(" see https://example.org/doc/"), did.cast("string"), F.lit(" ok")),
        ).otherwise(F.lit("")),
    )


_AUG_SQL = """text
  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' call +1 (555) 123-4567 now' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' account 9' || lpad(((doc_id * doc_id) % 100000000)::VARCHAR, 8, '0') ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' see https://example.org/doc/' || doc_id || ' ok' ELSE '' END"""


def pii_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII-redaction audit: how many docs each scrub rule
    fires on, how many docs change at all, and how many characters the
    redaction removes (operators/scrub.py rule set — the audit a
    privacy review asks for before a training run)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", _augmented_text().alias("aug")
    )
    s = d.withColumn("scrubbed", scrub_text("aug"))
    # flags against the progressively-scrubbed intermediate (the
    # with_scrubbed_text rule): a rule whose match an earlier rule
    # already swallowed did NOT fire and must not count
    aggs = []
    stage = F.col("aug")
    for name, pattern, repl in SCRUB_RULES:
        aggs.append(F.sum(stage.rlike(pattern).cast("long")).alias(f"hit_{name}"))
        stage = F.regexp_replace(stage, pattern, repl)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *aggs,
        F.sum((F.col("scrubbed") != F.col("aug")).cast("long")).alias("n_redacted"),
        F.sum(F.length("aug") - F.length("scrubbed")).alias("chars_removed"),
    )


def _pii_sql() -> str:
    # flags against the progressively-scrubbed intermediate — same
    # chain order as the Spark side (with_scrubbed_text rule)
    scrub = "aug"
    hit_terms = []
    for name, pattern, repl in SCRUB_RULES:
        hit_terms.append(
            f"sum(CASE WHEN regexp_matches({scrub}, '{pattern}') THEN 1 ELSE 0 END)"
            f"::BIGINT AS hit_{name}"
        )
        scrub = f"regexp_replace({scrub}, '{pattern}', '{repl}', 'g')"
    hits = ",\n       ".join(hit_terms)
    return f"""
WITH a AS (SELECT doc_id, source, {_AUG_SQL} AS aug FROM documents),
s AS (SELECT doc_id, source, aug, {scrub} AS scrubbed FROM a)
SELECT source, count(*) AS n_docs,
       {hits},
       sum(CASE WHEN scrubbed != aug THEN 1 ELSE 0 END)::BIGINT AS n_redacted,
       sum(length(aug) - length(scrubbed))::BIGINT AS chars_removed
FROM s GROUP BY source
"""


# ------------------------------------------------- DSIR importance weights

_DSIR_K = 50


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most target-like docs under DSIR hashed-unigram
    importance weighting (target domain = English docs), ranked by the
    LENGTH-NORMALIZED score (mean per-token log-ratio — the paper's
    per-example likelihood ratio, which doesn't conflate target
    affinity with document length). See operators/importance.py for
    the scale shape."""
    d = load(spark, sf_dir, "documents")
    w = IMP.dsir_weights(d, F.col("lang") == "en", extra_cols=["lang"])
    scored = w.withColumn(
        "score", CF.round_det(F.col("weight") / F.col("n_tokens"), 6)
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_DSIR_K)


DSIR_SQL = f"""
WITH w AS ({IMP.dsir_weights_sql("lang = 'en'", extra_cols=["lang"])})
SELECT doc_id, lang, n_tokens, weight,
       {CF.round_det_sql("weight / n_tokens", 6)} AS score
FROM w
ORDER BY score DESC, doc_id ASC LIMIT {_DSIR_K}
"""


# ------------------------------------------------ domain mixture manifest

_MIX_BUDGET = 500_000  # token budget for the sampled mix


def domain_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling plan for a target domain mixture (Pile/Dolma-style):
    each source gets weight (suffix_number % 4) + 1; the plan reports
    per-source actual tokens, the token budget share, the sampling
    rate (≤ 1), and the expected sampled token volume.

    Everything is integer arithmetic on per-source aggregates plus one
    rounded double (the rate), so the manifest is engine-exact."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.size(CF.words("text")).alias("n_tok")
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("actual_tokens")
    )
    # try_cast: a DIGITLESS source name extracts '' and a plain cast
    # would fail the job under ANSI mode — dirty names get weight 1
    w = (
        F.coalesce(
            F.regexp_extract("source", r"(\d+)", 1).try_cast("long"), F.lit(0)
        )
        % 4
    ) + 1
    # materialize the |sources|-row aggregate so the weight total does
    # not re-scan the corpus (one documents scan total)
    per_src = D.materialize(per_src.withColumn("mix_weight", w))
    tot = per_src.agg(F.sum("mix_weight").alias("w_tot"))
    out = per_src.crossJoin(F.broadcast(tot))
    desired = F.floor(F.lit(_MIX_BUDGET) * F.col("mix_weight") / F.col("w_tot")).cast(
        "long"
    )
    out = out.withColumn("desired_tokens", desired)
    rate = CF.round_det(
        F.least(F.lit(1.0), F.col("desired_tokens") / F.col("actual_tokens")), 6
    )
    out = out.withColumn("sample_rate", rate)
    return out.select(
        "source",
        "n_docs",
        "actual_tokens",
        "mix_weight",
        "desired_tokens",
        "sample_rate",
        F.floor(F.col("actual_tokens") * F.col("sample_rate")).cast("long").alias(
            "expected_tokens"
        ),
    )


MIXTURE_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         sum(len({CF.words_sql('text')}))::BIGINT AS actual_tokens,
         (coalesce(TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT), 0) % 4) + 1 AS mix_weight
  FROM documents GROUP BY source
), tot AS (SELECT sum(mix_weight) AS w_tot FROM per_src),
plan AS (
  SELECT source, n_docs, actual_tokens, mix_weight,
         floor({_MIX_BUDGET} * mix_weight / w_tot)::BIGINT AS desired_tokens
  FROM per_src CROSS JOIN tot
)
SELECT source, n_docs, actual_tokens, mix_weight, desired_tokens,
       {CF.round_det_sql("least(1.0, desired_tokens / actual_tokens)", 6)} AS sample_rate,
       floor(actual_tokens * ({CF.round_det_sql("least(1.0, desired_tokens / actual_tokens)", 6)}))::BIGINT AS expected_tokens
FROM plan
"""


def mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the mixture plan: apply the manifest's per-source
    sampling rate as the deterministic per-doc hash gate the curation
    pipeline uses (pipelines.curate mixture stage —
    hash60(doc_id || '#mix') % 1e6 < round(rate·1e6)) and report the
    realized per-source volumes. Closes the loop on
    ``domain_mixture_manifest``: the plan says what SHOULD survive,
    this oracle-checks what DOES.

    Scale shape: rates are a |sources|-row broadcast; the gate is one
    narrow filtered scan + per-source agg — no extra shuffle beyond
    the groupBy."""
    d = load(spark, sf_dir, "documents")
    rates = domain_mixture_manifest(spark, sf_dir).select(
        "source", "sample_rate"
    )
    gate = F.floor(F.col("sample_rate") * 1_000_000.0 + 0.5).cast("long")
    h = CF.hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#mix")))
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter((h % 1_000_000) < gate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(F.size(CF.words("text"))).alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "sample_rate",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
    )


MIXTURE_SAMPLE_SQL = f"""
WITH plan AS ({MIXTURE_SQL}),
kept AS (
  SELECT d.source, count(*) AS kept_docs,
         sum(len({CF.words_sql('d.text')}))::BIGINT AS kept_tokens
  FROM documents d JOIN plan p ON d.source = p.source
  WHERE {CF.hash60_sql("d.doc_id::VARCHAR || '#mix'")} % 1000000
        < floor(p.sample_rate * 1000000.0 + 0.5)::BIGINT
  GROUP BY d.source)
SELECT p.source, p.sample_rate,
       coalesce(k.kept_docs, 0)::BIGINT AS kept_docs,
       coalesce(k.kept_tokens, 0)::BIGINT AS kept_tokens
FROM plan p LEFT JOIN kept k ON p.source = k.source
"""


# ------------------------------------------------- keep-best per cluster


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection: near-dup clusters (3-gram Jaccard ≥ 0.5
    → connected components) keep their HIGHEST-QUALITY member instead
    of the smallest id — the selection rule a curation pipeline
    actually wants. One row per multi-doc cluster: the kept doc, its
    quality, and the cluster size."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    clusters = duplicate_clusters(pairs)
    # join membership BEFORE scoring: quality tokenization runs only on
    # cluster members (a sliver of the corpus), not on every document —
    # Catalyst will not defer a Project's expensive expressions past a
    # join on its own, so the order here IS the cost model
    members = clusters.select("doc_id", "cluster_id").join(d, "doc_id")
    joined = T.with_text_features(members).select("doc_id", "cluster_id", "quality")
    best = joined.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid"))
        ).alias("_b"),
    )
    return best.select(
        "cluster_id",
        "n_members",
        (-F.col("_b.nid")).alias("keep_id"),
        F.col("_b.q").alias("keep_quality"),
    )


KEEP_BEST_SQL = f"""
WITH RECURSIVE g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(CF.words_sql('text'), 3)}) AS gram FROM documents)
), sz AS (
  SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT ia AS id_a, ib AS id_b
  FROM c JOIN sz sa ON c.ia = sa.doc_id JOIN sz sb ON c.ib = sb.doc_id
  WHERE floor((common / (sa.sz + sb.sz - common)) * 10000.0 + 0.5) / 10000.0 >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a AND e.b <> r.n
), clusters AS (
  SELECT n AS doc_id, least(n, min(m)) AS cluster_id FROM reach GROUP BY n
), q AS (
  SELECT doc_id, {QUALITY_EXPR_SQL} AS quality FROM documents
), ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN q USING (doc_id)
)
SELECT cluster_id, n_members, doc_id AS keep_id, quality AS keep_quality
FROM ranked WHERE rn = 1
"""


# -------------------------------------------------- incremental dedup

_INC_PRED = "doc_id % 3 = 0"  # the "incoming batch" split


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: docs in the incoming batch (doc_id % 3 = 0)
    that near-duplicate the EXISTING corpus via MinHash banding; one
    row per flagged doc with its best existing match."""
    d = load(spark, sf_dir, "documents")
    return D.minhash_lsh_incremental(
        d, F.col("doc_id") % 3 == 0, n=3, num_perm=16, bands=4, threshold=0.25
    )


def _incremental_sql(num_perm: int = 16, bands: int = 4, threshold: float = 0.25) -> str:
    rows = num_perm // bands
    P = D.MINHASH_P
    perms = D.minhash_perm_constants(num_perm)
    mh_cols = ",\n    ".join(
        f"min(({a} * (gh % {P}) + {b}) % {P}) AS mh{i}" for i, (a, b) in enumerate(perms)
    )
    band_sel = ",\n    ".join(
        "(" + " || ',' || ".join(f"mh{b * rows + j}::VARCHAR" for j in range(rows)) + f") AS bk{b}"
        for b in range(bands)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT a.doc_id AS doc_id, b.doc_id AS match_id FROM bands a JOIN bands b"
        f" ON a.bk{b2} = b.bk{b2} AND a.inc AND NOT b.inc"
        for b2 in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    est = f"floor((({eq_sum}) / {float(num_perm)}) * 10000.0 + 0.5) / 10000.0"
    return f"""
WITH g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(CF.words_sql('text'), 3)}) AS gram FROM documents)
), sig AS (
  SELECT doc_id,
    {mh_cols}
  FROM g GROUP BY doc_id
), bands AS (
  SELECT sig.doc_id, ({_INC_PRED}) AS inc,
    {band_sel}
  FROM sig
), cand AS (
{cand_union}
), scored AS (
  SELECT cand.doc_id, cand.match_id, {est} AS est_jaccard
  FROM cand JOIN sig sa ON cand.doc_id = sa.doc_id
            JOIN sig sb ON cand.match_id = sb.doc_id
  WHERE {est} >= {threshold}
)
SELECT doc_id, match_id, est_jaccard FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY est_jaccard DESC, match_id ASC) = 1
"""


# ------------------------------------------- SemDeDup cluster manifest


def semantic_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped manifest (Abbas et al. 2023, arXiv:2303.09540):
    embedding-space near-dup pairs (label-blocked cosine ≥ 0.3) →
    connected components → keep one representative per semantic
    cluster. One row per clustered vector: (vec_id, cluster_id,
    is_kept). Blocking plays the role of SemDeDup's k-means cells and
    keeps the pair join non-cartesian; hash-checkable because every
    step (cosine rounding, min-label components) is deterministic."""
    e = load(spark, sf_dir, "embeddings")
    pairs = D.embedding_dup_pairs(e, threshold=0.3)
    comps = connected_components(pairs)
    return comps.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


_COS = CF.cosine_sql("a.v", "b.v")  # zero-safe, matches CF.cosine

SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE floor(({_COS}) * 10000.0 + 0.5) / 10000.0 >= 0.3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.n, e2.b FROM reach r JOIN edges e2 ON r.m = e2.a AND e2.b <> r.n
)
SELECT n AS vec_id,
       least(n, min(m)) AS cluster_id,
       n = least(n, min(m)) AS is_kept
FROM reach GROUP BY n
"""


# ---------------------------------------------- BPE merge candidates

_BPE_TOPK = 30


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-character-pair merge candidates across the
    corpus — the counting step of BPE tokenizer training (the highest
    count is the next merge rule). See operators/text.char_pair_counts
    for the scale shape."""
    d = load(spark, sf_dir, "documents")
    counts = T.char_pair_counts(d)
    return counts.orderBy(F.desc("n"), F.asc("pair")).limit(_BPE_TOPK)


BPE_MERGE_SQL = f"""
WITH w AS (
  SELECT unnest({CF.words_sql('text')}) AS word FROM documents
), p AS (
  SELECT unnest(CASE WHEN length(word) >= 2
                THEN list_transform(range(1, length(word)), i -> word[i:i+1])
                ELSE CAST([] AS VARCHAR[]) END) AS pair
  FROM w
)
SELECT pair, count(*)::BIGINT AS n FROM p GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {_BPE_TOPK}
"""


QUERIES: dict[str, Query] = {
    "pii_scrub_report": Query(pii_scrub_report, _pii_sql()),
    "dsir_importance_weights": Query(dsir_importance_weights, DSIR_SQL, headline=True),
    "domain_mixture_manifest": Query(domain_mixture_manifest, MIXTURE_SQL),
    "mixture_sample_counts": Query(mixture_sample_counts, MIXTURE_SAMPLE_SQL),
    "dedup_keep_best": Query(dedup_keep_best, KEEP_BEST_SQL),
    "dedup_incremental": Query(dedup_incremental, _incremental_sql(), headline=True),
    "semantic_dedup_manifest": Query(semantic_dedup_manifest, SEMANTIC_DEDUP_SQL),
    "bpe_merge_candidates": Query(bpe_merge_candidates, BPE_MERGE_SQL),
}
