"""Batch 18 — dataset-assembly operators: leakage-safe train/val/test
splits, cross-source duplicate overlap, and the hash-sharded output
manifest. The three steps that turn a curated corpus into training
data you can actually ship.

Scale notes (the 100 TB contract for each):
* `leakage_safe_splits` reuses the inverted-index near-dup pair join
  and the O(log n)-round pointer-jumping components — the only new
  work is one left join of the corpus onto the (tiny) component
  table and a hash of the representative id. Assignment hashes the
  CLUSTER representative, so two near-duplicate docs can never land
  in different splits (the train/test-contamination failure mode of
  naive per-doc hashing);
* `source_overlap_matrix` is a fingerprint self-join: one shuffle on
  the 128-bit fingerprint (exact-dup groups are tiny, so no skew),
  output bounded by |sources|²;
* `shard_manifest` is one groupBy over (split, shard) — shards are
  assigned by doc-id hash, the standard stateless way to get
  uniformly-sized, reproducible output files from any number of
  writers; the manifest is |splits|·|shards| rows.

All three are exactly oracle-checked: split/shard assignment uses the
md5-based hash60 (same construction in DuckDB), components use the
recursive-CTE transitive closure (feasible for the oracle because dup
components are tiny).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import text as T
from chillastic_spark.queries import Query
from chillastic_spark.tables import load

_W_DOC = CF.words_sql("text")

# SQL twin of the pair → component pipeline (shared with the
# dedup_clusters oracle): 3-gram Jaccard ≥ 0.5 pairs, then the
# recursive transitive closure labelling each node with the smallest
# reachable id. ``where`` restricts the doc population (e.g. the
# existing corpus in the incremental twin).


def _components_cte(where: str = "") -> str:
    return f"""
g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W_DOC, 3)}) AS gram FROM documents{where})
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
), comp AS (
  SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n
)"""


_COMPONENTS_CTE = _components_cte()


# -------------------------------------------------- leakage-safe splits

from chillastic_spark.operators.assembly import (  # noqa: E402
    N_SHARDS,
    TRAIN_PCT,
    VAL_PCT,
    rep_of,
    shard_of,
    split_of,
)


def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment that near-duplicate
    clusters cannot straddle: every doc is labelled with its dup
    component's representative (smallest doc id; itself when it has no
    near-dups), and the split is hashed off the REPRESENTATIVE —
    hash60(rep '#split') % 100 → 90/5/5. Per-doc manifest:
    (doc_id, source, rep_id, split).

    This is the curation-pipeline guard against train/test
    contamination via near-dups (the reason decontamination pipelines
    split by cluster or by URL-host, never by row).
    """
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    m = rep_of(d.select("doc_id", "source"), pairs)
    return m.select(
        "doc_id", "source", "rep_id", split_of(F.col("rep_id")).alias("split")
    )


SPLITS_SQL = f"""
WITH RECURSIVE {_COMPONENTS_CTE}
SELECT d.doc_id, d.source,
  coalesce(comp.component, d.doc_id) AS rep_id,
  CASE
    WHEN {CF.hash60_sql("coalesce(comp.component, d.doc_id)::VARCHAR || '#split'")} % 100
      < {TRAIN_PCT} THEN 'train'
    WHEN {CF.hash60_sql("coalesce(comp.component, d.doc_id)::VARCHAR || '#split'")} % 100
      < {TRAIN_PCT + VAL_PCT} THEN 'val'
    ELSE 'test'
  END AS split
FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
"""


# ----------------------------------------------- cross-source overlap


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much content the corpus sources share: for every source
    pair (a < b), the number of distinct BOILERPLATE-PREFIX
    fingerprints (md5 of the first 8 words — the corpus's shared-
    header pattern, same witness as dedup_exact's prefix family) and
    of full normalized-text fingerprints present in both — the
    dashboard that tells you whether two crawl snapshots are really
    the same data. One fingerprint self-join (shuffle keyed on the
    128-bit md5 — dup groups are tiny, no skew), ≤ |sources)|² output
    rows."""
    d = load(spark, sf_dir, "documents")
    s = d.select(
        F.md5(F.concat_ws(" ", F.slice(CF.words("text"), 1, 8))).alias("pfp"),
        CF.fingerprint("text").alias("fp"),
        F.col("source"),
    ).distinct()
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, "pfp")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.countDistinct("pfp").alias("shared_prefixes"),
            F.countDistinct(
                F.when(F.col("a.fp") == F.col("b.fp"), F.col("a.fp"))
            ).alias("shared_fulltext"),
        )
    )


OVERLAP_SQL = f"""
WITH s AS (
  SELECT DISTINCT
    md5(array_to_string(list_slice({_W_DOC}, 1, 8), ' ')) AS pfp,
    {CF.fingerprint_sql('text')} AS fp,
    source
  FROM documents)
SELECT a.source AS source_a, b.source AS source_b,
  count(DISTINCT a.pfp) AS shared_prefixes,
  count(DISTINCT CASE WHEN a.fp = b.fp THEN a.fp END) AS shared_fulltext
FROM s a JOIN s b ON a.pfp = b.pfp AND a.source < b.source
GROUP BY 1, 2
"""


# ------------------------------------------------------ shard manifest


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set writer's plan: docs hash-assigned to
    ``N_SHARDS`` output shards per split (stateless and reproducible
    from any number of writers — the petabyte-scale alternative to a
    global sort), with per-(split, shard) doc and token totals so
    shard-size balance is auditable. One aggregation; the manifest is
    |splits|·|shards| rows."""
    m = leakage_safe_splits(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", T.token_count("text").alias("n_tokens")
    )
    return (
        m.join(d, "doc_id")
        .groupBy("split", shard_of(F.col("doc_id")).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


SHARDS_SQL = f"""
WITH RECURSIVE {_COMPONENTS_CTE},
splits AS (
  SELECT d.doc_id,
    CASE
      WHEN {CF.hash60_sql("coalesce(comp.component, d.doc_id)::VARCHAR || '#split'")} % 100
        < {TRAIN_PCT} THEN 'train'
      WHEN {CF.hash60_sql("coalesce(comp.component, d.doc_id)::VARCHAR || '#split'")} % 100
        < {TRAIN_PCT + VAL_PCT} THEN 'val'
      ELSE 'test'
    END AS split
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id)
SELECT s.split,
  {CF.hash60_sql("d.doc_id::VARCHAR || '#shard'")} % {N_SHARDS} AS shard,
  count(*) AS n_docs,
  sum(len(list_filter({_W_DOC}, x -> x != '')))::BIGINT AS n_tokens
FROM splits s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY 1, 2
"""


# ------------------------------------------- incremental split twin


def splits_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of the cross-ingest assembly rule
    (operators/assembly.assemble_incremental): the incoming batch
    (doc_id % 3 = 0, the dedup_incremental convention) is flagged
    against the existing corpus by MinHash best-match, and each
    matched doc ADOPTS its match's published representative — and
    split — while unmatched docs hash their own id. The oracle
    replays the whole chain in SQL: existing-corpus components
    (recursive CTE), banded MinHash best-match flags, rep adoption,
    split/shard hashes."""
    d = load(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 3 != 0)
    incoming = d.filter(F.col("doc_id") % 3 == 0)
    ex_manifest = rep_of(
        existing.select("doc_id", "source"),
        D.ngram_jaccard_pairs(existing, n=3, threshold=0.5),
    )
    flags = D.minhash_lsh_incremental(d, F.col("doc_id") % 3 == 0).select(
        "doc_id", "match_id"
    )
    from chillastic_spark.operators.assembly import assemble_incremental

    return assemble_incremental(incoming, ex_manifest, flags)


def _splits_incremental_sql() -> str:
    from chillastic_spark.queries.analytics8 import _incremental_sql

    comp = _components_cte(" WHERE doc_id % 3 <> 0")
    flags = _incremental_sql().strip().removeprefix("WITH").strip()
    split_h = CF.hash60_sql("a.rep_id::VARCHAR || '#split'")
    return f"""
WITH RECURSIVE {comp},
ex_manifest AS (
  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
  WHERE d.doc_id % 3 <> 0
), flags AS (
  WITH {flags}
), assigned AS (
  SELECT i.doc_id, i.source,
    coalesce(m.rep, i.doc_id) AS rep_id
  FROM documents i
  LEFT JOIN flags f ON i.doc_id = f.doc_id
  LEFT JOIN ex_manifest m ON f.match_id = m.doc_id
  WHERE i.doc_id % 3 = 0
)
SELECT a.doc_id, a.source, a.rep_id,
  CASE
    WHEN {split_h} % 100 < {TRAIN_PCT} THEN 'train'
    WHEN {split_h} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
    ELSE 'test'
  END AS split,
  {CF.hash60_sql("a.doc_id::VARCHAR || '#shard'")} % {N_SHARDS} AS shard
FROM assigned a
"""


QUERIES = {
    "leakage_safe_splits": Query(leakage_safe_splits, SPLITS_SQL),
    "splits_incremental": Query(splits_incremental, _splits_incremental_sql()),
    "source_overlap_matrix": Query(source_overlap_matrix, OVERLAP_SQL),
    "shard_manifest": Query(shard_manifest, SHARDS_SQL),
}
