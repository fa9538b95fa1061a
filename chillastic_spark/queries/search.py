"""Full-text search over the documents corpus: conjunctive keyword
match + BM25 ranking — the search half of the Elasticsearch surface
the reference reindexes into (the reference itself only moves docs;
an engine claiming its storage model should also be able to QUERY it,
reference README.md:1-10 positions chillastic as ES tooling).

Scale shape: the corpus side never collects — term postings come from
one explode+filter (the filter prunes to query terms BEFORE the
shuffle, so the exchange moves O(matching tokens), not O(tokens));
corpus-level constants (N, avgdl) ride a broadcast single-row join;
doc-frequency idf is a broadcast |terms|-row join. Top-k emits via
TakeOrderedAndProject — no global sort.

Determinism: per-term scores are rounded then summed through
DECIMAL(18,9) — the ≤|terms| summands are exact, so cross-engine float
addition order cannot diverge (ln/exp precedent: geomean query).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.queries import Query
from chillastic_spark.queries.documents import _W
from chillastic_spark.tables import load

K1 = 1.2
B = 0.75
TERMS = ["table", "scan", "join"]
TOP_K = 20


def _postings(spark: SparkSession, sf_dir: str, terms: list[str]):
    """(doc_id, term, tf, dl): term frequencies of query terms only,
    plus each doc's token length. One tokenise, one explode; the
    term filter runs before the groupBy shuffle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", CF.words("text").alias("w"))
    exploded = toks.select(
        "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
    ).filter(F.col("term").isin(terms))
    return exploded.groupBy("doc_id", "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def keyword_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword search: docs containing ALL query
    terms, with per-doc total hits. Pure integer arithmetic; the
    having-count filter is the classic postings intersection expressed
    as a groupBy."""
    p = _postings(spark, sf_dir, TERMS)
    return (
        p.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_hits"),
        )
        .filter(F.col("n_terms_matched") == len(TERMS))
        .select("doc_id", "total_hits")
    )


_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in TERMS) + ")"

_POSTINGS_SQL = f"""
  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, len({_W}) AS dl, unnest({_W}) AS term FROM documents)
  WHERE term IN {_TERMS_SQL}
  GROUP BY doc_id, term
"""

KEYWORD_AND_SQL = f"""
SELECT doc_id, sum(tf)::BIGINT AS total_hits
FROM ({_POSTINGS_SQL})
GROUP BY doc_id HAVING count(*) = {len(TERMS)}
"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BM25 scorer (Robertson/Okapi, the ES default ranking):
    unlimited per-doc frame (doc_id, bm25, n_terms_matched) for the
    disjunctive ``TERMS`` query — score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)), idf = ln(1 + (N−df+0.5)/(df+0.5)).

    Single definition on purpose: bm25_topk, search_after_page,
    hybrid_search_rrf, search_rank_eval, and search_rescore all rank
    from this frame (SQL twin: ``_BM25_RANKED_CTE``), so the math,
    rounding, and tie-break can never drift between queries.

    Constants (N, avgdl) and per-term df are tiny broadcast joins;
    per-term scores round to 9 digits then sum exactly through
    DECIMAL(18,9) so the ≤3-summand addition is order-free."""
    d = load(spark, sf_dir, "documents")
    corpus = d.select("doc_id", F.size(CF.words("text")).alias("dl"))
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # Three tokenise chains (postings, df's copy of postings, corpus
    # stats) — KEPT deliberately after a full r10 dedup investigation.
    # Order-unbiased interleaved medians at sf0.1: this shape 0.79–0.99s
    # vs pinned postings 1.56s (extra eager-checkpoint job serializes
    # what the one-job plan overlaps) vs an explicit shared
    # repartition("term") 0.88s and a (term,doc_id)-keyed variant
    # 1.48s — and runtime plan forensics showed the repartition
    # variants still executed 3 parquet scans: column pruning gives the
    # df branch a narrower projection below the exchange, the subtrees
    # no longer canonicalize equal, and neither ReuseExchange nor AQE
    # stage reuse fires (projection-matching via dummy aggregates did
    # not restore it). The duplicate chains are embarrassingly parallel
    # map work inside ONE job, so locally they overlap for free; at
    # serving scale the answer to repeated BM25 is the materialized
    # inverted index (sources/search_index.py), where tokenise cost is
    # paid once at build — not micro-deduping the ad-hoc path at the
    # price of a per-call checkpoint.
    p = _postings(spark, sf_dir, TERMS)
    dfreq = p.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        p.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "tscore",
            CF.round_det(
                F.col("idf")
                * (F.col("tf") * F.lit(K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(K1)
                    * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).cast("decimal(18,9)"),
        )
    )
    return scored.groupBy("doc_id").agg(
        CF.round_det(F.sum("tscore").cast("double"), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 — ``bm25_scored`` ranked by (rounded score desc,
    doc_id)."""
    return (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(TOP_K)
    )


# The one BM25 oracle definition (twin of ``bm25_scored``): CTE chain
# ending in ``bm25_ranked`` (doc_id, bm25, n_terms_matched). Every
# BM25-based oracle interpolates this — never restate the scoring SQL.
_BM25_RANKED_CTE = f"""corpus AS (
  SELECT doc_id, len({_W}) AS dl FROM documents),
stats AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM corpus),
p AS ({_POSTINGS_SQL}),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY term),
scored AS (
  SELECT p.doc_id,
    ({CF.round_det_sql(
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * (tf * {K1 + 1.0}) / (tf + {K1} * ({1.0 - B} + {B} * dl / avgdl))", 9
    )})::DECIMAL(18,9) AS tscore
  FROM p JOIN dfreq ON p.term = dfreq.term CROSS JOIN stats),
bm25_ranked AS (
  SELECT doc_id, {CF.round_det_sql("sum(tscore)::DOUBLE", 6)} AS bm25,
         count(*) AS n_terms_matched
  FROM scored GROUP BY doc_id)"""


BM25_SQL = f"""
WITH {_BM25_RANKED_CTE}
SELECT doc_id, bm25, n_terms_matched
FROM bm25_ranked
ORDER BY bm25 DESC, doc_id ASC LIMIT {TOP_K}
"""


# ------------------------------------------------ hybrid RRF search

RRF_K = 60
RRF_DEPTH = 50  # per-modality candidate depth


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 text
    ranking and a vector-cosine ranking, BOTH to ``RRF_DEPTH``
    candidates (query = embedding of vec_id 0), the standard two-tower
    search fusion: rrf(d) = Σ_modality 1/(k + rank_d). doc_id and
    vec_id share the id domain (TESTDATA.md). The text arm ranks the
    UNLIMITED ``bm25_scored`` frame — ranking the top-20 surface would
    silently cap the declared candidate depth at 20.

    Determinism: each modality ranks by its ROUNDED score with id
    tie-break; the fused score adds exactly two IEEE doubles in a fixed
    written order. Scale: both rankings are TakeOrderedAndProject
    top-k's (parallel partial top-k per partition — NO global window,
    so no corpus-sized single task); the fusion join is depth×2 rows —
    driver-free and broadcast-able."""
    from chillastic_spark.operators.topk import ranked_topk

    bm = ranked_topk(
        bm25_scored(spark, sf_dir), "bm25", "doc_id", RRF_DEPTH, "rt"
    ).select("doc_id", "rt")

    e = load(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            CF.as_double_array("embedding").alias("qvec")
        )
    )
    from chillastic_spark.operators.similarity import clean_vectors

    scored = (
        clean_vectors(e).filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            CF.round_det(CF.cosine(CF.as_double_array("embedding"), F.col("qvec")), 6).alias(
                "cos"
            ),
        )
    )
    vec = ranked_topk(scored, "cos", "vec_id", RRF_DEPTH, "rv").select(
        F.col("vec_id").alias("doc_id"), "rv"
    )

    fused = (
        bm.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            CF.round_det(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rt")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rv")), F.lit(0.0)),
                9,
            ).alias("rrf"),
            F.col("rt").alias("text_rank"),
            F.col("rv").alias("vec_rank"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(TOP_K)


HYBRID_RRF_SQL = f"""
WITH {_BM25_RANKED_CTE},
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rt
  FROM bm25_ranked QUALIFY rt <= {RRF_DEPTH}),
q AS (SELECT list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
cos_scored AS (
  SELECT vec_id,
    {CF.round_det_sql(CF.cosine_sql("list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[]", "qvec"), 6)} AS cos
  FROM embeddings CROSS JOIN q
  WHERE vec_id != 0 AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0),
vec AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rv
  FROM cos_scored QUALIFY rv <= {RRF_DEPTH})
SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
  {CF.round_det_sql(
      f"coalesce(1.0 / ({RRF_K} + rt), 0.0) + coalesce(1.0 / ({RRF_K} + rv), 0.0)", 9
  )} AS rrf,
  rt AS text_rank, rv AS vec_rank
FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT {TOP_K}
"""


# ------------------------------------------------------ phrase search

PHRASE = ["table", "scan"]


def phrase_hits(w, t1: str, t2: str):
    """Count of ADJACENT (t1, t2) occurrences in a words-array column —
    the positional-postings primitive shared by phrase_search and
    search_rescore (one definition: guard + lambda can't drift).

    The <2-token case must yield an EMPTY index sequence, not a
    clamped [1]: if the lone token equals t1 the lambda would read
    element_at(w, 2) and fail the job under ANSI mode."""
    w = F.col(w) if isinstance(w, str) else w
    return F.size(
        F.filter(
            F.when(F.size(w) >= 2, F.sequence(F.lit(1), F.size(w) - 1)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: (F.element_at(w, i) == t1) & (F.element_at(w, i + 1) == t2),
        )
    )


def phrase_hits_sql(w: str, t1: str, t2: str) -> str:
    """DuckDB twin of ``phrase_hits`` (out-of-range list index is NULL
    in DuckDB, so the clamped range is tolerant there)."""
    return (
        f"len(list_filter(range(1, greatest(len({w}) - 1, 1) + 1), "
        f"i -> {w}[i] = '{t1}' AND {w}[i + 1] = '{t2}'))"
    )


def phrase_prefilter_rx(t1: str, t2: str) -> str:
    """LOSSLESS raw-text necessary condition for ``phrase_hits > 0``:
    adjacent tokens (t1, t2) mean the untokenised text contains
    t1 + one whitespace RUN + t2 as a substring — ``words`` is a pure
    whitespace split with no case folding, so every token is a
    verbatim substring and adjacency leaves exactly one ``WS_CHARS``
    run between them. False positives only (e.g. "no**table scan**"),
    never false negatives; the exact counter still decides."""
    import re

    ws = "[ \\t\\n\\x0b\\f\\r]+"
    return re.escape(t1) + ws + re.escape(t2)


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search ("table scan" as adjacent tokens) with
    per-doc occurrence counts — the positional-postings op, expressed
    with ZERO shuffle: adjacency is checked inside the token array
    (filter over an index sequence), so 100 TB of text phrase-matches
    in the scan stage. The words array is materialised before the
    lambda so codegen does not re-tokenise per index.

    r10 optimization (guide §1.2 "don't compute things you throw
    away"): the O(tokens) exact counter is evaluated twice per row
    (the pushed Filter + the Project — Catalyst duplicates the
    expression, §4.4 shape), so a cheap, provably lossless rlike
    pre-filter (:func:`phrase_prefilter_rx`) prunes the corpus to
    near-final selectivity first; the pre-filter also sits BELOW the
    scan fan-out exchange, shrinking it. Measured at sf0.1:
    3.41 → 0.67s, result rows identical; oracle hash-PASS."""
    d = load(spark, sf_dir, "documents")
    toks = d.filter(
        F.col("text").rlike(phrase_prefilter_rx(*PHRASE))
    ).select("doc_id", CF.words("text").alias("w"))
    hits = phrase_hits("w", *PHRASE)
    return (
        toks.select("doc_id", hits.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


PHRASE_SQL = f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents)
SELECT doc_id,
       {phrase_hits_sql("w", *PHRASE)} AS n_occurrences
FROM t
WHERE {phrase_hits_sql("w", *PHRASE)} > 0
"""


QUERIES: dict[str, Query] = {
    "keyword_search_and": Query(keyword_search_and, KEYWORD_AND_SQL),
    "bm25_topk": Query(bm25_topk, BM25_SQL, headline=True),
    "hybrid_search_rrf": Query(hybrid_search_rrf, HYBRID_RRF_SQL, headline=True),
    "phrase_search": Query(phrase_search, PHRASE_SQL),
}
