"""Similarity-search queries over the `embeddings` table."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import similarity as S
from chillastic_spark.queries import Query
from chillastic_spark.tables import load

# zero-safe shared cosine (functions.cosine_sql): a bare division NaNs
# on a zero-norm vector while the Spark side returns 0.0
_COS = CF.cosine_sql("a.v", "b.v")


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 5 query vectors (vec_id<5):
    broadcast the queries, one corpus scan, JVM-side fold."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(e, q, k=10)


SIMILARITY_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         floor(({_COS}) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e a JOIN e b ON b.vec_id < 5 AND a.vec_id != b.vec_id
)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in long format (posexplode + partial avg)."""
    e = load(spark, sf_dir, "embeddings")
    return S.centroids(e, group_col="label")


EMBEDDING_CENTROIDS_SQL = """
SELECT label, dim, floor((sum(val::DECIMAL(28,12))::DOUBLE / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS centroid FROM (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS dim,
         unnest(embedding::DOUBLE[]) AS val
  FROM embeddings)
GROUP BY label, dim
"""


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs blocked by label (threshold tuned to the
    synthetic corpus where max within-label cos ≈ 0.45).
    fanout=False (r10): the block-grid operator re-shuffles by block id
    immediately, so a load-side fan-out is a redundant exchange
    (measured 1.16x under blanket fan-out)."""
    e = load(spark, sf_dir, "embeddings", fanout=False)
    return D.embedding_dup_pairs(e, threshold=0.3)


def embedding_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup: a deterministic 5% hash-gated
    pseudo-batch of vectors checked against the existing 95% pool
    (operators/dedup.embedding_dup_incremental — the embedding
    companion to dedup_incremental's minhash path; incoming×incoming
    pairs are the next batch's job). Bipartite block grid: one
    rectangular matmul per (existing_block × incoming_block) task,
    candidate volume linear per side. Exactly SQL-expressible — the
    oracle is the naive incoming×existing join with the identical
    cosine/rounding recipe."""
    e = load(spark, sf_dir, "embeddings")
    inc = (
        CF.hash60(F.concat(F.col("vec_id").cast("string"), F.lit("#vinc"))) % 100
    ) < 5
    return D.embedding_dup_incremental(e, inc, threshold=0.3)


EMBEDDING_DUP_INC_SQL = f"""
WITH e AS (SELECT vec_id, label, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v,
                  {CF.hash60_sql("vec_id::VARCHAR || '#vinc'")} % 100 < 5 AS inc
           FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0)
SELECT a.vec_id AS vec_id, b.vec_id AS match_id,
       floor(({_COS}) * 10000.0 + 0.5) / 10000.0 AS cos
FROM e a JOIN e b
  ON a.inc AND NOT b.inc
 AND a.label IS NOT DISTINCT FROM b.label
 AND a.vec_id != b.vec_id
WHERE floor(({_COS}) * 10000.0 + 0.5) / 10000.0 >= 0.3
"""


def embedding_dup_pairs_unblocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs over the UNBLOCKED corpus —
    no label column used (operators/dedup.embedding_dup_pairs_unblocked
    end-to-end: multi-table hyperplane buckets + multi-probe + block
    grid within bucket). Parameters are tuned to THIS synthetic
    corpus's adversarially-low similarity regime (max pair cos ≈ 0.6,
    where hyperplane collision probability is weak): planes=3/tables=6
    holds ≥0.96 measured recall at the 0.4 threshold on every
    committed SF. tables was 8 (recall 0.983–0.989) through r10; the
    r11 calibration sweep (scripts/sweep_unblocked_r11.py) measured
    the whole tables∈{5..8} curve against the numpy all-pairs truth —
    6 keeps a ≥0.06 margin over the 0.9 twin floor at ~0.7× the
    candidate volume; 5 (0.935–0.949) was rejected as too thin a
    margin for a hard floor. A real near-dup corpus (cos ≥ 0.9) would
    use the defaults (6 planes, 3 tables) at a fraction of the
    fan-out. Emitted pairs are exact (precision 1); recall is
    twin-checked against the numpy all-pairs ground truth."""
    e = load(spark, sf_dir, "embeddings")
    return D.embedding_dup_pairs_unblocked(
        e, threshold=0.4, planes=3, probes=2, tables=6
    )


EMBEDDING_DUP_SQL = f"""
WITH e AS (SELECT vec_id, label, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, floor(({_COS}) * 10000.0 + 0.5) / 10000.0 AS cos
FROM e a JOIN e b ON a.label IS NOT DISTINCT FROM b.label AND a.vec_id < b.vec_id
WHERE floor(({_COS}) * 10000.0 + 0.5) / 10000.0 >= 0.3
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane buckets — the 100 TB
    path (probe one bucket instead of the corpus). Approximate vs
    brute force, but DETERMINISTIC (hash-derived planes), so it gets a
    full SQL oracle; recall is additionally pinned by unit tests."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_topk(e, q, k=10, planes=_LSH_PLANES)


_LSH_PLANES = 6


def _ann_lsh_sql() -> str:
    coeffs = S.plane_coefficients(_LSH_PLANES, _DIMS)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(c) for c in row)}]) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(coeffs)
    )
    return f"""
WITH e AS (SELECT vec_id, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0),
b AS (SELECT vec_id, v, {bucket} AS bkt FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bkt FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         floor(({CF.cosine_sql("b.v", "q.qv")})
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM b JOIN q ON b.bkt = q.bkt AND b.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
"""


def _ann_query_set(e: DataFrame, n: int = 32) -> DataFrame:
    """The IVF family's query sample: the ``n`` smallest-hash60 clean
    corpus vectors — deterministic, order-stable, spread across the
    corpus (the shape the quantizer's training sample and the
    SWEEP_ann_r09 sweep use; hash60 rather than xxhash64 so the
    scripts/twins.py recall twin reproduces the exact same set with
    stdlib md5)."""
    return (
        S.clean_vectors(e)
        .orderBy(CF.hash60(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: spherical-kmeans coarse quantizer, corpus
    partitioned into cells, queries probe their 3 nearest cells. The
    second ANN scale path next to LSH (SURVEY training-data extensions);
    approximate by design → rows-only check, recall pinned by tests.
    r9: cells are corpus-adaptive (~512 rows/cell) and nprobe defaults
    to max(3, cells/2); twin floor raised 0.5 → 0.8 (scripts/twins.py).

    Two findings behind those defaults, both from raising the floor:
    (1) recall@10 over 5 fixed query ids measures those ids, not the
    system — at sf1 ids 0–4 have diffuse neighborhoods (top cosine
    ≈ 0.4–0.5) where even a 37% scan recalls only 0.74 — so the query
    set is now a 32-vector hash-spread sample (standard ANN-benchmark
    shape); (2) the first operating-curve sweep drew its queries from
    the quantizer's own training sample and over-measured recall 0.88
    at a 9% scan — held-out queries measure 0.26 there, because this
    isotropic corpus gives IVF no cluster structure and honest recall
    tracks the scanned fraction (see similarity._auto_nprobe). The
    registered config holds the 0.8 floor at the documented ~50–75%
    scan; clustered real corpora earn smaller fractions, measured
    against this twin, never assumed."""
    e = load(spark, sf_dir, "embeddings")
    q = _ann_query_set(e)
    return S.ivf_topk(e, q, k=10)


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite (FAISS IVFPQ shape, operators/similarity.
    ivf_pq_topk): coarse cells prune the scan to nprobe/n_cells of the
    corpus, 8-bit PQ codes score the survivors in compressed domain,
    exact cosine re-ranks the 10xk shortlist — the fourth ANN path,
    and the one that serves 1e9+ vectors from executor RAM (scan
    volume AND bytes/vector both sublinear). Recall is bounded by the
    IVF probe — the PQ stage loses nothing beyond cell pruning at
    8-bit resolution (SWEEP_ann_r09 refine curve: ≥0.99 of the pure
    IVF bound at refine=10) — so cells and nprobe follow ann_ivf_topk's
    r9 adaptive rules; twin floor 0.5 → 0.8. Query set: the 32-vector
    hash sample (see ann_ivf_topk on why 5 fixed ids — or queries
    drawn from the quantizer's training sample — mismeasure recall)."""
    e = load(spark, sf_dir, "embeddings")
    q = _ann_query_set(e)
    return S.ivf_pq_topk(
        e, q, k=10, m=16, n_centroids=256, refine=10
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-rank: corpus
    compressed to m=16 8-bit codes (256 float bytes → 16 bytes/vector,
    the FAISS-default PQ resolution), the compressed scan scores by
    summing m lookup-table entries JVM-side and keeps a 10×k
    shortlist, and only the shortlist touches full vectors again — the
    third ANN scale path (compressed-domain search; billion-vector
    indexes store codes, not floats). Approximate by design →
    rows-only check; the scripts/twins.py twin pins a 0.8 recall
    floor. SCALE NOTE (found by the r8 10x run, CHECK_sf1): the
    previous 4-bit/5xk config measured recall 1.00 at sf0.01 but only
    0.50 at sf1 — ADC resolution and shortlist width, not corpus
    size, set recall, so both were raised to the production defaults
    (measured 1.00 sf0.01 / 0.96 sf1; growing corpora further needs
    more code bits or IVF-PQ, not a bigger refine). Query set: the
    shared 32-vector hash sample (see ann_ivf_topk)."""
    e = load(spark, sf_dir, "embeddings")
    q = _ann_query_set(e)
    return S.pq_topk(e, q, k=10, m=16, n_centroids=256, refine=10)


# ------------------------------------------------------------ kNN graph

_KNN_K = 5
_KNN_PLANES = 5
_DIMS = 64  # embeddings.embedding is array<float>[64] (TESTDATA.md)


def knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole embeddings table (top-5
    cosine neighbors within each LSH bucket). Deterministic hash-derived
    hyperplanes make even this "approximate" operator exactly
    SQL-checkable — the oracle embeds the same plane matrix as
    literals."""
    e = load(spark, sf_dir, "embeddings")
    return S.knn_graph(e, k=_KNN_K, planes=_KNN_PLANES)


def _knn_graph_sql() -> str:
    coeffs = S.plane_coefficients(_KNN_PLANES, _DIMS)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(c) for c in row)}]) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(coeffs)
    )
    return f"""
WITH e AS (SELECT vec_id, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0),
b AS (SELECT vec_id, v, {bucket} AS bkt FROM e),
scored AS (
  SELECT a.vec_id AS src, b2.vec_id AS dst,
         floor(({CF.cosine_sql("a.v", "b2.v")})
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id != b2.vec_id)
SELECT src, dst, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= {_KNN_K}
"""


_SEM_TAU = 0.3  # contamination cosine threshold


_SEM_BENCH_CAP = 250_000  # rows; ~128 MB of float64 at 64 dims

# One LIVE benchmark-side broadcast per Spark application, keyed on the
# bench matrix fingerprint (r8 ADVICE): the bench/A-B harness calls
# this builder every round, and each call used to leave another
# up-to-~128 MB broadcast registered on the executors for the life of
# the app. Same fingerprint → reuse the handle; new fingerprint →
# unpersist the superseded one (unpersist, not destroy: a still-alive
# plan holding the old handle re-fetches from the driver on use).
_SEM_BC_CACHE: dict = {}  # app_id -> (fingerprint, Broadcast)


def _bench_broadcast(spark: SparkSession, bench_by_dim: dict):
    import hashlib

    import numpy as np

    h = hashlib.md5()
    for d in sorted(bench_by_dim):
        m = bench_by_dim[d]
        # collect order is plan/partition-dependent: fingerprint (and
        # nothing else) must not care, so hash the row-sorted matrix
        mm = m[np.lexsort(m.T[::-1])] if len(m) else m
        h.update(str(d).encode())
        h.update(mm.tobytes())
    fp = h.hexdigest()
    sc = spark.sparkContext
    key = sc.applicationId
    cached = _SEM_BC_CACHE.get(key)
    if cached is not None and cached[0] == fp:
        return cached[1]
    if cached is not None:
        try:
            cached[1].unpersist(False)
        except Exception:  # noqa: BLE001 — a dead context must not kill the build
            pass
    bc = sc.broadcast(bench_by_dim)
    _SEM_BC_CACHE[key] = (fp, bc)
    return bc


def semantic_decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the embedding companion to
    the n-gram `decontaminate_flags`: flag corpus vectors whose cosine
    to ANY held-out benchmark vector (deterministic 5% hash-gated
    pseudo-benchmark) reaches the threshold. Real decontamination
    benchmarks are CONSTANT-size (MMLU/GSM8K-scale, thousands of rows)
    while the corpus is unbounded — so the benchmark side is collected
    to the driver and BROADCAST (one Arrow-file transfer per executor,
    not a per-task closure pickle) and the corpus never shuffles: one
    Arrow batch × bench matrix product per batch instead of
    materializing |corpus|·|bench| joined rows each paying a per-pair
    fold.

    Driver-memory contract: the collect is bounded by the BENCHMARK
    size, not the corpus. The 5%% hash gate here is the test-data
    stand-in for a real fixed benchmark table, so in THIS query the
    bound grows with the corpus (sf1: ~3.4k rows ≈ 1.7 MB); a hard cap
    (`_SEM_BENCH_CAP`) raises a clear error instead of silently
    OOM-ing the driver if someone points the 5%% gate at a corpus
    where 5%% is no longer benchmark-shaped. Note the builder is
    EAGER by necessity — constructing the plan runs the bounded
    benchmark collect (one small Spark job), unlike the lazy builders
    elsewhere in this package.

    Semantics match the join form (clean_vectors gate, zero-norm
    cosine = 0, cross-dimension pairs drop — the zip_with fold
    returned NULL — round-to-6 then threshold, per-corpus-row hit
    count and worst (max) similarity, flagged rows only); cosine runs
    in BLAS accumulation order vs the oracle's sequential fold, so
    equality is oracle-verified at tested scales rather than an IEEE
    identity."""
    e = load(spark, sf_dir, "embeddings")

    is_bench = (
        CF.hash60(F.concat(F.col("vec_id").cast("string"), F.lit("#vbench"))) % 100
    ) < 5
    flagged = S.clean_vectors(e).withColumn("is_bench", is_bench)
    corpus = flagged.filter(~F.col("is_bench")).select(
        "vec_id", CF.as_double_array("embedding").alias("v")
    )
    bench_side = flagged.filter(F.col("is_bench")).select(
        CF.as_double_array("embedding").alias("bv")
    )
    n_bench = bench_side.limit(_SEM_BENCH_CAP + 1).count()
    if n_bench > _SEM_BENCH_CAP:
        raise ValueError(
            f"semantic decontamination benchmark side exceeds "
            f"{_SEM_BENCH_CAP} rows — the held-out side must be "
            f"benchmark-shaped (constant-size), not a corpus slice; "
            f"sample it or raise _SEM_BENCH_CAP deliberately"
        )
    bench_rows = bench_side.collect()

    import numpy as np

    bench_by_dim: dict = {}
    for r in bench_rows:
        bench_by_dim.setdefault(len(r["bv"]), []).append(r["bv"])
    bench_by_dim = {
        d: S._unit_rows(np.asarray(vs, dtype=np.float64))
        for d, vs in bench_by_dim.items()
    }
    # executors fetch this once each; the task closure carries only the
    # broadcast handle, not the matrix — and repeated builds reuse one
    # cached broadcast per app (see _bench_broadcast)
    bench_bc = _bench_broadcast(spark, bench_by_dim)
    tau = _SEM_TAU
    id_t = e.schema["vec_id"].dataType.simpleString()

    def score(batches):
        import numpy as _np
        import pandas as _pd

        def _unit(m):
            n = _np.linalg.norm(m, axis=1, keepdims=True)
            return m / _np.where(n == 0, 1.0, n)

        bench = bench_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            for dim, sub in pdf.groupby(pdf["v"].map(len)):
                b = bench.get(dim)
                if b is None or dim == 0:
                    continue  # cross-dim / degenerate pairs never hit
                m = _unit(_np.vstack(sub["v"].to_numpy()).astype(_np.float64))
                c = _np.floor((m @ b.T) * 1e6 + 0.5) / 1e6
                hits = c >= tau
                n = hits.sum(axis=1)
                keep = n > 0
                if not keep.any():
                    continue
                mx = _np.where(hits, c, -_np.inf).max(axis=1)
                yield _pd.DataFrame(
                    {
                        "vec_id": sub["vec_id"].to_numpy()[keep],
                        "n_hits": n[keep].astype("int64"),
                        "max_cos": mx[keep],
                    }
                )

    return corpus.mapInPandas(score, f"vec_id {id_t}, n_hits long, max_cos double")


SEMANTIC_DECON_SQL = f"""
WITH e AS (
  SELECT vec_id, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v,
         {CF.hash60_sql("vec_id::VARCHAR || '#vbench'")} % 100 < 5 AS is_bench
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0
), scored AS (
  SELECT a.vec_id,
         floor(({_COS})
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e a JOIN e b ON NOT a.is_bench AND b.is_bench
)
SELECT vec_id, count(*) AS n_hits, max(cos) AS max_cos
FROM scored WHERE cos >= {_SEM_TAU}
GROUP BY vec_id
"""


_OUT_PCT = 0.1


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: vectors whose cosine to their own
    label centroid is below the label's interpolated 10th percentile —
    the "drop the weirdest 10% per class" data-cleaning gate
    (operators/similarity.centroid_outliers)."""
    e = load(spark, sf_dir, "embeddings")
    return S.centroid_outliers(e, pct=_OUT_PCT)


def _outliers_sql(pct: float = _OUT_PCT) -> str:
    cell = CF.pct_cell_sql("cos_c", pct)
    cos = (
        CF.cosine_sql("e.v", "cent.cv")
    )
    # lockstep with centroid_outliers' r7 hardening: NULL/poison
    # (NULL-element) vectors excluded up front, NULL labels scored as
    # their own group via null-safe joins — the plain USING joins
    # silently dropped unlabeled vectors, and poison rows biased the
    # group cutoff exactly as the operator docstring describes
    return f"""
WITH e AS (
  SELECT vec_id, label, list_filter(embedding, x -> x IS NOT NULL)::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
             AND len(list_filter(embedding, x -> isnan(x))) = 0
),
long AS (
  SELECT label,
         unnest(generate_series(1, len(v))) AS dim,
         unnest(v) AS val
  FROM e),
cent_long AS (
  SELECT label, dim, floor((sum(val::DECIMAL(28,12))::DOUBLE / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS c
  FROM long GROUP BY label, dim),
cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent_long GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label,
         floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS cos_c
  FROM e JOIN cent ON e.label IS NOT DISTINCT FROM cent.label),
r AS (
  SELECT vec_id, label, cos_c,
         row_number() OVER (PARTITION BY label ORDER BY cos_c, vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM scored),
cut AS (
  SELECT label, floor((sum({cell})) * 1000000.0 + 0.5) / 1000000.0 AS cutoff
  FROM r WHERE {CF.pct_keep_sql(pct)}
  GROUP BY label)
SELECT s.vec_id, s.label, s.cos_c, cut.cutoff
FROM scored s JOIN cut ON s.label IS NOT DISTINCT FROM cut.label
WHERE s.cos_c < cut.cutoff
"""


QUERIES: dict[str, Query] = {
    "similarity_topk": Query(similarity_topk, SIMILARITY_TOPK_SQL, headline=True),
    "embedding_outliers": Query(embedding_outliers, _outliers_sql()),
    "semantic_decontaminate_flags": Query(
        semantic_decontaminate_flags, SEMANTIC_DECON_SQL
    ),
    "knn_graph_edges": Query(knn_graph_edges, _knn_graph_sql()),
    "embedding_centroids": Query(embedding_centroids, EMBEDDING_CENTROIDS_SQL),
    # headline since r7: the block-grid matmul rewrite made this the
    # representative vector-dedup cost, worth tracking per round
    "embedding_dup_pairs": Query(
        embedding_dup_pairs, EMBEDDING_DUP_SQL, headline=True
    ),
    # rows-only + recall twin: LSH candidate generation is not
    # SQL-expressible pairwise (the oracle would be the all-pairs join
    # this operator exists to avoid); scripts/twins.py checks every
    # emitted cos exactly vs numpy AND a measured recall floor
    "embedding_dup_pairs_unblocked": Query(embedding_dup_pairs_unblocked, None),
    "embedding_dup_incremental": Query(
        embedding_dup_incremental, EMBEDDING_DUP_INC_SQL
    ),
    "ann_lsh_topk": Query(ann_lsh_topk, _ann_lsh_sql()),
    "ann_ivf_topk": Query(ann_ivf_topk, None),
    "ann_ivf_pq_topk": Query(ann_ivf_pq_topk, None),
    "ann_pq_topk": Query(ann_pq_topk, None),
}
