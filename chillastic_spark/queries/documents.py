"""Training-data pipeline queries on the `documents` table: text
analysis, dedup family, multimodal metadata plumbing.

Every heuristic here is a pure column expression with an exact ANSI-SQL
twin; the shared 60-bit md5 hash (functions.hash60) keeps MinHash /
SimHash oracle-checkable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import text as T
from chillastic_spark.queries import Query
from chillastic_spark.tables import load

_W = CF.words_sql("text")
_STOP = {k: "[" + ", ".join(f"'{s}'" for s in v) + "]" for k, v in T.STOPWORDS.items()}


# ------------------------------------------------------------ text features


def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return T.with_text_features(d).select(
        "doc_id", "n_tokens", "quality", "pred_lang", "fingerprint"
    )


# Empty-filtered words for the TEXT-FEATURE twins only (operators.text
# tokenises through the same filter; the dedup/gram SQL below keeps the
# raw _W to match CF.words exactly).
_WF = f"list_filter({CF.words_sql('text')}, x -> x != '')"

_HITS = lambda lang: (  # noqa: E731
    f"len(list_filter({_WF}, x -> list_contains({_STOP[lang]}, lower(x))))"
)

# Rounded quality score (round_det(quality_score(text), 4)) as a duckdb
# expression — shared by text_features and the percentile-gate query.
# Tokenless text (empty/whitespace-only/NULL) scores the 0.0 floor,
# mirroring operators.text.quality_score's n > 0 guard.
QUALITY_EXPR_SQL = f"""CASE WHEN coalesce(len({_WF}), 0) = 0 THEN 0.0 ELSE floor((
      0.4 * (len(list_distinct({_WF})) / CAST(len({_WF}) AS DOUBLE))
    + 0.3 * (least(CAST(len({_WF}) AS DOUBLE), 200.0) / 200.0)
    + 0.2 * (1.0 - greatest({_HITS('en')} / CAST(len({_WF}) AS DOUBLE) - 0.5, 0.0) * 2)
    + 0.1 * (least(greatest((length(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', '', 'g')) / CAST(len({_WF}) AS DOUBLE) - 2) / 6.0, 0.0), 1.0))
  ) * 10000.0 + 0.5) / 10000.0 END"""

TEXT_FEATURES_SQL = f"""
SELECT doc_id,
  len({_WF}) AS n_tokens,
  {QUALITY_EXPR_SQL} AS quality,
  CASE WHEN {_HITS('en')} >= {_HITS('de')} AND {_HITS('en')} >= {_HITS('fr')} AND {_HITS('en')} > 0 THEN 'en'
       WHEN {_HITS('de')} >= {_HITS('fr')} AND {_HITS('de')} > 0 THEN 'de'
       WHEN {_HITS('fr')} > 0 THEN 'fr'
       ELSE 'und' END AS pred_lang,
  {CF.fingerprint_sql('text')} AS fingerprint
FROM documents
"""


# --------------------------------------------------------- exact-dup groups


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups on the 8-word prefix fingerprint (boilerplate
    detection; the corpus has no full-text dups — see operators.dedup
    for the full-fingerprint variant + tests)."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(CF.words("text"), 1, 8)))
    return (
        d.select("doc_id", fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


DEDUP_EXACT_SQL = f"""
SELECT md5(array_to_string(list_slice({_W}, 1, 8), ' ')) AS prefix_fp,
       count(*) AS n_dups, min(doc_id) AS keeper
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


# ------------------------------------------------------ n-gram Jaccard dups

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.5)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of ``dedup_ngram_jaccard``: prefix-filtered
    set-similarity join (Chaudhuri ICDE'06 / Vernica SIGMOD'10) —
    IDENTICAL output (same oracle SQL), but only each doc's
    rarest-gram prefix enters the join and a length filter prunes
    before verification. Measured at sf0.1/t=0.5: 1,130,536 candidate
    pairs → 310,161 (3.6×) with the join index halved; the reduction
    grows with corpus size and threshold, which is what matters at
    100 TB (the plain operator's candidate volume is Σ|posting|²)."""
    d = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_prefix(d, n=3, threshold=0.5)


def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-gram-capped Jaccard dedup, ORACLE-VERIFIED end to end:
    grams present in more than 1% of documents leave the shingle
    universe before the join (operators/dedup.cap_hot_grams — the
    skew defense BENCH_skew_r08 measured collapsing a 10.6x hot-bucket
    blowup back to ~1x), and scores are true Jaccard over the capped
    universe. The oracle reproduces the document-frequency gate in
    SQL, so the cap's exact semantics — not just its recall contract
    (tests/test_skew_corpus.py) — are hash-checked. The 1% cap is
    tuned to FIRE on this corpus (its hottest gram sits at 1.4% of
    docs at sf0.01), so the capped output genuinely differs from
    dedup_ngram_jaccard's."""
    d = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.5, max_doc_frac=0.01)


DEDUP_NGRAM_SQL = f"""
WITH g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W, 3)}) AS gram FROM documents)
), sz AS (
  SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       floor((common / (sa.sz + sb.sz - common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM c JOIN sz sa ON c.ia = sa.doc_id JOIN sz sb ON c.ib = sb.doc_id
WHERE floor((common / (sa.sz + sb.sz - common)) * 10000.0 + 0.5) / 10000.0 >= 0.5
"""


# the capped twin: identical pipeline with the document-frequency gate
# (cap_hot_grams) applied to the shingle universe before sizes/join —
# count(*) per gh IS document frequency (shingles are distinct-per-doc)
DEDUP_NGRAM_CAPPED_SQL = f"""
WITH g0 AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W, 3)}) AS gram FROM documents)
), nd AS (
  SELECT count(*) AS n FROM documents
), g AS (
  SELECT g0.* FROM g0
  WHERE gh IN (
    SELECT gh FROM g0 GROUP BY gh
    HAVING count(*) <= (SELECT n FROM nd) * 0.01
  )
), sz AS (
  SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       floor((common / (sa.sz + sb.sz - common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM c JOIN sz sa ON c.ia = sa.doc_id JOIN sz sb ON c.ib = sb.doc_id
WHERE floor((common / (sa.sz + sb.sz - common)) * 10000.0 + 0.5) / 10000.0 >= 0.5
"""


# ------------------------------------------------------------- MinHash LSH

_NUM_PERM = 16


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, n=3, num_perm=_NUM_PERM, bands=4, threshold=0.25)


def _minhash_sql(num_perm: int = _NUM_PERM, bands: int = 4, threshold: float = 0.25) -> str:
    """Oracle twin of operators.dedup.minhash_lsh_pairs (wide form)."""
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
        f"  SELECT a.doc_id AS ia, b.doc_id AS ib FROM bands a JOIN bands b"
        f" ON a.bk{b2} = b.bk{b2} AND a.doc_id < b.doc_id"
        for b2 in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
WITH g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W, 3)}) AS gram FROM documents)
), sig AS (
  SELECT doc_id,
    {mh_cols}
  FROM g GROUP BY doc_id
), bands AS (
  SELECT doc_id,
    {band_sel}
  FROM sig
), cand AS (
{cand_union}
)
SELECT ia AS id_a, ib AS id_b,
       floor((({eq_sum}) / {float(num_perm)}) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
FROM cand JOIN sig sa ON cand.ia = sa.doc_id JOIN sig sb ON cand.ib = sb.doc_id
WHERE floor((({eq_sum}) / {float(num_perm)}) * 10000.0 + 0.5) / 10000.0 >= {threshold}
"""


DEDUP_MINHASH_SQL = _minhash_sql()


# ----------------------------------------------------------------- SimHash


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return D.simhash(d)


def _simhash_sql() -> str:
    # marker-row twin of operators.dedup.simhash (r7): '' phantom
    # tokens hash to NULL and contribute 0 to every bit sum, so
    # token-less docs keep their row and read simhash 0
    bit_terms = ",\n    ".join(
        f"sum(CASE WHEN h IS NULL THEN 0 "
        f"WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(D.SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(coalesce({_W}, [''])) AS tok FROM documents
), h AS (
  SELECT doc_id, CASE WHEN tok = '' THEN NULL
                      ELSE {CF.hash60_sql("tok")}
                 END AS h
  FROM toks
), b AS (
  SELECT doc_id,
    {bit_terms}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {combine} AS simhash FROM b
"""


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded near-dup pairs (pigeonhole chunk join)."""
    d = load(spark, sf_dir, "documents")
    return D.simhash_pairs(d, max_hamming=3, chunks=4)


def _simhash_pairs_sql(max_hamming: int = 3, chunks: int = 4) -> str:
    """Oracle twin of operators.dedup.simhash_pairs: reuse the simhash
    CTE, band into 15-bit chunks, UNION the per-chunk equi-joins,
    verify Hamming via a generated 60-term popcount."""
    width = D.SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    base = _simhash_sql().strip().rstrip()
    cand_union = "\n  UNION\n".join(
        f"  SELECT a.doc_id AS ia, b.doc_id AS ib, a.simhash AS sa, b.simhash AS sb\n"
        f"  FROM sh a JOIN sh b ON ((a.simhash >> {ci * width}) & {mask}) = ((b.simhash >> {ci * width}) & {mask})\n"
        f"   AND a.doc_id < b.doc_id"
        for ci in range(chunks)
    )
    return f"""
WITH base AS ({base}),
sh AS (
  SELECT base.doc_id, base.simhash FROM base
  JOIN (SELECT doc_id FROM documents
        WHERE len(list_filter({_W}, t -> t <> '')) >= 1) live
  USING (doc_id)
),
cand AS (
{cand_union}
)
SELECT ia AS id_a, ib AS id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


# ------------------------------------------------------------- chunking

_CHUNK_SIZE, _CHUNK_STRIDE = 50, 40


def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py)."""
    from chillastic_spark.operators.chunking import chunk_documents

    d = load(spark, sf_dir, "documents")
    return chunk_documents(d, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id, {_W} AS w FROM documents
  WHERE len(list_filter({_W}, t -> t <> '')) >= 1
), n AS (
  SELECT doc_id, w,
         greatest(CAST(floor((len(w) - {_CHUNK_SIZE} + {_CHUNK_STRIDE - 1}) / {_CHUNK_STRIDE}.0) AS INT) + 1, 1) AS nc
  FROM w
), c AS (
  SELECT doc_id, w, unnest(range(0, nc)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(list_slice(w, chunk_idx * {_CHUNK_STRIDE} + 1, chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' ') AS chunk_text,
       least({_CHUNK_SIZE}, len(w) - chunk_idx * {_CHUNK_STRIDE}) AS n_chunk_tokens
FROM c
"""


# -------------------------------------------------------- multimodal plumbing


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction plumbing: byte length + a
    deterministic fake decode (hash-derived dims). The real decode is a
    Pandas-UDF stub in operators/multimodal.py; this pins the schema and
    the hash-based fake used by its tests."""
    d = load(spark, sf_dir, "documents")
    h = CF.hash60("text")
    return d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        (h % 1280).alias("fake_width"),
        (h % 720).alias("fake_height"),
    )


MULTIMODAL_META_SQL = f"""
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  {CF.hash60_sql("text")} % 1280 AS fake_width,
  {CF.hash60_sql("text")} % 720 AS fake_height
FROM documents
"""


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via 64-bit DCT pHash + pigeonhole
    Hamming join (operators/multimodal.py:phash_images/phash_pairs).

    The payload is a fixed-size "thumbnail crop": the first 48 bytes of
    the canonicalized text (real pHash downscales to a thumbnail before
    the DCT; truncation is the fake-decode analog). The corpus has no
    full-text dups, but its boilerplate-prefix docs (see dedup_exact)
    share the crop → Hamming-0 pairs. Rows-only entry: the DCT over
    decoded pixels is not SQL-expressible; determinism, locality, and
    full planted-dup recall are pinned by tests/test_phash.py."""
    from chillastic_spark.operators import multimodal as M

    d = load(spark, sf_dir, "documents").withColumn(
        "canon",
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+", " ")), 1, 48
        ),
    )
    p = M.with_binary_payload(d, text_col="canon")
    return M.phash_pairs(M.phash_images(p, fake=True), max_hamming=6)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters via iterative min-label
    connected components (operators/components.py). The oracle computes
    the same components with a recursive-CTE transitive closure —
    feasible for the oracle because dup components are tiny; the Spark
    side never materializes the closure."""
    from chillastic_spark.operators.components import duplicate_clusters

    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    return duplicate_clusters(pairs).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE g AS (
  SELECT doc_id, {CF.hash60_sql("gram")} AS gh
  FROM (SELECT doc_id, unnest({CF.grams_sql(_W, 3)}) AS gram FROM documents)
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
)
SELECT n AS doc_id,
       least(n, min(m)) AS cluster_id,
       n = least(n, min(m)) AS is_canonical
FROM reach GROUP BY n ORDER BY doc_id
"""


# --------------------------------------------------------- winnowing

_WK, _WWIN = 5, 4


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprint near-dup pairs (Schleimer
    et al. 2003): any shared token run ≥ window+k−1 long guarantees a
    shared fingerprint, at ~1/window the gram volume."""
    d = load(spark, sf_dir, "documents")
    return D.winnow_pairs(d, k=_WK, window=_WWIN, min_shared=2)


WINNOW_PAIRS_SQL = f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(w) >= {_WK}
      THEN list_transform(range(1, len(w) - {_WK - 1} + 1),
           i -> {CF.hash60_sql(f"array_to_string(w[i:i+{_WK - 1}], ' ')")})
      ELSE []::BIGINT[] END AS gh
  FROM t),
fps AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(gh) >= {_WWIN}
      THEN list_distinct(list_transform(range(1, len(gh) - {_WWIN - 1} + 1),
           j -> list_aggregate(gh[j:j+{_WWIN - 1}], 'min')))
      ELSE list_distinct(gh) END) AS fp
  FROM g)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


# --------------------------------------------------- substring coverage

_SUBSTR_W = 12  # tokens per sliding window


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup coverage (Lee et al. 2022) — per-doc fraction
    of 12-token windows duplicated anywhere in the corpus."""
    d = load(spark, sf_dir, "documents")
    return D.substring_dup_stats(d, window=_SUBSTR_W)


SUBSTRING_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
wins AS (
  SELECT doc_id,
         {CF.hash60_sql(f"array_to_string(w[i:i+{_SUBSTR_W - 1}], ' ')")} AS wh
  FROM t, unnest(range(1, len(w) - {_SUBSTR_W - 1} + 1)) AS u(i)
  WHERE len(w) >= {_SUBSTR_W}),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) > 1),
totals AS (SELECT doc_id, count(*) AS total_windows FROM wins GROUP BY doc_id),
dups AS (
  SELECT doc_id, count(*) AS dup_windows
  FROM wins JOIN dup USING (wh) GROUP BY doc_id)
SELECT doc_id, total_windows, dup_windows,
       {CF.round_det_sql("dup_windows / total_windows", 4)} AS dup_frac
FROM totals JOIN dups USING (doc_id)
"""


QUERIES: dict[str, Query] = {
    "text_features": Query(text_features, TEXT_FEATURES_SQL, headline=True),
    "dedup_substring_spans": Query(dedup_substring_spans, SUBSTRING_SPANS_SQL),
    "dedup_winnow_pairs": Query(dedup_winnow_pairs, WINNOW_PAIRS_SQL),
    "dedup_exact": Query(dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": Query(dedup_ngram_jaccard, DEDUP_NGRAM_SQL, headline=True),
    "dedup_jaccard_prefix": Query(dedup_jaccard_prefix, DEDUP_NGRAM_SQL),
    "dedup_jaccard_capped": Query(dedup_jaccard_capped, DEDUP_NGRAM_CAPPED_SQL),
    "dedup_minhash_lsh": Query(dedup_minhash_lsh, DEDUP_MINHASH_SQL, headline=True),
    "dedup_clusters": Query(dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_simhash": Query(dedup_simhash, _simhash_sql()),
    "simhash_pairs": Query(simhash_pairs, _simhash_pairs_sql()),
    "chunk_windows": Query(chunk_windows, CHUNK_SQL),
    "multimodal_meta": Query(multimodal_meta, MULTIMODAL_META_SQL),
    "image_phash_pairs": Query(image_phash_pairs, None),
}
