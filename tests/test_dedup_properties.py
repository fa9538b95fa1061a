"""Property tests for the incremental-dedup and DSIR operators on
arbitrary generated corpora: the incremental flags must always be the
cross-batch projection of the pairwise operator, and DSIR weights must
be a deterministic function of the (bag-of-tokens, target-set) input —
invariants that hold for ANY corpus, not just the driver tables."""
from hypothesis import given, settings, strategies as st

import pyspark.sql.functions as F

from chillastic_spark.operators import dedup as D
from chillastic_spark.operators.importance import dsir_weights

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

doc_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=12),
    min_size=2,
    max_size=14,
)


def _docs_df(spark, docs):
    data = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    return spark.createDataFrame(data, "doc_id long, text string")


@settings(max_examples=10, deadline=None)
@given(docs=doc_strategy)
def test_incremental_is_projection_of_pairwise(spark, docs):
    df = _docs_df(spark, docs)
    pairs = D.minhash_lsh_pairs(
        df, n=2, num_perm=8, bands=4, threshold=0.25
    ).collect()
    inc = lambda i: i % 2 == 0  # noqa: E731
    want = {}
    for r in pairs:
        for a, b in ((r["id_a"], r["id_b"]), (r["id_b"], r["id_a"])):
            if inc(a) and not inc(b):
                cand = (-r["est_jaccard"], b)
                if a not in want or cand < want[a]:
                    want[a] = cand
    got = {
        r["doc_id"]: (-r["est_jaccard"], r["match_id"])
        for r in D.minhash_lsh_incremental(
            df, F.col("doc_id") % 2 == 0, n=2, num_perm=8, bands=4, threshold=0.25
        ).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(docs=doc_strategy)
def test_dsir_weight_matches_local_model(spark, docs):
    """Replay the DSIR math locally (same hashing, smoothing, rounding)
    and require the Spark weights to match to DECIMAL(…,6) exactness."""
    import hashlib
    import math

    df = _docs_df(spark, docs)
    target = F.col("doc_id") % 2 == 0

    buckets = 64

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    raw_ct, tgt_ct = {}, {}
    for i, toks in enumerate(docs):
        for t in toks:
            b = h60(t) % buckets
            raw_ct[b] = raw_ct.get(b, 0) + 1
            if i % 2 == 0:
                tgt_ct[b] = tgt_ct.get(b, 0) + 1
    R = sum(raw_ct.values())
    T = sum(tgt_ct.values())
    lam = {
        b: math.floor(
            (
                math.log((tgt_ct.get(b, 0) + 1) / (T + buckets))
                - math.log((raw_ct[b] + 1) / (R + buckets))
            )
            * 1e6
            + 0.5
        )
        / 1e6
        for b in raw_ct
    }
    want = {}
    for i, toks in enumerate(docs):
        # DECIMAL(28,6) sum == exact sum of 6-decimal fixed-point values
        want[i] = round(sum(round(lam[h60(t) % buckets] * 1e6) for t in toks)) / 1e6
    got = {
        r["doc_id"]: r["weight"]
        for r in dsir_weights(df, target, buckets=buckets).collect()
    }
    assert got == want


def test_prefix_jaccard_equals_baseline_on_real_corpus(spark):
    """ngram_jaccard_pairs_prefix is an EXACT optimization: identical
    pair set + scores to the plain inverted-index join on the real
    corpus at multiple thresholds (prefix filtering is lossless — if
    J(A,B) >= t the rarest-gram prefixes must intersect)."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.25, 0.5, 0.8):
        base = sorted(
            map(tuple, D.ngram_jaccard_pairs(d, n=3, threshold=t).collect())
        )
        pref = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs_prefix(d, n=3, threshold=t).collect(),
            )
        )
        assert base == pref, f"threshold {t}: prefix variant diverged"
    assert len(base) > 0  # the corpus has planted near-dups


def test_prefix_jaccard_reduces_candidates(spark):
    """The point of the prefix variant: strictly fewer candidate pairs
    reach verification than the plain join co-occurrence count."""
    from pyspark.sql.window import Window

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = 0.5
    g = D.shingles(d, "doc_id", "text", 3)
    a, b = g.alias("a"), g.alias("b")
    full = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    freq = g.groupBy("gh").agg(F.count("*").alias("dfct"))
    pos = F.row_number().over(Window.partitionBy("doc_id").orderBy("dfct", "gh"))
    pre = (
        g.join(freq, "gh")
        .join(sizes, "doc_id")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + 1)
        .select("doc_id", "gh", "sz")
    )
    pa, pb = pre.alias("a"), pre.alias("b")
    cand = (
        pa.join(
            pb,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(t) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert cand < full, (cand, full)


def test_prefix_containment_equals_baseline_on_real_corpus(spark):
    """ngram_containment_pairs_prefix (asymmetric prefix: the
    canonical smaller doc's prefix probes the full index) is an EXACT
    optimization of ngram_containment_pairs."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.5, 0.9):
        base = sorted(
            map(tuple, D.ngram_containment_pairs(d, n=3, threshold=t).collect())
        )
        pref = sorted(
            map(
                tuple,
                D.ngram_containment_pairs_prefix(
                    d, n=3, threshold=t
                ).collect(),
            )
        )
        assert base == pref, f"threshold {t}: prefix variant diverged"
    assert len(base) > 0


def test_prefix_twins_on_edge_shapes(spark):
    """Edge shapes the corpus test may not contain: empty text, doc
    shorter than the gram width (no shingles at all), byte-identical
    docs (J = C = 1.0), a doc fully contained in a longer one, and a
    singleton gram set. Both prefix twins must match their plain
    operator exactly on every one."""
    rows = [
        (1, ""),                                  # empty
        (2, "a b"),                               # < n words, no 3-grams
        (3, "x y z w q r s t"),                   # base doc
        (4, "x y z w q r s t"),                   # identical twin
        (5, "x y z w q r s t u v a b c d e f"),   # superset (contains 3)
        (6, "p p p"),                             # single distinct gram
        (7, "completely different tokens here now"),
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    for t in (0.3, 0.9):
        bj = sorted(map(tuple, D.ngram_jaccard_pairs(d, n=3, threshold=t).collect()))
        pj = sorted(
            map(tuple, D.ngram_jaccard_pairs_prefix(d, n=3, threshold=t).collect())
        )
        assert bj == pj, f"jaccard t={t}"
        bc = sorted(
            map(tuple, D.ngram_containment_pairs(d, n=3, threshold=t).collect())
        )
        pc = sorted(
            map(
                tuple,
                D.ngram_containment_pairs_prefix(d, n=3, threshold=t).collect(),
            )
        )
        assert bc == pc, f"containment t={t}"
    # sanity on the semantics themselves: the identical pair is found
    assert any(r[:2] == (3, 4) and r[2] == 1.0 for r in bj)
    # containment at 0.9 finds the embedded doc against its superset
    assert any(r[:2] == (3, 5) for r in bc) and any(r[:2] == (4, 5) for r in bc)


def test_prefix_twins_keep_rounded_boundary_pairs(spark):
    """A pair whose TRUE score is in [t − 0.5e-4, t) rounds UP to t, so
    the plain operators (and the shared oracle) emit it — candidate
    pruning in the prefix twins must not drop it. Both constructions
    make the common grams GLOBALLY FREQUENT (df=2 vs df=1 for unique
    grams) so they sort to the very END of the rarest-first order: a
    prefix computed at the naive threshold t would contain no common
    gram at all (containment case) or fail the length filter (jaccard
    case). Only the _ROUND_MARGIN-adjusted pruning keeps them.

    Containment: |A|=20000 grams, 17999 shared → C = 0.89995 → rounds
    to 0.9. Naive required overlap ceil(0.9·20000)=18000 > 17999.
    Jaccard: A ⊂ B with |A|=49996, |B|=100000 → J = 0.49996 → rounds
    to 0.5. Naive length filter 49996 >= 0.5·100000 fails."""
    S = [f"s{i}" for i in range(18001)]           # 17999 shared grams
    a_txt = " ".join(S + [f"ua{i}" for i in range(2001)])
    b_txt = " ".join(S + [f"ub{i}" for i in range(12001)])
    d = spark.createDataFrame(
        [(1, a_txt), (2, b_txt)], "doc_id: long, text: string"
    )
    plain = {tuple(r) for r in D.ngram_containment_pairs(d, n=3, threshold=0.9).collect()}
    pref = {tuple(r) for r in D.ngram_containment_pairs_prefix(d, n=3, threshold=0.9).collect()}
    assert (1, 2, 0.9) in plain, plain  # premise: the boundary pair rounds up
    assert pref == plain, (plain, pref)

    S2 = [f"t{i}" for i in range(49998)]          # 49996 shared grams
    a2 = " ".join(S2)
    b2 = " ".join(S2 + [f"vb{i}" for i in range(50004)])
    d2 = spark.createDataFrame(
        [(1, a2), (2, b2)], "doc_id: long, text: string"
    )
    plain2 = {tuple(r) for r in D.ngram_jaccard_pairs(d2, n=3, threshold=0.5).collect()}
    pref2 = {tuple(r) for r in D.ngram_jaccard_pairs_prefix(d2, n=3, threshold=0.5).collect()}
    assert (1, 2, 0.5) in plain2, plain2
    assert pref2 == plain2, (plain2, pref2)


def test_hamming_band_pairs_complete_and_exact_within_guarantee(spark):
    """Pigeonhole completeness: with max_hamming <= chunks-1, EVERY
    pair within the threshold is found (any such pair shares an exact
    chunk), and the bit_count verify admits nothing beyond it — the
    banded result equals the brute-force pair set exactly."""
    import random

    from chillastic_spark.operators.dedup import hamming_band_pairs

    rng = random.Random(7)
    vals = [rng.getrandbits(60) for _ in range(40)]
    for i in range(12):  # plant close pairs: flip 0-3 bits
        flipped = vals[i]
        for b in rng.sample(range(60), rng.randint(0, 3)):
            flipped ^= 1 << b
        vals.append(flipped)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, h long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_band_pairs(df, "h", 60, 4, 3).collect()
    }
    want = {}
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            d = bin(vals[i] ^ vals[j]).count("1")
            if d <= 3:
                want[(i, j)] = d
    assert got == want and len(want) >= 8


def test_exact_dedup_null_ids_pass_through(spark):
    """Review finding: min() skips NULLs and the keeper semi-join never
    matches a NULL id, so whole null-id groups were silently DELETED.
    Without an identity there is no deterministic keeper — null-id rows
    now pass through untouched."""
    from chillastic_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (None, "same text"),
         (None, "other text")],
        "doc_id long, text string",
    )
    out = exact_dedup(df).collect()
    ids = sorted((r["doc_id"] is None, r["doc_id"] or 0) for r in out)
    assert len(out) == 3  # keeper id=1, plus BOTH null-id rows kept
    assert sum(1 for r in out if r["doc_id"] is None) == 2
    assert {r["doc_id"] for r in out if r["doc_id"] is not None} == {1}


def test_null_blocking_keys_still_pair(spark):
    """Review finding: plain = on the blocking/partition key
    null-rejected, silently exempting NULL-key docs from dedup."""
    from chillastic_spark.operators.dedup import (
        embedding_dup_pairs,
        ngram_jaccard_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [(1, text, None), (2, text, None), (3, text, "en")],
        "doc_id long, text string, lang string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            d, threshold=0.9, partition_cols=["lang"]
        ).collect()
    }
    assert (1, 2) in pairs          # NULL lang blocks together
    assert (1, 3) not in pairs      # NULL never equals 'en'

    e = spark.createDataFrame(
        [(1, [1.0, 0.0], None), (2, [1.0, 0.0], None), (3, [1.0, 0.0], 7)],
        "vec_id long, embedding array<double>, label int",
    )
    ep = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(e, threshold=0.9).collect()
    }
    assert (1, 2) in ep and (1, 3) not in ep


def test_minhash_bands_guards_divisibility_at_the_choke_point(spark):
    """Review finding: the streaming path reaches minhash_bands without
    the pairwise wrappers' guards, silently truncating the signature
    (num_perm=16, bands=5 dropped mh15)."""
    import pytest as _pytest

    from chillastic_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures_wide,
    )

    d = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sig = minhash_signatures_wide(d, "doc_id", "text", 2, 16)
    with _pytest.raises(ValueError, match="must divide"):
        minhash_bands(sig, 16, 5)
    assert minhash_bands(sig, 16, 4).count() == 4
