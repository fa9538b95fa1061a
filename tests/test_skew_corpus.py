"""The hot-gram cap's recall contract, pinned on a skewed corpus
(r7 verdict #4 — the functional twin of scripts/bench_skew.py).

Corpus shape mirrors scripts/make_skew.py at test scale: a hot
three-token phrase shared by ~30% of docs (the boilerplate shingle a
scraped corpus always has), a near-dup template cluster, and ordinary
docs with disjoint token sets. Contract:

1. capping NEVER costs a pair whose similarity rests on
   discriminative grams — the template cluster's pair set AND scores
   are identical capped vs uncapped (cluster docs carry no hot gram,
   so their gram universe is untouched);
2. capping DOES remove pairs whose only evidence is the hot gram —
   that is the documented semantic (scores are true Jaccard over the
   CAPPED universe), not a recall bug;
3. the cap threshold is a document-frequency gate: grams at the
   cluster's frequency (below the cap) survive, the hot phrase's
   grams (above it) do not.
"""
import pytest
from pyspark.sql import functions as F

HOT = "skewhot boiler plate"
TEMPLATE = (
    "template page header navigation footer copyright all rights "
    "reserved contact about privacy terms sitemap"
)


@pytest.fixture(scope="module")
def skew_docs(spark):
    rows = []
    # 12-doc near-dup template cluster (ids 0..11): shared template +
    # one unique trailing token each
    for i in range(12):
        rows.append((i, f"{TEMPLATE} uniq{i}"))
    # 60 ordinary docs (ids 100..159) with DISJOINT token streams; 30%
    # of the corpus (every id%10<3) carries the hot phrase appended
    for i in range(60):
        body = " ".join(f"tok{i}x{j}" for j in range(12))
        if i % 10 < 3:
            body = f"{body} {HOT}"
        rows.append((100 + i, body))
    # two docs whose ONLY shared grams come from the hot phrase
    rows.append((900, f"{HOT} tail900only"))
    rows.append((901, f"{HOT} tail901only"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df, **kw):
    from chillastic_spark.operators.dedup import ngram_jaccard_pairs

    return {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.2, **kw).collect()
    }


def test_cap_preserves_discriminative_pairs_exactly(skew_docs):
    uncapped = _pairs(skew_docs)
    capped = _pairs(skew_docs, max_doc_frac=0.2)  # cluster 12/74 ≈ 16% < 20% < ~31% hot
    cluster_ids = set(range(12))
    un_cluster = {k: v for k, v in uncapped.items() if k[0] in cluster_ids}
    cp_cluster = {k: v for k, v in capped.items() if k[0] in cluster_ids}
    # every C(12,2) template pair present on both sides, scores identical
    assert len(un_cluster) == 12 * 11 // 2
    assert cp_cluster == un_cluster


def test_cap_removes_hot_gram_only_pairs(skew_docs):
    uncapped = _pairs(skew_docs)
    capped = _pairs(skew_docs, max_doc_frac=0.2)
    # 900/901 share ONLY hot-phrase-derived grams: a real pair in the
    # uncapped universe, gone from the capped one
    assert (900, 901) in uncapped
    assert (900, 901) not in capped
    # and nothing else changed: the capped output is exactly the
    # uncapped output minus pairs evidenced only by hot grams
    hot_only = {(900, 901)}
    survivors = {k: v for k, v in uncapped.items() if k not in hot_only}
    # ordinary docs share no grams at all (disjoint token streams
    # except the hot phrase), so every surviving pair is a cluster
    # pair and must be score-identical
    assert capped == survivors


def test_cap_gate_is_document_frequency(skew_docs):
    from chillastic_spark.operators.dedup import cap_hot_grams, shingles
    from chillastic_spark import functions as CF

    g = shingles(skew_docs, "doc_id", "text", 3)
    capped = cap_hot_grams(g, skew_docs, 0.2)
    # hot-phrase interior gram: present in >30% of docs → dropped
    hot_docs = capped.join(
        g.filter(F.col("gh") == CF.hash60(F.lit(HOT))).select("gh").distinct(),
        "gh",
        "semi",
    )
    assert hot_docs.count() == 0
    # a template gram (12/74 docs ≈ 16%) survives
    tpl_gram = " ".join(TEMPLATE.split()[:3])
    tpl = capped.join(
        g.filter(F.col("gh") == CF.hash60(F.lit(tpl_gram))).select("gh").distinct(),
        "gh",
        "semi",
    )
    assert tpl.count() == 12


# ---------------------------------------------- r9: preflight skew guard


def test_preflight_warns_on_hot_gram_corpus(skew_docs):
    """r8 verdict #2: the UNCAPPED default pointed at a skewed corpus
    must say so — the hot phrase sits in ~32% of docs, over the 20%
    trigger."""
    import pytest as _pt

    from chillastic_spark.operators.dedup import (
        HotGramSkewWarning,
        ngram_jaccard_pairs,
    )

    with _pt.warns(HotGramSkewWarning, match="cap_hot_grams"):
        ngram_jaccard_pairs(skew_docs, n=3, threshold=0.2)


def test_preflight_strict_raises(skew_docs):
    import pytest as _pt

    from chillastic_spark.operators.dedup import ngram_containment_pairs

    with _pt.raises(ValueError, match="hot-gram skew"):
        ngram_containment_pairs(skew_docs, n=3, threshold=0.5, strict=True)


def test_preflight_silent_on_benign_corpus(spark):
    """No false positive: disjoint token streams plus a small template
    cluster (16% doc frequency, under the 20% trigger) build quietly."""
    import warnings as _w

    from chillastic_spark.operators.dedup import (
        HotGramSkewWarning,
        ngram_jaccard_pairs,
    )

    rows = [(i, f"{TEMPLATE} uniq{i}") for i in range(12)] + [
        (100 + i, " ".join(f"tok{i}x{j}" for j in range(12))) for i in range(60)
    ]
    benign = spark.createDataFrame(rows, "doc_id long, text string")
    with _w.catch_warnings():
        _w.simplefilter("error", HotGramSkewWarning)
        ngram_jaccard_pairs(benign, n=3, threshold=0.2).collect()


def test_preflight_skipped_when_capped(skew_docs):
    """The capped path already bought the defense — no preflight, no
    warning, even on the skewed corpus."""
    import warnings as _w

    from chillastic_spark.operators.dedup import (
        HotGramSkewWarning,
        ngram_jaccard_pairs,
    )

    with _w.catch_warnings():
        _w.simplefilter("error", HotGramSkewWarning)
        ngram_jaccard_pairs(skew_docs, n=3, threshold=0.2, max_doc_frac=0.2).collect()


def test_preflight_silent_on_testdata_documents(spark):
    """The headline corpus itself (driver testdata) must never trip the
    guard — oracle panel runs stay warning-free."""
    import warnings as _w

    from chillastic_spark.operators.dedup import (
        HotGramSkewWarning,
        ngram_jaccard_pairs,
    )
    from chillastic_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    with _w.catch_warnings():
        _w.simplefilter("error", HotGramSkewWarning)
        ngram_jaccard_pairs(docs, n=5, threshold=0.3)


# --------------------------------- r9: vector paths under hot keys


def test_incremental_embedding_dedup_exact_under_hot_pool(spark):
    """r8 verdict #5 (functional twin of the BENCH_skew op): one group
    owns 90% of the pool and block_size forces a multi-block bipartite
    grid — output must still equal the naive incoming×existing join,
    each pair exactly once."""
    import numpy as np

    from chillastic_spark.operators.dedup import embedding_dup_incremental

    rows = []
    for i in range(90):  # hot group
        rows.append((i, 1, [1.0 + 0.01 * (i % 9), 0.5 * (i % 4), 1.0, 0.25]))
    for i in range(10):  # small group
        rows.append((200 + i, 2, [0.1 * (i % 3), 1.0, 0.5, 0.75]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    inc_ids = {r[0] for r in rows if r[0] % 10 == 0}
    got = {
        (r.vec_id, r.match_id): r.cos
        for r in embedding_dup_incremental(
            df,
            incoming=(F.pmod(F.col("vec_id"), F.lit(10)) == 0),
            threshold=0.5,
            block_size=8,  # hot pool → 11 existing blocks
        ).collect()
    }

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(v)
        return v / n if n else v

    want = {}
    by_id = {r[0]: r for r in rows}
    for i in inc_ids:
        for j, lab, vec in rows:
            if j in inc_ids or by_id[i][1] != lab:
                continue
            c = float(unit(by_id[i][2]) @ unit(vec))
            c = np.floor(c * 10000.0 + 0.5) / 10000.0
            if c >= 0.5:
                want[(i, j)] = c
    assert got == want and len(want) > 50


@pytest.mark.parametrize(
    "var,bad",
    [
        ("CHILLASTIC_HOT_GRAM_PREFLIGHT", v)
        for v in ("", "2", "yes", "on", "true", " 1")
    ]
    + [
        ("CHILLASTIC_HOT_GRAM_WARN_FRAC", v)
        for v in ("", "abc", "nan", "inf", "-0.1", "0", "1.5")
    ],
)
def test_malformed_hot_gram_knob_is_rejected(skew_docs, monkeypatch, var, bad):
    """Both knobs are parsed together at call time: PREFLIGHT in {0, 1},
    WARN_FRAC finite in (0, 1]. A bad value fails the uncapped pair
    generator before any job runs, with the variable's name and range."""
    from chillastic_spark.operators.dedup import _hot_gram_knobs, ngram_jaccard_pairs

    monkeypatch.setenv(var, bad)
    with pytest.raises(ValueError, match=var):
        _hot_gram_knobs()
    with pytest.raises(ValueError, match=var):
        ngram_jaccard_pairs(skew_docs, n=3, threshold=0.2)


def test_hot_gram_knob_values_in_range_are_accepted(monkeypatch):
    from chillastic_spark.operators.dedup import _hot_gram_knobs

    assert _hot_gram_knobs() == (True, 0.2)  # defaults
    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_PREFLIGHT", "0")
    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_WARN_FRAC", "1")
    assert _hot_gram_knobs() == (False, 1.0)
    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_WARN_FRAC", "1e-3")
    assert _hot_gram_knobs() == (False, 0.001)


def test_knn_graph_bounded_and_exact_under_hot_bucket(spark):
    """The direction-concentrated corpus shape at test scale: most
    vectors share one LSH bucket (planes=1 → ≤2 buckets). Every node
    emits at most k edges, and every emitted cosine is exact against a
    numpy recompute — the hot bucket changes cost, never correctness."""
    import numpy as np

    from chillastic_spark.operators.similarity import knn_graph

    rows = [
        (i, [1.0 + ((i * 31) % 97) / 970.0, 1.0, 1.0, 1.0]) for i in range(80)
    ] + [(500 + i, [-1.0, 0.5 * i, -1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edges = knn_graph(df, k=3, planes=1).collect()
    per_src = {}
    for r in edges:
        per_src.setdefault(r.src, []).append(r)
    assert all(len(v) <= 3 for v in per_src.values())
    assert len(per_src) >= 80  # the hot-bucket nodes all got neighbors
    by_id = {r[0]: np.asarray(r[1]) for r in rows}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        c = float(a @ b / (na * nb)) if na and nb else 0.0
        return np.floor(c * 1e6 + 0.5) / 1e6

    for r in edges:
        assert r.cos == cos(by_id[r.src], by_id[r.dst]), (r.src, r.dst)
