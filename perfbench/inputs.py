"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every workload's inputs come from here, before any timing starts:

* ``reindex_corpus`` / ``write_store`` — an envelope corpus in the
  ``DocumentStore`` layout (``data/<index>/*.parquet`` plus
  ``catalog/indices.json``): daily indices x types, heavy-tailed ``_size``;
* ``merge_delta`` — updates to existing ids, new ids and a few same-key
  pairs inside one batch, over every index of a corpus;
* ``write_suite_dir`` — an sf-style directory (``documents.parquet`` +
  ``embeddings.parquet``) with a Zipf vocabulary, planted exact and near
  duplicates, and clustered embeddings;
* ``serve_queries`` — Zipf-popular BM25 term lists and perturbed corpus
  vectors for the serving client.

Each generator returns the input properties it was asked for ("set") next
to the ones it measured on what it produced ("measured").
"""
from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE = pa.schema(
    [
        ("_index", pa.string()),
        ("_type", pa.string()),
        ("_id", pa.string()),
        ("_source", pa.string()),
        ("_size", pa.int64()),
    ]
)
LEVELS = ("debug", "info", "warn", "error")
DROP_LEVEL = "debug"
LANGS = ("en", "de", "fr", "es", "zh")


def _letters(rng: np.random.Generator, n: int) -> str:
    return rng.integers(97, 123, size=n, dtype=np.uint8).tobytes().decode()


def _doc(rng, size: int, fields: dict) -> str:
    """JSON ``_source`` (sorted keys, the form a mutator round-trip writes)
    padded with a ``msg`` payload to roughly ``size`` bytes."""
    base = json.dumps(dict(fields, msg=""), sort_keys=True)
    return json.dumps(
        dict(fields, msg=_letters(rng, max(0, size - len(base)))), sort_keys=True
    )


def quantiles(values, qs=(0.5, 0.9, 0.99, 1.0)) -> dict:
    v = np.sort(np.asarray(values))
    return {f"p{int(q * 100)}": int(v[min(len(v) - 1, int(q * len(v)))]) for q in qs}


# ------------------------------------------------------------------ reindex


def reindex_corpus(
    seed: int,
    days: "tuple[str, ...]",
    types: "tuple[str, ...]",
    docs_per_slice: int,
    drop_share: float,
    size_min: int = 120,
    pareto_alpha: float = 1.2,
    size_cap: int = 32768,
    cap_share: float = 0.01,
) -> "tuple[dict[str, list[tuple]], dict]":
    """Envelope rows per daily index ``logs_<day>``: ``docs_per_slice``
    documents per (index, type), ids unique over the corpus, ``_size`` =
    the ``_source`` byte length, and a ``level`` field whose ``debug``
    share is ``drop_share``.

    Sizes are a Pareto body clipped at half of ``size_cap`` plus
    ``cap_share`` of documents at exactly ``size_cap``. The gap between the
    two keeps the planner's size buckets, and so the subtask count, the
    same for every seed."""
    rng = np.random.default_rng([seed, 1])
    p_level = [drop_share] + [(1 - drop_share) / 3] * 3
    n_cap = max(1, int(round(cap_share * docs_per_slice)))
    rows: dict[str, list[tuple]] = {}
    for day in days:
        index = f"logs_{day}"
        out = rows.setdefault(index, [])
        for t in types:
            sizes = np.minimum(
                size_cap // 2, (size_min * (1 + rng.pareto(pareto_alpha, docs_per_slice)))
            ).astype(int)
            sizes[rng.choice(docs_per_slice, size=n_cap, replace=False)] = size_cap
            levels = rng.choice(len(LEVELS), size=docs_per_slice, p=p_level)
            users = rng.integers(0, 5000, size=docs_per_slice)
            for i in range(docs_per_slice):
                src = _doc(
                    rng,
                    int(sizes[i]),
                    {"level": LEVELS[levels[i]], "user": f"u{users[i]:05d}", "seq": i},
                )
                out.append((index, t, f"{day}.{t}.{i:06d}", src, len(src)))
    all_rows = [r for rs in rows.values() for r in rs]
    dropped = sum(1 for r in all_rows if json.loads(r[3])["level"] == DROP_LEVEL)
    props = {
        "corpus_docs": len(all_rows),
        "indices": len(days),
        "types": len(types),
        "index_x_type": len(days) * len(types),
        "size_quantiles_bytes": quantiles([r[4] for r in all_rows]),
        "size_pareto_alpha": pareto_alpha,
        "size_cap_share": cap_share,
        "drop_share_set": drop_share,
        "drop_share_measured": round(dropped / len(all_rows), 4),
    }
    return rows, props


def merge_delta(
    seed: int,
    corpus: "dict[str, list[tuple]]",
    update_share: float,
    insert_share: float,
    same_key_pairs: int,
) -> "tuple[dict[str, list[tuple]], dict]":
    """A re-delivery against ``corpus``: per index, ``update_share`` of its
    ids with a new ``_source``, ``insert_share`` new ids, and
    ``same_key_pairs`` ids delivered twice with equal ``_size`` (so both
    copies land in one subtask's batch) and different payloads."""
    rng = np.random.default_rng([seed, 2])
    delta: dict[str, list[tuple]] = {}
    n_upd = n_ins = n_pairs = 0
    for index, rows in corpus.items():
        n = len(rows)
        out = delta.setdefault(index, [])
        pick = rng.choice(n, size=max(1, int(round(update_share * n))), replace=False)
        for j in sorted(pick):
            _, t, _id, src, _ = rows[j]
            doc = json.loads(src)
            fields = {k: doc[k] for k in ("level", "user", "seq")}
            new = _doc(rng, int(rng.integers(100, 2000)), dict(fields, rev="a"))
            out.append((index, t, _id, new, len(new)))
        n_upd += len(pick)
        types = sorted({r[1] for r in rows})
        for i in range(max(1, int(round(insert_share * n)))):
            t = types[i % len(types)]
            new = _doc(rng, int(rng.integers(100, 2000)),
                       {"level": "info", "user": f"u{i:05d}", "seq": i, "rev": "a"})
            out.append((index, t, f"{index}.{t}.new{i:06d}", new, len(new)))
            n_ins += 1
        for j in rng.choice(len(out), size=min(same_key_pairs, len(out)), replace=False):
            ix, t, _id, src, size = out[j]
            out.append((ix, t, _id, src.replace('"rev": "a"', '"rev": "b"'), size))
            n_pairs += 1
    total = sum(len(rs) for rs in corpus.values())
    props = {
        "delta_rows": sum(len(rs) for rs in delta.values()),
        "update_share_set": update_share,
        "update_share_measured": round(n_upd / total, 4),
        "insert_share_set": insert_share,
        "insert_share_measured": round(n_ins / total, 4),
        "same_key_pairs": n_pairs,
    }
    return delta, props


def write_store(root: str, rows: "dict[str, list[tuple]]") -> None:
    """Write ``rows`` as a flat ``DocumentStore``: one parquet file per
    index and an index catalog naming each index's types."""
    os.makedirs(os.path.join(root, "catalog"), exist_ok=True)
    catalog = {}
    for index, rs in rows.items():
        d = os.path.join(root, "data", index)
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rs))
        pq.write_table(
            pa.table([pa.array(c) for c in cols], schema=ENVELOPE),
            os.path.join(d, "part-00000.parquet"),
        )
        catalog[index] = {
            "aliases": {},
            "mappings": {t: {"properties": {}} for t in sorted(set(cols[1]))},
            "settings": {"index": {"number_of_shards": 1}},
        }
    with open(os.path.join(root, "catalog", "indices.json"), "w") as f:
        json.dump(catalog, f, indent=1, sort_keys=True)


# -------------------------------------------------------------- documents


# The words of the test-data corpus (TESTDATA.md). The registered
# queries search for some of them by name (bm25_topk: "table", "scan",
# "join"), so they lead the generated vocabulary.
BASE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _vocabulary(rng: np.random.Generator, n: int) -> "list[str]":
    """``n`` distinct words: the base words, then random 3-8 letter words."""
    out = list(BASE_WORDS)
    words = set(out)
    while len(out) < n:
        w = _letters(rng, int(rng.integers(3, 9)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def zipf_exponent(counts) -> float:
    """Least-squares slope of log frequency on log rank (ranks 1..1000)."""
    c = np.sort(np.asarray([x for x in counts if x > 0], dtype=float))[::-1][:1000]
    r = np.arange(1, len(c) + 1, dtype=float)
    return float(-np.polyfit(np.log(r), np.log(c), 1)[0])


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Jaccard similarity of two texts' word n-gram sets."""
    ga, gb = ({" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
              for t in (a.split(" "), b.split(" ")))
    return len(ga & gb) / max(1, len(ga | gb))


def make_documents(
    seed: int,
    n_docs: int,
    vocab: int = 4000,
    zipf_s: float = 1.1,
    mean_words: int = 60,
    exact_dup_share: float = 0.05,
    near_dup_share: float = 0.05,
    n_sources: int = 8,
) -> "tuple[pa.Table, dict]":
    """The ``documents`` table: Zipf word draws, a per-source preferred
    word set (so source distributions differ), and planted duplicates —
    exact copies and near copies with ~5% of words replaced."""
    rng = np.random.default_rng([seed, 3])
    words = _vocabulary(rng, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    src_words = [rng.choice(vocab, size=30, replace=False) for _ in range(n_sources)]
    src_of = rng.choice(n_sources, size=n_docs, p=rng.dirichlet(np.full(n_sources, 2.0)))
    lengths = np.maximum(5, rng.lognormal(math.log(mean_words), 0.5, n_docs)).astype(int)
    kind = rng.choice(3, size=n_docs, p=[1 - exact_dup_share - near_dup_share,
                                         exact_dup_share, near_dup_share])
    kind[0] = 0
    texts: "list[str]" = []
    near_pairs = []
    for i in range(n_docs):
        if kind[i] == 1:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if kind[i] == 2:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            swap = rng.random(len(toks)) < 0.05
            for k in np.flatnonzero(swap):
                toks[k] = words[int(rng.choice(vocab, p=p))]
            texts.append(" ".join(toks))
            near_pairs.append((j, i))
            continue
        ids = rng.choice(vocab, size=lengths[i], p=p)
        boost = rng.random(lengths[i]) < 0.2
        ids[boost] = rng.choice(src_words[src_of[i]], size=int(boost.sum()))
        texts.append(" ".join(words[k] for k in ids))
    counts: dict = {}
    for t in texts:
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    seen: set = set()
    exact = 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    near = sum(
        1 for j, i in near_pairs
        if texts[i] != texts[j] and shingle_jaccard(texts[i], texts[j]) >= 0.5
    )
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{k}" for k in src_of]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    props = {
        "docs": n_docs,
        "vocabulary": vocab,
        "zipf_exponent_set": zipf_s,
        "zipf_exponent_measured": round(zipf_exponent(list(counts.values())), 3),
        "exact_dup_share_set": exact_dup_share,
        "exact_dup_share_measured": round(exact / n_docs, 4),
        "near_dup_share_set": near_dup_share,
        "near_dup_share_measured": round(near / n_docs, 4),
        "mean_words": round(float(np.mean([len(t.split(" ")) for t in texts])), 1),
    }
    return table, props


def make_embeddings(
    seed: int, n: int, dim: int = 64, components: int = 16, sigma: float = 0.5
) -> "tuple[pa.Table, dict]":
    """Gaussian-mixture embeddings: unit-norm component means, per-dim
    noise ``sigma / sqrt(dim)``, Dirichlet component sizes; ``label`` is
    the true component."""
    rng = np.random.default_rng([seed, 4])
    means = rng.standard_normal((components, dim))
    means /= np.linalg.norm(means, axis=1, keepdims=True)
    labels = rng.choice(components, size=n, p=rng.dirichlet(np.full(components, 2.0)))
    X = means[labels] + (sigma / math.sqrt(dim)) * rng.standard_normal((n, dim))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(X.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    sizes = np.bincount(labels, minlength=components)
    props = {
        "embeddings": n,
        "embedding_dim": dim,
        "embedding_distribution": (
            f"gaussian mixture: {components} unit-norm means, "
            f"per-dim sigma {sigma}/sqrt({dim})"
        ),
        "component_sizes_min_max": [int(sizes.min()), int(sizes.max())],
    }
    return table, props


def write_suite_dir(
    root: str, seed: int, n_docs: int, n_vecs: int
) -> "tuple[pa.Table, pa.Table, dict]":
    os.makedirs(root, exist_ok=True)
    docs, dprops = make_documents(seed, n_docs)
    vecs, vprops = make_embeddings(seed, n_vecs)
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    pq.write_table(vecs, os.path.join(root, "embeddings.parquet"))
    return docs, vecs, {**dprops, **vprops}


def serve_queries(
    seed: int, docs: pa.Table, vecs: pa.Table, n: int, noise: float = 0.05
) -> "tuple[list[list[str]], np.ndarray, dict]":
    """``n`` BM25 term lists (1-3 terms, each drawn in proportion to its
    corpus frequency) and ``n`` query vectors (a corpus vector plus
    isotropic noise of relative size ``noise``)."""
    rng = np.random.default_rng([seed, 5])
    counts: dict = {}
    dfreq: dict = {}
    for t in docs.column("text").to_pylist():
        toks = t.split(" ")
        for w in toks:
            counts[w] = counts.get(w, 0) + 1
        for w in set(toks):
            dfreq[w] = dfreq.get(w, 0) + 1
    vocab = sorted(counts)
    p = np.array([counts[w] for w in vocab], dtype=float)
    p /= p.sum()
    terms = [
        sorted({vocab[k] for k in rng.choice(len(vocab), size=int(rng.integers(1, 4)), p=p)})
        for _ in range(n)
    ]
    X = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    base = X[rng.integers(0, len(X), size=n)]
    scale = noise * np.linalg.norm(base, axis=1, keepdims=True) / math.sqrt(X.shape[1])
    Q = base + scale * rng.standard_normal(base.shape)
    n_docs = docs.num_rows
    props = {
        "serve_queries_per_kind": n,
        "query_terms_mean": round(float(np.mean([len(t) for t in terms])), 2),
        "query_term_doc_share_mean": round(
            float(np.mean([dfreq[w] / n_docs for t in terms for w in t])), 4
        ),
        "query_vector_noise": noise,
    }
    return terms, Q.astype(np.float32), props
