"""Output checks, computed without the program under test.

* Reindex: the destination's rows, read with pyarrow, against a
  pure-Python application of the mutator chain (or, for a merge, the
  corpus overlaid with the delta under ``upsert``'s documented
  md5(``_source``) tie-break), compared by count and an order-independent
  digest.
* Suite: a DuckDB oracle result against the Spark result by a
  dtype-faithful, order-independent value hash.
* Serving: BM25 top-k against a brute-force ranking with the same
  rounding, and ANN results against numpy exact top-k (recall).
"""
from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

_MASK = (1 << 128) - 1
_SCRATCH = re.compile(r"\.(tmp|old|new|merge|append|compact)-[0-9a-f]+")


def row_digest(rows) -> "tuple[int, str]":
    """(count, digest) of string tuples; the digest is the sum mod 2^128
    of each row's md5, so it does not depend on row order."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        acc = (acc + int(hashlib.md5("\x1f".join(r).encode()).hexdigest(), 16)) & _MASK
    return n, f"{acc:032x}"


def store_rows(root: str) -> "list[tuple[str, str, str, str]]":
    """(_index, _type, _id, _source) of every live row of a parquet
    DocumentStore, flat or bucketed; the index is the directory name."""
    out = []
    for index_dir in sorted(glob.glob(os.path.join(root, "data", "*"))):
        index = os.path.basename(index_dir)
        if not os.path.isdir(index_dir) or _SCRATCH.search(index):
            continue
        for f in sorted(glob.glob(os.path.join(index_dir, "**", "*.parquet"), recursive=True)):
            if _SCRATCH.search(os.path.relpath(f, index_dir)):
                continue
            t = pq.read_table(f, columns=["_type", "_id", "_source"])
            for ty, i, s in zip(*(t.column(c).to_pylist() for c in ("_type", "_id", "_source"))):
                out.append((index, ty, i, s))
    return out


# ---------------------------------------------------------------- reindex

DAILY = re.compile(r"^(.*)_(\d{4}-\d{2})-\d{2}$")


def expected_reindex(corpus: dict, drop_level: str) -> "list[tuple[str, str, str, str]]":
    """The mutator chain in plain Python: daily -> monthly ``_index``,
    then drop documents whose ``level`` equals the drop argument."""
    out = []
    for rows in corpus.values():
        for index, ty, _id, src, _size in rows:
            doc = json.loads(src)
            m = DAILY.match(index)
            if m:
                index = f"{m.group(1)}_{m.group(2)}"
            if doc.get("level") == drop_level:
                continue
            out.append((index, ty, _id, json.dumps(doc, sort_keys=True)))
    return out


def expected_merge(corpus: dict, delta: dict) -> "tuple[list, list]":
    """(all rows, delivered delta rows) after overlaying ``delta`` on
    ``corpus`` keyed on (_index, _type, _id). Same-key rows inside the
    delta keep the highest md5(_source), then the highest ``_size`` — the
    tie-break ``upsert`` documents."""
    rows = {(r[0], r[1], r[2]): r[3] for rs in corpus.values() for r in rs}
    best: dict = {}
    for rs in delta.values():
        for index, ty, _id, src, size in rs:
            rank = (hashlib.md5(src.encode()).hexdigest(), size)
            if (index, ty, _id) not in best or rank > best[(index, ty, _id)][0]:
                best[(index, ty, _id)] = (rank, src)
    rows.update({k: v[1] for k, v in best.items()})
    return [(*k, v) for k, v in rows.items()], [(*k, v[1]) for k, v in best.items()]


def delivered_bytes(rows) -> int:
    """UTF-8 bytes of envelope rows, plus 8 for the ``_size`` long."""
    return sum(sum(len(x.encode()) for x in r) + 8 for r in rows)


# ------------------------------------------------------------------ suite


def value_hash(df) -> str:
    """Order-independent hash of a pandas frame: columns sorted by name,
    ints and floats kept distinct, floats at full repr precision, NaN and
    None both NULL."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, (float, np.floating)) and math.isnan(v)):
            return "NULL"
        if isinstance(v, (bool, np.bool_)):
            return "T" if v else "F"
        if isinstance(v, (float, np.floating)):
            return repr(float(v))
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = sorted("\x1f".join(norm(v) for v in rec) for rec in df.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


# ---------------------------------------------------------------- serving


def _round_det(x: float, digits: int) -> float:
    p = float(10**digits)
    return math.floor(x * p + 0.5) / p


class BM25Oracle:
    """Brute-force BM25 over whitespace tokens with the served index's
    arithmetic: per-term scores rounded to 9 digits and summed exactly as
    DECIMAL(18,9), the sum rounded to 6 digits, ranked by (score desc,
    doc_id asc)."""

    def __init__(self, doc_ids, texts, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict = {}
        self.dl: dict = {}
        self.df: dict = {}
        for d, t in zip(doc_ids, texts):
            toks = t.split(" ")
            self.dl[d] = len(toks)
            counts: dict = {}
            for w in toks:
                counts[w] = counts.get(w, 0) + 1
            for w, c in counts.items():
                self.tf.setdefault(w, []).append((d, c))
                self.df[w] = self.df.get(w, 0) + 1
        self.n = len(self.dl)
        self.avgdl = float(sum(self.dl.values())) / max(self.n, 1)

    def topk(self, terms, k: int) -> "list[tuple[int, float]]":
        k1, b = self.k1, self.b
        acc: dict = {}
        for w in set(terms):
            if w not in self.df:
                continue
            df = self.df[w]
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d, tf in self.tf[w]:
                x = idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * self.dl[d] / self.avgdl))
                s = Decimal(repr(_round_det(x, 9))).quantize(Decimal("1e-9"))
                acc[d] = acc.get(d, Decimal(0)) + s
        ranked = sorted(((-_round_det(float(v), 6), d) for d, v in acc.items()))
        return [(d, -s) for s, d in ranked[:k]]


def exact_topk_ids(X: np.ndarray, q: np.ndarray, k: int) -> "set[int]":
    """Ids (row numbers) of the ``k`` corpus rows of highest cosine."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    qn = q / max(np.linalg.norm(q), 1e-300)
    return set(np.argsort(-(Xn @ qn), kind="stable")[:k].tolist())
