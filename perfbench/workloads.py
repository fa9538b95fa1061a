"""The benchmark's workloads.

Each workload generates its inputs from the seed (no Spark), runs the
program's own set-up, then repeats one unit of work — an iteration —
until the run's seconds are spent, and checks every output. A traced run
wraps the layers' public functions (see ``install_tracing``), alternates
untraced and traced iterations after one untraced warm-up iteration, and
reports per-layer metrics from the traced ones.
"""
from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import statistics
import time

import duckdb
import numpy as np

import checks
import inputs
from spans import Tracer, covered, median, percentile_with_tail

# ------------------------------------------------------------ reindex

MONTHLY_MUTATOR = r'''
TYPE = "data"
DAILY = re.compile(r"^(.*)_(\d{4}-\d{2})-\d{2}$")
def predicate(doc, args):
    return bool(DAILY.match(doc["_index"]))
def mutate(doc, args):
    doc["_index"] = DAILY.sub(r"\1_\2", doc["_index"])
    return doc
'''

DROP_MUTATOR = '''
TYPE = "data"
def predicate(doc, args):
    return doc["_source"].get("level") == args["match"]
def mutate(doc, args):
    return None
'''


def _snapshot(root: str) -> dict:
    """path -> size of every parquet file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _bucket_of(path: str, root: str) -> "tuple[str, str] | None":
    rel = os.path.relpath(path, os.path.join(root, "data")).split(os.sep)
    if len(rel) >= 3 and rel[1].startswith("bucket-"):
        return rel[0], rel[1]
    return None


class ReindexMutate:
    """A full reindex Task: ``add_task`` (planning) then a drained
    ``run_task(parallelism=1)``, from a seeded corpus of daily indices x
    2 types into an empty destination, through a daily->monthly
    ``_index`` re-route and an argument-matched drop."""

    DAYS = ("2024-01-31", "2024-02-01")
    TYPES = ("event", "audit")
    DOCS_PER_SLICE = 700
    DROP_SHARE = 0.15

    def __init__(self, seed: int, work: str):
        self.work = work
        self.src = os.path.join(work, "src")
        self.corpus, self.props = inputs.reindex_corpus(
            seed, self.DAYS, self.TYPES, self.DOCS_PER_SLICE, self.DROP_SHARE
        )
        inputs.write_store(self.src, self.corpus)
        expected = checks.expected_reindex(self.corpus, inputs.DROP_LEVEL)
        self.expected = checks.row_digest(expected)
        self.expected_bytes = checks.delivered_bytes(expected)
        self.n_docs = self.props["corpus_docs"]
        self.warm_src = os.path.join(work, "warm-src")
        warm, _ = inputs.reindex_corpus(
            seed + 1, self.DAYS[:1], self.TYPES[:1], 40, self.DROP_SHARE
        )
        inputs.write_store(self.warm_src, warm)
        self.attempted = self.failed = 0
        self.n = 0

    def setup(self, spark) -> float:
        """Warm-up: one small reindex Task (one index, one type, two
        subtasks: a first write and a merge) through the same planner,
        mutators and sink, so the timed Tasks do not pay the JVM's first
        compilation of those paths."""
        t0 = time.perf_counter()
        self._task(spark, self.warm_src)
        return time.perf_counter() - t0

    def _task(self, spark, src: str) -> "tuple[dict, int, str]":
        """Admit and drain one reindex Task from ``src`` into a new empty
        destination: (final status, subtasks planned, destination)."""
        from chillastic_spark.engine import Engine
        from chillastic_spark.model import ActionRef, Task, TransferSpec

        self.n += 1
        dst = os.path.join(self.work, f"dst{self.n}")
        for d in ("data", "catalog"):
            os.makedirs(os.path.join(dst, d))
        eng = Engine(spark, os.path.join(self.work, f"state{self.n}"))
        eng.mutators.add("monthly", MONTHLY_MUTATOR)
        eng.mutators.add("dropper", DROP_MUTATOR)
        st = eng.add_task(
            "reindex",
            Task(
                source=src,
                destination=dst,
                transfer=TransferSpec(from_indices="logs_*"),
                mutators=[
                    ActionRef(id="monthly"),
                    ActionRef(id="dropper", arguments={"match": inputs.DROP_LEVEL}),
                ],
            ),
        )
        subtasks = len(st.data["backlog"])
        return eng.run_task("reindex", parallelism=1), subtasks, dst

    def iterate(self, spark, tracer: "Tracer | None" = None) -> dict:
        t0 = time.perf_counter()
        status, subtasks, dst = self._task(spark, self.src)
        seconds = time.perf_counter() - t0
        ok = checks.row_digest(checks.store_rows(dst)) == self.expected
        self.attempted += subtasks + 1
        self.failed += status["errors"] + (not ok)
        shutil.rmtree(dst)
        return {"seconds": seconds, "docs": status["completed"], "subtasks": subtasks}

    def e2e(self, its: list) -> dict:
        return {"docs_per_s": median([i["docs"] / i["seconds"] for i in its])}

    def report(self, its: list) -> dict:
        return {"iterations": len(its), "task_s": [round(i["seconds"], 3) for i in its],
                "subtasks": its[0]["subtasks"]}

    # -- traced run ------------------------------------------------------
    def layers(self, spark, tracer: Tracer, traced: list) -> dict:
        out = _reindex_layers(tracer.spans, len(traced), self.expected_bytes)
        out.update(self._mutate_isolated(spark))
        return out

    def _mutate_isolated(self, spark, reps: int = 3) -> dict:
        """The lazy mutate stage timed alone: noop-sink write of the
        corpus scan with the mutator chain, minus the same scan without
        it, per 1000 documents (medians of ``reps``)."""
        from chillastic_spark.operators.mutate import apply_data_mutators
        from chillastic_spark.registry import Mutators
        from chillastic_spark.sources import DocumentStore
        from chillastic_spark.model import ActionRef

        reg = Mutators()
        reg.add("monthly", MONTHLY_MUTATOR)
        reg.add("dropper", DROP_MUTATOR)
        chain = reg.load_by_type(
            [ActionRef(id="monthly"),
             ActionRef(id="dropper", arguments={"match": inputs.DROP_LEVEL})]
        )["data"]
        store = DocumentStore(self.src, create=False)
        scan = None
        for index in self.corpus:
            df = store.read(spark, index)
            scan = df if scan is None else scan.unionByName(df)
        mutated = apply_data_mutators(scan, chain)

        def noop(df):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        base, full = [], []
        for _ in range(reps):
            base.append(noop(scan))
            full.append(noop(mutated))
        kept = mutated.count()
        return {
            "mutate.s_per_kdoc": (median(full) - median(base)) / (self.n_docs / 1000.0),
            "mutate.drop_frac": 1.0 - kept / self.n_docs,
        }


def _reindex_layers(spans: list, tasks: int, delivered_bytes: int) -> dict:
    """engine / plans / sources / sinks metrics per traced Task."""
    spans = [s for s in spans if s.end]
    per_task = max(1, tasks)

    def named(n):
        return [s for s in spans if s.name == n]

    ups = named("sinks.upsert")
    plans = named("plans.plan_bounds")
    written = sum(s.info.get("bytes_written", 0) for s in ups)
    touched = sum(s.info.get("buckets_touched", 0) for s in ups)
    buckets = sum(s.info.get("buckets_total", 0) for s in ups)
    return {
        "engine.subtasks": len(named("engine.transfer_data")) / per_task,
        "engine.subtask_s_p50": median([s.duration for s in named("engine.transfer_data")]),
        "engine.state_saves": len(named("engine.state_save")) / per_task,
        "engine.state_save_s": sum(s.duration for s in named("engine.state_save")) / per_task,
        "engine.resume_plan_s": sum(s.duration for s in named("engine.build_backlog")) / per_task,
        "plans.plan_s": sum(s.duration for s in plans) / per_task,
        "plans.count_probes": len(named("sources.count")) / per_task,
        "plans.bounds_per_slice": median([s.info["bounds"] for s in plans]),
        "sources.read_calls": len(named("sources.read")) / per_task,
        "sources.count_s": sum(s.duration for s in named("sources.count")) / per_task,
        "sinks.upsert_calls": len(ups) / per_task,
        "sinks.upsert_s": sum(s.duration for s in ups) / per_task,
        "sinks.jobs_per_upsert": median([len(s.jobs) for s in ups]),
        "sinks.bytes_written": written / per_task,
        "sinks.write_amp": (written / per_task) / delivered_bytes,
        "sinks.buckets_touched_frac": touched / buckets if buckets else 0.0,
    }


def _bucket_files(root: str) -> dict:
    """(index, bucket dir) -> names of its parquet files."""
    out: dict = {}
    for p in _snapshot(root):
        key = _bucket_of(p, root)
        if key is not None:
            out.setdefault(key, set()).add(os.path.basename(p))
    return out


class ReindexMerge(ReindexMutate):
    """A seeded delta re-delivered into a destination that set-up filled
    with the corpus: updates to existing ids, new ids and a few same-key
    pairs over every index, no mutators. The Task stops after half its
    subtasks (``max_subtasks``); a fresh Engine on the same state root
    then calls ``build_backlog`` and drains the rest."""

    UPDATE_SHARE = 0.04
    INSERT_SHARE = 0.02
    SAME_KEY_PAIRS = 3

    def __init__(self, seed: int, work: str):
        self.work = work
        self.corpus, self.props = inputs.reindex_corpus(
            seed, self.DAYS, self.TYPES, self.DOCS_PER_SLICE, self.DROP_SHARE
        )
        delta, dprops = inputs.merge_delta(
            seed, self.corpus, self.UPDATE_SHARE, self.INSERT_SHARE, self.SAME_KEY_PAIRS
        )
        self.props.update(dprops)
        self.src = os.path.join(work, "corpus")
        self.delta_src = os.path.join(work, "delta")
        inputs.write_store(self.src, self.corpus)
        inputs.write_store(self.delta_src, delta)
        merged, delivered = checks.expected_merge(self.corpus, delta)
        self.expected = checks.row_digest(merged)
        self.expected_bytes = checks.delivered_bytes(delivered)
        self.attempted = self.failed = 0
        self.n = 0

    def setup(self, spark) -> float:
        """The program's set-up: ``upsert`` the corpus into the
        destination every timed Task starts from a copy of."""
        from chillastic_spark.sinks import upsert
        from chillastic_spark.sources import DocumentStore

        self.pristine = os.path.join(self.work, "pristine")
        t0 = time.perf_counter()
        src, dst = DocumentStore(self.src, create=False), DocumentStore(self.pristine)
        for index in self.corpus:
            upsert(spark, dst, src.read(spark, index))
        return time.perf_counter() - t0

    def iterate(self, spark, tracer: "Tracer | None" = None) -> dict:
        from chillastic_spark.engine import Engine
        from chillastic_spark.model import Task, TransferSpec

        self.n += 1
        dst = os.path.join(self.work, f"dst{self.n}")
        state = os.path.join(self.work, f"state{self.n}")
        shutil.copytree(self.pristine, dst)
        task = Task(source=self.delta_src, destination=dst,
                    transfer=TransferSpec(from_indices="logs_*"))
        t0 = time.perf_counter()
        st = Engine(spark, state).add_task("merge", task)
        subtasks = len(st.data["backlog"])
        Engine(spark, state).run_task("merge", max_subtasks=subtasks // 2)
        resumed = Engine(spark, state)
        t1 = time.perf_counter()
        resumed.build_backlog("merge")
        resume_s = time.perf_counter() - t1
        status = resumed.run_task("merge", parallelism=1)
        seconds = time.perf_counter() - t0
        ok = checks.row_digest(checks.store_rows(dst)) == self.expected
        before, after = _bucket_files(self.pristine), _bucket_files(dst)
        keys = before.keys() | after.keys()
        touched = sum(before.get(k) != after.get(k) for k in keys) / max(1, len(keys))
        self.attempted += subtasks + 1
        self.failed += status["errors"] + (not ok)
        shutil.rmtree(dst)
        return {"seconds": seconds, "docs": status["completed"], "subtasks": subtasks,
                "resume_s": resume_s, "buckets_touched": touched}

    def report(self, its: list) -> dict:
        out = super().report(its)
        out["resume_plan_s"] = [round(i["resume_s"], 3) for i in its]
        out["buckets_touched_share"] = round(median([i["buckets_touched"] for i in its]), 4)
        return out

    def layers(self, spark, tracer: Tracer, traced: list) -> dict:
        return _reindex_layers(tracer.spans, len(traced), self.expected_bytes)


# -------------------------------------------------------------- suite

SUITE = (
    "text_features",
    "tfidf_top_terms",
    "bm25_topk",
    "hybrid_search_rrf",
    "dedup_ngram_jaccard",
    "dedup_containment_prefix",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dsir_importance_weights",
    "source_unigram_kl",
    "similarity_topk",
    "embedding_dup_pairs",
    "semantic_dedup_manifest",
    "knn_pagerank",
    "knn_communities",
)


def _duckdb_df(con, sql: str):
    """Run an oracle with every CTE marked MATERIALIZED, falling back to
    the SQL as written. DuckDB 1.0 inlines each reference to a CTE, so an
    unrolled iteration whose step reads the previous step twice
    (knn_pagerank) re-evaluates exponentially; materializing gives the
    same rows in a fraction of the time."""
    try:
        return con.sql(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).df()
    except duckdb.Error:
        return con.sql(sql).df()


class CurationSuite:
    """One pass over the registered curation queries on a seeded
    ``documents`` + ``embeddings`` directory, each result collected and
    hash-checked against its DuckDB oracle."""

    DOCS = 500
    VECS = 400

    def __init__(self, seed: int, work: str, cache: str):
        self.dir = os.path.join(work, "suite")
        _, _, self.props = inputs.write_suite_dir(self.dir, seed, self.DOCS, self.VECS)
        self.props["queries"] = list(SUITE)
        self.oracle = self._oracle(cache)
        self.attempted = self.failed = 0
        self.mismatches: dict = {}

    def _oracle(self, cache: str) -> dict:
        """name -> row count, columns and value hash of the query's DuckDB
        oracle result, cached under a digest of the input files."""
        from chillastic_spark.queries import all_queries

        digest = hashlib.md5()
        for t in ("documents", "embeddings"):
            with open(os.path.join(self.dir, f"{t}.parquet"), "rb") as f:
                digest.update(f.read())
        path = os.path.join(cache, f"suite-oracle-{digest.hexdigest()}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        qs = all_queries()
        out = {}
        for name in SUITE:
            df = _duckdb_df(con, qs[name].sql)
            out[name] = {"rows": len(df), "columns": sorted(df.columns),
                         "hash": checks.value_hash(df)}
        con.close()
        os.makedirs(cache, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def setup(self, spark) -> float:
        """No program set-up beyond the session."""
        return 0.0

    def iterate(self, spark, tracer: "Tracer | None" = None) -> dict:
        from chillastic_spark.queries import all_queries

        qs = all_queries()
        results = {}
        t0 = time.perf_counter()
        for name in SUITE:
            self.attempted += 1
            try:
                with _span(tracer, f"queries.{name}.fn"):
                    df = qs[name].fn(spark, self.dir)
                with _span(tracer, f"queries.{name}.collect"):
                    results[name] = df.toPandas()
            except Exception as e:  # noqa: BLE001 — a raising query is a counted failure
                self.failed += 1
                self.mismatches[name] = f"raised {type(e).__name__}: {e}"
        seconds = time.perf_counter() - t0
        for name, pdf in results.items():
            want = self.oracle[name]
            if (len(pdf), sorted(pdf.columns), checks.value_hash(pdf)) != (
                want["rows"], want["columns"], want["hash"]
            ):
                self.failed += 1
                self.mismatches[name] = "oracle mismatch"
        return {"seconds": seconds, "docs": self.props["docs"]}

    def e2e(self, its: list) -> dict:
        return {"docs_per_s": median([i["docs"] / i["seconds"] for i in its])}

    def report(self, its: list) -> dict:
        out = {"iterations": len(its), "pass_s": [round(i["seconds"], 3) for i in its]}
        if self.mismatches:
            out["mismatches"] = self.mismatches
        return out

    def layers(self, spark, tracer: Tracer, traced: list) -> dict:
        spans = [s for s in tracer.spans if s.end]
        passes = max(1, len(traced))
        out = {}
        for name in SUITE:
            mine = [s for s in spans if s.name.startswith(f"queries.{name}.")]
            out[f"queries.{name}.s"] = sum(s.duration for s in mine) / passes
            out[f"queries.{name}.jobs"] = sum(len(s.jobs) for s in mine) / passes
        out["persist.materialize_calls"] = (
            len([s for s in spans if s.name == "persist.materialize"]) / passes
        )
        from chillastic_spark.queries import all_queries

        pairs = all_queries()["embedding_dup_pairs"].fn(spark, self.dir).count()
        out["components.edge_rows"] = 2 * pairs
        return out


# -------------------------------------------------------------- serving


class IndexServe:
    """Set-up builds the inverted index and the IVF index over a seeded
    corpus; one closed-loop client then alternates a BM25 query and an
    ANN query, each collected."""

    DOCS = 2000
    VECS = 2000
    K = 10
    RECALL_FLOOR = 0.8
    QUERIES = 200

    def __init__(self, seed: int, work: str):
        self.work = work
        d = os.path.join(work, "corpus")
        docs, vecs, self.props = inputs.write_suite_dir(d, seed, self.DOCS, self.VECS)
        self.doc_path = os.path.join(d, "documents.parquet")
        self.vec_path = os.path.join(d, "embeddings.parquet")
        self.terms, self.qvecs, qprops = inputs.serve_queries(
            seed, docs, vecs, self.QUERIES
        )
        self.props.update(qprops)
        self.bm25 = checks.BM25Oracle(
            docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
        )
        self.X = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False)).astype(
            np.float64
        )
        self.attempted = self.failed = 0
        self.recalls: list = []
        self.scan_rows: list = []
        self.i = 0

    def setup(self, spark) -> float:
        """The program's set-up: both index builds."""
        from chillastic_spark.sources import search_index, vector_index

        self.si_dir = os.path.join(self.work, "si")
        self.ivf_dir = os.path.join(self.work, "ivf")
        t0 = time.perf_counter()
        search_index.build_inverted_index(spark, spark.read.parquet(self.doc_path), self.si_dir)
        t1 = time.perf_counter()
        self.meta = vector_index.build_ivf_index(spark.read.parquet(self.vec_path), self.ivf_dir)
        t2 = time.perf_counter()
        self.build_s = (t1 - t0, t2 - t1)
        self.cells = self._cell_rows(self.ivf_dir)
        return t2 - t0

    @staticmethod
    def _cell_rows(ivf_dir: str) -> dict:
        import glob

        import pyarrow.parquet as pq

        rows: dict = {}
        for f in glob.glob(os.path.join(ivf_dir, "*", "cell=*", "*.parquet")):
            c = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            rows[c] = rows.get(c, 0) + pq.ParquetFile(f).metadata.num_rows
        return rows

    def iterate(self, spark, tracer: "Tracer | None" = None) -> dict:
        from chillastic_spark.sources import search_index, vector_index

        i = self.i % self.QUERIES
        self.i += 1
        terms, q = self.terms[i], self.qvecs[i]
        self.attempted += 2
        t0 = time.perf_counter()
        with _span(tracer, "serve.bm25"):
            got = search_index.bm25_search_index(spark, self.si_dir, terms, k=self.K).collect()
        t1 = time.perf_counter()
        with _span(tracer, "serve.ann"):
            qdf = spark.createDataFrame(
                [(10**9 + i, q.tolist())], "query_id long, embedding array<float>"
            )
            ann = vector_index.ann_query_ivf_index(spark, self.ivf_dir, qdf, k=self.K).collect()
        t2 = time.perf_counter()
        if [(r["doc_id"], r["bm25"]) for r in got] != self.bm25.topk(terms, self.K):
            self.failed += 1
        exact = checks.exact_topk_ids(self.X, q.astype(np.float64), self.K)
        self.recalls.append(len(exact & {r["neighbor_id"] for r in ann}) / self.K)
        nprobe = self.meta.get("calibrated_nprobe") or 3
        C = np.asarray(self.meta["centroids"], dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-300)
        probed = np.argsort(-(C @ qn), kind="stable")[:nprobe]
        self.scan_rows.append(sum(self.cells.get(int(c), 0) for c in probed))
        return {"seconds": t2 - t0, "bm25_s": t1 - t0, "ann_s": t2 - t1,
                "docs": self.DOCS + self.VECS}

    def finish_checks(self) -> None:
        """One more check: mean ANN recall@k must reach the floor."""
        self.attempted += 1
        if not self.recalls or statistics.mean(self.recalls) < self.RECALL_FLOOR:
            self.failed += 1

    def e2e(self, its: list) -> dict:
        return {"docs_per_s": sum(i["docs"] for i in its) / sum(i["seconds"] for i in its)}

    def report(self, its: list) -> dict:
        """Serving latencies per query type under ``latency``: p50, and the
        p90 under the rule that at least 10 samples lie beyond it (else the
        highest percentile that has, or null), each with its sample count."""
        latency = {}
        for kind in ("bm25", "ann"):
            v = [i[f"{kind}_s"] * 1000 for i in its]
            pct, tail = percentile_with_tail(v, 90)
            latency[f"{kind}_p50_ms"] = {"value": round(median(v), 3), "unit": "ms",
                                         "samples": len(v)}
            latency[f"{kind}_p90_ms"] = {"value": None if tail is None else round(tail, 3),
                                         "unit": "ms", "samples": len(v), "percentile": pct}
        return {"iterations": len(its), "latency": latency,
                "recall_at_k": round(statistics.mean(self.recalls), 4)}

    def layers(self, spark, tracer: Tracer, traced: list) -> dict:
        spans = [s for s in tracer.spans if s.end]

        def jobs(n):
            return median([len(s.jobs) for s in spans if s.name == n])

        cal = self.meta.get("calibration") or {}
        return {
            "search_index.build_s": self.build_s[0],
            "search_index.jobs_per_query": jobs("serve.bm25"),
            "search_index.bm25_p50_ms": 1000 * median([i["bm25_s"] for i in traced]),
            "vector_index.build_s": self.build_s[1],
            "vector_index.jobs_per_query": jobs("serve.ann"),
            "vector_index.ann_p50_ms": 1000 * median([i["ann_s"] for i in traced]),
            "vector_index.calibrated_nprobe": self.meta.get("calibrated_nprobe") or 0,
            "vector_index.calibration_recall": cal.get("recall_at_k", 0.0),
            "vector_index.scan_frac": statistics.mean(self.scan_rows) / self.VECS,
            "vector_index.recall_at_k": statistics.mean(self.recalls),
        }


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ------------------------------------------------------------ tracing


def install_tracing(tracer: Tracer) -> None:
    """Wrap each layer's public functions at the names their callers
    bind. ``upsert`` also records the parquet bytes it wrote and the
    buckets it rewrote, from a listing of the destination taken outside
    its span."""
    import chillastic_spark.engine as engine
    import chillastic_spark.operators.mutate  # noqa: F401
    import chillastic_spark.persist  # noqa: F401
    import chillastic_spark.plans  # noqa: F401
    import chillastic_spark.queries as queries
    import chillastic_spark.sinks  # noqa: F401
    from chillastic_spark.sources import DocumentStore, search_index, vector_index

    queries.all_queries()  # import every query module before rebinding
    tracer.wrap(engine.Engine, "add_task", "engine.add_task")
    tracer.wrap(engine.Engine, "build_backlog", "engine.build_backlog")
    tracer.wrap(engine.Engine, "run_task", "engine.run_task")
    tracer.wrap(engine.Transfer, "transfer_data", "engine.transfer_data")
    tracer.wrap(engine.TaskState, "save", "engine.state_save")
    tracer.wrap(DocumentStore, "read", "sources.read")
    tracer.wrap(DocumentStore, "count", "sources.count")
    pkg = "chillastic_spark"
    tracer.wrap_bindings(pkg, "chillastic_spark.plans", "plan_bounds", "plans.plan_bounds",
                         after=lambda res, a, k, pre: {"bounds": len(res)})
    tracer.wrap_bindings(pkg, "chillastic_spark.operators.mutate", "apply_data_mutators",
                         "mutate.apply_data_mutators")
    tracer.wrap_bindings(pkg, "chillastic_spark.persist", "materialize", "persist.materialize")
    tracer.wrap_bindings(pkg, "chillastic_spark.sinks", "upsert", "sinks.upsert",
                         before=_upsert_before, after=_upsert_after)
    tracer.wrap(search_index, "bm25_search_index", "search_index.bm25_search_index")
    tracer.wrap(vector_index, "ann_query_ivf_index", "vector_index.ann_query_ivf_index")


def _upsert_before(args, kwargs):
    store = args[1] if len(args) > 1 else kwargs["store"]
    return store.root, _snapshot(store.root)


def _upsert_after(result, args, kwargs, pre):
    root, before = pre
    after = _snapshot(root)
    new = {p: s for p, s in after.items() if p not in before}
    touched = {_bucket_of(p, root) for p in new} - {None}
    indices = {b[0] for b in touched}
    total = 0
    for ix in indices:
        marker = os.path.join(root, "data", ix, ".n_buckets")
        if os.path.exists(marker):
            with open(marker) as f:
                total += int(f.read().strip())
    return {"bytes_written": sum(new.values()), "buckets_touched": len(touched),
            "buckets_total": total, "delivered": result}


def spark_layer(events: dict, windows: list, cores: int, units: int, spans: list) -> dict:
    """``spark.*`` and ``trace.uncovered_frac`` over the traced
    iterations' wall windows, per unit of work."""
    wall = sum(b - a for a, b in windows)
    busy = sum(covered(events["job_intervals"], a, b) for a, b in windows)
    top = [(s.start, s.end) for s in spans if s.parent is None and s.end]
    top_cover = sum(covered(top, a, b) for a, b in windows)
    u = max(1, units)
    return {
        "spark.jobs": events["jobs"] / u,
        "spark.stages": events["stages"] / u,
        "spark.tasks": events["tasks"] / u,
        "spark.shuffle_write_bytes": events["shuffle_write_bytes"] / u,
        "spark.spill_bytes": events["spill_bytes"] / u,
        "spark.executor_run_s": events["executor_run_s"] / u,
        "spark.executor_cpu_s": events["executor_cpu_s"] / u,
        "spark.gc_s": events["gc_s"] / u,
        "spark.busy_frac": events["executor_run_s"] / (wall * cores) if wall else 0.0,
        "spark.driver_s": (wall - busy) / u,
        "trace.uncovered_frac": (wall - top_cover) / wall if wall else 0.0,
    }
