#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
before any timing; the program receives only those inputs. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced run. The line
before it (``# report ...``) repeats the metrics with the workload's
input properties, sample counts and serving latencies. Everything the
run writes stays under ``.perfbench_work/`` (removed at exit),
``.perfbench_cache/`` and ``.perfbench_out/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from workloads import SUITE  # noqa: E402  (perfbench/ is on sys.path)

# (name, unit, better) — the order BENCHMARK.json lists them in
END_TO_END = (
    ("docs_per_s", "docs/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

SUITE_LAYER = tuple(
    (f"queries.{q}.{m}", u, "lower")
    for q in SUITE
    for m, u in (("s", "s"), ("jobs", "count"))
)

PER_LAYER = (
    ("engine.subtasks", "count", "lower"),
    ("engine.subtask_s_p50", "s", "lower"),
    ("engine.state_saves", "count", "lower"),
    ("engine.state_save_s", "s", "lower"),
    ("engine.resume_plan_s", "s", "lower"),
    ("plans.plan_s", "s", "lower"),
    ("plans.count_probes", "count", "lower"),
    ("plans.bounds_per_slice", "count", "lower"),
    ("sources.read_calls", "count", "lower"),
    ("sources.count_s", "s", "lower"),
    ("mutate.s_per_kdoc", "s", "lower"),
    ("mutate.drop_frac", "frac", "higher"),
    ("sinks.upsert_calls", "count", "lower"),
    ("sinks.upsert_s", "s", "lower"),
    ("sinks.jobs_per_upsert", "count", "lower"),
    ("sinks.bytes_written", "B", "lower"),
    ("sinks.write_amp", "ratio", "lower"),
    ("sinks.buckets_touched_frac", "frac", "lower"),
    *SUITE_LAYER,
    ("persist.materialize_calls", "count", "lower"),
    ("components.edge_rows", "count", "lower"),
    ("search_index.build_s", "s", "lower"),
    ("search_index.jobs_per_query", "count", "lower"),
    ("search_index.bm25_p50_ms", "ms", "lower"),
    ("vector_index.build_s", "s", "lower"),
    ("vector_index.jobs_per_query", "count", "lower"),
    ("vector_index.ann_p50_ms", "ms", "lower"),
    ("vector_index.calibrated_nprobe", "count", "lower"),
    ("vector_index.calibration_recall", "frac", "higher"),
    ("vector_index.scan_frac", "frac", "lower"),
    ("vector_index.recall_at_k", "frac", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.busy_frac", "frac", "higher"),
    ("spark.driver_s", "s", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
    ("trace.uncovered_frac", "frac", "lower"),
)

DRIVER_MEMORY = "2g"


def descendants(root: int) -> "list[int]":
    """Pids of the live processes below ``root`` (zombies excluded)."""
    parent: dict = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            if fields[0] != "Z":
                parent[int(pid)] = int(fields[1])
    out = []
    for pid in parent:
        p = parent[pid]
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(pid)
    return out


class PeakRSS:
    """Peak resident memory of this process tree (this process, the Spark
    JVM and the Python workers), sampled every ``period`` seconds. Each
    process counts its proportional set size, so pages the forked Python
    workers share with their daemon are counted once, not per worker."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # exited since the listing
        return 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(self._pss(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def start(self) -> "PeakRSS":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM (the gateway exits when its stdin
    closes) and wait until every process started under this one is gone."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def configure_env(work: str, trace: bool) -> None:
    """Deployment settings for the program, all through the environment:
    one local core per CPU, a driver heap below host RAM, and every
    scratch path (Spark local dirs, JVM and Python temp dirs) inside the
    run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size driver heap: with a growable one the JVM's resident
    # size depends on when the collector chose to expand it
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY}"]
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    )


def start_session():
    """The program's session factory plus a warm-up: one SQL job and one
    Arrow (mapInPandas) job, so the JVM and a Python worker are up."""
    from chillastic_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    return spark


# The workloads BENCHMARK.json lists, then the ones run only by hand: a
# third listed workload would not fit the benchmark's run schedule (4 + 22
# runs per listed workload within 3420 s) on a 4-core host (README.md).
WORKLOADS = ("reindex_mutate", "curation_suite")
BY_HAND = ("reindex_merge", "index_serve")


def make_workload(name: str, seed: int, work: str):
    import workloads as W

    if name == "reindex_mutate":
        return W.ReindexMutate(seed, work)
    if name == "curation_suite":
        return W.CurationSuite(seed, work, os.path.join(ROOT, ".perfbench_cache"))
    if name == "reindex_merge":
        return W.ReindexMerge(seed, work)
    return W.IndexServe(seed, work)


def timed_phase(w, spark, seconds: float, tracer):
    """Untraced run: iterations until ``seconds`` pass (at least one).
    Traced run: one untimed warm-up iteration, then untraced and traced
    iterations alternately, starting and ending untraced, until
    ``seconds`` pass; also returns the traced iterations' epoch windows."""
    untraced, traced, windows = [], [], []
    if tracer is not None:
        w.iterate(spark)
    t0 = time.perf_counter()
    while True:
        if tracer is not None and len(untraced) > len(traced):
            tracer.enabled = True
            a = time.time()
            traced.append(w.iterate(spark, tracer))
            windows.append((a, time.time()))
            tracer.enabled = False
            continue
        untraced.append(w.iterate(spark))
        if time.perf_counter() - t0 < seconds:
            continue
        if tracer is None or traced:
            return untraced, traced, windows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "chillastic_spark", "__init__.py")):
        print(f"no chillastic_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        configure_env(work, trace)
        rss = PeakRSS().start()
        w = make_workload(args.workload, args.seed, work)

        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        tracer = None
        if trace:
            from spans import Tracer
            from workloads import install_tracing

            tracer = Tracer(spark.sparkContext, run_id=f"{args.workload}-{args.seed}")
            tracer.enabled = False
            install_tracing(tracer)
        setup_s = session_s + w.setup(spark)

        untraced, traced, windows = timed_phase(w, spark, args.seconds, tracer)
        if hasattr(w, "finish_checks"):
            w.finish_checks()
        e2e = {"docs_per_s": w.e2e(untraced)["docs_per_s"], "setup_s": setup_s}
        report = {"workload": args.workload, "seed": args.seed, "inputs": w.props,
                  "session_s": round(session_s, 3), **w.report(untraced)}
        metrics = {}
        if trace:
            metrics = {name: 0.0 for name, _, _ in PER_LAYER}
            metrics.update(w.layers(spark, tracer, traced))
            metrics["trace.overhead_frac"] = (
                e2e["docs_per_s"] / w.e2e(traced)["docs_per_s"] - 1.0
            )
        e2e["peak_rss_mb"] = rss.stop()
        stop_session(spark)
        spark = None
        if trace:
            from spans import parse_event_log
            from workloads import spark_layer

            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            lines = []
            for d, _, files in os.walk(os.path.join(work, "eventlog")):
                for f in sorted(files):
                    with open(os.path.join(d, f)) as fh:
                        lines.extend(fh)
            events = parse_event_log(lines, windows)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"),
                        events["job_stages"])
            metrics.update(spark_layer(events, windows, len(os.sched_getaffinity(0)),
                                       len(traced), tracer.spans))
            units = {n: u for n, u, _ in PER_LAYER}
        else:
            metrics = e2e
            units = {n: u for n, u, _ in END_TO_END}
        e2e_units = {n: u for n, u, _ in END_TO_END}
        report["end_to_end"] = {
            **{k: {"value": round(v, 4), "unit": e2e_units[k]} for k, v in e2e.items()},
            "failed_ops_frac": {"value": w.failed / max(1, w.attempted), "unit": "frac"},
            **report.pop("latency", {}),
        }
        print("# report " + json.dumps(report, sort_keys=True), flush=True)
        print(json.dumps({
            "correct": w.failed == 0,
            "attempted": int(w.attempted),
            "failed": int(w.failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
