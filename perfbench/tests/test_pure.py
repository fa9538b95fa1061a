"""Tests for the benchmark's pure functions (no Spark).

    python3 -m pytest perfbench/tests -q
"""
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import Span, covered, parse_event_log, percentile_with_tail, self_time  # noqa: E402


# ------------------------------------------------------------ percentiles


def test_p90_needs_ten_samples_beyond():
    values = list(range(1, 201))  # 200 samples: p90 has 19 beyond it
    pct, v = percentile_with_tail(values, 90)
    assert (pct, v) == (90.0, 181)
    assert sum(x > v for x in values) >= 10


def test_p90_falls_back_to_highest_percentile_with_ten_beyond():
    values = list(range(1, 51))  # 50 samples: p90 would leave only 4 beyond
    pct, v = percentile_with_tail(values, 90)
    assert sum(x > v for x in values) == 10
    assert pct == 78.0 and v == 40


def test_too_few_samples_give_no_percentile():
    assert percentile_with_tail(list(range(10)), 90) == (None, None)
    pct, v = percentile_with_tail(list(range(11)), 90)
    assert (pct, v) == (0.0, 0)


# --------------------------------------------------------------- self time


def _span(i, start, end, parent=None):
    return Span(name=f"s{i}", start=start, end=end, parent=parent, id=i)


def test_self_time_with_nested_and_overlapping_children():
    parent = _span(0, 0.0, 10.0)
    spans = [
        parent,
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps child 1: union [1, 5]
        _span(3, 1.5, 2.0, parent=1),  # grandchild: not a direct child
        _span(4, 9.0, 12.0, parent=0),  # runs past the parent: clipped to [9, 10]
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)
    assert self_time(spans[3], spans) == pytest.approx(0.5)


def test_covered_merges_touching_intervals():
    assert covered([(0, 1), (1, 2), (5, 6)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 10) == 0.0


# ------------------------------------------------------------------ digest


def test_digest_does_not_depend_on_row_order():
    rows = [("logs_2024-01", "event", str(i), json.dumps({"n": i})) for i in range(50)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert checks.row_digest(rows) == checks.row_digest(shuffled)
    assert checks.row_digest(rows) != checks.row_digest(rows[:-1])
    changed = rows[:-1] + [(rows[-1][0], rows[-1][1], rows[-1][2], "{}")]
    assert checks.row_digest(rows)[1] != checks.row_digest(changed)[1]


def test_expected_merge_follows_the_upsert_tie_break():
    import hashlib

    corpus = {"ix": [("ix", "t", "1", '{"v": 1}', 8), ("ix", "t", "2", '{"v": 2}', 8)]}
    a, b = '{"v": "a"}', '{"v": "b"}'
    winner = max((a, b), key=lambda s: hashlib.md5(s.encode()).hexdigest())
    delta = {"ix": [("ix", "t", "1", a, 10), ("ix", "t", "1", b, 10),
                    ("ix", "t", "3", '{"v": 3}', 8)]}
    merged, delivered = checks.expected_merge(corpus, delta)
    assert sorted(merged) == sorted([("ix", "t", "1", winner), ("ix", "t", "2", '{"v": 2}'),
                                     ("ix", "t", "3", '{"v": 3}')])
    assert sorted(delivered) == [("ix", "t", "1", winner), ("ix", "t", "3", '{"v": 3}')]


def test_value_hash_ignores_row_order_but_not_int_float():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = a.iloc[::-1].reset_index(drop=True)[["y", "x"]]
    assert checks.value_hash(a) == checks.value_hash(b)
    assert checks.value_hash(a) != checks.value_hash(a.astype({"x": float}))


# --------------------------------------------------------------- event log


def test_event_log_parsing_on_fixture():
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as f:
        lines = f.readlines()
    everything = parse_event_log(lines)
    assert everything["jobs"] == 2
    assert everything["stages"] == 3
    assert everything["tasks"] == 4
    assert everything["shuffle_write_bytes"] == 1500
    assert everything["spill_bytes"] == 300
    assert everything["executor_run_s"] == pytest.approx(0.7)
    assert everything["executor_cpu_s"] == pytest.approx(0.5)
    assert everything["gc_s"] == pytest.approx(0.03)
    assert everything["job_intervals"] == [(1000.0, 1000.5), (1002.0, 1002.25)]
    # only the first job was submitted inside the window
    first = parse_event_log(lines, windows=[(999.0, 1001.0)])
    assert (first["jobs"], first["stages"], first["tasks"]) == (1, 2, 3)
    assert first["shuffle_write_bytes"] == 1500


# ---------------------------------------------------------------- inputs


def test_reindex_corpus_is_deterministic_per_seed():
    args = (("2024-01-31", "2024-02-01"), ("event", "audit"), 50, 0.15)
    a, pa_ = inputs.reindex_corpus(3, *args)
    b, pb = inputs.reindex_corpus(3, *args)
    c, _ = inputs.reindex_corpus(4, *args)
    assert a == b and pa_ == pb
    assert a != c
    sizes = [r[4] for rs in a.values() for r in rs]
    assert sizes == [len(r[3]) for rs in a.values() for r in rs]
    # the size gap that keeps the planner's bucket count seed-independent
    assert max(sizes) == 32768 and not any(16384 < s < 32768 for s in sizes)
    assert inputs.merge_delta(3, a, 0.04, 0.02, 2) == inputs.merge_delta(3, b, 0.04, 0.02, 2)


def test_suite_inputs_are_deterministic_per_seed(tmp_path):
    d1, v1, p1 = inputs.write_suite_dir(str(tmp_path / "a"), 5, 120, 60)
    d2, v2, p2 = inputs.write_suite_dir(str(tmp_path / "b"), 5, 120, 60)
    d3, _, _ = inputs.write_suite_dir(str(tmp_path / "c"), 6, 120, 60)
    assert d1.equals(d2) and v1.equals(v2) and p1 == p2
    assert not d1.equals(d3)
    t1, q1, _ = inputs.serve_queries(5, d1, v1, 10)
    t2, q2, _ = inputs.serve_queries(5, d2, v2, 10)
    assert t1 == t2 and (q1 == q2).all()


# ------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_names_the_metrics_run_py_prints():
    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(
        run.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(
        run.PER_LAYER
    )
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
