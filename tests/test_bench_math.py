"""Pin bench.py's sandbox-noise normalization math (pure functions,
no Spark): per-round calibration from interleaved probes, the >tol
noise flag, quiet-round medians with the all-noisy fallback, and the
fastest-window normalization. These numbers go into BENCH_r{N}.json
and drive the cross-round performance comparison, so the arithmetic
is pinned exactly."""
import statistics

import bench


def test_round_calibrations_are_bounding_probe_means():
    # 3 rounds → 4 probes; round i = mean(p[i], p[i+1])
    assert bench.round_calibrations([0.6, 0.8, 0.6, 1.0]) == [
        0.7,
        0.7,
        0.8,
    ]
    assert bench.round_calibrations([0.5]) == [0.5]
    assert bench.round_calibrations([]) == []


def test_flag_noisy_threshold_is_strict_and_relative_to_min():
    calibs = [0.60, 0.72, 0.73, 1.2]
    # min probe 0.6, tol 20% → cutoff 0.72 exclusive
    assert bench.flag_noisy(calibs, 0.6, 0.20) == [
        False,
        False,
        True,
        True,
    ]


def test_normalize_scales_by_fastest_window():
    rounds = [{"q": 2.0}, {"q": 4.0}]
    # round 1 ran on a 2x-loaded machine (probe 1.2 vs min 0.6):
    # its sample halves; the quiet round passes through
    out = bench.normalize_rounds(rounds, [0.6, 1.2], 0.6)
    assert out[0]["q"] == 2.0
    assert out[1]["q"] == 2.0
    # zero/garbage calibration never divides
    out = bench.normalize_rounds([{"q": 3.0}], [0.0], 0.6)
    assert out[0]["q"] == 3.0


def test_quiet_medians_use_only_quiet_rounds():
    rounds = [{"q": 1.0, "p": 5.0}, {"q": 9.0, "p": 9.0}, {"q": 2.0, "p": 6.0}]
    med, all_noisy = bench.quiet_medians(rounds, [False, True, False])
    assert not all_noisy
    assert med["q"] == statistics.median([1.0, 2.0])
    assert med["p"] == statistics.median([5.0, 6.0])


def test_quiet_medians_fall_back_to_all_rounds_when_all_noisy():
    rounds = [{"q": 1.0}, {"q": 3.0}, {"q": 2.0}]
    med, all_noisy = bench.quiet_medians(rounds, [True, True, True])
    assert all_noisy
    assert med["q"] == 2.0


def _fake_full(n_queries: int) -> dict:
    qs = {f"realistic_query_name_{i:03d}": 1.234 for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_wall",
        "value": 27.86,
        "unit": "sec",
        "value_normalized": 26.72,
        "queries": qs,
        "queries_normalized": dict(qs),
        "query_spread": {n: [1.1, 2.2] for n in qs},
        "runs_per_query": 3,
        "extra_rounds": 0,
        "noisy_rounds": [],
        "all_rounds_noisy": False,
        "noise_tolerance": 0.2,
        "sf": 0.1,
        "startup_sec": 13.0,
        "warmup_sec": 35.0,
        "calibration_sec": 0.7,
        "calibration_min": 0.62,
        "calibration_samples": [0.7, 0.62, 0.65, 0.72],
        "round_calibrations": [0.66, 0.63, 0.68],
        "n_queries": n_queries,
        "materialize": "noop-sink",
    }


def test_contract_line_fits_driver_tail_capture():
    """The driver stores only the last 2000 chars of stdout and
    re-parses that tail next round; the stdout payload at the CURRENT
    bench size must fit with slack (the r9→r10 comparison died on a
    4.5 KB line)."""
    import json

    out, diag = bench.split_contract_payload(_fake_full(22))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET < 2000
    # contract fields present and parseable
    back = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in back
    assert len(back["queries"]) == 22
    # diagnostics carry the demoted bulk, nothing is lost
    for k in ("query_spread", "calibration_samples", "startup_sec"):
        assert k in diag and k not in back


def test_contract_line_demotes_normalized_map_when_over_budget():
    """Growing the bench must never push the stdout line past the
    capture window: queries_normalized is demoted to diagnostics
    first; `queries` (the contract) never is."""
    import json

    out, diag = bench.split_contract_payload(_fake_full(45))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET
    assert "queries_normalized" not in out
    assert len(out["queries"]) == 45
    assert diag["stdout_demoted"] == ["queries_normalized"]
    assert len(diag["queries_normalized"]) == 45
    json.loads(line)


def test_contract_line_overflow_is_flagged_loudly(capsys):
    """A `queries` map too big for the budget even after demotion is
    kept (it is the contract) but flagged: a stderr warning plus
    `stdout_overflow` in the diagnostics."""
    import json

    full = _fake_full(22)
    full["queries"] = {f"q{i:03d}_{'x' * 30}": 1.25 for i in range(200)}
    out, diag = bench.split_contract_payload(full)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) > bench.STDOUT_BUDGET
    assert len(out["queries"]) == 200
    assert diag["stdout_demoted"] == ["queries_normalized"]
    assert diag["stdout_overflow"] == {
        "chars": len(line), "budget": bench.STDOUT_BUDGET,
    }
    assert "WARNING" in capsys.readouterr().err
    # a line within budget carries no overflow flag and prints nothing
    _, diag = bench.split_contract_payload(_fake_full(22))
    assert "stdout_overflow" not in diag
    assert capsys.readouterr().err == ""


def test_end_to_end_noise_recovery():
    """A loud middle round must not move the quiet-median, and the
    normalized figure must agree with the quiet raw figure when the
    noise is purely multiplicative (the calibration model)."""
    quiet_truth = {"q1": 2.0, "q2": 6.0}
    # one loud probe in the middle: rounds 1 and 2 each see ambient
    # speed (0.6+1.2)/2 = 0.9 → multiplicative slowdown 1.5
    probes = [0.6, 0.6, 1.2, 0.6, 0.6]
    rounds = [
        dict(quiet_truth),
        {n: t * 1.5 for n, t in quiet_truth.items()},
        {n: t * 1.5 for n, t in quiet_truth.items()},
        dict(quiet_truth),
    ]
    rc = bench.round_calibrations(probes)
    noisy = bench.flag_noisy(rc, min(probes), 0.20)
    assert noisy == [False, True, True, False]
    med, all_noisy = bench.quiet_medians(rounds, noisy)
    assert not all_noisy and med == quiet_truth
    norm = bench.normalize_rounds(rounds, rc, min(probes))
    for n, t in quiet_truth.items():
        for r in norm:
            assert abs(r[n] - t) < 1e-9
