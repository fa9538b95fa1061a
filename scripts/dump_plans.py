#!/usr/bin/env python
"""Dump formatted physical plans of registered queries.

Two outputs:

* no arguments → PLANS.md: the headline queries plus the subquery/join
  shapes worth plan-auditing. Shows PushedFilters / pruned ReadSchema /
  broadcast joins / WholeStageCodegen spans for every headliner.
* ``--out-dir DIR SUFFIX [QUERY ...]`` → ``DIR/<query>_<SUFFIX>.txt``,
  one ``explain('formatted')`` per named query (no names → all
  headliners), so a before/after plan diff backs an optimization
  claim, e.g. ``python scripts/dump_plans.py --out-dir plans/r10 before``.

The data dir is ``SPARK_GRAFT_SF_DIR`` (default: the sf0.1 testdata dir,
as in bench.py).
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chillastic_spark.plans import formatted_plan
from chillastic_spark.queries import all_queries
from chillastic_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def dump_dir(out_dir: str, suffix: str, names: "list[str]") -> None:
    """One plan file per query: ``out_dir/<query>_<suffix>.txt``."""
    qs = all_queries()
    if not names:
        names = [n for n, q in qs.items() if q.headline]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        df = qs[n].fn(spark, SF)
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {n} — sf dir {SF} — explain('formatted')\n")
            f.write(formatted_plan(df))
        print(f"wrote {path}")


def dump_plans_md() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical plans of the headline queries (sf0.1)\n",
        "Generated by scripts/dump_plans.py. What to look for: filters in",
        "`PushedFilters`, projection in `ReadSchema`, `BroadcastHashJoin` for",
        "dimension tables, wide `WholeStageCodegen` spans, AQE wrappers.\n",
    ]
    # headliners + the subquery/join shapes worth plan-auditing
    extra = {
        "q8_market_share",
        "q13_customer_distribution",
        "q17_small_quantity_revenue",
        "q19_discounted_revenue",
        "q21_sole_returned_supplier",
        "value_outliers",
        "rolling_event_stats",
        "decontaminate_flags",
        "sample_stratified",
        "embedding_int8_checksum",
        "revenue_grouping_sets",
        "basket_part_pairs",
        "value_percentiles",
        "sequence_packing",
        "time_weighted_avg",
        "events_ohlc",
        "quality_percentile_gate",
        "session_window_stats",
        "bool_search",
        "search_after_page",
        "significant_terms",
        "more_like_this",
    }
    qs = all_queries()
    missing = extra - qs.keys()
    if missing:
        # a renamed query must not silently vanish from the evidence
        raise SystemExit(f"dump_plans: unknown names in extra: {sorted(missing)}")
    for name, q in qs.items():
        if not q.headline and name not in extra:
            continue
        plan = formatted_plan(q.fn(spark, SF))
        lines.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    lines.append(_scaling_section())
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}")


def _scaling_section() -> str:
    """Render the sf1 scaling table from BENCH_sf1.json so regenerating
    this file can never drop the scaling evidence (it did once)."""
    import json

    path = os.path.join(os.path.dirname(OUT), "BENCH_sf1.json")
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        d = json.load(f)
    rows = "\n".join(
        f"| {q} | {v['sf0.1_sec']} | {v['sf1_sec']} | {v['ratio']}× |"
        for q, v in d["queries"].items()
    )
    worst = d["worst"]
    return f"""
## sf1 scaling run (scripts/bench_sf1.py → BENCH_sf1.json)

The 8 most expensive headliners at 10× the bench data (sf1 derived by
scripts/make_sf1.py: disjoint key/gram spaces per copy, so near-dup
structure replicates instead of exploding). Medians of
{d['runs_per_point']} interleaved noop-sink runs, calibration
{d['calibration_sec']}s. Bound: ratio ≤ {d['ratio_max_allowed']}×
(10× data + overhead).

| query | sf0.1 s | sf1 s | ratio (10× data) |
|---|---|---|---|
{rows}

Worst ratio {worst['ratio']}× ({worst['query']}); everything is at or
below LINEAR scaling — no superlinear candidate blowup in prefix
postings, band collisions, or gram joins. Sub-10× ratios are dominated
by fixed job overhead at this data size.
"""


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out-dir", help="write <query>_<suffix>.txt files here")
    ap.add_argument("suffix", nargs="?", choices=("before", "after"))
    ap.add_argument("queries", nargs="*", help="query names (default: headliners)")
    args = ap.parse_args()
    if args.out_dir is None:
        if args.suffix or args.queries:
            ap.error("a suffix and query names need --out-dir")
        dump_plans_md()
    else:
        if args.suffix is None:
            ap.error("--out-dir needs a suffix: before or after")
        dump_dir(args.out_dir, args.suffix, args.queries)


if __name__ == "__main__":
    main()
