"""Registry-wide physical-plan inventory — the diffable artifact behind
"the plan IS the product at 100 TB".

For every registered query (built at sf0.001 — plan shape, not data,
is what's inventoried) records the counts that determine scale
behavior:

* ``exchanges``       — data-moving ``Exchange hashpartitioning`` /
                        ``rangepartitioning`` nodes (shuffles)
* ``broadcasts``      — ``BroadcastExchange`` nodes (small-side ships)
* ``python_nodes``    — ``MapInPandas`` / ``ArrowEval`` /
                        ``BatchEvalPython`` / ``FlatMapGroupsInPandas``
                        (Arrow/Python boundaries; row-at-a-time
                        BatchEvalPython should stay ZERO repo-wide)
* ``smj`` / ``bhj``   — sort-merge vs broadcast-hash join strategy mix
* ``cartesian``       — must be 0 (also pinned by
                        tests/test_plans_properties.py)
* ``build_jobs``      — Spark jobs started while the query function
                        BUILDS its DataFrame (eager pins, collects,
                        quantile bounds), counted with a job group after
                        every testdata table's schema is loaded once.
                        This is work the returned plan cannot show, so
                        moving it into the plan reads as drift above
                        while this count falls.

Usage:
    python scripts/plan_inventory.py --out PLANS_r8.json
    python scripts/plan_inventory.py --out /tmp/now.json \
        --compare PLANS_r8.json       # flags drift, exit 1

Compare flags queries whose ``exchanges``, ``python_nodes``, or
``cartesian`` counts INCREASED vs the baseline (more shuffles or a new
Python boundary is plan drift a refactor should have to justify);
decreases, join-mix and ``build_jobs`` changes are reported
informationally (a baseline without ``build_jobs`` reports none).

Counting caveat: these are TEXTUAL occurrences in
``executedPlan().toString()``, which prints shared subtrees once per
reference — so a multi-consumer plan inflates its counts (q151 prints
85 "exchanges" for far fewer physical shuffles). The counts are
deterministic for a given plan, which is all drift detection needs;
do NOT read them as job-level shuffle counts.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COUNTERS = {
    "exchanges": re.compile(r"Exchange (hash|range)partitioning"),
    "broadcasts": re.compile(r"BroadcastExchange"),
    "python_nodes": re.compile(
        r"MapInPandas|ArrowEval|BatchEvalPython|FlatMapGroupsInPandas"
    ),
    "smj": re.compile(r"SortMergeJoin"),
    "bhj": re.compile(r"BroadcastHashJoin"),
    "cartesian": re.compile(r"CartesianProduct"),
}
# counters where an INCREASE vs baseline is flagged as drift
DRIFT_KEYS = ("exchanges", "python_nodes", "cartesian")


def inventory(sf_dir: str) -> dict[str, dict[str, int]]:
    from mimic_iv_data_pipeline_spark import get_spark
    from mimic_iv_data_pipeline_spark.queries import all_queries
    from mimic_iv_data_pipeline_spark.sources.readers import TESTDATA_TABLES, load_table

    spark = get_spark("plan_inventory")
    sc = spark.sparkContext
    for table in TESTDATA_TABLES:  # schema inference jobs, once, outside any query
        load_table(spark, sf_dir, table)
    out: dict[str, dict[str, int]] = {}
    for name, fn in all_queries().items():
        group = f"plan-inventory-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"build {name}")
        try:
            df = fn(spark, sf_dir)
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a query that cannot even plan is drift
            out[name] = {"error": 1, "msg": str(exc)[:200]}
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out[name] = {k: len(rx.findall(plan)) for k, rx in COUNTERS.items()}
        out[name]["build_jobs"] = build_jobs
    return out


def compare(base: dict, cur: dict) -> tuple[list[str], list[str]]:
    """(drift lines, info lines)."""
    drift, info = [], []
    for name, row in sorted(cur.items()):
        b = base.get(name)
        if b is None:
            info.append(f"NEW query {name}: {row}")
            continue
        if row.get("error"):
            drift.append(f"{name}: fails to plan — {row.get('msg')}")
            continue
        for k in COUNTERS:
            old, new = b.get(k, 0), row.get(k, 0)
            if old != new:
                rise = k in DRIFT_KEYS and new > old
                (drift if rise else info).append(f"{name}: {k} {old} -> {new}")
        if "build_jobs" not in b:
            if row.get("build_jobs"):
                info.append(f"{name}: build_jobs {row['build_jobs']} (no baseline count)")
        elif row.get("build_jobs") != b["build_jobs"]:
            info.append(f"{name}: build_jobs {b['build_jobs']} -> {row.get('build_jobs')}")
    for name in sorted(set(base) - set(cur)):
        info.append(f"REMOVED query {name}")
    return drift, info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", help="baseline inventory JSON to diff against")
    args = ap.parse_args()

    inv = inventory(args.sf_dir)
    with open(args.out, "w") as f:
        json.dump(inv, f, indent=1, sort_keys=True)
    n_err = sum(1 for r in inv.values() if r.get("error"))
    tot = {k: sum(r.get(k, 0) for r in inv.values()) for k in (*COUNTERS, "build_jobs")}
    print(f"{len(inv)} queries inventoried -> {args.out}; totals {tot}; errors {n_err}")

    if args.compare:
        base = json.load(open(args.compare))
        drift, info = compare(base, inv)
        for line in info:
            print(f"  info: {line}")
        if drift:
            print(f"PLAN DRIFT ({len(drift)}):")
            for line in drift:
                print(f"  {line}")
            sys.exit(1)
        print("no plan drift vs", args.compare)


if __name__ == "__main__":
    main()
