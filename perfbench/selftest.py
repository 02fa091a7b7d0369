"""Benchmark self-test: the event-log parser on a small recorded log,
then both workloads at tiny size in one traced session.

    python3 perfbench/selftest.py            # run the self-test
    python3 perfbench/selftest.py --record   # re-record fixtures/eventlog-small.jsonl

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixtures", "eventlog-small.jsonl")
FIXTURE_OUT = "/checkout/.bench_work/out"  # boundary dir as written in the fixture
sys.path.insert(0, ROOT)

from perfbench import eventlog, run  # noqa: E402

# Event kinds and job properties the parser reads; the rest is dropped
# when recording so the fixture stays small.
_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
         "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart",
         "SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates")
_PROPS = ("spark.job.description", "callSite.short", "spark.sql.execution.id")


def _check(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def _traced_spark(log_dir: str):
    facts = run.host_facts()
    run.pin_environment(facts)
    from mimic_iv_data_pipeline_spark.session import get_spark

    return get_spark("perfbench-selftest", **run.session_conf(log_dir)), facts


def record() -> None:
    """Record a small labelled log: a parquet boundary write, an
    unlabelled collect, and a second boundary that re-reads the first."""
    shutil.rmtree(run.WORK, ignore_errors=True)
    log_dir = os.path.join(run.WORK, "eventlog")
    out = os.path.join(run.WORK, "out")
    spark, _ = _traced_spark(log_dir)
    sc = spark.sparkContext
    try:
        sc.setJobDescription("pipeline: events boundary (parquet)")
        spark.range(20_000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").count() \
            .write.mode("overwrite").parquet(os.path.join(out, "events"))
        sc.setJobDescription(None)
        spark.read.parquet(os.path.join(out, "events")).collect()
        sc.setJobDescription("pipeline: timeseries boundary (parquet)")
        spark.read.parquet(os.path.join(out, "events")).groupBy().sum("count") \
            .write.mode("overwrite").parquet(os.path.join(out, "timeseries"))
        sc.setJobDescription(None)
    finally:
        run.stop_spark(spark)
    from perfbench import trace

    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(trace.event_log_file(log_dir), encoding="utf-8") as src, \
            open(FIXTURE, "w", encoding="utf-8") as dst:
        for line in src:
            ev = json.loads(line)
            if not ev.get("Event", "").endswith(_KEEP):
                continue
            ev.pop("physicalPlanDescription", None)
            ev.pop("modifiedConfigs", None)
            if "Properties" in ev:
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k in _PROPS}
            for info in ev.get("Stage Infos", []):
                info.pop("RDD Info", None)
                info.pop("Accumulables", None)
            ev.get("Stage Info", {}).pop("RDD Info", None)
            ev.get("Stage Info", {}).pop("Accumulables", None)
            ev.get("Task Info", {}).pop("Accumulables", None)
            text = json.dumps(ev).replace(out, FIXTURE_OUT).replace(ROOT + "/", "")
            dst.write(text + "\n")
    shutil.rmtree(run.WORK, ignore_errors=True)
    print(f"recorded {FIXTURE}")


def parser_checks(failures: list) -> None:
    from perfbench import trace

    log = eventlog.read(FIXTURE, boundary_marker=FIXTURE_OUT)
    jobs = sorted(log.jobs.values(), key=lambda j: j.job_id)
    stages = [trace.stage_of(j) for j in jobs]
    _check(len(jobs) >= 3 and all(j.end is not None and j.succeeded for j in jobs),
           f"fixture: {len(jobs)} jobs parsed, all finished", failures)
    _check({"events", "timeseries", None} == set(stages),
           f"fixture: jobs attributed to stages {stages}", failures)
    vocab = eventlog.Job(0, 0.0, call_site="collect at plans/pipeline.py:92")
    _check(trace.stage_of(vocab) == "vocab", "unlabelled vocab collect recognised", failures)
    totals = eventlog.job_totals(log, jobs, cores=4)
    _check(totals["tasks"] > 0 and totals["busy_s"] > 0, f"fixture: totals {totals}", failures)
    written = sum(st.output_bytes for j in jobs for st in log.job_stages(j))
    _check(written > 0, f"fixture: {written} bytes written at boundaries", failures)
    read = log.boundary_read_bytes(jobs)
    _check(read > 0, f"fixture: {read} boundary bytes read back", failures)
    _check(eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4, "union of intervals", failures)


def benchmark_json_checks(failures: list) -> None:
    from perfbench import trace

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer"]]
    _check(names == list(trace.PER_LAYER), "BENCHMARK.json per_layer == trace.PER_LAYER",
           failures)
    _check([m["name"] for m in spec["end_to_end"]] == ["setup_s", "wall_s"],
           "BENCHMARK.json end_to_end metrics", failures)
    _check(all(trace.unit(m["name"]) == m["unit"] for m in spec["per_layer"]),
           "per_layer units", failures)


def workload_checks(failures: list) -> None:
    """Each workload at tiny size: one checked iteration and one traced
    iteration in a single event-logged session."""
    from perfbench import trace

    shutil.rmtree(run.WORK, ignore_errors=True)
    log_dir = os.path.join(run.WORK, "eventlog")
    spark, facts = _traced_spark(log_dir)
    from perfbench import workloads

    traced = {}
    try:
        for name, make in workloads.WORKLOADS.items():
            w = make("tiny")
            stage_dir = os.path.join(run.WORK, name)
            rows = w.stage(spark, 7, stage_dir)
            state = w.open(spark, stage_dir, os.path.join(run.WORK, "out"))
            runner = run.Runner(w, spark, seconds=0)
            runner.iteration(state, check=True)
            _check(runner.failed == 0 and len(runner.digests) == 1,
                   f"{name}: checked iteration on {rows} ({runner.errors})", failures)
            run.release_cached(spark)
            start = time.time()
            elapsed, result = runner.iteration(state, check=False)
            traced[name] = {"name": name, "start": start, "end": time.time(),
                            "wall_s": elapsed, "query_spans": getattr(result, "spans", []),
                            "cached_mb": run.cached_mb(spark),
                            "build_s": w.build_spans(spark, state)}
            run.release_cached(spark)
    finally:
        run.stop_spark(spark)
    log = eventlog.read(trace.event_log_file(log_dir))
    for name, it in traced.items():
        metrics, _ = trace.per_layer(log_dir, [it], [it["wall_s"]], facts["nproc"], 0.1,
                                     os.path.join(run.WORK, "out"))
        _check(sorted(metrics) == sorted(trace.PER_LAYER),
               f"{name}: every per-layer metric present", failures)
        jobs = log.jobs_between(it["start"], it["end"])
        if name.startswith("pipeline"):
            stray = [j.description or j.call_site for j in jobs if trace.stage_of(j) is None]
            _check(not stray, f"{name}: {len(jobs)} jobs, all attributed ({stray})", failures)
            _check(metrics["pipeline.jobs"] == len(jobs), f"{name}: pipeline.jobs", failures)
        else:
            _check(all(metrics[f"queries.{q}.tasks"] > 0 for q in workloads.OPERATOR_QUERIES)
                   and metrics["pipeline.jobs"] == 0,
                   f"{name}: jobs attributed to queries", failures)
    shutil.rmtree(run.WORK, ignore_errors=True)


def main() -> int:
    if "--record" in sys.argv[1:]:
        record()
        return 0
    t = time.time()
    failures: list = []
    parser_checks(failures)
    benchmark_json_checks(failures)
    workload_checks(failures)
    print(f"{'FAILED' if failures else 'passed'} in {time.time() - t:.1f} s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
