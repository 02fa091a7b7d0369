"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_mem --seed 1 --seconds 12 --trace 0

Run from the repository root. One process is one fresh notebook-style
session: it starts Spark, stages seeded inputs, times the cold first
iteration, checks its outputs, runs one untimed warm-up iteration, then
times one warm iteration per 4 s of ``--seconds`` (at least three). The
last line of standard output is the JSON result; the line before it is
the run record (environment, row counts, every sample). ``--trace 1``
adds a second, traced session in the same JVM and prints the per-layer
metrics instead of the end-to-end ones. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WARMUP = 1  # untimed warm iterations after the first: the JIT is still settling
MIN_TIMED = 3  # timed warm iterations per run, at least
ITER_BUDGET_S = 4.0  # seconds of --seconds that buy one timed warm iteration
TRACED = 3  # traced iterations in a traced run


def host_facts() -> dict:
    """nproc, RAM and the driver heap sized to this host."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    ram_gib = mem_kb / (1024 * 1024)
    # local[n] runs every task in the driver JVM; its heap must stay well
    # below RAM (the library's 16g default was OOM-killed on a 15 GiB host)
    heap_gib = max(1, min(6, int(ram_gib * 0.4)))
    return {"nproc": nproc, "ram_gib": round(ram_gib, 2), "heap": f"{heap_gib}g"}


def pin_environment(facts: dict) -> None:
    """Environment the library reads at import and JVM launch."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = facts["heap"]
    os.environ["SPARK_GRAFT_CPUS"] = str(facts["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def canary_s() -> float:
    """A fixed CPU-only aggregate; its time tracks host contention."""
    t = time.perf_counter()
    sum(i * i for i in range(1_500_000))
    return time.perf_counter() - t


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) CPU ticks since boot: the steal share over a run
    shows time taken by other guests on a shared host."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def session_conf(event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def release_cached(spark) -> None:
    """Drop the previous iteration's pinned blocks, as a notebook user
    rebinding the result would (outside every timed region)."""
    import gc

    gc.collect()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


class Runner:
    """Counts operations and failures across one run."""

    def __init__(self, workload, spark, seconds: float):
        self.w = workload
        self.spark = spark
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digests: list[str] = []
        self.check_s = 0.0
        self.samples: list[tuple[float, float]] = []

    def iteration(self, state, check: bool):
        """One timed iteration (its check is not timed); returns
        (seconds, result or None)."""
        t = time.perf_counter()
        try:
            result = self.w.iterate(self.spark, state, check)
        except Exception as exc:  # noqa: BLE001 - a failed operation is data
            elapsed = time.perf_counter() - t
            self.attempted += self.w.ops_per_iteration
            self.failed += self.w.ops_per_iteration
            self.errors.append(f"iteration: {type(exc).__name__}: {exc}"[:500])
            return elapsed, None
        elapsed = time.perf_counter() - t
        self.attempted += self.w.ops_per_iteration
        if check:
            self.check(state, result)
        return elapsed, result

    def check(self, state, result) -> None:
        t = time.perf_counter()
        try:
            failures, digest = self.w.check(self.spark, state, result)
        except Exception as exc:  # noqa: BLE001
            failures, digest = [f"check: {type(exc).__name__}: {exc}"[:500]], None
        if failures:
            self.failed += min(len(failures), self.w.ops_per_iteration)
            self.errors.extend(failures)
        if digest is not None:
            self.digests.append(digest)
        self.check_s += time.perf_counter() - t

    def warm_loop(self, state) -> list[float]:
        """Timed warm iterations: one per ITER_BUDGET_S of ``seconds``, at
        least MIN_TIMED. The count is fixed by ``seconds`` alone, not by
        how fast the iterations ran: warm iterations are still getting
        faster, so a count that varied with their speed would put the
        median at a varying point of that curve. For the same reason no
        sample is re-taken. Each sample is recorded with the share of
        the host's CPU time that other guests took during it (steal)."""
        samples: list[tuple[float, float]] = []  # (seconds, steal share)
        self.samples = samples
        for _ in range(max(MIN_TIMED, int(self.seconds // ITER_BUDGET_S))):
            ticks = cpu_ticks()
            elapsed, result = self.iteration(state, check=False)
            total, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
            samples.append((elapsed, steal / max(1, total)))
            release_cached(self.spark)
            if result is None:
                break
        return [t for t, _ in samples]


def untraced_session(workload, spark, seed: int, seconds: float, record: dict):
    """Stage inputs, time the cold first iteration, then the warm loop."""
    stage_dir = os.path.join(WORK, "stage")
    t = time.perf_counter()
    record["rows"] = workload.stage(spark, seed, stage_dir)
    record["stage_s"] = time.perf_counter() - t
    setup_s = time.time() - T_PROCESS
    state = workload.open(spark, stage_dir, os.path.join(WORK, "out"))

    runner = Runner(workload, spark, seconds)
    first_s, _ = runner.iteration(state, check=True)
    release_cached(spark)
    for _ in range(WARMUP):
        runner.iteration(state, check=False)
        release_cached(spark)
    warm = runner.warm_loop(state)
    record.update(setup_s=setup_s, first_s=first_s, warm_s=warm,
                  warm_samples_steal=runner.samples)
    return runner, setup_s, first_s, warm


def traced_session(workload, spark, state, runner) -> list[dict]:
    """The traced session's first iteration (untimed), then TRACED
    traced iterations, each followed by the unforced build calls."""
    runner.iteration(state, check=False)
    release_cached(spark)
    traced = []
    for i in range(TRACED):
        start = time.time()
        elapsed, result = runner.iteration(state, check=False)
        it = {"name": f"iteration.{i}", "start": start, "end": time.time(),
              "wall_s": elapsed, "query_spans": getattr(result, "spans", []),
              "cached_mb": cached_mb(spark)}
        if result is not None and i == TRACED - 1:
            runner.check(state, result)
        release_cached(spark)
        it["build_s"] = workload.build_spans(spark, state)
        traced.append(it)
    return traced


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leave it behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # No state survives from an earlier run: every run stages from scratch.
    shutil.rmtree(WORK, ignore_errors=True)
    facts = host_facts()
    pin_environment(facts)  # before the library is imported
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]("bench")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              **facts, "loadavg_start": loadavg(),
              "canary_start_s": canary_s()}
    ticks = cpu_ticks()

    from mimic_iv_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", **session_conf(None))
    record["session_s"] = time.time() - T_PROCESS
    record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    record["spark"] = spark.version
    try:
        runner, setup_s, first_s, warm = untraced_session(
            workload, spark, args.seed, args.seconds, record)
        per_layer = None
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog")
            spark.stop()
            spark = get_spark("perfbench-traced", **session_conf(log_dir))
            state = workload.open(spark, os.path.join(WORK, "stage"),
                                  os.path.join(WORK, "out"))
            runner.spark = spark
            traced = traced_session(workload, spark, state, runner)
            spark.stop()  # finishes the event log
            from perfbench import trace

            record["canary_end_s"] = canary_s()
            per_layer, spans = trace.per_layer(
                log_dir, traced, warm, facts["nproc"],
                (record["canary_start_s"] + record["canary_end_s"]) / 2,
                os.path.join(WORK, "out"),
            )
            record["traced_s"] = [it["wall_s"] for it in traced]
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json"),
                      "w", encoding="utf-8") as fh:
                json.dump(spans, fh)
    finally:
        stop_spark(spark)
    record.setdefault("canary_end_s", canary_s())
    record["loadavg_end"] = loadavg()
    total, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
    record["steal_pct"] = 100.0 * steal / max(1, total)
    record["digests"] = runner.digests
    record["check_s"] = runner.check_s
    if len(set(runner.digests)) > 1:
        runner.failed += 1
        runner.errors.append(f"digest differs across iterations: {runner.digests}")
    record["errors"] = runner.errors
    record["fail_ratio"] = runner.failed / max(1, runner.attempted)
    shutil.rmtree(WORK, ignore_errors=True)

    if per_layer is None:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(warm), "unit": "s"},
        }
    else:
        per_layer["run.fail_ratio"] = record["fail_ratio"]
        per_layer["cold.first_s"] = first_s
        metrics = {k: {"value": v, "unit": trace.unit(k)} for k, v in per_layer.items()}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump({"record": record, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
