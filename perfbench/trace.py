"""Per-layer metrics of a traced session, measured from outside the library.

Spans: one per traced iteration and per query (recorded by the
benchmark's own code), with the Spark jobs that the event log places
inside them as child spans; the public build calls are timed on their
own (``*.build_s``). An iteration's self time, its duration minus the
union of its job spans, is ``pipeline.driver_gap_s``. Jobs are attributed to
pipeline stages by the labels ``run_pipeline`` sets
(``"pipeline: <stage> boundary (...)"``, ``"... leaf write"``,
``"... leaf consume"``); a job without a label counts in
``pipeline.unlabelled_jobs``, and the feature-vocab collect is
recognised by its call site.
"""

from __future__ import annotations

import os
import re
import statistics

from perfbench import eventlog
from perfbench.workloads import OPERATOR_QUERIES

# pipeline label -> layer.stage
STAGES = {
    "cohort": "cohort.cohort",
    "events": "features.events",
    "summary": "features.summary",
    "timeseries": "timeseries.timeseries",
    "features": "ml_assembly.features",
    "tensors": "ml_assembly.tensors",
    "vocab": "pipeline.vocab",
}
STAGE_METRICS = ("wall_s", "busy_s", "gc_s", "tasks", "shuffle_mb", "spill_mb", "narrow_stages")
QUERY_METRICS = ("wall_s", "build_s", "busy_s", "gc_s", "tasks", "shuffle_mb")
BUILD_LAYERS = ("cohort", "features", "timeseries", "ml_assembly")

PER_LAYER = (
    [f"{s}.{m}" for s in STAGES.values() for m in STAGE_METRICS]
    + [f"{layer}.build_s" for layer in BUILD_LAYERS]
    + ["sources.write_mb", "sources.read_mb", "engine.cached_mb",
       "pipeline.jobs", "pipeline.unlabelled_jobs", "pipeline.driver_gap_s"]
    + [f"queries.{q}.{m}" for q in OPERATOR_QUERIES for m in QUERY_METRICS]
    + ["spark.failed_tasks", "host.canary_s", "trace.overhead_s", "run.fail_ratio",
       "cold.first_s"]
)

_LABEL = re.compile(r"^pipeline: (\w+) (?:boundary|leaf write|leaf consume)")


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("fail_ratio"):
        return "ratio"
    return "count"


def stage_of(job: eventlog.Job) -> str | None:
    """The pipeline stage a job belongs to, or None."""
    if job.description:
        m = _LABEL.match(job.description)
        return m.group(1) if m else None
    if "collect" in job.call_site and "pipeline.py" in job.call_site:
        return "vocab"
    return None


def _iteration_metrics(log, it: dict, cores: int, spans: list) -> dict[str, float]:
    jobs = log.jobs_between(it["start"], it["end"])
    for j in jobs:
        spans.append({"name": f"job.{j.job_id}", "start": j.start, "end": j.end,
                      "parent": it["name"], "label": j.description or j.call_site})
    out: dict[str, float] = {}
    pipeline_jobs = [j for j in jobs if not (j.description or "").startswith("query: ")]
    by_stage: dict[str, list] = {}
    for j in pipeline_jobs:
        stage = stage_of(j)
        if stage in STAGES:
            by_stage.setdefault(stage, []).append(j)
    for stage, prefix in STAGES.items():
        for k, v in eventlog.job_totals(log, by_stage.get(stage, []), cores).items():
            out[f"{prefix}.{k}"] = v
    stages = [st for j in jobs for st in log.job_stages(j)]
    out["sources.write_mb"] = sum(st.output_bytes for st in stages) / eventlog.MB
    out["sources.read_mb"] = log.boundary_read_bytes(pipeline_jobs) / eventlog.MB
    out["engine.cached_mb"] = it["cached_mb"]
    out["pipeline.jobs"] = float(len(pipeline_jobs))
    out["pipeline.unlabelled_jobs"] = float(sum(1 for j in pipeline_jobs if not j.description))
    covered = eventlog.union_s(
        (max(j.start, it["start"]), min(j.end, it["end"]))
        for j in pipeline_jobs if j.end is not None
    )
    out["pipeline.driver_gap_s"] = (it["end"] - it["start"]) - covered if pipeline_jobs else 0.0
    for layer, s in it["build_s"].items():
        out[f"{layer}.build_s"] = s
    for q in it["query_spans"]:
        spans.append({"name": f"query.{q['name']}", "start": q["start"], "end": q["end"],
                      "parent": it["name"]})
        totals = eventlog.job_totals(log, log.jobs_between(q["start"], q["end"]), cores)
        out[f"queries.{q['name']}.wall_s"] = q["end"] - q["start"]
        out[f"queries.{q['name']}.build_s"] = q["built"] - q["start"]
        for k in ("busy_s", "gc_s", "tasks", "shuffle_mb"):
            out[f"queries.{q['name']}.{k}"] = totals[k]
    return out


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def per_layer(log_dir: str, traced: list[dict], untraced_warm: list[float],
              cores: int, canary: float, out_dir: str) -> tuple[dict, list]:
    """Median over the traced iterations of every per-layer metric."""
    log = eventlog.read(event_log_file(log_dir), boundary_marker=out_dir)
    spans: list = []
    per_iteration = []
    for it in traced:
        spans.append({"name": it["name"], "start": it["start"], "end": it["end"],
                      "parent": None})
        per_iteration.append(_iteration_metrics(log, it, cores, spans))
    metrics = {
        name: statistics.median(m.get(name, 0.0) for m in per_iteration)
        for name in PER_LAYER
    }
    metrics["spark.failed_tasks"] = float(sum(st.failed_tasks for st in log.stages.values()))
    metrics["host.canary_s"] = canary
    metrics["trace.overhead_s"] = (
        statistics.median(it["wall_s"] for it in traced) - statistics.median(untraced_warm)
    )
    return metrics, spans
