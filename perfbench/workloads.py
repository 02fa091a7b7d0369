"""The benchmark's workloads: what one iteration runs and how its
outputs are checked. Each is a closed loop with one client (one
pipeline run or one query at a time) at ``local[nproc]``.

The library is reached only through its public entry points:
``run_pipeline``, the ``plans.*`` stage functions and
``queries.all_queries``/``all_oracles``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import time
from dataclasses import dataclass, field

from perfbench import inputs

from mimic_iv_data_pipeline_spark.plans.cohort import extract_cohort
from mimic_iv_data_pipeline_spark.plans.features import (
    clean_events,
    generate_summary,
    preproc_events,
)
from mimic_iv_data_pipeline_spark.plans.ml_assembly import (
    dl_tensor_frame,
    ml_feature_matrix,
)
from mimic_iv_data_pipeline_spark.plans.pipeline import PipelineConfig, run_pipeline
from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries
from mimic_iv_data_pipeline_spark.queries import all_oracles, all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIMIC_TABLES = ("visits", "patients", "admissions", "events")


def _noop_sink(df, name) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rounded(name: str, dtype) -> str:
    """SQL for a column with every double rounded to 6 dp."""
    from pyspark.sql import types as T

    def expr(x: str, dt) -> str:
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return f"round({x}, 6)"
        if isinstance(dt, T.ArrayType):
            return f"transform({x}, e -> {expr('e', dt.elementType)})"
        if isinstance(dt, T.MapType):  # maps are not hashable: sorted entries
            return (f"transform(array_sort(map_entries({x})), "
                    f"e -> struct(e.key, {expr('e.value', dt.valueType)}))")
        return x

    return expr(f"`{name}`", dtype)


def frame_digest(df, *extra: str):
    """Order-independent digest of ``df``: its row count and the exact
    sum of its rows' 64-bit hashes, doubles rounded to 6 dp. ``extra``
    aggregates are computed in the same pass and returned after it."""
    cols = ", ".join(_rounded(f.name, f.dataType) for f in df.schema.fields)
    row = df.selectExpr(
        "count(1)", f"sum(CAST(xxhash64({cols}) AS DECIMAL(38, 0)))", *extra
    ).first()
    return (f"{row[0]}:{row[1]}", row[0], *row[2:])


@dataclass
class MimicState:
    tables: dict
    out_dir: str


class PipelineWorkload:
    """``run_pipeline(handoff="memory")`` on seeded MIMIC-shaped tables;
    one iteration is one complete pipeline run with every leaf forced
    (noop sink through ``leaf_consumer``)."""

    ops_per_iteration = 1

    def __init__(self, shape: inputs.MimicShape, config: PipelineConfig):
        self.shape = shape
        self.config = config
        self.codes = [220045 + i for i in range(shape.n_codes)]

    def stage(self, spark, seed: int, stage_dir: str) -> dict:
        return inputs.stage(inputs.mimic_tables(spark, seed, self.shape), stage_dir)

    def open(self, spark, stage_dir: str, out_dir: str) -> MimicState:
        tables = {
            t: spark.read.parquet(os.path.join(stage_dir, f"{t}.parquet"))
            for t in MIMIC_TABLES
        }
        return MimicState(tables, out_dir)

    def iterate(self, spark, state: MimicState, checked: bool) -> dict:
        return run_pipeline(
            spark,
            state.tables,
            state.out_dir,
            self.config,
            handoff="memory",
            leaf_consumer=_noop_sink,
        )

    def check(self, spark, state, out: dict) -> tuple[list[str], str]:
        """Pipeline invariants plus a digest of every output."""
        cfg = self.config
        n_buckets = cfg.include_hours // cfg.bucket_hours
        digest = {}
        digest["timeseries"], dense_rows, series, ids, nulls = frame_digest(
            out["timeseries"],
            "count(DISTINCT stay_id, itemid)",
            "count(DISTINCT stay_id)",
            "count_if(value IS NULL)",
        )
        digest["features"], feature_rows = frame_digest(out["features"])
        digest["tensors"], _ = frame_digest(out["tensors"])
        digest["summary"], _, total_count = frame_digest(out["summary"], "sum(total_count)")
        events = out["events"].count()
        failures = []
        if series == 0:
            failures.append("timeseries is empty")
        if dense_rows != series * n_buckets:
            failures.append(f"dense rows {dense_rows} != {series} series x {n_buckets} buckets")
        if nulls:
            failures.append(f"{nulls} null imputed values")
        if feature_rows != ids:
            failures.append(f"feature rows {feature_rows} != {ids} ids in timeseries")
        if total_count != events:
            failures.append(f"summary total_count {total_count} != {events} cleaned events")
        return failures, json.dumps(digest, sort_keys=True)

    def build_spans(self, spark, state: MimicState) -> dict[str, float]:
        """Time each public stage call on the staged inputs, unforced."""
        cfg, t = self.config, state.tables
        spans = {}
        s = time.perf_counter()
        cohort = extract_cohort(
            t["visits"], t["patients"], t["admissions"], use_icu=True, label=cfg.label,
            gap_days=cfg.gap_days, los_threshold_hours=cfg.los_threshold_hours,
            min_age=cfg.min_age,
        )
        spans["cohort"] = time.perf_counter() - s
        s = time.perf_counter()
        events = preproc_events(t["events"], cohort, "stay_id", "charttime", "intime")
        events = clean_events(events, uom_cutoff=cfg.uom_cutoff, outlier_pcts=cfg.outlier_pcts)
        generate_summary(events, "stay_id", "itemid", "valuenum")
        spans["features"] = time.perf_counter() - s
        s = time.perf_counter()
        dense = generate_timeseries(
            events.withColumnRenamed("event_time_from_admit", "t"), cohort,
            id_col="stay_id", time_col="t", include_hours=cfg.include_hours,
            bucket_hours=cfg.bucket_hours, anchor="first", impute=cfg.impute,
            expand_parallelism=int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
        spans["timeseries"] = time.perf_counter() - s
        s = time.perf_counter()
        ml_feature_matrix(dense, id_col="stay_id", feature_codes=self.codes, agg="mean")
        dl_tensor_frame(dense, id_col="stay_id")
        spans["ml_assembly"] = time.perf_counter() - s
        return spans


@dataclass
class QueryPass:
    """One pass of the query mix: per-query spans, and the collected
    rows when the pass was a checking pass."""

    spans: list = field(default_factory=list)
    rows: dict | None = None


def _drive_contract():
    """The oracle comparison helpers of scripts/drive_contract.py."""
    path = os.path.join(ROOT, "scripts", "drive_contract.py")
    spec = importlib.util.spec_from_file_location("perfbench_drive_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OperatorsWorkload:
    """A fixed mix of registered queries over seeded star-schema tables;
    one iteration is one pass over the mix, each query forced with the
    noop sink."""

    def __init__(self, scale: float, names: tuple[str, ...]):
        self.scale = scale
        self.ops_per_iteration = len(names)
        self.queries = {n: all_queries()[n] for n in names}

    def stage(self, spark, seed: int, stage_dir: str) -> dict:
        return inputs.stage(inputs.operator_tables(spark, seed, self.scale), stage_dir)

    def open(self, spark, stage_dir: str, out_dir: str) -> str:
        return stage_dir

    def iterate(self, spark, stage_dir: str, checked: bool) -> QueryPass:
        """One pass; ``checked`` collects each result for the oracle
        check instead of writing it to the noop sink."""
        sc = spark.sparkContext
        out = QueryPass(rows={} if checked else None)
        for name, fn in self.queries.items():
            sc.setJobDescription(f"query: {name}")
            try:
                start = time.time()
                df = fn(spark, stage_dir)
                built = time.time()
                if checked:
                    out.rows[name] = (df.columns, dict(df.dtypes),
                                      [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
                out.spans.append({"name": name, "start": start, "built": built,
                                  "end": time.time()})
            finally:
                sc.setJobDescription(None)
        return out

    def check(self, spark, stage_dir: str, result: QueryPass) -> tuple[list[str], str | None]:
        """Each result against its oracle in DuckDB; rows > 0 where a
        query has no oracle."""
        if result.rows is None:
            return [], None
        import duckdb

        dc = _drive_contract()
        oracles = all_oracles()
        con = duckdb.connect()
        failures, canon = [], {}
        try:
            for table in ("customer", "documents", "embeddings", "events", "lineitem"):
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{stage_dir}/{table}.parquet/*.parquet')"
                )
            for name, (cols, dtypes, rows) in result.rows.items():
                canon[name] = dc._canon(rows, cols)
                if name not in oracles:
                    if not rows:
                        failures.append(f"{name}: no rows")
                    continue
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
                duck_types = {
                    r[0]: dc._duck_type_class(r[1])
                    for r in con.execute(f"DESCRIBE SELECT * FROM ({oracles[name]})").fetchall()
                }
                spark_types = {c: dc._spark_type_class(t) for c, t in dtypes.items()}
                if sorted(cols) != sorted(duck_cols):
                    failures.append(f"{name}: columns {cols} != oracle {duck_cols}")
                elif any(spark_types[c] != duck_types[c] for c in cols):
                    failures.append(f"{name}: type classes {spark_types} != {duck_types}")
                elif len(rows) != len(duck_rows):
                    failures.append(f"{name}: {len(rows)} rows != oracle {len(duck_rows)}")
                elif canon[name] != dc._canon(duck_rows, duck_cols):
                    failures.append(f"{name}: values differ from the oracle")
        finally:
            con.close()
        digest = hashlib.sha256(repr(sorted(canon.items())).encode()).hexdigest()
        return failures, digest

    def build_spans(self, spark, stage_dir: str) -> dict[str, float]:
        return {}


# The query mix: the funnel path ROADMAP item 4 re-examines (q153) and
# the Arrow mapInPandas boundary (q53). Cut to two queries to fit the
# run budget; see NOTES.md.
OPERATOR_QUERIES = ("q153_funnel", "q53_ann_ivf")

SIZES = {
    "pipeline_mem": {"bench": inputs.MimicShape(1_000, 100, 3),
                     "tiny": inputs.MimicShape(60, 20, 3)},
    "operators_mix": {"bench": 0.02, "tiny": 0.002},
}


def pipeline_mem(size: str) -> PipelineWorkload:
    # mortality label, 48 h window, 2 h buckets: 24 buckets, the wide
    # codegen densify path
    return PipelineWorkload(
        SIZES["pipeline_mem"][size],
        PipelineConfig(label="mortality", include_hours=48, bucket_hours=2),
    )


def operators_mix(size: str) -> OperatorsWorkload:
    return OperatorsWorkload(SIZES["operators_mix"][size], OPERATOR_QUERIES)


WORKLOADS = {"pipeline_mem": pipeline_mem, "operators_mix": operators_mix}
