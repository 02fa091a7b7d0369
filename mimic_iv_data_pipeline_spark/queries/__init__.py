"""Driver-facing query registry.

Each submodule registers named queries: a PySpark callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` at the repo root
re-exports the merged registry for the correctness driver.

Conventions (driver compare = row count + schema + order-insensitive
value hash with columns sorted by name):
  * every computed column is aliased IDENTICALLY in Spark and SQL;
  * floating-point aggregates are rounded to a fixed scale on BOTH
    sides so engine-order summation noise can't flip the hash;
  * timestamps in outputs are formatted to strings (tz-proof);
  * integer-ish outputs are cast to long/BIGINT on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}

_MODULES = [
    "relational",
    "analytic",
    "temporal",
    "text",
    "similarity",
    "coverage",
    "llmops",
    "corpus",
    "stats",
]

# Driver-window rotation rule. The correctness driver records rows for
# only the FIRST 50 registry entries per round; _PRIORITY fills that
# window in this order (pinned by tests/test_manifest.py):
#   (a) queries that were red last round, then never-driver-checked ones;
#   (b) queries new this round;
#   (c) the every-round 8-query core, one per SURVEY §2 family (q03 q04
#       q18 q19 q20 q32 q34 q42), plus in even rounds the alternate-round
#       7 (q08 q14 q15 q17 q26 q39 q45);
#   (d) every remaining slot to the oldest eligible (oracled) queries by
#       driver-row age, oldest round first, name order within a round —
#       no slot may skip past a staler query.
# Each round's manifest, with its reasons, is recorded in CHANGES.md.
#
# _MANIFEST_ROUND is the round this manifest targets: the test evaluates
# the rotation against driver history STRICTLY BEFORE this round, so the
# pin holds before and after the round's own CORRECTNESS file lands (even
# a partial one from a crashed driver). Bump it with the manifest.
_MANIFEST_ROUND = 12

_PRIORITY = [
    # (c) every-round 8-core — one per SURVEY §2 family
    "q03_revenue_by_nation",
    "q04_semi_join",
    "q18_readmission_label",
    "q19_asof_join",
    "q20_ffill_bfill",
    "q32_pivot_wide",
    "q34_dedup_exact",
    "q42_cosine_topk",
    # (c) alternate-7 (even round)
    "q08_outer_join_fill",
    "q14_code_mapping",
    "q15_mode_per_group",
    "q17_topk_per_group",
    "q26_vocab_build",
    "q39_ngram_jaccard",
    "q45_set_ops",
    # (d) oldest aged rows — the full r7 remainder (35 rows, name order)
    "q10_distinct_counts",
    "q11_string_fns",
    "q12_date_fns",
    "q164_funnel_lag",
    "q165_chi_square",
    "q166_psi_drift",
    "q169_transition_matrix",
    "q172_merge_intervals",
    "q174_cusum",
    "q175_roc_pr_curve",
    "q178_seasonal_anomalies",
    "q179_daily_acf",
    "q183_bh_fdr",
    "q184_pmi_collocations",
    "q185_item_neighbors",
    "q186_bfs_levels",
    "q187_holt_trend",
    "q188_session_stats",
    "q191_rfm",
    "q192_seasonal_decompose",
    "q195_woe_iv",
    "q197_smd_balance",
    "q199_forecast_backtest",
    "q202_time_decay",
    "q207_geo_knn",
    "q208_welch_ttest",
    "q209_mixture_temperature",
    "q210_geo_clusters",
    "q211_trimmed_mean",
    "q212_markov_stationary",
    "q213_cmh_pooled_or",
    "q214_spearman",
    "q215_exact_percentiles",
    "q216_anonymity_report",
    "q217_date_shift",
]

def _ordered(d: dict) -> dict:
    named = {k: d[k] for k in _PRIORITY if k in d}
    rest_oracle = {k: v for k, v in d.items() if k not in named and k in _ORACLES}
    rest_noracle = {k: v for k, v in d.items() if k not in named and k not in _ORACLES}
    return {**named, **rest_oracle, **rest_noracle}


def register(name: str, oracle: str | None = None):
    """Decorator: register a spark query and its oracle SQL."""

    def deco(fn: SparkQuery) -> SparkQuery:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load() -> None:
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")


def all_queries() -> dict[str, SparkQuery]:
    _load()
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load()
    return _ordered(_ORACLES)
