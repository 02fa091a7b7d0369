"""mimic_iv_data_pipeline_spark — a PySpark-native analytics engine.

From-scratch re-expression of the query/data-processing capabilities of
healthylaife/MIMIC-IV-Data-Pipeline (a single-node pandas ETL +
time-series-featurization pipeline; see SURVEY.md) as composable,
Catalyst-friendly Spark DataFrame operators. The paper's workload is
the batch pipeline ``plans.pipeline.run_pipeline``; the registered
queries in ``queries/`` add the operators (dedup, similarity search,
text analysis) a 100 TB-scale pipeline needs.

Design rules (enforced throughout):
  * DataFrame/SQL first — declarative plans so Catalyst can push filters,
    prune columns, reorder joins, and pick broadcast strategies.
  * No driver-side loops over data; no ``collect()`` in operators.
  * Python UDFs only where built-ins genuinely cannot express the
    semantics, and then always Arrow-batched (``pandas_udf`` /
    ``applyInPandas`` / ``mapInPandas``), never row-at-a-time.
  * Every operator is keyed/partition-aware so plans survive a 1000×
    scale-up (broadcast small dims, pre-repartition window chains,
    AQE for skew).
"""

from mimic_iv_data_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
