"""Core relational queries (SURVEY.md §2.1-2.4, §2.7-2.8).

Each query exercises one operator family from the inventory against the
driver's star schema, with a DuckDB oracle. Sites cited are the
reference behaviors being re-expressed (see SURVEY.md for context).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround

from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q01: scan + filter + multi-aggregate (S1, P3, A1-A4, F10) -------------
# The reference's summary aggregations (feature_selection_hosp.py:129-147)
# are two-level count/mean passes; this is the same shape at TPC-H Q1 scale.
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 4).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            dround(F.sum(disc_price), 4).alias("sum_disc_price"),
            dround(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            dround(F.avg("l_quantity"), 4).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            dround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- q02: projection + predicates + derive (P1-P3, P8, F8) -----------------
@register(
    "q02_filter_project",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(o_totalprice * 0.9, 4) AS discounted,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' ELSE 'low' END AS priority_class
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000))
        .select(
            "o_orderkey",
            "o_custkey",
            dround(F.col("o_totalprice") * 0.9, 4).alias("discounted"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            ).otherwise("low").alias("priority_class"),
        )
    )


# --- q03: multi-way join + broadcast dims (J1, J2) -------------------------
# Fact×dim shape of the cohort joins (day_intervals_cohort.py:35,73-79):
# region/nation broadcast exactly like the patients-dim joins.
@register(
    "q03_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial-aggregate lineitem per order BEFORE the join chain: the
    # join inputs shrink from |lineitem| to |orders| rows, and the
    # per-order partials are exact (sum/count are algebraic). Catalyst
    # can't do this rewrite itself (aggregate pushdown through joins).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
            F.count(F.lit(1)).alias("__cnt"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            dround(F.sum("__rev"), 2).alias("revenue"),
            F.sum("__cnt").alias("n_items"),
        )
    )


# --- q04: left-semi membership (P6/J6) -------------------------------------
# The reference's isin-against-cohort filters (day_intervals_cohort.py:39).
@register(
    "q04_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ids = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(ids, on="c_custkey", how="left_semi").select("c_custkey", "c_name")


# --- q05: anti join (U5 complement) ----------------------------------------
@register(
    "q05_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ids = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(ids, on="c_custkey", how="left_anti").select("c_custkey", "c_mktsegment")


# --- q06: deterministic dedup / first-per-group (P7, W7) -------------------
# dropDuplicates with an explicit total order — the reference's
# drop_duplicates (icu_preprocess_util.py:134) keeps first-seen, which
# only has meaning under a declared ordering.
@register(
    "q06_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id
    FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q06_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.windows import first_row_per_group

    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts")
    out = first_row_per_group(
        e, ["user_id", "event_type"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    return out.select("user_id", "event_type", F.col("event_id").alias("first_event_id"))


# --- q07: conditional update / clamp (P8) ----------------------------------
# The stop_time>los clamp (data_generation_icu.py:164) as least()/when().
@register(
    "q07_conditional_clamp",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           least(l_quantity, 25.0) AS qty_clamped,
           CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS high_disc
    FROM lineitem
    """,
)
def q07_conditional_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_clamped"),
        F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("high_disc"),
    )


# --- q08: outer join + null fill (J4/J5, P5) -------------------------------
# Summary right-merge shape (feature_selection_hosp.py:145-146): every
# part appears even with zero lineitems; aggregate-then-join keeps the
# join input small (partial agg before the shuffle).
@register(
    "q08_outer_join_fill",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           coalesce(s.cnt, 0) AS n_items,
           round(coalesce(s.qty, 0.0), 4) AS total_qty
    FROM part p
    LEFT JOIN (
      SELECT l_partkey, count(*) AS cnt, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_partkey
    ) s ON p.p_partkey = s.l_partkey
    """,
)
def q08_outer_join_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("qty"))
    )
    return (
        p.join(s, p.p_partkey == s.l_partkey, "left")
        .select(
            "p_partkey",
            "p_brand",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_items"),
            dround(F.coalesce(F.col("qty"), F.lit(0.0)), 4).alias("total_qty"),
        )
    )


# --- q09: union of labeled branches (U1) -----------------------------------
# case∪control concat (day_intervals_cohort.py:245) as unionByName.
@register(
    "q09_union_branches",
    oracle="""
    SELECT c_custkey, 'high' AS tier FROM customer WHERE c_acctbal >= 5000
    UNION ALL
    SELECT c_custkey, 'low' AS tier FROM customer WHERE c_acctbal < 0
    """,
)
def q09_union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    high = c.filter(F.col("c_acctbal") >= 5000).select(
        "c_custkey", F.lit("high").alias("tier")
    )
    low = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.lit("low").alias("tier")
    )
    return high.unionByName(low)


# --- q10: distinct counts (A5) ---------------------------------------------
@register(
    "q10_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q10_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- q11: string scalar functions (F1-F7) ----------------------------------
@register(
    "q11_string_fns",
    oracle="""
    SELECT p_partkey,
           lower(trim(p_name)) AS name_norm,
           substr(p_type, 1, 3) AS type_root,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
           p_brand || '/' || p_type AS brand_type
    FROM part
    """,
)
def q11_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.trim(F.col("p_name"))).alias("name_norm"),
        F.substring("p_type", 1, 3).alias("type_root"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


# --- q12: date functions (F8) ----------------------------------------------
@register(
    "q12_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_epoch_start
    FROM orders
    """,
)
def q12_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


# --- q13: json extraction (props column; F-ext) ----------------------------
@register(
    "q13_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q13_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


# --- q14: code mapping via broadcast dim with fallback (J9, W5) ------------
# ICD9→10 root mapping (hosp_preprocess_util.py:402-426) modeled on
# p_type roots: an inline dim maps known roots, unmapped fall back.
@register(
    "q14_code_mapping",
    oracle="""
    WITH m(type_root, type_group) AS (
      VALUES ('ECO','economy'), ('STA','standard'), ('PRO','promotional')
    )
    SELECT p.p_partkey,
           coalesce(m.type_group, substr(p.p_type, 1, 3)) AS type_group
    FROM part p
    LEFT JOIN m ON substr(p.p_type, 1, 3) = m.type_root
    """,
)
def q14_code_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.joins import map_codes
    from mimic_iv_data_pipeline_spark.functions.scalars import icd_root

    p = load_table(spark, sf_dir, "part").withColumn("type_root_key", icd_root(F.col("p_type")))
    mapping = spark.createDataFrame(
        [("ECO", "economy"), ("STA", "standard"), ("PRO", "promotional")],
        ["type_root", "type_group"],
    )
    out = map_codes(
        p.withColumn("p_type_root", F.col("type_root_key")),
        mapping,
        code_col="p_type_root",
        map_key="type_root",
        map_value="type_group",
        out_col="type_group",
        key_expr=F.col("type_root_key"),
    )
    return out.select("p_partkey", "type_group")


# --- q119: SCD-1 snapshot upsert --------------------------------------------
@register(
    "q119_scd_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, 1 AS version FROM orders
    ), updates AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, 2 AS version
      FROM orders WHERE o_orderkey % 10 = 0
    ), unioned AS (
      SELECT *, 0 AS origin FROM base
      UNION ALL
      SELECT *, 1 AS origin FROM updates
    )
    SELECT o_orderkey, o_orderstatus, CAST(version AS BIGINT) AS version
    FROM unioned
    QUALIFY row_number() OVER (
      PARTITION BY o_orderkey ORDER BY version DESC, origin DESC
    ) = 1
    """,
)
def q119_scd_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO expressed as a plain plan: a change batch (every 10th
    order flips to status 'U' at version 2) upserted over the base
    snapshot; per-key latest wins."""
    from mimic_iv_data_pipeline_spark.operators.joins import upsert_latest

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", F.lit(1).cast("long").alias("version")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(2).cast("long").alias("version"),
    )
    return upsert_latest(base, updates=updates, key_cols=["o_orderkey"], version_col="version")


# --- q139: SCD-2 history build (validity intervals from a change log) -------
# The reference re-derives point-in-time cohorts per window
# (day_intervals_cohort_v3.py's repeated date-partition passes); the
# warehouse answer is ONE history table with validity intervals. The
# change log here is three snapshot versions of orders (v2 flips every
# 10th key to 'U'; v3 re-sends 'U' unchanged except every 100th key
# which moves to 'X'), with change-log compaction dropping the no-op
# v3 rows — so both interval derivation AND compaction are
# differentially verified.
@register(
    "q139_scd2_history",
    oracle="""
    WITH log AS (
      SELECT o_orderkey, o_orderstatus, CAST(1 AS BIGINT) AS version FROM orders
      UNION ALL
      SELECT o_orderkey, 'U', 2 FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE 'U' END, 3
      FROM orders WHERE o_orderkey % 10 = 0
    ), compact AS (
      SELECT o_orderkey, o_orderstatus, version FROM (
        SELECT log.*,
               lag(o_orderstatus) OVER (
                 PARTITION BY o_orderkey ORDER BY version) AS prev
        FROM log)
      WHERE prev IS NULL OR o_orderstatus IS DISTINCT FROM prev
    )
    SELECT o_orderkey, o_orderstatus, version,
           version AS effective_from,
           lead(version) OVER (
             PARTITION BY o_orderkey ORDER BY version) AS effective_to,
           CAST(lead(version) OVER (
             PARTITION BY o_orderkey ORDER BY version) IS NULL AS BIGINT)
             AS is_current
    FROM compact
    """,
)
def q139_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from a 3-version change log: per-key validity
    intervals (effective_from/effective_to, open-ended current row)
    with unchanged-attribute compaction, all in one keyed window
    exchange (operators/history.py)."""
    from mimic_iv_data_pipeline_spark.operators.history import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(
        "o_orderkey", "o_orderstatus", F.lit(1).cast("long").alias("version")
    )
    tenth = orders.filter(F.col("o_orderkey") % 10 == 0)
    v2 = tenth.select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        F.lit(2).cast("long").alias("version"),
    )
    v3 = tenth.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("X"))
        .otherwise(F.lit("U"))
        .alias("o_orderstatus"),
        F.lit(3).cast("long").alias("version"),
    )
    log = v1.unionByName(v2).unionByName(v3)
    hist = scd2_history(
        log, ["o_orderkey"], "version", drop_unchanged=["o_orderstatus"]
    )
    return hist.select(
        "o_orderkey", "o_orderstatus", "version",
        "effective_from", "effective_to",
        F.col("is_current").cast("long").alias("is_current"),
    )


# --- q144: point-in-time dimension join against SCD-2 history ---------------
# The feature-store "PIT correctness" join (no label leakage: each fact
# sees the dimension as it was at the fact's own time): lineitem facts,
# each carrying an as-of version, joined to the orders status history of
# q139's change log. SCD-2 intervals are non-overlapping per key, so
# the join needs no tie-break window and emits exactly |facts| rows.
@register(
    "q144_pit_join",
    oracle="""
    WITH log AS (
      SELECT o_orderkey, o_orderstatus, CAST(1 AS BIGINT) AS version FROM orders
      UNION ALL
      SELECT o_orderkey, 'U', 2 FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 'X', 3 FROM orders WHERE o_orderkey % 100 = 0
    ), hist AS (
      SELECT o_orderkey, o_orderstatus, version AS effective_from,
             lead(version) OVER (
               PARTITION BY o_orderkey ORDER BY version) AS effective_to
      FROM log
    ), facts AS (
      SELECT l_orderkey, l_linenumber,
             CAST(1 + l_linenumber % 3 AS BIGINT) AS as_of_version
      FROM lineitem
    )
    SELECT f.l_orderkey, f.l_linenumber, f.as_of_version,
           h.o_orderstatus AS status_at_version
    FROM facts f
    LEFT JOIN hist h
      ON h.o_orderkey = f.l_orderkey
     AND h.effective_from <= f.as_of_version
     AND (h.effective_to IS NULL OR h.effective_to > f.as_of_version)
    """,
)
def q144_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of lineitem facts (as-of version derived from
    the line number) to the orders SCD-2 status history
    (operators/history.py:pit_join — equi-join + residual range
    predicate, no window)."""
    from mimic_iv_data_pipeline_spark.operators.history import pit_join, scd2_history

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(
        "o_orderkey", "o_orderstatus", F.lit(1).cast("long").alias("version")
    )
    v2 = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        F.lit(2).cast("long").alias("version"),
    )
    v3 = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus"),
        F.lit(3).cast("long").alias("version"),
    )
    hist = scd2_history(v1.unionByName(v2).unionByName(v3), ["o_orderkey"], "version")
    dim = hist.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderstatus").alias("status_at_version"),
        "effective_from",
        "effective_to",
    )
    facts = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (1 + F.col("l_linenumber") % 3).cast("long").alias("as_of_version"),
    )
    out = pit_join(facts, dim, ["l_orderkey"], "as_of_version")
    return out.select(
        "l_orderkey", "l_linenumber", "as_of_version", "status_at_version"
    )


# --- q145: Bloom-prefiltered join -------------------------------------------
# Semi-join reduction made explicit: the fact side is pre-filtered by a
# broadcast Bloom filter of the dim keys before the join shuffle; the
# exact join then removes false positives, so the result is
# bit-identical to the plain join — which IS the oracle.
@register(
    "q145_bloom_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > 450000
    """,
)
def q145_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem joined to the ~2%-selective high-value orders through a
    Bloom prefilter (operators/sketches.py:bloom_prefilter_join —
    chained broadcast semi-joins, zero fact-side shuffle before the
    join)."""
    from mimic_iv_data_pipeline_spark.operators.sketches import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    return bloom_prefilter_join(li, dim, "l_orderkey", num_bits=1 << 16)


# --- q146: incremental rollup maintenance -----------------------------------
# Materialized-view maintenance as a monoid merge: two disjoint order
# batches are rolled up independently and their partial states merged;
# the oracle recomputes the rollup from scratch over the union —
# merge(state(A), state(B)) == state(A ∪ B), exactly.
@register(
    "q146_incremental_rollup",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_o_totalprice,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice,
           round(sum(o_totalprice) / count(o_totalprice), 4) AS avg_o_totalprice
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q146_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status order rollup maintained incrementally: state(batch A)
    merged with state(batch B) (operators/aggregates.py:rollup_state /
    merge_rollup_state); avg derived from mergeable (sum, cnt) at read
    time."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        merge_rollup_state,
        rollup_state,
    )

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 != 0)
    b = orders.filter(F.col("o_orderkey") % 3 == 0)
    merged = merge_rollup_state(
        rollup_state(a, ["o_orderstatus"], ["o_totalprice"]),
        delta=rollup_state(b, ["o_orderstatus"], ["o_totalprice"]),
        key_cols=["o_orderstatus"],
        measure_cols=["o_totalprice"],
    )
    return merged.select(
        "o_orderstatus",
        "n",
        dround(F.col("sum_o_totalprice"), 2).alias("sum_o_totalprice"),
        "min_o_totalprice",
        "max_o_totalprice",
        dround(
            F.col("sum_o_totalprice") / F.col("cnt_o_totalprice"), 4
        ).alias("avg_o_totalprice"),
    )


# --- q170: CDC apply (MERGE with deletes) ------------------------------------
# The q119 upsert's missing half: a Debezium-shaped change log with
# inserts/updates/deletes applied onto the snapshot — latest (version,
# origin) op per key wins, delete-winners vanish. Survivor set AND
# surviving attribute values are hash-verified.
@register(
    "q170_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, 0 AS v, 'I' AS op, 0 AS orig
      FROM orders
    ), chg AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, 1 AS v, 'U' AS op, 1 AS orig
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 2 AS v, 'D' AS op, 1 AS orig
      FROM orders WHERE o_orderkey % 100 = 0
    ), allr AS (
      SELECT * FROM base UNION ALL SELECT * FROM chg
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY v DESC, orig DESC) AS rn
      FROM allr
    )
    SELECT o_orderkey, o_orderstatus, CAST(v AS BIGINT) AS version
    FROM r WHERE rn = 1 AND op != 'D'
    """,
)
def q170_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log applied to the orders snapshot
    (operators/joins.py:apply_cdc — one union + one per-key window +
    delete filter, same exchange as the q119 upsert)."""
    from mimic_iv_data_pipeline_spark.operators.joins import apply_cdc

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", F.lit(0).cast("long").alias("version")
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1).cast("long").alias("version"),
        F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit(2).cast("long").alias("version"),
        F.lit("D").alias("op"),
    )
    out = apply_cdc(
        base,
        upd.unionByName(dels),
        key_cols=["o_orderkey"],
        op_col="op",
        version_col="version",
    )
    return out.select("o_orderkey", "o_orderstatus", "version")
