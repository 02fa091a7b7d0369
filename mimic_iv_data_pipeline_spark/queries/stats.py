"""Statistical-inference / recommendation / graph-traversal queries
(round-5 sixth wave): the hypothesis-test family around the A/B and
drift monitors (Mann-Whitney, ANOVA, BH-FDR), collocation mining and
TextRank keywords on the documents corpus, item-based CF neighbors,
multi-source BFS, and Holt trend smoothing.

Every query here carries a full hash-compare DuckDB oracle; the float
outputs are engine-portable by construction (exact integer/decimal
sufficient statistics + a pinned IEEE op sequence — see each operator's
docstring for the determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


# --- q181: Mann-Whitney U (rank-sum A/B test) -------------------------------
# Groups: even vs odd user ids (a deterministic A/B assignment); the
# oracle mirrors the operator's integer rank algebra (2·R_a as an exact
# decimal sum over distinct-value blocks) and its pinned IEEE sequence
# for z / AUC term by term.
@register(
    "q181_mann_whitney",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
             {_CENTS} AS v
      FROM events
    ), blocks AS (
      SELECT v,
             sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS nb
      FROM f GROUP BY v
    ), cum AS (
      SELECT v, na, nb, na + nb AS t,
             coalesce(sum(na + nb) OVER (
               ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM blocks
    ), s AS (
      SELECT CAST(sum(na) AS DECIMAL(38,0)) AS n1,
             CAST(sum(nb) AS DECIMAL(38,0)) AS n2,
             sum(CAST(na AS DECIMAL(38,0))
                 * (2 * CAST(cb AS DECIMAL(38,0))
                    + CAST(t AS DECIMAL(38,0)) + 1)) AS two_ra,
             sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                   * CAST(t AS DECIMAL(38,0))
                 - CAST(t AS DECIMAL(38,0))) AS tie
      FROM cum
    ), e AS (
      SELECT n1, n2, tie,
             CAST(two_ra - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_a,
             CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
             CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd
      FROM s
    ), v AS (
      SELECT *,
             (n1d * n2d / 12.0)
             * ((nd + 1.0) - CAST(tie AS DOUBLE) / (nd * (nd - 1.0))) AS var_u
      FROM e
    )
    SELECT 'even' AS group_a, 'odd' AS group_b,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           round(floor(u_a * 1e6 + 0.5) / 1e6, 6) AS u_a,
           round(floor((CASE WHEN var_u > 0
                  THEN (u_a - n1d * n2d / 2.0) / sqrt(var_u) END)
                 * 1e6 + 0.5) / 1e6, 6) AS z,
           round(floor((u_a / (n1d * n2d)) * 1e6 + 0.5) / 1e6, 6) AS auc_a
    FROM v
    """,
)
def q181_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum test of value-in-cents between even- and odd-id users
    (operators/aggregates.py:mann_whitney_u — one groupBy(value)
    collapse; the ordered window runs over distinct values only)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import mann_whitney_u

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    out = mann_whitney_u(ev, "g", "v")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        dround("u_a", 6).alias("u_a"),
        dround("z", 6).alias("z"),
        dround("auc_a", 6).alias("auc_a"),
    )


# --- q182: one-way ANOVA across return flags --------------------------------
# The between-group term is quantized to micro-units per group before
# the exact decimal sum (the roc_pr_curve recipe), so the F statistic
# is a fixed IEEE sequence on both engines.
@register(
    "q182_anova",
    oracle="""
    WITH f AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y AS DECIMAL(38,0))) AS s,
             sum(CAST(y * y AS DECIMAL(38,0))) AS ss
      FROM f GROUP BY g
    ), shift AS (
      SELECT CAST(floor(CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE))
                  AS DECIMAL(38,0)) AS c
      FROM grp
    ), cgrp AS (
      SELECT n,
             grp.s - n * c AS cs,
             grp.ss - 2 * c * grp.s + c * c * n AS css
      FROM grp CROSS JOIN shift
    ), tm AS (
      SELECT *,
             CAST(CASE WHEN CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                            / CAST(n AS DOUBLE) * 1e6 + 0.5
                            >= 9007199254740992.0
                       THEN CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                            / CAST(n AS DOUBLE) * 1e6 + 0.5
                       ELSE floor(CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                                  / CAST(n AS DOUBLE) * 1e6 + 0.5) END
                  AS DECIMAL(38,0)) AS t
      FROM cgrp
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
             sum(cs) AS S, sum(css) AS SS, sum(t) AS T
      FROM tm
    ), e AS (
      SELECT k, n,
             CAST(T AS DOUBLE) / 1e6
               - CAST(S AS DOUBLE) * CAST(S AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
             CAST(SS AS DOUBLE)
               - CAST(S AS DOUBLE) * CAST(S AS DOUBLE) / CAST(n AS DOUBLE) AS sst
      FROM tot
    )
    SELECT k, n,
           CAST(floor(ssb) AS BIGINT) AS ss_between,
           CAST(floor(sst - ssb) AS BIGINT) AS ss_within,
           round(floor((CASE WHEN k > 1 AND n > k AND sst - ssb > 0
                  THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
                       / ((sst - ssb) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                  END) * 1e6 + 0.5) / 1e6, 6) AS f_stat,
           round(floor((CASE WHEN sst > 0 THEN ssb / sst END)
                 * 1e6 + 0.5) / 1e6, 6) AS eta_sq
    FROM e
    """,
)
def q182_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of extended-price cents across the three return
    flags (operators/aggregates.py:anova_oneway — one exact-sum hash
    aggregate + a |groups|-row re-aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import anova_oneway

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    out = anova_oneway(li, "l_returnflag", "y")
    # SS magnitudes are ~1e17 cents² — 6dp would overflow the ×1e6
    # long path; integer resolution is already sub-ulp there.
    return out.select(
        "k",
        "n",
        F.floor("ss_between").cast("long").alias("ss_between"),
        F.floor("ss_within").cast("long").alias("ss_within"),
        dround("f_stat", 6).alias("f_stat"),
        dround("eta_sq", 6).alias("eta_sq"),
    )


# --- q183: Benjamini-Hochberg FDR over a segment screen ---------------------
# 120 deterministic pseudo p-values (md5-u01 cubed, skewed toward 0 so
# the step-up rule actually fires) — one per (event_type, hour) cell;
# the BH mechanics (rank, reverse running min, cap, reject) are what
# the hash verifies.
@register(
    "q183_bh_fdr",
    oracle="""
    WITH cells AS (
      SELECT DISTINCT event_type, CAST(hour(ts) AS BIGINT) AS hr FROM events
    ), tests AS (
      SELECT concat(event_type, '#', CAST(hr AS VARCHAR)) AS test_id,
             pow(CAST(concat('0x', substr(md5(concat('pval:', event_type, '#',
                    CAST(hr AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0,
                 3) AS p
      FROM cells
    ), ranked AS (
      SELECT test_id, p,
             row_number() OVER (ORDER BY p ASC, test_id ASC) AS rank,
             count(*) OVER () AS m
      FROM tests
    ), q AS (
      SELECT test_id, p, rank, CAST(m AS BIGINT) AS m,
             least(1.0, min(p * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE)) OVER (
               ORDER BY rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q_value
      FROM ranked
    )
    SELECT test_id, round(floor(p * 1e6 + 0.5) / 1e6, 6) AS p,
           CAST(rank AS BIGINT) AS rank, m,
           round(floor(q_value * 1e6 + 0.5) / 1e6, 6) AS q_value,
           q_value <= 0.05 AS reject
    FROM q
    """,
)
def q183_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH step-up FDR control over a 120-cell segment screen
    (operators/aggregates.py:bh_fdr — two windows over the tests
    relation, never the facts)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import bh_fdr
    from mimic_iv_data_pipeline_spark.operators.sampling import hash_unit

    cells = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").cast("long").alias("hr"))
        .distinct()
    )
    tests = cells.select(
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("hr").cast("string")
        ).alias("test_id")
    ).select(
        "test_id",
        F.pow(hash_unit(F.col("test_id"), salt="pval"), F.lit(3)).alias("p"),
    )
    out = bh_fdr(tests, "test_id", "p", alpha=0.05)
    return out.select(
        "test_id",
        dround("p", 6).alias("p"),
        "rank",
        "m",
        dround("q_value", 6).alias("q_value"),
        "reject",
    )


# --- q184: PMI collocations over the documents corpus -----------------------
@register(
    "q184_pmi_collocations",
    oracle=r"""
    WITH toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT unnest(list_transform(
               range(0, greatest(len(w) - 2, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2]))) AS g
      FROM toks WHERE len(w) >= 2
    ), pc AS (
      SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM grams GROUP BY 1, 2 HAVING count(*) >= 5
    ), uni AS (
      SELECT u.w, CAST(count(*) AS BIGINT) AS n_w
      FROM toks, unnest(w) AS u(w) GROUP BY 1 HAVING count(*) >= 5
    ), tt AS (
      SELECT CAST(sum(len(w)) AS BIGINT) AS n_uni,
             CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS n_bi
      FROM toks
    ), scored AS (
      SELECT pc.w1, pc.w2, pc.n_pair, a.n_w AS n_w1, b.n_w AS n_w2,
             ln((CAST(pc.n_pair AS DOUBLE) * CAST(tt.n_uni AS DOUBLE)
                 * CAST(tt.n_uni AS DOUBLE))
                / (CAST(tt.n_bi AS DOUBLE) * CAST(a.n_w AS DOUBLE)
                   * CAST(b.n_w AS DOUBLE))) AS pmi
      FROM pc
      JOIN uni a ON pc.w1 = a.w
      JOIN uni b ON pc.w2 = b.w
      CROSS JOIN tt
    )
    SELECT w1, w2, n_pair, n_w1, n_w2,
           round(floor(pmi * 1e6 + 0.5) / 1e6, 6) AS pmi
    FROM scored
    ORDER BY scored.pmi DESC, w1, w2 LIMIT 100
    """,
)
def q184_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations (adjacent-token pairs seen >= 5 times)
    over the documents corpus (operators/text.py:pmi_collocations —
    narrow bigram build, one pair aggregate, frequent-vocab broadcast)."""
    from mimic_iv_data_pipeline_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    out = pmi_collocations(docs, "text", min_count=5, top_k=100)
    return out.select(
        "w1", "w2", "n_pair", "n_w1", "n_w2", dround("pmi", 6).alias("pmi")
    )


# --- q185: item-item CF neighbors over order baskets ------------------------
@register(
    "q185_item_neighbors",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i FROM lineitem
    ), cnt AS (
      SELECT i, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY i
      HAVING count(*) >= 5
    ), pruned AS (
      SELECT bi.b, bi.i FROM bi JOIN cnt ON bi.i = cnt.i
    ), pairs AS (
      SELECT a.i AS ia, b2.i AS ib, CAST(count(*) AS BIGINT) AS n_pair
      FROM pruned a JOIN pruned b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), sym AS (
      SELECT ia AS item, ib AS neighbor, n_pair FROM pairs
      UNION ALL
      SELECT ib AS item, ia AS neighbor, n_pair FROM pairs
    ), scored AS (
      SELECT s.item, s.neighbor, s.n_pair, ci.c AS n_item, cn.c AS n_neighbor,
             CAST(s.n_pair AS DOUBLE)
               / sqrt(CAST(ci.c AS DOUBLE) * CAST(cn.c AS DOUBLE)) AS cosine
      FROM sym s
      JOIN cnt ci ON s.item = ci.i
      JOIN cnt cn ON s.neighbor = cn.i
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS rank
      FROM scored
    )
    SELECT item, neighbor, n_pair, n_item, n_neighbor,
           round(floor(cosine * 1e6 + 0.5) / 1e6, 6) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q185_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-occurrence-cosine neighbors per item over order
    baskets, item-support pruning before the pair join
    (operators/retrieval.py:item_cooccurrence_topk)."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import (
        item_cooccurrence_topk,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("b"), (F.col("l_partkey") % 100).alias("i")
    )
    out = item_cooccurrence_topk(li, "b", "i", k=5, min_count=5)
    return out.select(
        "item",
        "neighbor",
        "n_pair",
        "n_item",
        "n_neighbor",
        dround("cosine", 6).alias("cosine"),
        "rank",
    )


# --- q186: multi-source BFS levels ------------------------------------------
# Sparse 200-node contraction (quantity-1 lineitems only) so the 3-hop
# expansion produces non-trivial levels; the oracle unrolls each hop as
# a frontier-minus-visited CTE.
@register(
    "q186_bfs_levels",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey % 200 AS src, l_partkey % 200 AS dst
      FROM lineitem
      WHERE l_quantity = 1 AND l_suppkey % 200 != l_partkey % 200
    ), l0 AS (
      SELECT unnest([0, 1, 2]) AS node
    ), r1 AS (
      SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node
    ), l1 AS (
      SELECT node FROM r1 WHERE node NOT IN (SELECT node FROM l0)
    ), r2 AS (
      SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node
    ), l2 AS (
      SELECT node FROM r2 WHERE node NOT IN (SELECT node FROM l0)
        AND node NOT IN (SELECT node FROM l1)
    ), r3 AS (
      SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node
    ), l3 AS (
      SELECT node FROM r3 WHERE node NOT IN (SELECT node FROM l0)
        AND node NOT IN (SELECT node FROM l1)
        AND node NOT IN (SELECT node FROM l2)
    )
    SELECT node, CAST(0 AS BIGINT) AS level FROM l0
    UNION ALL SELECT node, 1 FROM l1
    UNION ALL SELECT node, 2 FROM l2
    UNION ALL SELECT node, 3 FROM l3
    """,
)
def q186_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop multi-source BFS levels over a sparse 200-node lineitem
    contraction (operators/graph.py:bfs_levels — per hop one
    frontier-edge equi-join + one anti-join, localCheckpoint-ed)."""
    from mimic_iv_data_pipeline_spark.operators.graph import bfs_levels

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        (F.col("l_suppkey") % 200).alias("src"),
        (F.col("l_partkey") % 200).alias("dst"),
    )
    seeds = li.sparkSession.createDataFrame([(0,), (1,), (2,)], "node long")
    out = bfs_levels(edges, seeds, max_hops=3, directed=True)
    return out.select(F.col("node").cast("long").alias("node"), "level")


# --- q187: Holt double exponential smoothing --------------------------------
# alpha = 0.5, beta = 0.25 (binary-exact); the DuckDB recursive CTE
# carries (level, trend) and inlines the new-level expression inside
# the trend update exactly as the Spark fold does.
@register(
    "q187_holt_trend",
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), rec AS (
      SELECT user_id, event_id, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             0.5 * o.x + 0.5 * (r.l + r.b) AS l,
             0.25 * ((0.5 * o.x + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b
      FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           round(floor(l * 1e6 + 0.5) / 1e6, 6) AS level,
           round(floor(b * 1e6 + 0.5) / 1e6, 6) AS trend,
           round(floor((l + b) * 1e6 + 0.5) / 1e6, 6) AS forecast
    FROM rec
    """,
)
def q187_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt level+trend smoothing of event values
    (operators/windows.py:holt_linear — hash-bucketed applyInPandas,
    linear per key, bitwise engine-portable)."""
    from mimic_iv_data_pipeline_spark.operators.windows import holt_linear

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = holt_linear(
        ev, "user_id", "ts", "value", alpha=0.5, beta=0.25, tie_break="event_id"
    )
    return out.select(
        "user_id",
        "event_id",
        dround("level", 6).alias("level"),
        dround("trend", 6).alias("trend"),
        dround("forecast", 6).alias("forecast"),
    )


# --- q188: per-user session stats (bounce rate inputs) ----------------------
# Composes sessionize (q21's operator) into the product-analytics
# readout: session counts, bounces, and exact integer-microsecond
# durations (the q164 lesson: sub-second-safe on both engines).
@register(
    "q188_session_stats",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    ), per_session AS (
      SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounce_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           CAST(sum(dur_us) AS BIGINT) AS total_session_micros
    FROM per_session GROUP BY user_id
    """,
)
def q188_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session counts / bounces / exact-microsecond dwell from
    gap-based sessionization (operators/windows.py:sessionize + two
    keyed aggregates)."""
    from mimic_iv_data_pipeline_spark.operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = sessionize(ev, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("bounce_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.sum("dur_us").cast("long").alias("total_session_micros"),
    )


# --- q189: TextRank keywords (PageRank over the word adjacency graph) -------
# Composition capstone: the q184 bigram relation (count >= 5) becomes
# an undirected word graph; 3 damped PageRank iterations (the q142
# operator, reused verbatim) rank keywords (Mihalcea & Tarau 2004).
# The oracle rebuilds the graph and unrolls all 3 iterations as the
# q142 CTE chain.
_PR_ITER_SQL = "".join(
    f""",
    d{i} AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r{i - 1} r
             LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
    c{i} AS (SELECT e.dst, sum(r.rank / o.outdeg) AS cin
             FROM e JOIN outdeg o ON e.src = o.src JOIN r{i - 1} r ON r.node = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT nodes.node,
                    0.15 / (SELECT n FROM nn)
                    + 0.85 * (coalesce(c{i}.cin, 0)
                              + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
             FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.dst)"""
    for i in (1, 2, 3)
)


@register(
    "q189_textrank_keywords",
    oracle=rf"""
    WITH toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT unnest(list_transform(
               range(0, greatest(len(w) - 2, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2]))) AS g
      FROM toks WHERE len(w) >= 2
    ), pc AS (
      SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
      FROM grams GROUP BY 1, 2 HAVING count(*) >= 5
    ), e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT w1 AS src, w2 AS dst FROM pc WHERE w1 != w2
        UNION ALL
        SELECT w2 AS src, w1 AS dst FROM pc WHERE w1 != w2
      )
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src
    ),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes){_PR_ITER_SQL}
    SELECT node AS word, round(floor(rank * 1e6 + 0.5) / 1e6, 6) AS rank
    FROM r3
    ORDER BY r3.rank DESC, node ASC LIMIT 50
    """,
)
def q189_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 TextRank keywords: PageRank over the frequent-bigram
    word graph (operators/text.py bigram relation +
    operators/graph.py:pagerank reused verbatim)."""
    from mimic_iv_data_pipeline_spark.operators.graph import pagerank
    from mimic_iv_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("__w"))
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(__w, 1, greatest(size(__w) - 1, 0)),"
                    " (t, i) -> struct(t AS w1, __w[i + 1] AS w2))"
                )
            ).alias("__p")
        )
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") >= 5) & (F.col("w1") != F.col("w2")))
    )
    edges = pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst")).unionByName(
        pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(50)
        .select(F.col("node").alias("word"), dround("rank", 6).alias("rank"))
    )


# --- q190: multinomial Naive Bayes language routing --------------------------
# Trained and scored on the corpus itself; per-token log-likelihoods
# quantized to integer micro-nats BEFORE the per-(doc, class) sum so
# the scores are exact integer sums (order-insensitive) — the oracle
# replays training counts, smoothing, quantization, and the argmax.
@register(
    "q190_naive_bayes",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, lang, u.t FROM toks, unnest(w) AS u(t)
    ), wc AS (
      SELECT t, lang AS c, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    ), ct AS (
      SELECT lang AS c, CAST(count(*) AS BIGINT) AS nc FROM tok GROUP BY 1
    ), pr AS (
      SELECT lang AS c, CAST(count(*) AS BIGINT) AS dc FROM toks GROUP BY 1
    ), vn AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tok
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS ndocs FROM toks
    ), classes AS (
      SELECT ct.c, nc, dc, v, ndocs
      FROM ct JOIN pr ON ct.c = pr.c CROSS JOIN vn CROSS JOIN nd
    ), scored AS (
      SELECT tok.doc_id, cl.c,
             CAST(floor(ln((CAST(coalesce(wc.cnt, 0) AS DOUBLE) + 1.0)
                           / (CAST(cl.nc AS DOUBLE)
                              + 1.0 * CAST(cl.v AS DOUBLE)))
                        * 1e6 + 0.5) AS BIGINT) AS lp
      FROM tok
      CROSS JOIN classes cl
      LEFT JOIN wc ON wc.t = tok.t AND wc.c = cl.c
    ), per AS (
      SELECT doc_id, c, CAST(sum(lp) AS BIGINT) AS ll FROM scored GROUP BY 1, 2
    ), pm AS (
      SELECT c, CAST(floor(ln(CAST(dc AS DOUBLE) / CAST(ndocs AS DOUBLE))
                           * 1e6 + 0.5) AS BIGINT) AS pmv
      FROM classes
    ), fin AS (
      SELECT per.doc_id, per.c, ll + pmv AS score,
             row_number() OVER (PARTITION BY per.doc_id
                                ORDER BY ll + pmv DESC, per.c ASC) AS rn
      FROM per JOIN pm ON per.c = pm.c
    )
    SELECT doc_id, c AS pred_label, CAST(score AS BIGINT) AS score_micro
    FROM fin WHERE rn = 1
    """,
)
def q190_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1 multinomial NB language prediction per document
    (operators/text.py:naive_bayes_scores — vocab-bounded training
    aggregates, micro-nat integer scoring)."""
    from mimic_iv_data_pipeline_spark.operators.text import naive_bayes_scores

    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_scores(docs, "doc_id", "text", "lang", alpha=1.0)


# --- q191: RFM customer segmentation -----------------------------------------
@register(
    "q191_rfm",
    oracle=f"""
    WITH f AS (
      SELECT user_id, ts, {_CENTS} AS cents FROM events
    ), per_user AS (
      SELECT user_id AS usr, epoch_us(max(ts)) AS last_us,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT) AS monetary
      FROM f GROUP BY 1
    ), mx AS (
      SELECT epoch_us(max(ts)) AS max_us FROM f
    ), base AS (
      SELECT usr, (max_us - last_us) // 1000000 AS recency_s,
             frequency, monetary
      FROM per_user CROSS JOIN mx
    ), scored AS (
      SELECT usr, recency_s, frequency, monetary,
             CAST(ntile(5) OVER (ORDER BY recency_s DESC, usr ASC) AS BIGINT) AS r,
             CAST(ntile(5) OVER (ORDER BY frequency ASC, usr ASC) AS BIGINT) AS f,
             CAST(ntile(5) OVER (ORDER BY monetary ASC, usr ASC) AS BIGINT) AS m
      FROM base
    )
    SELECT usr AS user, recency_s, frequency, monetary, r, f, m,
           r * 100 + f * 10 + m AS rfm_cell
    FROM scored
    """,
)
def q191_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of users over the event log
    (operators/aggregates.py:rfm_scores — one fact aggregate, ntile
    windows over the |users| relation)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import rfm_scores

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return rfm_scores(ev, "user_id", "ts", "cents", n_bins=5)


# --- q192: classical seasonal decomposition ----------------------------------
# Daily revenue per event type -> trend (centered 7-day MA), weekday
# seasonal means (micro-quantized detrended), residual. Period position
# is epoch-day mod 7 (pure integer date arithmetic — dow origins
# differ between engines).
@register(
    "q192_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), wn AS (
      SELECT event_type, day, y,
             count(*) OVER w7 AS n_in_window,
             -- contiguity mirror: 7 rows AND a 6-day span (gappy
             -- series must not average non-adjacent days)
             CASE WHEN count(*) OVER w7 = 7
                   AND datediff('day', min(day) OVER w7, max(day) OVER w7) = 6
                  THEN CAST(sum(CAST(y AS DECIMAL(38,0))) OVER w7 AS DOUBLE) / 7.0
             END AS trend,
             CAST(datediff('day', DATE '1970-01-01', day) % 7 AS BIGINT)
               AS position
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day ASC
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), dt AS (
      SELECT *,
             CAST(floor((CAST(y AS DOUBLE) - trend) * 1e6 + 0.5) AS BIGINT)
               AS dt_micro
      FROM wn
    ), seas AS (
      SELECT event_type, position,
             (CAST(sum(dt_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e6
               AS seasonal
      FROM dt WHERE trend IS NOT NULL GROUP BY 1, 2
    )
    SELECT dt.event_type, strftime(dt.day, '%Y-%m-%d') AS day, dt.y,
           round(floor(dt.trend * 1e6 + 0.5) / 1e6, 6) AS trend,
           dt.position,
           round(floor((CASE WHEN dt.trend IS NOT NULL THEN seas.seasonal END)
                 * 1e6 + 0.5) / 1e6, 6) AS seasonal,
           round(floor((CAST(dt.y AS DOUBLE) - dt.trend) * 1e6 + 0.5) / 1e6, 6)
             AS detrended,
           round(floor(((CAST(dt.y AS DOUBLE) - dt.trend) - seas.seasonal)
                 * 1e6 + 0.5) / 1e6, 6) AS residual
    FROM dt LEFT JOIN seas
      ON dt.event_type = seas.event_type AND dt.position = seas.position
    """,
)
def q192_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of per-type daily
    revenue (operators/temporal.py:seasonal_decompose)."""
    from mimic_iv_data_pipeline_spark.operators.temporal import seasonal_decompose

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    out = seasonal_decompose(
        daily, "event_type", "day", "y", period=7, trend_window=7
    )
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        dround("trend", 6).alias("trend"),
        "position",
        dround("seasonal", 6).alias("seasonal"),
        dround("detrended", 6).alias("detrended"),
        dround("residual", 6).alias("residual"),
    )


# --- q193: multi-touch revenue attribution -----------------------------------
# Purchases credited to click/view touches within a 7-day lookback;
# first/last/linear models in one pass. Linear shares are exact
# integral micro-cent divisions with the remainder on the first touch,
# so every model column sums to total converted revenue (conservation
# is pinned by a test and implied by the oracle match).
@register(
    "q193_attribution",
    oracle=f"""
    WITH conv AS (
      SELECT user_id AS u, ts AS cts, {_CENTS} AS cents, event_id AS cid
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id AS tu, ts, event_type AS ch, event_id AS tid
      FROM events WHERE event_type IN ('click', 'view')
    ), cand AS (
      SELECT conv.*, touch.ts AS tts, touch.ch, touch.tid
      FROM conv LEFT JOIN touch
        ON conv.u = touch.tu
       AND touch.ts <= conv.cts
       AND epoch_us(touch.ts) > epoch_us(conv.cts) - 604800000000
    ), marked AS (
      SELECT u, cid, cents,
             coalesce(ch, '(unattributed)') AS channel,
             count(tts) OVER (PARTITION BY u, cid) AS nt,
             row_number() OVER (PARTITION BY u, cid
                                ORDER BY tts ASC NULLS LAST, tid ASC) AS rf,
             row_number() OVER (PARTITION BY u, cid
                                ORDER BY tts DESC NULLS LAST, tid DESC) AS rl
      FROM cand
    ), shares AS (
      SELECT channel,
             CASE WHEN rf = 1 THEN 1 ELSE 0 END AS isf,
             CASE WHEN rl = 1 THEN 1 ELSE 0 END AS isl,
             CASE WHEN rf = 1 THEN cents * 1000000 ELSE 0 END AS fm,
             CASE WHEN rl = 1 THEN cents * 1000000 ELSE 0 END AS lm,
             CASE WHEN nt > 0
                  THEN (cents * 1000000) // nt
                       + CASE WHEN rf = 1 THEN (cents * 1000000) % nt
                              ELSE 0 END
                  ELSE cents * 1000000 END AS lin
      FROM marked
    )
    SELECT channel,
           CAST(sum(isf) AS BIGINT) AS n_first,
           CAST(sum(isl) AS BIGINT) AS n_last,
           CAST(sum(fm) AS BIGINT) AS first_micro,
           CAST(sum(lm) AS BIGINT) AS last_micro,
           CAST(sum(lin) AS BIGINT) AS linear_micro
    FROM shares GROUP BY channel
    """,
)
def q193_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear-touch revenue attribution of purchases to
    click/view touchpoints in a 7-day lookback
    (operators/windows.py:attribute_revenue — per-user range join +
    one window + one aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.windows import attribute_revenue

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_id",
    )
    return attribute_revenue(
        ev,
        "user_id",
        "ts",
        "event_type",
        "cents",
        conversion_type="purchase",
        channel_types=["click", "view"],
        lookback_seconds=604800,
        tie_break="event_id",
    )


# --- q194: decision-stump information-gain scan ------------------------------
@register(
    "q194_best_split",
    oracle="""
    WITH f AS (
      SELECT l_quantity AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ), per AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p
      FROM f GROUP BY x
    ), cum AS (
      SELECT v,
             CAST(sum(n) OVER w AS BIGINT) AS n_left,
             CAST(sum(p) OVER w AS BIGINT) AS pos_left
      FROM per
      WINDOW w AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(p) AS BIGINT) AS pt
      FROM per
    ), e AS (
      SELECT v, n_left, pos_left, nt - n_left AS n_right,
             pt - pos_left AS pos_right, nt, pt
      FROM cum CROSS JOIN tot WHERE n_left < nt
    ), h AS (
      SELECT *,
             (CASE WHEN pt > 0 THEN -(CAST(pt AS DOUBLE)/CAST(nt AS DOUBLE))
                   * ln(CAST(pt AS DOUBLE)/CAST(nt AS DOUBLE)) ELSE 0.0 END
              + CASE WHEN nt - pt > 0
                     THEN -((CAST(nt AS DOUBLE)-CAST(pt AS DOUBLE))/CAST(nt AS DOUBLE))
                          * ln((CAST(nt AS DOUBLE)-CAST(pt AS DOUBLE))/CAST(nt AS DOUBLE))
                     ELSE 0.0 END) AS hp,
             (CASE WHEN pos_left > 0
                   THEN -(CAST(pos_left AS DOUBLE)/CAST(n_left AS DOUBLE))
                        * ln(CAST(pos_left AS DOUBLE)/CAST(n_left AS DOUBLE)) ELSE 0.0 END
              + CASE WHEN n_left - pos_left > 0
                     THEN -((CAST(n_left AS DOUBLE)-CAST(pos_left AS DOUBLE))/CAST(n_left AS DOUBLE))
                          * ln((CAST(n_left AS DOUBLE)-CAST(pos_left AS DOUBLE))/CAST(n_left AS DOUBLE))
                     ELSE 0.0 END) AS hl,
             (CASE WHEN pt - pos_left > 0
                   THEN -((CAST(pt AS DOUBLE)-CAST(pos_left AS DOUBLE))/(CAST(nt AS DOUBLE)-CAST(n_left AS DOUBLE)))
                        * ln((CAST(pt AS DOUBLE)-CAST(pos_left AS DOUBLE))/(CAST(nt AS DOUBLE)-CAST(n_left AS DOUBLE))) ELSE 0.0 END
              + CASE WHEN (nt - pt) - (n_left - pos_left) > 0
                     THEN -(((CAST(nt AS DOUBLE)-CAST(pt AS DOUBLE))-(CAST(n_left AS DOUBLE)-CAST(pos_left AS DOUBLE)))/(CAST(nt AS DOUBLE)-CAST(n_left AS DOUBLE)))
                          * ln(((CAST(nt AS DOUBLE)-CAST(pt AS DOUBLE))-(CAST(n_left AS DOUBLE)-CAST(pos_left AS DOUBLE)))/(CAST(nt AS DOUBLE)-CAST(n_left AS DOUBLE)))
                     ELSE 0.0 END) AS hr
      FROM e
    )
    SELECT CAST(v AS BIGINT) AS v, n_left, pos_left, n_right, pos_right,
           round(floor((hp - (CAST(n_left AS DOUBLE)/CAST(nt AS DOUBLE) * hl
                              + (CAST(nt AS DOUBLE)-CAST(n_left AS DOUBLE))/CAST(nt AS DOUBLE) * hr))
                 * 1e6 + 0.5) / 1e6, 6) AS ig
    FROM h
    """,
)
def q194_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of every l_quantity split point against the
    'R' return flag (operators/mlprep.py:best_split — one value
    collapse + distinct-values window)."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import best_split

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity",
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    out = best_split(li, "l_quantity", "y")
    return out.select(
        F.col("v").cast("long").alias("v"),
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        dround("ig", 6).alias("ig"),
    )


# --- q195: weight-of-evidence / information value -----------------------------
@register(
    "q195_woe_iv",
    oracle="""
    WITH f AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM orders
    ), per AS (
      SELECT cat, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM f GROUP BY cat
    ), tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
             CAST(sum(n_neg) AS BIGINT) AS nt
      FROM per
    ), e AS (
      SELECT cat, n_pos, n_neg,
             (CAST(n_pos AS DOUBLE) + 0.5) / (CAST(pt AS DOUBLE) + 1.0) AS ps,
             (CAST(n_neg AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 1.0) AS ns
      FROM per CROSS JOIN tot
    )
    SELECT cat, n_pos, n_neg,
           round(floor(ln(ps / ns) * 1e6 + 0.5) / 1e6, 6) AS woe,
           round(floor((ps - ns) * ln(ps / ns) * 1e6 + 0.5) / 1e6, 6) AS iv_term
    FROM e
    """,
)
def q195_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order priority against a
    deterministic customer-segment label
    (operators/mlprep.py:woe_iv — one conditional aggregate + 1-row
    broadcast)."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import woe_iv

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_custkey") % 3 == 0).cast("int").alias("y"),
    )
    out = woe_iv(od, "o_orderpriority", "y", smoothing=0.5)
    return out.select(
        "cat",
        "n_pos",
        "n_neg",
        dround("woe", 6).alias("woe"),
        dround("iv_term", 6).alias("iv_term"),
    )


# --- q196: isotonic calibration map (PAV via the minimax identity) ----------
# Score = floor(value) (~100 bins), label deterministically correlated
# with the score so the fit is a non-trivial increasing staircase. The
# oracle replays the minimax windows verbatim — PAV itself is not
# plain SQL, max_{k<=i} min_{j>=i} avg(k..j) is.
@register(
    "q196_isotonic",
    oracle="""
    WITH f AS (
      SELECT CAST(floor(value) AS BIGINT) AS s,
             CASE WHEN event_id % 100 < floor(value) THEN 1 ELSE 0 END AS y
      FROM events
    ), bins AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM f GROUP BY s
    ), cum AS (
      SELECT s, n, pos, row_number() OVER (ORDER BY s ASC) AS i,
             sum(n) OVER wo AS cn, sum(pos) OVER wo AS cp
      FROM bins
      WINDOW wo AS (ORDER BY s ASC ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
    ), lo AS (
      SELECT i AS k, cn - n AS cnb, cp - pos AS cpb FROM cum
    ), hi AS (
      SELECT i AS j, cn AS cnj, cp AS cpj FROM cum
    ), pairs AS (
      SELECT k, j, CAST(cpj - cpb AS DOUBLE) / CAST(cnj - cnb AS DOUBLE) AS avg
      FROM lo JOIN hi ON k <= j
    ), m AS (
      SELECT k, j AS i,
             min(avg) OVER (PARTITION BY k ORDER BY j DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS m
      FROM pairs
    ), iso AS (
      SELECT i, max(m) AS iso FROM m GROUP BY i
    )
    SELECT cum.s, cum.n, cum.pos,
           round(floor(CAST(cum.pos AS DOUBLE) / CAST(cum.n AS DOUBLE)
                 * 1e6 + 0.5) / 1e6, 6) AS rate,
           round(floor(iso.iso * 1e6 + 0.5) / 1e6, 6) AS iso
    FROM cum JOIN iso ON cum.i = iso.i
    """,
)
def q196_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration map over ~100 score bins
    (operators/aggregates.py:isotonic_calibration — one collapse, B²
    pair relation, two windows)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        isotonic_calibration,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("s"),
        F.when(F.col("event_id") % 100 < F.floor("value"), 1)
        .otherwise(0)
        .alias("y"),
    )
    out = isotonic_calibration(ev, "s", "y")
    return out.select(
        "s", "n", "pos", dround("rate", 6).alias("rate"), dround("iso", 6).alias("iso")
    )


# --- q197: SMD covariate balance ---------------------------------------------
@register(
    "q197_smd_balance",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
             {_CENTS} AS cents, CAST(hour(ts) AS BIGINT) AS hr
      FROM events
    ), per AS (
      -- per-covariate NON-NULL counts (pairwise-complete, matching the
      -- operator's r11 null convention), not a shared count(*)
      SELECT g, CAST(count(cents) AS BIGINT) AS n_c,
             CAST(count(hr) AS BIGINT) AS n_h,
             sum(CAST(cents AS DECIMAL(38,0))) AS s_c,
             sum(CAST(cents AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))
               AS ss_c,
             sum(CAST(hr AS DECIMAL(38,0))) AS s_h,
             sum(CAST(hr AS DECIMAL(18,0)) * CAST(hr AS DECIMAL(18,0))) AS ss_h
      FROM f GROUP BY g
    ), a AS (SELECT * FROM per WHERE g = 'even'),
    b AS (SELECT * FROM per WHERE g = 'odd'),
    wide AS (
      SELECT 'cents' AS covariate,
             a.n_c AS na, b.n_c AS nb, a.s_c AS sa, a.ss_c AS ssa,
             b.s_c AS sb, b.ss_c AS ssb
      FROM a CROSS JOIN b
      UNION ALL
      SELECT 'hr', a.n_h, b.n_h, a.s_h, a.ss_h, b.s_h, b.ss_h
      FROM a CROSS JOIN b
    ), e AS (
      SELECT covariate,
             CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
             CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
             CAST(CAST(na AS DECIMAL(38,0)) * ssa - sa * sa AS DOUBLE)
               / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS var_a,
             CAST(CAST(nb AS DECIMAL(38,0)) * ssb - sb * sb AS DOUBLE)
               / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS var_b
      FROM wide
    )
    SELECT covariate,
           round(floor(mean_a * 1e6 + 0.5) / 1e6, 6) AS mean_a,
           round(floor(mean_b * 1e6 + 0.5) / 1e6, 6) AS mean_b,
           round(floor(var_a * 1e6 + 0.5) / 1e6, 6) AS var_a,
           round(floor(var_b * 1e6 + 0.5) / 1e6, 6) AS var_b,
           round(floor((CASE WHEN (var_a + var_b) / 2.0 > 0
                  THEN (mean_a - mean_b) / sqrt((var_a + var_b) / 2.0) END)
                 * 1e6 + 0.5) / 1e6, 6) AS smd
    FROM e
    """,
)
def q197_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean differences (cents, hour-of-day) between
    even/odd-id user cohorts (operators/aggregates.py:smd_balance —
    one multi-covariate exact-sum aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import smd_balance

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.hour("ts").cast("long").alias("hr"),
    )
    out = smd_balance(ev, "g", ["cents", "hr"])
    return out.select(
        "covariate",
        dround("mean_a", 6).alias("mean_a"),
        dround("mean_b", 6).alias("mean_b"),
        dround("var_a", 6).alias("var_a"),
        dround("var_b", 6).alias("var_b"),
        dround("smd", 6).alias("smd"),
    )


# --- q198: 2x2 cohort effect measures ----------------------------------------
@register(
    "q198_epi_2x2",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS e,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
      FROM lineitem
    ), t AS (
      SELECT CAST(sum(e * o) AS BIGINT) AS a,
             CAST(sum(e * (1 - o)) AS BIGINT) AS b,
             CAST(sum((1 - e) * o) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d
      FROM f
    ), e2 AS (
      SELECT a, b, c, d,
             CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) AS r1,
             CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS r0,
             CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
             CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd
      FROM t
    ), m AS (
      SELECT *,
             CASE WHEN a > 0 AND c > 0 THEN r1 / r0 END AS rr,
             sqrt(1.0/ad - 1.0/(ad + bd) + 1.0/cd - 1.0/(cd + dd)) AS se_rr,
             CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                  THEN (ad * dd) / (bd * cd) END AS orr,
             sqrt(1.0/ad + 1.0/bd + 1.0/cd + 1.0/dd) AS se_or
      FROM e2
    )
    SELECT a, b, c, d,
           round(floor(rr * 1e6 + 0.5) / 1e6, 6) AS rr,
           round(floor((CASE WHEN rr IS NOT NULL
                  THEN exp(ln(rr) - 1.959963984540054 * se_rr) END)
                 * 1e6 + 0.5) / 1e6, 6) AS rr_lo,
           round(floor((CASE WHEN rr IS NOT NULL
                  THEN exp(ln(rr) + 1.959963984540054 * se_rr) END)
                 * 1e6 + 0.5) / 1e6, 6) AS rr_hi,
           round(floor(orr * 1e6 + 0.5) / 1e6, 6) AS or_,
           round(floor((CASE WHEN orr IS NOT NULL
                  THEN exp(ln(orr) - 1.959963984540054 * se_or) END)
                 * 1e6 + 0.5) / 1e6, 6) AS or_lo,
           round(floor((CASE WHEN orr IS NOT NULL
                  THEN exp(ln(orr) + 1.959963984540054 * se_or) END)
                 * 1e6 + 0.5) / 1e6, 6) AS or_hi,
           round(floor((r1 - r0) * 1e6 + 0.5) / 1e6, 6) AS rd
    FROM m
    """,
)
def q198_epi_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk ratio / odds ratio / risk difference with Wald CIs for
    discounted-vs-not lineitems against the 'R' return outcome
    (operators/aggregates.py:epi_2x2 — one conditional aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import epi_2x2

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") > 0.05).cast("int").alias("e"),
        (F.col("l_returnflag") == "R").cast("int").alias("o"),
    )
    out = epi_2x2(li, "e", "o")
    return out.select(
        "a",
        "b",
        "c",
        "d",
        dround("rr", 6).alias("rr"),
        dround("rr_lo", 6).alias("rr_lo"),
        dround("rr_hi", 6).alias("rr_hi"),
        dround("or_", 6).alias("or_"),
        dround("or_lo", 6).alias("or_lo"),
        dround("or_hi", 6).alias("or_hi"),
        dround("rd", 6).alias("rd"),
    )


# --- q199: one-step forecast backtest (Holt vs seasonal naive) ----------------
# The q187 recursive CTE reused verbatim for the model trace; sMAPE and
# MASE from micro-quantized per-row terms so both engines sum exact
# integers. Evaluation rows: both the model forecast (lag 1 of the
# holt forecast) and the 7-step naive reference exist.
@register(
    "q199_forecast_backtest",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), ordered AS (
      SELECT event_type, day, CAST(y AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ), rec AS (
      SELECT event_type, day, rn, x, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.day, o.rn, o.x,
             0.5 * o.x + 0.5 * (r.l + r.b) AS l,
             0.25 * ((0.5 * o.x + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b
      FROM ordered o JOIN rec r
        ON o.event_type = r.event_type AND o.rn = r.rn + 1
    ), stepped AS (
      SELECT event_type, x AS a,
             lag(l + b, 1) OVER w AS f,
             lag(x, 7) OVER w AS nv
      FROM rec
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), terms AS (
      SELECT event_type,
             CAST(floor(abs(f - a) * 1e6 + 0.5) AS BIGINT) AS em,
             CAST(floor(abs(nv - a) * 1e6 + 0.5) AS BIGINT) AS en,
             -- 0/0 term is 0 by the sMAPE convention (operator mirror)
             CAST(floor(CASE WHEN abs(f) + abs(a) > 0
                    THEN 2.0 * abs(f - a) / (abs(f) + abs(a))
                    ELSE 0.0 END * 1e6 + 0.5)
                  AS BIGINT) AS st
      FROM stepped WHERE f IS NOT NULL AND nv IS NOT NULL
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
             CAST(sum(em) AS BIGINT) AS model_abs_err_micro,
             CAST(sum(en) AS BIGINT) AS naive_abs_err_micro,
             CAST(sum(st) AS BIGINT) AS ssum
      FROM terms GROUP BY event_type
    )
    SELECT event_type, n_evals, model_abs_err_micro, naive_abs_err_micro,
           round(floor(CAST(ssum AS DOUBLE) / CAST(n_evals AS DOUBLE) / 1e6
                 * 1e6 + 0.5) / 1e6, 6) AS smape,
           round(floor((CASE WHEN naive_abs_err_micro > 0
                  THEN CAST(model_abs_err_micro AS DOUBLE)
                       / CAST(naive_abs_err_micro AS DOUBLE) END)
                 * 1e6 + 0.5) / 1e6, 6) AS mase
    FROM agg
    """,
)
def q199_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt one-step-ahead accuracy vs the 7-day seasonal naive on
    per-type daily revenue (operators/windows.py:forecast_backtest)."""
    from mimic_iv_data_pipeline_spark.operators.windows import forecast_backtest

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    out = forecast_backtest(
        daily, "event_type", "day", "y", alpha=0.5, beta=0.25, season=7
    )
    return out.select(
        "event_type",
        "n_evals",
        "model_abs_err_micro",
        "naive_abs_err_micro",
        dround("smape", 6).alias("smape"),
        dround("mase", 6).alias("mase"),
    )


# --- q200: bounded-length weighted shortest paths -----------------------------
# Bellman-Ford, 3 relaxation rounds from node 0 over the weighted
# 200-node contraction (weight = min quantity per arc) — exact integer
# distances; the oracle unrolls each relaxation as a min-merge CTE.
@register(
    "q200_shortest_paths",
    oracle="""
    WITH e AS (
      SELECT l_suppkey % 200 AS src, l_partkey % 200 AS dst,
             CAST(min(l_quantity) AS BIGINT) AS w
      FROM lineitem
      WHERE l_suppkey % 200 != l_partkey % 200
      GROUP BY 1, 2
    ), d0 AS (
      SELECT 0 AS node, CAST(0 AS BIGINT) AS dist
    ), r1 AS (
      SELECT e.dst AS node, min(d0.dist + e.w) AS dist
      FROM e JOIN d0 ON e.src = d0.node GROUP BY e.dst
    ), d1 AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT * FROM d0 UNION ALL SELECT * FROM r1
      ) GROUP BY node
    ), r2 AS (
      SELECT e.dst AS node, min(d1.dist + e.w) AS dist
      FROM e JOIN d1 ON e.src = d1.node GROUP BY e.dst
    ), d2 AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT * FROM d1 UNION ALL SELECT * FROM r2
      ) GROUP BY node
    ), r3 AS (
      SELECT e.dst AS node, min(d2.dist + e.w) AS dist
      FROM e JOIN d2 ON e.src = d2.node GROUP BY e.dst
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
      SELECT * FROM d2 UNION ALL SELECT * FROM r3
    ) GROUP BY node
    """,
)
def q200_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Bellman-Ford distances from node 0 over the weighted
    lineitem contraction (operators/graph.py:shortest_paths — one
    edge⨝distance join + two min-aggregates per round)."""
    from mimic_iv_data_pipeline_spark.operators.graph import shortest_paths

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.filter(
        (F.col("l_suppkey") % 200) != (F.col("l_partkey") % 200)
    ).select(
        (F.col("l_suppkey") % 200).alias("src"),
        (F.col("l_partkey") % 200).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    seeds = li.sparkSession.createDataFrame([(0,)], "node long")
    out = shortest_paths(edges, seeds, iterations=3)
    return out.select(F.col("node").cast("long").alias("node"), "dist")


# --- q201: Benford first-digit screen ----------------------------------------
@register(
    "q201_benford",
    oracle="""
    WITH pos AS (
      SELECT o_orderpriority AS grp, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    ), per AS (
      SELECT grp,
             CAST(floor(v / pow(10.0, floor(log10(v)))) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS n_digit
      FROM pos GROUP BY 1, 2
    ), tot AS (
      SELECT *, CAST(sum(n_digit) OVER (PARTITION BY grp) AS BIGINT) AS n
      FROM per
    ), scored AS (
      SELECT grp, digit, n_digit, n,
             CAST(n_digit AS DOUBLE) / CAST(n AS DOUBLE) AS observed,
             log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected
      FROM tot
    ), terms AS (
      SELECT *,
             CAST(floor((observed - expected) * (observed - expected)
                        / expected * 1e9 + 0.5) AS BIGINT) AS tm
      FROM scored
    )
    SELECT grp, digit, n_digit, n,
           round(floor(observed * 1e6 + 0.5) / 1e6, 6) AS observed,
           round(floor(expected * 1e6 + 0.5) / 1e6, 6) AS expected,
           round(floor(CAST(n AS DOUBLE)
                 * (CAST(sum(tm) OVER (PARTITION BY grp) AS DOUBLE) / 1e9)
                 * 1e6 + 0.5) / 1e6, 6) AS chi2
    FROM terms
    """,
)
def q201_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution + chi² per order priority
    (operators/profiling.py:benford_digit_test — one conditional
    aggregate, arithmetic digit extraction)."""
    from mimic_iv_data_pipeline_spark.operators.profiling import benford_digit_test

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    )
    out = benford_digit_test(od, "v", group_by="grp")
    return out.select(
        "grp",
        "digit",
        "n_digit",
        "n",
        dround("observed", 6).alias("observed"),
        dround("expected", 6).alias("expected"),
        dround("chi2", 6).alias("chi2"),
    )


# --- q202: time-decay recency features ----------------------------------------
# Half-lives 1 and 7 days over the event log; the snapshot is the
# corpus max ts (reproducible), terms micro-quantized so each feature
# is an exact integer sum.
@register(
    "q202_time_decay",
    oracle=f"""
    WITH f AS (
      SELECT user_id, ts, {_CENTS} AS cents FROM events
    ), snap AS (
      SELECT epoch_us(max(ts)) AS snap_us FROM f
    ), t AS (
      SELECT user_id,
             CAST(snap_us - epoch_us(ts) AS DOUBLE) / (86400.0 * 1000000) AS dtd,
             cents
      FROM f CROSS JOIN snap
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(cents AS DOUBLE) * pow(0.5, dtd / 1.0)
                               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS decayed_1_0,
           CAST(sum(CAST(floor(CAST(cents AS DOUBLE) * pow(0.5, dtd / 7.0)
                               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS decayed_7_0
    FROM t GROUP BY user_id
    """,
)
def q202_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed spend features (1d, 7d) per user at the
    corpus snapshot (operators/mlprep.py:time_decay_features — one
    keyed aggregate for all half-lives)."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import time_decay_features

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return time_decay_features(ev, "user_id", "ts", "cents", [1.0, 7.0])


# --- q203: grid-bucketed geo radius join --------------------------------------
# Deterministic synthetic coordinates on a ~100x100 city grid
# (111m x 68m cells); radius 200 m. The oracle is BRUTE-FORCE ground
# truth (banded all-pairs + exact haversine) — deliberately NOT a
# replay of the grid bucketing, so a green row proves the bucketing is
# lossless, not merely self-consistent. The band predicates are a
# coarse bounding box that provably covers 200 m on this fixture
# (lat diff 200/111194.9 = 0.0018°, lon diff at |lat|≤52.1° ≤ 0.0030°;
# bands 0.0025/0.0040 leave wide margin) and keep DuckDB's join off
# the full cross product at sf0.1.
@register(
    "q203_radius_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             52.0 + CAST(c_custkey % 100 AS DOUBLE) / 1000.0 AS lat,
             13.0 + CAST((c_custkey // 100) % 100 AS DOUBLE) / 1000.0 AS lon
      FROM customer
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             2.0 * 6371000.0 * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2)
                 * sin(radians(b.lon - a.lon) / 2)
             )) AS dist_m
      FROM pts a JOIN pts b
        ON a.id < b.id
       AND abs(a.lat - b.lat) <= 0.0025
       AND abs(a.lon - b.lon) <= 0.0040
    )
    SELECT id_a, id_b, round(floor(dist_m * 1e6 + 0.5) / 1e6, 6) AS dist_m
    FROM cand WHERE dist_m <= 200.0
    """,
)
def q203_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 200 m on the synthetic city grid
    (operators/geo.py:radius_join — grid bucket + 3×3 neighbor
    equi-join + exact haversine, no cross join)."""
    from mimic_iv_data_pipeline_spark.operators.geo import radius_join

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (52.0 + (F.col("c_custkey") % 100).cast("double") / 1000.0).alias("lat"),
        (
            13.0
            + (F.expr("c_custkey div 100") % 100).cast("double") / 1000.0
        ).alias("lon"),
    )
    out = radius_join(cust, "id", "lat", "lon", radius_m=200.0)
    return out.select("id_a", "id_b", dround("dist_m", 6).alias("dist_m"))


# --- q204: golden-record MDM capstone -----------------------------------------
# Fuzzy dedupe (edit distance <= 1 within the nation block) -> connected
# components -> survivorship, hash-verified end to end: DuckDB has
# levenshtein, and the cluster closure reuses the q88 recursive-CTE
# pattern. The Spark side composes edit_distance_join (deletion
# neighborhoods, q92's operator) + connected_components + one keyed
# window — no all-pairs anywhere.
@register(
    "q204_golden_records",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS blk,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS val
      FROM customer
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM base a JOIN base b
        ON a.blk = b.blk AND a.id < b.id
       AND levenshtein(a.name, b.name) <= 1
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk(id, reach) AS (
      SELECT id, id FROM base
      UNION
      SELECT e.v, w.reach FROM walk w JOIN edges e ON w.id = e.u
    ), comp AS (
      SELECT id, CAST(min(reach) AS BIGINT) AS cluster_id FROM walk GROUP BY 1
    ), labeled AS (
      SELECT base.*, comp.cluster_id FROM base JOIN comp USING (id)
    ), rn AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY id) AS rn
      FROM labeled
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           max(CASE WHEN rn = 1 THEN name END) AS survivor_name,
           CAST(max(val) AS BIGINT) AS max_value,
           CAST(count(DISTINCT name) AS BIGINT) AS n_distinct_names
    FROM rn GROUP BY cluster_id
    """,
)
def q204_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden customer records: fuzzy-name clusters within nations,
    min-id survivorship (plans/mdm.py:golden_records)."""
    from mimic_iv_data_pipeline_spark.plans.mdm import golden_records

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
    )
    out = golden_records(
        cust, "c_custkey", "c_name", "c_nationkey", "bal", max_dist=1
    )
    return out.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "n_members",
        "survivor_name",
        F.col("max_value").cast("long").alias("max_value"),
        "n_distinct_names",
    )


# --- q205: revenue concentration (Gini / HHI / top-decile) --------------------
@register(
    "q205_concentration",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS k,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT v,
             row_number() OVER (ORDER BY v ASC, k ASC) AS i,
             row_number() OVER (ORDER BY v DESC, k ASC) AS rd,
             count(*) OVER () AS n,
             sum(v) OVER () AS tot
      FROM per
    ), agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n_keys,
             CAST(max(tot) AS BIGINT) AS total,
             sum(CAST(i AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS iv,
             CAST(sum(CASE WHEN rd <= ceil(n / 10.0) THEN v ELSE 0 END)
                  AS BIGINT) AS top,
             CAST(sum(CAST(floor((CAST(v AS DOUBLE) / CAST(tot AS DOUBLE))
                                 * (CAST(v AS DOUBLE) / CAST(tot AS DOUBLE))
                                 * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
               AS hhi_pico
      FROM ranked
    )
    SELECT n_keys, total,
           round(floor(((2.0 * CAST(iv AS DOUBLE))
                        / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE))
                        - (CAST(n_keys AS DOUBLE) + 1.0)
                          / CAST(n_keys AS DOUBLE))
                 * 1e6 + 0.5) / 1e6, 6) AS gini,
           round(floor((CAST(hhi_pico AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6, 6)
             AS hhi,
           round(floor((CAST(top AS DOUBLE) / CAST(total AS DOUBLE))
                 * 1e6 + 0.5) / 1e6, 6) AS top_decile_share
    FROM agg
    """,
)
def q205_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration: Gini, HHI, top-decile share
    (operators/aggregates.py:concentration_metrics — one keyed
    aggregate + windows over the |customers| relation)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        concentration_metrics,
    )

    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = concentration_metrics(od, "o_custkey", "cents")
    return out.select(
        "n_keys",
        "total",
        dround("gini", 6).alias("gini"),
        dround("hhi", 6).alias("hhi"),
        dround("top_decile_share", 6).alias("top_decile_share"),
    )


# --- q206: Weibull fit from the KM curve --------------------------------------
# Reliability-engineering composition: the q162 Kaplan-Meier survival
# curve, probability-plot-linearized (ln(-ln S) on ln t — public:
# Weibull plotting, Nelson 1982) and fit with q177's exact-sum OLS;
# shape = slope, scale = exp(-intercept/shape). ln values are
# micro-quantized to longs so the regression inputs satisfy
# grouped_linreg's integer contract; the oracle replays the whole
# chain (q162's KM CTEs + the q177 linreg tail, shape/scale assembled
# from the same formulas).
@register(
    "q206_weibull_fit",
    oracle="""
    WITH ship AS (
      SELECT l_orderkey, min(l_shipdate) AS s FROM lineitem GROUP BY 1
    ), base AS (
      SELECT o_orderpriority AS grp,
             date_diff('day', o_orderdate, s) AS t,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS e
      FROM orders JOIN ship ON l_orderkey = o_orderkey
    ), a AS (
      SELECT grp, t, sum(e) AS d, count(*) * 1.0 AS c FROM base GROUP BY 1, 2
    ), r AS (
      SELECT grp, t, d, c,
             sum(c) OVER (PARTITION BY grp)
               - coalesce(sum(c) OVER (PARTITION BY grp ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM a
    ), sv AS (
      SELECT grp, t, d,
             exp(sum(CASE WHEN 1 - d / n_risk > 0
                          THEN ln(1 - d / n_risk)
                          ELSE CAST('-infinity' AS DOUBLE) END)
                 OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS surv
      FROM r
    ), f AS (
      SELECT grp,
             CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(-ln(surv)) * 1e6 + 0.5) AS BIGINT) AS y
      FROM sv WHERE d > 0 AND t > 0 AND surv > 0 AND surv < 1
    ), st AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
      FROM f GROUP BY grp
    ), e AS (
      SELECT grp, n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
             CAST(n AS DOUBLE) AS nD, CAST(sx AS DOUBLE) AS sxD,
             CAST(sy AS DOUBLE) AS syD
      FROM st
    ), fit AS (
      SELECT grp AS o_orderpriority, n,
             CASE WHEN vx <> 0 THEN cov / vx END AS shape,
             CASE WHEN vx <> 0 THEN (syD - (cov / vx) * sxD) / nD END AS b
      FROM e
    )
    SELECT o_orderpriority, n,
           round(floor(shape * 1e6 + 0.5) / 1e6, 6) AS shape,
           round(floor((CASE WHEN shape IS NOT NULL AND shape <> 0
                  THEN exp(-b / (1e6 * shape)) END) * 1e6 + 0.5) / 1e6, 6)
             AS scale_days
    FROM fit
    """,
)
def q206_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale per order priority from the KM survival
    curve via the probability-plot linearization
    (aggregates.kaplan_meier -> grouped_linreg composition)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        grouped_linreg,
        kaplan_meier,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("s"))
    base = orders.join(ship, orders["o_orderkey"] == ship["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.col("s"), F.col("o_orderdate")).alias("dur"),
        (F.col("o_orderstatus") == "F").cast("int").alias("event"),
    )
    km = kaplan_meier(base, "dur", "event", "o_orderpriority")
    pts = km.filter(
        (F.col("t") > 0) & (F.col("survival") > 0) & (F.col("survival") < 1)
    ).select(
        "o_orderpriority",
        F.floor(F.log(F.col("t").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(-F.log("survival")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    fit = grouped_linreg(pts, "o_orderpriority", "x", "y")
    shape = F.col("slope")
    return fit.select(
        "o_orderpriority",
        "n",
        dround(shape, 6).alias("shape"),
        dround(
            F.when(
                shape.isNotNull() & (shape != 0),
                F.exp(-F.col("intercept") / (F.lit(1e6) * shape)),
            ),
            6,
        ).alias("scale_days"),
    )


# --- q207: bounded-radius geo k-nearest neighbors -----------------------------
# Same synthetic city grid as q203; k=3 within 250 m. The oracle is
# brute-force banded ground truth in BOTH directions + row_number —
# green proves the grid candidates are lossless AND the rank order
# (dist, neighbor) is bitwise engine-portable (fixed-IEEE haversine).
# Bands: 250 m ≤ 0.00225° lat / ≤ 0.00367° lon at |lat| ≤ 52.1°;
# 0.0030/0.0048 leave wide margin.
@register(
    "q207_geo_knn",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             52.0 + CAST(c_custkey % 100 AS DOUBLE) / 1000.0 AS lat,
             13.0 + CAST((c_custkey // 100) % 100 AS DOUBLE) / 1000.0 AS lon
      FROM customer
    ), cand AS (
      SELECT a.id AS id, b.id AS neighbor_id,
             2.0 * 6371000.0 * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2)
                 * sin(radians(b.lon - a.lon) / 2)
             )) AS dist_m
      FROM pts a JOIN pts b
        ON a.id <> b.id
       AND abs(a.lat - b.lat) <= 0.0030
       AND abs(a.lon - b.lon) <= 0.0048
    ), ranked AS (
      SELECT id, neighbor_id, dist_m,
             row_number() OVER (
               PARTITION BY id ORDER BY dist_m ASC, neighbor_id ASC) AS rnk
      FROM cand WHERE dist_m <= 250.0
    )
    SELECT id, neighbor_id,
           round(floor(dist_m * 1e6 + 0.5) / 1e6, 6) AS dist_m,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 3
    """,
)
def q207_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 nearest customers within 250 m on the synthetic city grid
    (operators/geo.py:geo_knn — radius-join candidates mirrored to
    both directions + one keyed rank window)."""
    from mimic_iv_data_pipeline_spark.operators.geo import geo_knn

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (52.0 + (F.col("c_custkey") % 100).cast("double") / 1000.0).alias("lat"),
        (
            13.0
            + (F.expr("c_custkey div 100") % 100).cast("double") / 1000.0
        ).alias("lon"),
    )
    out = geo_knn(cust, "id", "lat", "lon", k=3, max_radius_m=250.0)
    return out.select(
        "id",
        "neighbor_id",
        dround("dist_m", 6).alias("dist_m"),
        F.col("rank").cast("long").alias("rank"),
    )


# --- q208: Welch's t for every event-type pair --------------------------------
# The parametric two-sample test beside Mann-Whitney (q181): exact
# integer (n, S, SS) per group, every emitted double a fixed IEEE
# sequence over them — the oracle mirrors the op order exactly.
@register(
    "q208_welch_ttest",
    oracle=f"""
    WITH per AS (
      SELECT event_type AS g,
             CAST(count(*) AS BIGINT) AS n,
             sum({_CENTS}) AS s,
             sum({_CENTS} * {_CENTS}) AS ss
      FROM events GROUP BY 1
    ), pairs AS (
      SELECT a.g AS group_a, b.g AS group_b,
             a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
             CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
             CASE WHEN a.n > 1 THEN CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
               / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0)) END AS va,
             CASE WHEN b.n > 1 THEN CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
               / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0)) END AS vb
      FROM per a JOIN per b ON a.g < b.g
    ), t AS (
      SELECT *,
             va / CAST(n_a AS DOUBLE) AS vea,
             vb / CAST(n_b AS DOUBLE) AS veb
      FROM pairs
    )
    SELECT group_a, group_b, n_a, n_b,
           round(floor(ma * 1e6 + 0.5) / 1e6, 6) AS mean_a,
           round(floor(mb * 1e6 + 0.5) / 1e6, 6) AS mean_b,
           round(floor(CASE WHEN vea + veb > 0
             THEN (ma - mb) / sqrt(vea + veb) END * 1e6 + 0.5) / 1e6, 6) AS t,
           round(floor(CASE WHEN vea + veb > 0
             THEN ((vea + veb) * (vea + veb))
               / (vea * vea / (CAST(n_a AS DOUBLE) - 1.0)
                  + veb * veb / (CAST(n_b AS DOUBLE) - 1.0)) END
             * 1e6 + 0.5) / 1e6, 6) AS dof
    FROM t
    """,
)
def q208_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t / Welch–Satterthwaite dof for every pair of event
    types over integer-cent values
    (operators/aggregates.py:welch_t_pairs — one hash aggregate to a
    |groups|-row relation, broadcast pair join)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import welch_t_pairs

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = welch_t_pairs(ev, "event_type", "cents")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        dround("mean_a", 6).alias("mean_a"),
        dround("mean_b", 6).alias("mean_b"),
        dround("t", 6).alias("t"),
        dround("dof", 6).alias("dof"),
    )


# --- q210: spatial density clusters -------------------------------------------
# Single-linkage closure of the 100 m relation over ~300 dense blobs
# (blob members 0.11 m apart, blobs >= 680 m apart → every blob is one
# complete-graph cluster, isolated keys are singletons). Oracle =
# banded brute-force pairs + the q88/q204 recursive-CTE closure —
# ground truth, not a replay; the blob geometry keeps the closure's
# diameter at 1 so the CTE converges in one round at every SF (a
# 150-hop chain fixture cost DuckDB ~4 min at sf0.1). Summary per
# cluster so the output is |clusters|-sized.
@register(
    "q210_geo_clusters",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS id,
             52.0 + CAST(c_custkey % 300 % 20 AS DOUBLE) * 0.01
                  + CAST(c_custkey // 300 AS DOUBLE) * 0.000001 AS lat,
             13.0 + CAST((c_custkey % 300) // 20 AS DOUBLE) * 0.01
                  + CAST(c_custkey // 300 AS DOUBLE) * 0.000001 AS lon
      FROM customer
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM pts a JOIN pts b
        ON a.id < b.id
       AND abs(a.lat - b.lat) <= 0.0012
       AND abs(a.lon - b.lon) <= 0.0020
       AND 2.0 * 6371000.0 * asin(sqrt(
             sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lon - a.lon) / 2)
               * sin(radians(b.lon - a.lon) / 2)
           )) <= 100.0
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk(id, reach) AS (
      SELECT id, id FROM pts
      UNION
      SELECT e.v, w.reach FROM walk w JOIN edges e ON w.id = e.u
    ), comp AS (
      SELECT id, min(reach) AS cluster_id FROM walk GROUP BY 1
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id
    FROM comp GROUP BY 1
    """,
)
def q210_geo_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage 100 m density clusters of the synthetic city
    grid (operators/geo.py:geo_clusters — radius_join candidates +
    iterative connected components)."""
    from mimic_iv_data_pipeline_spark.operators.geo import geo_clusters

    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS id",
        "52.0D + CAST(c_custkey % 300 % 20 AS DOUBLE) * 0.01D"
        " + CAST(c_custkey div 300 AS DOUBLE) * 1e-06D AS lat",
        "13.0D + CAST((c_custkey % 300) div 20 AS DOUBLE) * 0.01D"
        " + CAST(c_custkey div 300 AS DOUBLE) * 1e-06D AS lon",
    )
    out = geo_clusters(cust, "id", "lat", "lon", radius_m=100.0)
    return out.groupBy(F.col("cluster_id").cast("long").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )


# --- q211: per-group trimmed mean ---------------------------------------------
# 10%-trimmed mean of event value cents per event type — rank-based
# trimming with the event_id tie-break so the kept multiset is exact.
@register(
    "q211_trimmed_mean",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type AS g, {_CENTS} AS y,
             row_number() OVER (
               PARTITION BY event_type ORDER BY {_CENTS} ASC, event_id ASC)
               AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), kept AS (
      SELECT * FROM ranked
      WHERE r > CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
        AND r <= n - CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT)
    )
    SELECT g AS event_type,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(floor(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       * 1e6 + 0.5) / 1e6, 6) AS trimmed_mean
    FROM kept GROUP BY 1
    """,
)
def q211_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of event cents per type
    (operators/aggregates.py:trimmed_mean — one shuffle, rank +
    count frames over one sort)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import trimmed_mean

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    out = trimmed_mean(ev, "event_type", "cents", trim_frac=0.1, tie_break="event_id")
    return out.select(
        F.col("event_type"),
        "n_total",
        "n_kept",
        dround("trimmed_mean", 6).alias("trimmed_mean"),
    )


# --- q213: Cochran–Mantel–Haenszel pooled odds ratio ---------------------------
# Stratified 2×2 (strata = user_id % 4) — each stratum term a·d/n is
# quantized by EXACT integral arithmetic ((a·d·1e6) div n over
# decimals), so both sums are exact integers and OR_MH is one double
# division; the crude OR sits beside it.
@register(
    "q213_cmh_pooled_or",
    oracle="""
    WITH base AS (
      SELECT user_id % 4 AS s,
             CAST(event_id % 2 AS INT) AS e,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
      FROM events
    ), per AS (
      SELECT s,
             sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS d,
             count(*) AS n
      FROM base GROUP BY 1
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             sum(CAST(a * d * 1000000 // n AS BIGINT)) AS num,
             sum(CAST(b * c * 1000000 // n AS BIGINT)) AS den,
             sum(a) AS ta, sum(b) AS tb, sum(c) AS tc, sum(d) AS td
      FROM per
    )
    SELECT n_strata,
           round(floor(CASE WHEN den > 0
             THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END
             * 1e6 + 0.5) / 1e6, 6) AS or_mh,
           round(floor(CASE WHEN tb > 0 AND tc > 0
             THEN CAST(ta * td AS DOUBLE) / CAST(tb * tc AS DOUBLE) END
             * 1e6 + 0.5) / 1e6, 6) AS or_crude
    FROM agg
    """,
)
def q213_cmh_pooled_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounder-adjusted pooled odds ratio across user strata
    (operators/aggregates.py:cmh_pooled_or — one conditional
    aggregate to |strata| rows, exact integral stratum terms)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import cmh_pooled_or

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("s"),
        (F.col("event_id") % 2).cast("int").alias("e"),
        (F.col("value") > 50.0).cast("int").alias("y"),
    )
    out = cmh_pooled_or(ev, "s", "e", "y")
    return out.select(
        "n_strata",
        dround("or_mh", 6).alias("or_mh"),
        dround("or_crude", 6).alias("or_crude"),
    )


# --- q214: Spearman rank correlation per group ---------------------------------
# Price vs order-date association per priority class — average ranks
# carried as exact DOUBLED integers (2·avg = min+max of the tie run),
# rho from the classic formula over exact decimal sums.
@register(
    "q214_spearman",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS y
      FROM orders
      -- pairwise-complete contract (operator drops null pairs before
      -- ranking); no-op on TPC-H NOT NULL columns, stated for symmetry
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), ranked AS (
      SELECT g, x, y,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + count(*) OVER (PARTITION BY g, x) - 1 AS dx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + count(*) OVER (PARTITION BY g, y) - 1 AS dy
      FROM base
    ), stats AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
             sum(CAST(dx AS HUGEINT) * dy) AS sxy,
             sum(CAST(dx AS HUGEINT) * dx) AS sxx,
             sum(CAST(dy AS HUGEINT) * dy) AS syy
      FROM ranked GROUP BY 1
    )
    SELECT g AS o_orderpriority, n,
           round(floor(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                             AND CAST(n * syy - sy * sy AS DOUBLE) > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) END
             * 1e6 + 0.5) / 1e6, 6) AS rho
    FROM stats
    """,
)
def q214_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho of price vs order date per priority
    (operators/aggregates.py:spearman_by_group — one shuffle, two
    rank windows, exact decimal sufficient statistics)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        spearman_by_group,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("x"),
        (F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("long")
        .alias("y"),
    )
    out = spearman_by_group(orders, "o_orderpriority", "x", "y")
    return out.select("o_orderpriority", "n", dround("rho", 6).alias("rho"))


# --- q215: exact percentile bands per group ------------------------------------
# P10/P50/P90 of event cents per type as true order statistics
# (value at rank ceil(p·n), tie-break on event_id) — actual data
# values, bit-identical across engines; no interpolation, no sketch.
@register(
    "q215_exact_percentiles",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type AS g, {_CENTS} AS y,
             row_number() OVER (
               PARTITION BY event_type ORDER BY {_CENTS} ASC, event_id ASC)
               AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT g AS event_type,
           CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN r = greatest(CAST(ceil(CAST(n AS DOUBLE) * 0.1)
             AS BIGINT), 1) THEN y END) AS p10,
           max(CASE WHEN r = greatest(CAST(ceil(CAST(n AS DOUBLE) * 0.5)
             AS BIGINT), 1) THEN y END) AS p50,
           max(CASE WHEN r = greatest(CAST(ceil(CAST(n AS DOUBLE) * 0.9)
             AS BIGINT), 1) THEN y END) AS p90
    FROM ranked GROUP BY 1
    """,
)
def q215_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact P10/P50/P90 bands of event cents per type
    (operators/aggregates.py:exact_percentiles — one sort carrying
    rank + count frames, one conditional aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        exact_percentiles,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return exact_percentiles(
        ev, "event_type", "cents", [0.1, 0.5, 0.9], tie_break="event_id"
    )
