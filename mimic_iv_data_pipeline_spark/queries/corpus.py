r"""Corpus-canonicalization and mixture-execution queries (wave 5).

The steps between raw crawl and training shards that waves 1-4 didn't
cover: Unicode NFC canonicalization (q84), sliding-window duplicated-
span detection (q85, Lee et al. 2022 exact-substring dedup at token
granularity), Gopher word-level quality rules (q86, Rae et al. 2021),
SemDeDup embedding-cluster dedup (q87, Abbas et al. 2023 — rows-only,
k-means has no SQL twin), end-to-end cluster-dedup corpus cleaning
(q88), and exact per-source quota sampling (q89, the execution step of
the q75 mixture solver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.dedup import (
    duplicate_spans,
    ngram_jaccard_pairs,
    semantic_dedup,
)
from mimic_iv_data_pipeline_spark.operators.sampling import quota_sample
from mimic_iv_data_pipeline_spark.operators.text import (
    gopher_quality,
    nfc_normalize,
)
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q84: Unicode NFC canonicalization --------------------------------------
# The synthetic corpus is pure ASCII, so the query plants a suffix per
# document — decomposed (e + U+0301 combining acute, i + U+0308
# diaeresis) on even doc_ids, the precomposed forms on odd — and then
# normalizes: even docs change (and shrink by 2 chars), odd docs are
# NFC fixed points, and after NFC both parities hash identically.
_NFC_DECOMP = " re\u0301sume\u0301 nai\u0308ve"
_NFC_PRECOMP = " r\u00e9sum\u00e9 na\u00efve"


@register(
    "q84_nfc_normalize",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 2 = 0
               THEN ' re' || chr(769) || 'sume' || chr(769) || ' nai' || chr(776) || 've'
               ELSE ' r' || chr(233) || 'sum' || chr(233) || ' na' || chr(239) || 've'
             END AS t
      FROM documents
    )
    SELECT doc_id,
           t <> nfc_normalize(t) AS changed,
           CAST(length(t) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
           md5(nfc_normalize(t)) AS fp_nfc
    FROM planted
    """,
)
def q84_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_NFC_DECOMP)).otherwise(
                F.lit(_NFC_PRECOMP)
            ),
        ).alias("t"),
    )
    out = nfc_normalize(planted, "t", "t_nfc")
    return out.select(
        "doc_id",
        (F.col("t") != F.col("t_nfc")).alias("changed"),
        F.length("t").cast("long").alias("n_chars_raw"),
        F.length("t_nfc").cast("long").alias("n_chars_nfc"),
        F.md5("t_nfc").alias("fp_nfc"),
    )


# --- q85: sliding-window duplicated spans -----------------------------------
@register(
    "q85_duplicate_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), g2 AS (
      SELECT doc, unnest(range(1, len(w) - 3)) AS p, w
      FROM toks WHERE len(w) >= 5
    ), grams AS (
      SELECT doc, p, concat_ws(' ', w[p], w[p+1], w[p+2], w[p+3], w[p+4]) AS g
      FROM g2
    ), dup AS (
      SELECT doc, p FROM (
        SELECT doc, p, count(*) OVER (PARTITION BY g) AS df FROM grams
      ) WHERE df >= 2
    ), lagged AS (
      SELECT doc, p, lag(p) OVER (PARTITION BY doc ORDER BY p) AS prev FROM dup
    ), isl AS (
      SELECT doc, p,
             sum(CASE WHEN prev IS NULL OR p - prev > 5 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY p) AS island
      FROM lagged
    ), spans AS (
      SELECT doc, island, max(p) + 5 - min(p) AS span_toks FROM isl GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_dup_spans,
             CAST(sum(span_toks) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY 1
    )
    SELECT t.doc, CAST(len(t.w) AS BIGINT) AS n_tokens,
           coalesce(p.n_dup_spans, 0) AS n_dup_spans,
           coalesce(p.dup_tokens, 0) AS dup_tokens,
           floor(coalesce(p.dup_tokens, 0) * 1.0 / len(t.w) * 1000000 + 0.5)
             / 1000000 AS dup_frac
    FROM toks t LEFT JOIN per_doc p USING (doc)
    """,
)
def q85_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_spans(load_table(spark, sf_dir, "documents"), "doc_id", k=5, min_df=2)


# --- q86: Gopher word-level quality rules -----------------------------------
@register(
    "q86_gopher_rules",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS g_n_tokens,
             floor(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)
                   * 1000000 + 0.5) / 1000000 AS g_mean_word_len,
             floor(len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / len(w)
                   * 1000000 + 0.5) / 1000000 AS g_symbol_ratio,
             floor(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
                   / len(w) * 1000000 + 0.5) / 1000000 AS g_alpha_word_frac,
             CAST(len(list_filter(w, x -> list_contains(
               ['the','be','to','of','and','that','have','with'], x)))
               AS BIGINT) AS g_stop_hits
      FROM t
    )
    SELECT doc_id, g_n_tokens, g_mean_word_len, g_symbol_ratio,
           g_alpha_word_frac, g_stop_hits,
           (g_n_tokens BETWEEN 20 AND 100000)
           AND (g_mean_word_len BETWEEN 3 AND 10)
           AND g_symbol_ratio <= 0.1
           AND g_alpha_word_frac >= 0.8
           AND g_stop_hits >= 2 AS keep
    FROM m
    """,
)
def q86_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = gopher_quality(load_table(spark, sf_dir, "documents"), min_tokens=20, min_stop_hits=2)
    return out.select(
        "doc_id",
        "g_n_tokens",
        "g_mean_word_len",
        "g_symbol_ratio",
        "g_alpha_word_frac",
        "g_stop_hits",
        "keep",
    )


# --- q87: SemDeDup (rows-only: the k-means fit has no SQL twin; the
# full shape around it — assignment, within-cell pairing, cosine prune —
# is hash-verified against fixed centroids by q134) --------------------------
@register("q87_semantic_dedup")
def q87_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the operator materializes the assignment relation once
    return semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.9
    )


# --- q88: end-to-end cluster-dedup corpus clean -----------------------------
@register(
    "q88_dedup_clean",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON common.id_a = sa.doc_id
      JOIN sizes sb ON common.id_b = sb.doc_id
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk(id, reach) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.reach FROM walk w JOIN edges e ON w.id = e.u
    ), comp AS (
      SELECT id AS doc_id, min(reach) AS component FROM walk GROUP BY 1
    )
    SELECT c.doc_id, d.source, d.lang, s.cluster_size
    FROM comp c
    JOIN (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1) s USING (component)
    JOIN documents d USING (doc_id)
    WHERE c.doc_id = c.component
    """,
)
def q88_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step q76 stops short of: near-dup pairs → connected
    components → keep one canonical document per cluster (min id) →
    emit the cleaned corpus, each survivor carrying the cluster size it
    represents. This is the C4/Dolma/RefinedWeb keep-one recipe
    end-to-end on DataFrames; the oracle re-runs the q76 recursive-CTE
    closure and filters to cluster representatives."""
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.2)
    cc = connected_components(
        pairs.select("id_a", "id_b"), nodes=docs.select("doc_id")
    )
    sizes = cc.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    kept = (
        cc.where(F.col("id") == F.col("component"))
        .join(F.broadcast(sizes), "component")
        .select(F.col("id").alias("doc_id"), "cluster_size")
    )
    return docs.join(kept, "doc_id").select(
        "doc_id", "source", "lang", "cluster_size"
    )


# --- q89: exact per-source quota sampling -----------------------------------
_QUOTAS = {"src0": 10, "src1": 5, "src7": 25, "src12": 40}


@register(
    "q89_quota_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(concat('0x', substr(md5(concat('quota:',
                 CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) ASC,
                 doc_id ASC
             ) AS BIGINT) AS sample_rank
      FROM documents
    )
    SELECT doc_id, source, sample_rank FROM ranked
    WHERE (source = 'src0' AND sample_rank <= 10)
       OR (source = 'src1' AND sample_rank <= 5)
       OR (source = 'src7' AND sample_rank <= 25)
       OR (source = 'src12' AND sample_rank <= 40)
    """,
)
def q89_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture execution: draw EXACTLY the planned number of documents
    per source (src12's quota of 40 exceeds its 25 rows — the stratum
    is taken whole, which is how the q75 mixture solver's epoch>1
    sources surface). The oracle ranks by the same md5-prefix hash, so
    the drawn set matches bit-for-bit."""
    out = quota_sample(load_table(spark, sf_dir, "documents"), "doc_id", "source", _QUOTAS)
    return out.select("doc_id", "source", "sample_rank")


# --- q95: sliding-window chunking with overlap ------------------------------
@register(
    "q95_chunk_overlap",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t != '') AS w
      FROM documents
    ), sized AS (
      SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0
    ), starts AS (
      SELECT doc_id, w, n,
             list_sort(list_distinct(list_append(
               range(0, greatest(n - 50, 0) + 1, 40),
               greatest(n - 50, 0)))) AS ss
      FROM sized
    ), st AS (
      SELECT doc_id, w, n, ss, unnest(range(1, len(ss) + 1)) AS k
      FROM starts
    )
    SELECT doc_id,
           CAST(k - 1 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(w, ss[k] + 1, least(ss[k] + 50, n))) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(w, ss[k] + 1, least(ss[k] + 50, n)), ' ')
             AS chunk_text
    FROM st
    """,
)
def q95_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window preparation: 50-token windows at stride 40
    (10-token overlap) over every document — one narrow explode, no
    shuffle anywhere in the plan."""
    from mimic_iv_data_pipeline_spark.operators.text import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           window=50, stride=40)


# --- q134: SemDeDup under FIXED cluster centroids (full hash oracle) --------
@register(
    "q134_semantic_dedup_fixed",
    oracle=r"""
    WITH cent AS (
      SELECT c.c AS c,
             list(floor((cast(concat('0x', substr(md5(concat('sem:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                         / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 ORDER BY d.d) AS cv
      FROM range(16) c(c), range(64) d(d) GROUP BY 1
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dist AS (
      SELECT e.vec_id, cent.c,
             list_dot_product(emb, emb) + list_dot_product(cv, cv)
               - 2 * list_dot_product(emb, cv) AS d
      FROM e, cent
    ), cells AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist) WHERE rn = 1
    ), pruned AS (
      SELECT DISTINCT a.vec_id AS id
      FROM cells a
      JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE list_dot_product(ea.emb, eb.emb)
            / (sqrt(list_dot_product(ea.emb, ea.emb))
               * sqrt(list_dot_product(eb.emb, eb.emb))) >= 0.9
    )
    SELECT c.vec_id AS id, CAST(c.cell AS INTEGER) AS cell,
           (p.id IS NOT NULL) AS pruned
    FROM cells c LEFT JOIN pruned p ON p.id = c.vec_id
    """,
)
def q134_semantic_dedup_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q87's SemDeDup shape under fixed md5-derived cluster centroids:
    nearest-cell assignment, the within-cell smaller-id pairing, the
    unrounded cosine-threshold prune, and the keep flags all
    hash-compared against a DuckDB twin. Training (Lloyd) stays
    rows-only on q87 — this pins every step around it."""
    from mimic_iv_data_pipeline_spark.queries.similarity import _fixed_centroids

    cent = _fixed_centroids(16, 64, prefix="sem")
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.9, centroids=cent
    )


# --- q142: fixed-iteration PageRank -----------------------------------------
# Iterative join-aggregate graph analytics (Page et al. 1999) — the
# authority-scoring step of crawl-graph curation (e.g. harmonic/PageRank
# centrality in Common-Crawl-derived corpus pipelines). The graph is a
# deterministic 40-node contraction of lineitem (supplier-cell →
# part-cell edges); 3 Lloyd-style iterations with damping 0.85 and
# dangling-mass redistribution, every iteration mirrored in chained
# SQL CTEs so the whole fixpoint prefix is hash-verified.
@register(
    "q142_pagerank",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey % 40 AS src, l_partkey % 40 AS dst
      FROM lineitem WHERE l_suppkey % 40 != l_partkey % 40
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src
    ),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    d1 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r0 r
           LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
    c1 AS (SELECT e.dst, sum(r.rank / o.outdeg) AS cin
           FROM e JOIN outdeg o ON e.src = o.src JOIN r0 r ON r.node = e.src
           GROUP BY e.dst),
    r1 AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * (coalesce(c1.cin, 0)
                            + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
           FROM nodes LEFT JOIN c1 ON nodes.node = c1.dst),
    d2 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r1 r
           LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
    c2 AS (SELECT e.dst, sum(r.rank / o.outdeg) AS cin
           FROM e JOIN outdeg o ON e.src = o.src JOIN r1 r ON r.node = e.src
           GROUP BY e.dst),
    r2 AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * (coalesce(c2.cin, 0)
                            + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
           FROM nodes LEFT JOIN c2 ON nodes.node = c2.dst),
    d3 AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r2 r
           LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
    c3 AS (SELECT e.dst, sum(r.rank / o.outdeg) AS cin
           FROM e JOIN outdeg o ON e.src = o.src JOIN r2 r ON r.node = e.src
           GROUP BY e.dst),
    r3 AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * (coalesce(c3.cin, 0)
                            + (SELECT dm FROM d3) / (SELECT n FROM nn)) AS rank
           FROM nodes LEFT JOIN c3 ON nodes.node = c3.dst)
    SELECT node, floor(rank * 1e6 + 0.5) / 1e6 AS rank FROM r3
    """,
)
def q142_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration damped PageRank with dangling-mass redistribution
    over a 40-node lineitem contraction (operators/graph.py:pagerank —
    one equi-join + one keyed aggregate per iteration,
    localCheckpoint-truncated lineage)."""
    from mimic_iv_data_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.selectExpr(
        "l_suppkey % 40 AS src", "l_partkey % 40 AS dst"
    ).filter(F.expr("src != dst"))
    ranks = pagerank(edges, iterations=3, damping=0.85)
    from mimic_iv_data_pipeline_spark.functions.rounding import dround_sql

    return ranks.selectExpr("node", dround_sql("rank", 6) + " AS rank")


# --- q151: exact triangle counting ------------------------------------------
# Same 40-node lineitem contraction as q142 (dense enough to close
# thousands of wedges); the operator's degree-ordered wedge enumeration
# (Suri-Vassilvitskii orientation) must agree exactly with the oracle's
# naive canonical a<b<c three-way self-join.
@register(
    "q151_triangle_count",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT
        least(l_suppkey % 40, l_partkey % 40) AS a,
        greatest(l_suppkey % 40, l_partkey % 40) AS b
      FROM lineitem WHERE l_suppkey % 40 != l_partkey % 40
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM raw e1
      JOIN raw e2 ON e1.b = e2.a
      JOIN raw e3 ON e3.a = e1.a AND e3.b = e2.b
    ), nodes AS (SELECT a AS node FROM raw UNION SELECT b FROM raw),
    members AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ), cnt AS (SELECT node, count(*) AS t FROM members GROUP BY node)
    SELECT nodes.node, CAST(coalesce(cnt.t, 0) AS BIGINT) AS triangles
    FROM nodes LEFT JOIN cnt ON nodes.node = cnt.node
    """,
)
def q151_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node exact triangle counts over the q142 graph
    (operators/graph.py:triangle_count — degree-oriented wedge join,
    O(m^{3/2}) wedge bound, no cartesian)."""
    from mimic_iv_data_pipeline_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_suppkey") % 40).alias("src"), (F.col("l_partkey") % 40).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return triangle_count(edges)


# --- q159: label-propagation communities -------------------------------------
# Synchronous LPA (Raghavan et al. 2007) on the q142 graph, 3 rounds,
# smallest-label tie-break; every round is mirrored as a counts CTE +
# argmax CTE, so the whole fixpoint prefix is hash-verified like
# q142's PageRank.
@register(
    "q159_label_propagation",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT
        least(l_suppkey % 40, l_partkey % 40) AS a,
        greatest(l_suppkey % 40, l_partkey % 40) AS b
      FROM lineitem WHERE l_suppkey % 40 != l_partkey % 40
    ), sym AS (
      SELECT a, b FROM raw UNION SELECT b, a FROM raw
    ), l0 AS (
      SELECT DISTINCT a AS node, a AS label FROM sym
    ), c1 AS (
      SELECT s.a, l.label, count(*) AS c
      FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1, 2
    ), l1 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (
          PARTITION BY a ORDER BY c DESC, label ASC) AS rn FROM c1)
      WHERE rn = 1
    ), c2 AS (
      SELECT s.a, l.label, count(*) AS c
      FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1, 2
    ), l2 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (
          PARTITION BY a ORDER BY c DESC, label ASC) AS rn FROM c2)
      WHERE rn = 1
    ), c3 AS (
      SELECT s.a, l.label, count(*) AS c
      FROM sym s JOIN l2 l ON l.node = s.b GROUP BY 1, 2
    ), l3 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (
          PARTITION BY a ORDER BY c DESC, label ASC) AS rn FROM c3)
      WHERE rn = 1
    )
    SELECT node, label FROM l3
    """,
)
def q159_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round synchronous LPA over the q142 graph
    (operators/graph.py:label_propagation — one edge⨝label join + one
    (node,label) count + one argmax window per round)."""
    from mimic_iv_data_pipeline_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_suppkey") % 40).alias("src"), (F.col("l_partkey") % 40).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return label_propagation(edges, iterations=3)


# --- q220: deterministic negative sampling (r9) ------------------------------
# The DPR-style random-negative mining step (Karpukhin et al. 2020
# §3.2): K uniform non-positive corpus docs per query, md5-keyed so
# the DuckDB twin replays every draw, the positive exclusion, the
# duplicate-target collapse, and the final per-query rank exactly.
@register(
    "q220_negative_sample",
    oracle="""
    WITH corpus AS (SELECT DISTINCT doc_id FROM documents),
    idx AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS i FROM corpus
    ), nn AS (SELECT count(*) AS n FROM corpus),
    pos AS (
      SELECT DISTINCT user_id AS q, event_id % 997 AS d
      FROM events WHERE user_id % 13 = 0
    ), qs AS (SELECT DISTINCT q FROM pos),
    draws AS (
      SELECT q, j FROM qs CROSS JOIN (SELECT unnest(range(0, 10)) AS j) r
    ), tgt AS (
      SELECT q, j,
             CAST(concat('0x', substr(md5(concat('neg:', CAST(q AS VARCHAR),
                  ':', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % nn.n AS i
      FROM draws, nn
    ), cand AS (
      SELECT t.q, x.doc_id AS d, t.j FROM tgt t JOIN idx x ON x.i = t.i
    ), ex AS (
      SELECT c.q, c.d, c.j FROM cand c
      LEFT JOIN pos p ON p.q = c.q AND p.d = c.d
      WHERE p.q IS NULL
    ), firstd AS (
      SELECT q, d, min(j) AS j FROM ex GROUP BY 1, 2
    ), rk AS (
      SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY j, d) AS r
      FROM firstd
    )
    SELECT CAST(q AS BIGINT) AS query_id, CAST(d AS BIGINT) AS doc_id,
           CAST(r - 1 AS INTEGER) AS neg_rank
    FROM rk WHERE r <= 4
    """,
)
def q220_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=4 uniform negatives per query over the documents corpus,
    positives derived deterministically from events
    (operators/sampling.py:negative_sample — dense corpus index via
    global_prefix_sums, one draw-resolution equi-join, no cross join)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import negative_sample

    ev = load_table(spark, sf_dir, "events")
    pos = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select(
            F.col("user_id").alias("query_id"),
            (F.col("event_id") % 997).alias("doc_id"),
        )
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return negative_sample(pos, docs, k=4, oversample=10)


# --- q222: negative sampling over STRING doc ids (r10) ------------------------
# Same DPR-style draw replay as q220, but the corpus keys on string
# doc ids ('doc-00000042', the URL-like real-corpus shape — r9 verdict
# item 3). The zero-padded fixed width makes lexicographic order
# unambiguous and identical between Spark's binary-collation string
# sort and DuckDB's varchar sort, so the dense-index row_number
# replays exactly.
@register(
    "q222_negative_sample_str",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT concat('doc-', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS dk
      FROM documents
    ), idx AS (
      SELECT dk, row_number() OVER (ORDER BY dk) - 1 AS i FROM corpus
    ), nn AS (SELECT count(*) AS n FROM corpus),
    pos AS (
      SELECT DISTINCT user_id AS q,
             concat('doc-', lpad(CAST(event_id % 997 AS VARCHAR), 8, '0')) AS dk
      FROM events WHERE user_id % 13 = 0
    ), qs AS (SELECT DISTINCT q FROM pos),
    draws AS (
      SELECT q, j FROM qs CROSS JOIN (SELECT unnest(range(0, 10)) AS j) r
    ), tgt AS (
      SELECT q, j,
             CAST(concat('0x', substr(md5(concat('neg:', CAST(q AS VARCHAR),
                  ':', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % nn.n AS i
      FROM draws, nn
    ), cand AS (
      SELECT t.q, x.dk, t.j FROM tgt t JOIN idx x ON x.i = t.i
    ), ex AS (
      SELECT c.q, c.dk, c.j FROM cand c
      LEFT JOIN pos p ON p.q = c.q AND p.dk = c.dk
      WHERE p.q IS NULL
    ), firstd AS (
      SELECT q, dk, min(j) AS j FROM ex GROUP BY 1, 2
    ), rk AS (
      SELECT q, dk, row_number() OVER (PARTITION BY q ORDER BY j, dk) AS r
      FROM firstd
    )
    SELECT CAST(q AS BIGINT) AS query_id, dk AS doc_key,
           CAST(r - 1 AS INTEGER) AS neg_rank
    FROM rk WHERE r <= 4
    """,
)
def q222_negative_sample_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=4 uniform negatives per query over a STRING-keyed documents
    corpus (operators/sampling.py:negative_sample — the dense index
    ranks strings directly; no caller-side surrogate hashing)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import negative_sample

    dk = lambda c: F.concat(  # noqa: E731
        F.lit("doc-"), F.lpad(c.cast("string"), 8, "0")
    )
    ev = load_table(spark, sf_dir, "events")
    pos = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select(
            F.col("user_id").alias("query_id"),
            dk(F.col("event_id") % 997).alias("doc_key"),
        )
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        dk(F.col("doc_id")).alias("doc_key")
    )
    return negative_sample(pos, docs, doc_col="doc_key", k=4, oversample=10)


# --- q223: negative sampling over PREFIX-SKEWED string doc ids (r11) ---------
# The ADVICE-r10 motivating case: every doc id is a URL under one
# host, so every 2-char prefix bucket is "ht" and the prefix-bucketed
# rank would degenerate into a single giant window partition.
# build_corpus_index detects the dominant bucket (skew_cap forces the
# detector at toy size) and falls back to the sampled RANGE-bucketed
# rank (repartitionByRange + spark_partition_id + prefix-summed
# offsets — operators/sampling.py:build_corpus_index). Bucket
# boundaries never affect the global rank of a contiguous bucketing,
# so the oracle replays the SAME dense-index row_number as q222: the
# fixed-width zero-padded suffix after the constant URL prefix keeps
# Spark's binary-collation order identical to DuckDB's varchar order.
@register(
    "q223_negative_sample_skewed",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT concat('https://corpus.example/doc/',
                             lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS dk
      FROM documents
    ), idx AS (
      SELECT dk, row_number() OVER (ORDER BY dk) - 1 AS i FROM corpus
    ), nn AS (SELECT count(*) AS n FROM corpus),
    pos AS (
      SELECT DISTINCT user_id AS q,
             concat('https://corpus.example/doc/',
                    lpad(CAST(event_id % 997 AS VARCHAR), 8, '0')) AS dk
      FROM events WHERE user_id % 13 = 0
    ), qs AS (SELECT DISTINCT q FROM pos),
    draws AS (
      SELECT q, j FROM qs CROSS JOIN (SELECT unnest(range(0, 10)) AS j) r
    ), tgt AS (
      SELECT q, j,
             CAST(concat('0x', substr(md5(concat('neg:', CAST(q AS VARCHAR),
                  ':', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % nn.n AS i
      FROM draws, nn
    ), cand AS (
      SELECT t.q, x.dk, t.j FROM tgt t JOIN idx x ON x.i = t.i
    ), ex AS (
      SELECT c.q, c.dk, c.j FROM cand c
      LEFT JOIN pos p ON p.q = c.q AND p.dk = c.dk
      WHERE p.q IS NULL
    ), firstd AS (
      SELECT q, dk, min(j) AS j FROM ex GROUP BY 1, 2
    ), rk AS (
      SELECT q, dk, row_number() OVER (PARTITION BY q ORDER BY j, dk) AS r
      FROM firstd
    )
    SELECT CAST(q AS BIGINT) AS query_id, dk AS doc_key,
           CAST(r - 1 AS INTEGER) AS neg_rank
    FROM rk WHERE r <= 4
    """,
)
def q223_negative_sample_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=4 uniform negatives over a URL-keyed corpus where EVERY id
    shares the same 2-char prefix — skew_cap=1 pins the range-bucketed
    fallback rank on the driver sheet (window_threshold=0 forces the
    distributed path at sf0.01 corpus size; range_buckets=16 keeps the
    toy-size task count sane — production defaults derive both from
    the observed count)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        build_corpus_index,
        negative_sample,
    )

    dk = lambda c: F.concat(  # noqa: E731
        F.lit("https://corpus.example/doc/"), F.lpad(c.cast("string"), 8, "0")
    )
    ev = load_table(spark, sf_dir, "events")
    pos = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select(
            F.col("user_id").alias("query_id"),
            dk(F.col("event_id") % 997).alias("doc_key"),
        )
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        dk(F.col("doc_id")).alias("doc_key")
    )
    idx = build_corpus_index(
        docs, "doc_key", window_threshold=0, skew_cap=1, range_buckets=16
    )
    return negative_sample(
        pos, doc_col="doc_key", k=4, oversample=10, corpus_index=idx
    )
