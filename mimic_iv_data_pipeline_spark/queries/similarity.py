"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround

from mimic_iv_data_pipeline_spark.operators.similarity import (
    ann_lsh_topk,
    as_double_vec,
    cosine_topk_pandas,
    ivf_topk,
    l2_norm,
)
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q42: brute-force cosine top-k (exact ANN baseline) ---------------------
@register(
    "q42_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
      FROM q, c
      WHERE q.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
    ) <= 5
    """,
)
def q42_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # numpy-matmul scoring via mapInPandas — measured ~2.3× the
    # expression-tree variant even at 2k vectors, equal results
    # (tests/test_similarity.py::test_pandas_cosine_matches_expression)
    # not repartitioned: the fan-out measured 1.3-2.3x slower for q42/q53 at 2k vectors
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_pandas(queries, corpus=emb, k=5)


# --- q43: embedding statistics per label ------------------------------------
@register(
    "q43_embedding_stats",
    oracle="""
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q43_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.avg(l2_norm(as_double_vec(F.col("embedding")))), 4).alias("avg_norm"),
    )


# --- q44: LSH-bucketed approximate NN (rows-only: xxhash64 planes; the
# same kernel is hash-verified under the fixed md5 planes by q132) -------
@register("q44_ann_lsh")
def q44_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(queries, corpus=emb, dims=64, bits=8, k=5)


# --- q53: IVF approximate NN (rows-only: the k-means fit has no SQL
# twin; the search path around it is hash-verified by q133, the update
# step of the fit by q137) -----------------------------------------------
@register("q53_ann_ivf")
def q53_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, corpus=emb, n_cells=16, n_probe=4, k=5)


# --- q59: embedding-cosine near-dup pairs (exact; dedup family) -------------
@register(
    "q59_embedding_neardup",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
    """,
)
def q59_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, method="exact"
    )


# --- q60: embedding near-dup via LSH buckets (rows-only: xxhash64
# bucketing; scores exact and property-tested; the hyperplane bucketing
# kernel is hash-verified by q132, the exact-pair scoring by q59) --------
@register("q60_embedding_neardup_lsh")
def q60_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, method="lsh", dims=64, bits=4
    )


# --- q78: int8 scalar quantization of the embedding corpus ------------------
@register(
    "q78_quantize_int8",
    oracle=r"""
    WITH dims AS (
      SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i
    ), stats AS (
      SELECT i, min(cast(embedding[i] AS DOUBLE)) AS mn,
             max(cast(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, dims GROUP BY 1
    ), arrs AS (
      SELECT list(mn ORDER BY i) AS mn_a, list(mx ORDER BY i) AS mx_a FROM stats
    ), q AS (
      SELECT vec_id, embedding, mn_a, mx_a,
             list_transform(range(1, len(embedding) + 1), i ->
               CASE WHEN mx_a[i] = mn_a[i] THEN 0
                    ELSE cast(floor((cast(embedding[i] AS DOUBLE) - mn_a[i])
                              / (mx_a[i] - mn_a[i]) * 254.0 + 0.5) AS INTEGER) - 127
               END) AS qvec
      FROM embeddings CROSS JOIN arrs
    )
    SELECT vec_id, array_to_string(qvec, ',') AS qvec_csv,
           floor(list_aggregate(list_transform(range(1, len(embedding) + 1), i ->
               abs(CASE WHEN mx_a[i] = mn_a[i] THEN mn_a[i]
                        ELSE (qvec[i] + 127) / 254.0 * (mx_a[i] - mn_a[i]) + mn_a[i]
                   END - cast(embedding[i] AS DOUBLE))), 'sum')
             / len(embedding) * 1e6 + 0.5) / 1e6 AS recon_err
    FROM q
    """,
)
def q78_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-SQ8-style per-dimension int8 quantization with
    reconstruction-error report; exact DuckDB twin.

    The quantized vector goes to the driver as a CSV string, not an
    ``array<int>``: the correctness driver canonicalizes with a pandas
    ``sort_values`` over every output column, which raises
    ``unhashable type: 'list'`` on array cells (the one red row of r3).
    The array-typed API stays on ``quantize_embeddings_int8`` itself.
    """
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    q = quantize_embeddings_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec_csv"),
        "recon_err",
    )


# --- q102: product-quantization encode (rows-only: k-means codebooks
# have no SQL twin; the encode kernel is hash-verified against fixed
# codebooks by q123; decode parity + partition invariance in tests) ------
@register("q102_pq_encode")
def q102_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style PQ8x16 compression of the embedding corpus: codes go
    to the driver as CSV (array cells crash its canonicalizer, r3)."""
    from mimic_iv_data_pipeline_spark.operators.pq import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, k=16)
    enc = pq_encode(emb, books)
    return enc.select(
        "vec_id",
        F.array_join(F.col("code").cast("array<string>"), ",").alias("code_csv"),
        "recon_err",
    )


# --- q103: PQ asymmetric-distance top-k (rows-only: trained codebooks;
# the ADC search kernel is hash-verified against fixed codebooks by
# q124; recall vs exact L2 property-tested) ------------------------------
@register("q103_pq_topk")
def q103_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, corpus=emb, m=8, n_centroids=16, k=5)


# --- q104: PQ shortlist + exact re-rank (rows-only: trained codebooks;
# the two-stage kernel is hash-verified against fixed codebooks by q125;
# exactness of re-ranked distances property-tested) ----------------------
@register("q104_pq_rerank")
def q104_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, corpus=emb, m=8, n_centroids=16, k=5, rerank=100)


# --- q114: IVF-PQ search (rows-only: trained quantizers; the full
# composition incl. residual encoding is hash-verified against fixed
# quantizers by q136; residual/recall properties tested) -----------------
@register("q114_ivfpq")
def q114_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billion-scale composition: IVF cell pruning + residual-PQ
    ADC scoring + exact re-rank of the shortlist."""
    from mimic_iv_data_pipeline_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(
        queries, corpus=emb, n_cells=16, n_probe=4, m=8, n_centroids=16, k=5, rerank=50
    )


# --- q115: distributed Lloyd k-means (rows-only: the iterative fit has
# no SQL twin; ONE iteration from fixed init is hash-verified by q137;
# numpy parity and partition invariance tested) --------------------------
@register("q115_kmeans")
def q115_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus Lloyd (every iteration one corpus pass + one
    k·d-row aggregate); emits per-cell assignment counts."""
    from mimic_iv_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, "embedding", k=8, max_iter=5, id_col="vec_id")
    assigned = kmeans_assign(emb, "vec_id", "embedding", centers)
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("cell")
    )


# --- q90: covariance matrix (single-pass distributed moments) ---------------
@register(
    "q90_covariance_matrix",
    oracle="""
    WITH idx AS (SELECT unnest(range(1, 65)) AS i),
    e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    g AS (
      SELECT i.i AS i, j.i AS j, sum(v[i.i] * v[j.i]) AS g
      FROM e, idx i, idx j GROUP BY 1, 2
    ),
    s AS (SELECT i.i AS i, sum(v[i.i]) AS s FROM e, idx i GROUP BY 1),
    n AS (SELECT cast(count(*) AS DOUBLE) AS n FROM e)
    SELECT CAST(g.i - 1 AS BIGINT) AS i, CAST(g.j - 1 AS BIGINT) AS j,
           floor((g.g - si.s * sj.s / n.n) / n.n * 1e6 + 0.5) / 1e6 AS cov
    FROM g, s si, s sj, n
    WHERE si.i = g.i AND sj.i = g.j
    """,
)
def q90_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d×d population covariance of the embedding corpus in ONE data
    pass: per-batch numpy gram partials → groupBy(i,j).sum — exchanged
    bytes are O(partitions · d²), independent of corpus rows."""
    from mimic_iv_data_pipeline_spark.operators.linalg import covariance_matrix

    return covariance_matrix(load_table(spark, sf_dir, "embeddings"), "embedding", dims=64)


# --- q91: PCA projection (rows-only: eigenvector signs/order are
# engine-specific, so no SQL twin; the centering+projection arithmetic
# is hash-verified against a fixed basis by q138; numpy-property-tested) -----
@register("q91_pca_project")
def q91_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal-component projection: one distributed moment
    pass, driver eigh on the 64×64 covariance, broadcast components,
    one narrow projection pass."""
    from mimic_iv_data_pipeline_spark.operators.linalg import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, "vec_id", "embedding", dims=64, k=8)


# --- q122: RAG chunk retrieval capstone (rows-only: probabilistic IVF
# cell pruning; the exact-probe variant q129 hash-verifies the whole
# chunk->embed->retrieve arithmetic) ------------------------------------------
@register("q122_rag_retrieve")
def q122_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval build: chunk the corpus, embed chunks with
    the deterministic JL featurizer, retrieve top-3 chunks for 5 query
    texts via the IVF path (planted-relevance property tested)."""
    from mimic_iv_data_pipeline_spark.plans.rag_corpus import (
        build_chunk_index,
        retrieve,
    )

    docs = load_table(spark, sf_dir, "documents").limit(100)
    # the limit leaves the pinned index in one partition; coalesce(1)
    # tells the planner so, and the top-k window needs no exchange
    index = materialize(build_chunk_index(docs, window=32, stride=24, dims=64)).coalesce(1)
    probe = index.orderBy("chunk_uid").limit(5).collect()
    queries = spark.createDataFrame(
        [(int(r["chunk_uid"]), r["chunk_text"]) for r in probe],
        "query_id long, query_text string",
    )
    return retrieve(index, queries, k=3, n_cells=8, n_probe=4)


def _fixed_codebooks(m: int = 8, k: int = 16, dsub: int = 8):
    """Deterministic md5-derived codebook tensor in [-1, 1] — the
    default_hash_weights trick lifted to (m, k, dsub): lets the PQ
    ENCODE math earn a full hash-compare oracle row (the k-means-trained
    path stays rows-only, q102)."""
    import math

    import hashlib
    import numpy as np

    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        for c in range(k):
            for t in range(dsub):
                h = int(hashlib.md5(f"cb:{j}:{c}:{t}".encode()).hexdigest()[:8], 16)
                books[j, c, t] = math.floor((h / float(1 << 31) - 1.0) * 1e6 + 0.5) / 1e6
    return books


# --- q123: PQ encode against FIXED codebooks (full hash-compare oracle) -----
@register(
    "q123_pq_encode_fixed",
    oracle=r"""
    WITH cb AS (
      SELECT j.j AS j, c.c AS c, t.t AS t,
             floor((cast(concat('0x', substr(md5(concat('cb:', j.j, ':', c.c, ':', t.t)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS v
      FROM range(8) j(j), range(16) c(c), range(8) t(t)
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dists AS (
      SELECT e.vec_id, cb.j, cb.c,
             sum((emb[cb.j * 8 + cb.t + 1] - cb.v) * (emb[cb.j * 8 + cb.t + 1] - cb.v)) AS d,
             sum(abs(emb[cb.j * 8 + cb.t + 1] - cb.v)) AS a
      FROM e, cb GROUP BY 1, 2, 3
    ), best AS (
      SELECT vec_id, j, c, a FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(c, ',' ORDER BY j) AS code_csv,
           floor(sum(a) / 64 * 1e6 + 0.5) / 1e6 AS recon_err
    FROM best GROUP BY 1
    """,
)
def q123_pq_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ8x16 encoding of the embedding corpus against the fixed
    md5-derived codebooks: the Arrow-batched argmin assignment and
    reconstruction-error math verified value-by-value against a DuckDB
    twin computing the same 128 subvector distances in SQL."""
    from mimic_iv_data_pipeline_spark.operators.pq import pq_encode

    enc = pq_encode(load_table(spark, sf_dir, "embeddings"), _fixed_codebooks())
    return enc.select(
        "vec_id",
        F.array_join(F.col("code").cast("array<string>"), ",").alias("code_csv"),
        "recon_err",
    )


# Shared oracle head for the fixed-codebook ADC family (q123-q125):
# cb = the md5-derived codebook tensor recomputed in SQL, code = every
# corpus vector's argmin assignment, lut = each query's EXACT
# subvector-to-centroid distances (queries stay raw — the "asymmetric"
# in ADC), adc = the m-term LUT sum per (query, corpus vector).
_ADC_FIXED_HEAD = r"""
    WITH cb AS (
      SELECT j.j AS j, c.c AS c, t.t AS t,
             floor((cast(concat('0x', substr(md5(concat('cb:', j.j, ':', c.c, ':', t.t)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS v
      FROM range(8) j(j), range(16) c(c), range(8) t(t)
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dists AS (
      SELECT e.vec_id, cb.j, cb.c,
             sum((emb[cb.j * 8 + cb.t + 1] - cb.v) * (emb[cb.j * 8 + cb.t + 1] - cb.v)) AS d
      FROM e, cb GROUP BY 1, 2, 3
    ), code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM dists
      ) WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS query_id, j, c, d FROM dists WHERE vec_id < 10
    ), adc AS (
      SELECT l.query_id, co.vec_id AS neighbor_id,
             floor(sum(l.d) * 1e6 + 0.5) / 1e6 AS adc_dist
      FROM code co JOIN lut l ON l.j = co.j AND l.c = co.c
      WHERE co.vec_id != l.query_id
      GROUP BY 1, 2
    )
"""


# --- q124: ADC top-k against FIXED codebooks (full hash-compare oracle) -----
@register(
    "q124_pq_adc_fixed",
    oracle=_ADC_FIXED_HEAD
    + r"""
    SELECT query_id, neighbor_id, adc_dist
    FROM adc
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
    ) <= 5
    """,
)
def q124_pq_adc_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADC SEARCH kernel hash-verified end to end: q123 pinned the
    encode math; this pins the query side — LUT construction (exact
    query-to-centroid partials), the m-lookup distance sum, the
    rounded-then-ranked top-k with id tie-break — against a DuckDB twin
    ranking the same 128 partial distances. The k-means-trained path
    (q103) stays rows-only; the search plumbing is identical."""
    from mimic_iv_data_pipeline_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, corpus=emb, codebooks=_fixed_codebooks(), k=5)


# --- q125: ADC shortlist + exact re-rank against FIXED codebooks ------------
@register(
    "q125_pq_rerank_fixed",
    oracle=_ADC_FIXED_HEAD
    + r"""
    , shortlist AS (
      SELECT query_id, neighbor_id FROM adc
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
      ) <= 100
    ), exact AS (
      SELECT s.query_id, s.neighbor_id,
             floor(list_sum(list_transform(range(1, 65),
                     i -> (q.emb[i] - c.emb[i]) * (q.emb[i] - c.emb[i]))) * 1e6 + 0.5) / 1e6
               AS l2_dist
      FROM shortlist s
      JOIN e q ON q.vec_id = s.query_id
      JOIN e c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, l2_dist
    FROM exact
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id ASC
    ) <= 5
    """,
)
def q125_pq_rerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage shape (FAISS IndexRefineFlat) fully
    hash-verified: fixed-codebook ADC selects a 100-candidate
    shortlist per query (rounded-ADC order, id tie-break — the
    boundary is deterministic on both engines), then the exact
    squared-L2 re-rank join returns k=5. Pins the shortlist boundary
    semantics AND the zip_with/aggregate L2 math of ``_exact_rerank``
    against the SQL twin."""
    from mimic_iv_data_pipeline_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, corpus=emb, codebooks=_fixed_codebooks(), k=5, rerank=100)


# --- q129: RAG retrieval capstone, exhaustive probe (full hash oracle) ------
# With n_probe == n_cells the IVF path degenerates to EXACT cosine
# top-k (cell pruning prunes nothing; scores were always exact), and
# every stage of the q122 capstone becomes SQL-expressible: the
# sliding-window chunker (tail rule included), the chunk_uid contract,
# the md5 hashing-trick embeddings (hash-verified standalone in q121),
# and the rounded-cosine rank with id tie-break. q122 keeps the
# production shape (probabilistic cell pruning — rows-only by nature);
# this row proves the capstone's arithmetic end to end.
@register(
    "q129_rag_retrieve_exact",
    oracle=r"""
    WITH toked AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS t
      FROM documents WHERE doc_id < 100
    ), nz AS (
      SELECT doc_id, t, len(t) AS n FROM toked WHERE len(t) > 0
    ), starts AS (
      SELECT doc_id, t, greatest(n - 32, 0) AS last,
             CASE WHEN greatest(n - 32, 0) % 24 = 0
                  THEN range(0, greatest(n - 32, 0) + 1, 24)
                  ELSE list_append(range(0, greatest(n - 32, 0) + 1, 24),
                                   greatest(n - 32, 0))
             END AS ss
      FROM nz
    ), chunks AS (
      SELECT doc_id * 1000000 + (i - 1) AS chunk_uid,
             t[ss[i] + 1 : ss[i] + 32] AS ct
      FROM starts, unnest(range(1, len(ss) + 1)) u(i)
    ), ctoks AS (
      SELECT chunk_uid, unnest(ct) AS tok FROM chunks
    ), nchunk AS (
      SELECT chunk_uid, count(*) AS n FROM ctoks GROUP BY 1
    ), perdim AS (
      SELECT chunk_uid, d.d AS d,
             sum(cast(concat('0x', substr(md5(concat('proj:', tok, ':', d.d)), 1, 8)) AS BIGINT)
                 % 2 * 2 - 1) AS v
      FROM ctoks, range(0, 64) d(d)
      GROUP BY 1, 2
    ), emb AS (
      SELECT p.chunk_uid, list(p.v / sqrt(n.n) ORDER BY p.d) AS e
      FROM perdim p JOIN nchunk n USING (chunk_uid)
      GROUP BY 1
    ), q AS (
      SELECT chunk_uid AS query_id, e AS qe FROM emb ORDER BY chunk_uid LIMIT 5
    ), scored AS (
      SELECT q.query_id, c.chunk_uid AS neighbor_id,
             floor(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e)))
                   * 1e6 + 0.5) / 1e6 AS cos_sim
      FROM q, emb c WHERE c.chunk_uid != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
    ) <= 3
    """,
)
def q129_rag_retrieve_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → embed → retrieve with every cell probed: the exact-mode
    capstone, hash-compared against a DuckDB twin recomputing chunker,
    embeddings, and cosine ranks from the raw text. Queries are the 5
    smallest chunk_uids (deterministic, no driver collect)."""
    from mimic_iv_data_pipeline_spark.plans.rag_corpus import (
        build_chunk_index,
        retrieve,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    index = materialize(build_chunk_index(docs, window=32, stride=24, dims=64))
    queries = (
        index.orderBy("chunk_uid")
        .limit(5)
        .select(
            F.col("chunk_uid").alias("query_id"),
            F.col("chunk_text").alias("query_text"),
        )
    )
    return retrieve(index, queries, k=3, n_cells=8, n_probe=8)


# --- q132: hyperplane-LSH ANN under the fixed md5 plane family --------------
@register(
    "q132_ann_lsh_fixed",
    oracle=r"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), proj AS (
      SELECT vec_id, p.p AS p,
             list_sum(list_transform(range(0, 64), d ->
               emb[d + 1] * (CASE WHEN cast(concat('0x',
                   substr(md5(concat('hp:', p.p * 64 + d)), 1, 8)) AS BIGINT)
                   % 2 = 1 THEN 1.0 ELSE -1.0 END))) AS pr
      FROM e, range(0, 8) p(p)
    ), bkt AS (
      SELECT vec_id,
             sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
      FROM proj GROUP BY 1
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(qe.emb, ce.emb)
                   / (sqrt(list_dot_product(qe.emb, qe.emb))
                      * sqrt(list_dot_product(ce.emb, ce.emb)))
                   * 1e6 + 0.5) / 1e6 AS cos_sim
      FROM bkt q
      JOIN bkt c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
      JOIN e qe ON qe.vec_id = q.vec_id
      JOIN e ce ON ce.vec_id = c.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
    ) <= 5
    """,
)
def q132_ann_lsh_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q44's hyperplane-LSH kernel under the fixed md5 plane family:
    the ±1 plane components, dot-product sign votes, bit packing,
    bucket equi-join and rounded-cosine rank all hash-compared against
    a DuckDB twin recomputing the same 8×64 plane parities. The
    xxhash64 production planes (q44) stay rows-only by necessity."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(queries, corpus=emb, dims=64, bits=8, k=5, plane_hash="md5")


def _fixed_centroids(n_cells: int = 16, dims: int = 64, prefix: str = "ivf"):
    """Deterministic md5-derived coarse centroids in [-1, 1] — the
    codebook trick at (n_cells, dims); ``prefix`` selects an
    independent family per consumer (q133 'ivf', q134 'sem')."""
    import hashlib
    import math

    import numpy as np

    cent = np.empty((n_cells, dims), dtype=np.float64)
    for c in range(n_cells):
        for d in range(dims):
            h = int(hashlib.md5(f"{prefix}:{c}:{d}".encode()).hexdigest()[:8], 16)
            cent[c, d] = math.floor((h / float(1 << 31) - 1.0) * 1e6 + 0.5) / 1e6
    return cent


# --- q133: IVF search against FIXED coarse centroids (full hash oracle) -----
@register(
    "q133_ivf_fixed",
    oracle=r"""
    WITH cent AS (
      SELECT c.c AS c,
             list(floor((cast(concat('0x', substr(md5(concat('ivf:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                         / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 ORDER BY d.d) AS cv
      FROM range(16) c(c), range(64) d(d) GROUP BY 1
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dist AS (
      SELECT e.vec_id, cent.c,
             list_dot_product(emb, emb) + list_dot_product(cv, cv)
               - 2 * list_dot_product(emb, cv) AS d
      FROM e, cent
    ), cell1 AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist) WHERE rn = 1
    ), qprobe AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist WHERE vec_id < 10) WHERE rn <= 4
    ), scored AS (
      SELECT DISTINCT q.vec_id AS query_id, cv2.vec_id AS neighbor_id,
             floor(list_dot_product(qe.emb, ce.emb)
                   / (sqrt(list_dot_product(qe.emb, qe.emb))
                      * sqrt(list_dot_product(ce.emb, ce.emb)))
                   * 1e6 + 0.5) / 1e6 AS cos_sim
      FROM qprobe q
      JOIN cell1 cv2 ON cv2.cell = q.cell AND cv2.vec_id != q.vec_id
      JOIN e qe ON qe.vec_id = q.vec_id
      JOIN e ce ON ce.vec_id = cv2.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
    ) <= 5
    """,
)
def q133_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's IVF search path under fixed md5-derived coarse centroids:
    nearest-cell assignment (the |v|²+|c|²−2v·c argmin with lower-cell
    tie-break), n_probe cell selection, the cell equi-join prune, and
    the rounded-cosine rank all hash-compared against a DuckDB twin.
    The k-means-trained production quantizer (q53) stays rows-only —
    Lloyd iterations have no SQL twin; this pins everything around
    them."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        queries, corpus=emb, n_cells=16, n_probe=4, k=5, centroids=_fixed_centroids()
    )


# --- q136: IVF-PQ search under FIXED quantizers (full hash oracle) ----------
# The capstone of the fixed-parameter family: with the coarse centroids
# AND the residual codebooks both md5-derived, every stage of the
# billion-scale recipe is SQL-checkable — cell assignment, RESIDUAL
# computation (x − centroid(cell), the part q123/q124 could not see),
# residual code assignment, per-(query, probed-cell) residual LUTs, the
# m-lookup ADC sum, and the rounded rank. Training (q114) stays
# rows-only; the composition's arithmetic is now pinned end to end.
@register(
    "q136_ivfpq_fixed",
    oracle=r"""
    WITH ce AS (
      SELECT c.c AS c, d.d AS d,
             floor((cast(concat('0x', substr(md5(concat('ivfpq_c:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS val
      FROM range(16) c(c), range(64) d(d)
    ), cel AS (
      SELECT c, list(val ORDER BY d) AS cv FROM ce GROUP BY 1
    ), cb AS (
      SELECT j.j AS j, c.c AS c, t.t AS t,
             floor((cast(concat('0x', substr(md5(concat('ivfpq_b:', j.j, ':', c.c, ':', t.t)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS v
      FROM range(8) j(j), range(16) c(c), range(8) t(t)
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dist AS (
      SELECT e.vec_id, cel.c,
             list_dot_product(emb, emb) + list_dot_product(cv, cv)
               - 2 * list_dot_product(emb, cv) AS d
      FROM e, cel
    ), cells AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist) WHERE rn = 1
    ), qprobe AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist WHERE vec_id < 10) WHERE rn <= 4
    ), r AS (  -- corpus residuals vs the OWN cell's centroid
      SELECT e.vec_id, ce.d, e.emb[ce.d + 1] - ce.val AS rv
      FROM e JOIN cells USING (vec_id) JOIN ce ON ce.c = cells.cell
    ), subd AS (
      SELECT r.vec_id, cb.j, cb.c,
             sum((r.rv - cb.v) * (r.rv - cb.v)) AS d
      FROM r JOIN cb ON cb.j * 8 + cb.t = r.d
      GROUP BY 1, 2, 3
    ), code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM subd) WHERE rn = 1
    ), qr AS (  -- query residuals vs EACH probed cell's centroid
      SELECT p.vec_id, p.cell, ce.d, e.emb[ce.d + 1] - ce.val AS rv
      FROM qprobe p JOIN e ON e.vec_id = p.vec_id JOIN ce ON ce.c = p.cell
    ), lut AS (
      SELECT qr.vec_id, qr.cell, cb.j, cb.c,
             sum((qr.rv - cb.v) * (qr.rv - cb.v)) AS d
      FROM qr JOIN cb ON cb.j * 8 + cb.t = qr.d
      GROUP BY 1, 2, 3, 4
    ), adc AS (
      SELECT l.vec_id AS query_id, co.vec_id AS neighbor_id,
             floor(sum(l.d) * 1e6 + 0.5) / 1e6 AS adc_dist
      FROM cells cs
      JOIN code co ON co.vec_id = cs.vec_id
      JOIN lut l ON l.cell = cs.cell AND l.j = co.j AND l.c = co.c
      WHERE cs.vec_id != l.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist FROM adc
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
    ) <= 5
    """,
)
def q136_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with fixed md5-derived coarse centroids and
    residual codebooks, hash-compared against a DuckDB twin that
    recomputes cells, residuals, residual codes, per-(query, cell)
    LUTs, and the ADC ranks relationally."""
    import hashlib
    import math

    import numpy as np

    from mimic_iv_data_pipeline_spark.operators.pq import ivfpq_topk

    books = np.empty((8, 16, 8), dtype=np.float64)
    for j in range(8):
        for c in range(16):
            for t in range(8):
                h = int(
                    hashlib.md5(f"ivfpq_b:{j}:{c}:{t}".encode()).hexdigest()[:8], 16
                )
                books[j, c, t] = math.floor((h / float(1 << 31) - 1.0) * 1e6 + 0.5) / 1e6
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(
        queries, corpus=emb, n_cells=16, n_probe=4, k=5,
        centroids=_fixed_centroids(16, 64, prefix="ivfpq_c"),
        codebooks=books,
    )


# --- q137: one Lloyd step from FIXED init (full hash oracle) ----------------
# k-means TRAINING is the one ANN family member with no SQL twin (q115
# rows-only) — but a single iteration from a fixed init is pure
# relational algebra: assignment (the q133 argmin kernel) + a per-cell
# per-dimension mean, empty cells keeping their init. This pins
# kmeans_fit's distributed update step exactly; the iterative loop is
# just this step composed.
@register(
    "q137_kmeans_step_fixed",
    oracle=r"""
    WITH ce AS (
      SELECT c.c AS c, d.d AS d,
             floor((cast(concat('0x', substr(md5(concat('km:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS val
      FROM range(16) c(c), range(64) d(d)
    ), cel AS (
      SELECT c, list(val ORDER BY d) AS cv FROM ce GROUP BY 1
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), cells AS (
      SELECT vec_id, c AS cell FROM (
        SELECT e.vec_id, cel.c, row_number() OVER (
          PARTITION BY e.vec_id
          ORDER BY list_dot_product(emb, emb) + list_dot_product(cv, cv)
                   - 2 * list_dot_product(emb, cv) ASC, cel.c ASC) AS rn
        FROM e, cel) WHERE rn = 1
    ), stats AS (
      SELECT cells.cell, d.d AS d,
             sum(e.emb[d.d + 1]) AS s, count(*) AS n
      FROM e JOIN cells USING (vec_id), range(0, 64) d(d)
      GROUP BY 1, 2
    )
    SELECT CAST(ce.c AS BIGINT) AS cell, CAST(ce.d AS BIGINT) AS d,
           CASE WHEN st.n IS NULL THEN ce.val
                ELSE floor(st.s / st.n * 1e6 + 0.5) / 1e6 END AS val,
           CAST(coalesce(st.n, 0) AS BIGINT) AS n
    FROM ce LEFT JOIN stats st ON st.cell = ce.c AND st.d = ce.d
    """,
)
def q137_kmeans_step_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration of ``kmeans_fit`` from the fixed
    md5-derived init: the Arrow-batched assignment and the k·d-row
    update aggregate hash-compared cell-by-cell, dimension-by-
    dimension (empty cells keep their init — also pinned)."""
    import math

    from mimic_iv_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    cent = _fixed_centroids(16, 64, prefix="km")
    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, "embedding", k=16, max_iter=1, init=cent)
    counts = (
        kmeans_assign(emb, "vec_id", "embedding", cent)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = [
        (c, d, math.floor(float(centers[c, d]) * 1e6 + 0.5) / 1e6)
        for c in range(16)
        for d in range(64)
    ]
    base = spark.createDataFrame(rows, "cell long, d long, val double")
    return base.join(
        counts.select(F.col("cell").cast("long").alias("cell"), "n"), "cell", "left"
    ).select("cell", "d", "val", F.coalesce("n", F.lit(0)).cast("long").alias("n"))


# --- q138: PCA projection onto a FIXED basis (full hash oracle) -------------
@register(
    "q138_pca_project_fixed",
    oracle=r"""
    WITH mn AS (
      SELECT d.d AS d,
             floor((cast(concat('0x', substr(md5(concat('pcm:', d.d)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e5 + 0.5) / 1e6 AS v
      FROM range(64) d(d)
    ), cp AS (
      SELECT c.c AS c, d.d AS d,
             floor((cast(concat('0x', substr(md5(concat('pcc:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS v
      FROM range(8) c(c), range(64) d(d)
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), proj AS (
      SELECT e.vec_id, cp.c,
             floor(sum((e.emb[cp.d + 1] - mn.v) * cp.v) * 1e6 + 0.5) / 1e6 AS pc
      FROM e, cp JOIN mn ON mn.d = cp.d
      GROUP BY 1, 2
    )
    SELECT vec_id,
           max(CASE WHEN c = 0 THEN pc END) AS pc0,
           max(CASE WHEN c = 1 THEN pc END) AS pc1,
           max(CASE WHEN c = 2 THEN pc END) AS pc2,
           max(CASE WHEN c = 3 THEN pc END) AS pc3,
           max(CASE WHEN c = 4 THEN pc END) AS pc4,
           max(CASE WHEN c = 5 THEN pc END) AS pc5,
           max(CASE WHEN c = 6 THEN pc END) AS pc6,
           max(CASE WHEN c = 7 THEN pc END) AS pc7
    FROM proj GROUP BY 1
    """,
)
def q138_pca_project_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pca_project`` onto a fixed md5-derived (mean, components)
    basis: eigenvector sign/order is engine-specific (q91 stays
    rows-only), but the centering + matmul projection is exact
    arithmetic — hash-compared per vector per component."""
    import hashlib
    import math

    import numpy as np

    from mimic_iv_data_pipeline_spark.operators.linalg import pca_project

    mean = np.empty(64, dtype=np.float64)
    for d in range(64):
        h = int(hashlib.md5(f"pcm:{d}".encode()).hexdigest()[:8], 16)
        mean[d] = math.floor((h / float(1 << 31) - 1.0) * 1e5 + 0.5) / 1e6
    comps = _fixed_centroids(8, 64, prefix="pcc")
    return pca_project(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", dims=64, k=8,
        components=(mean, comps),
    )


# --- q143: ANN recall@k evaluation (IVF-fixed vs exact, full hash oracle) ---
# The standard ANN quality harness (Aumüller et al., "ANN-Benchmarks",
# 2019): per-query recall@5 of the q133 fixed-centroid IVF search
# against exact brute-force top-5. Both searches AND the metric join
# are mirrored in SQL, so the evaluation itself is hash-verified —
# verification-as-a-query.
@register(
    "q143_ann_recall",
    oracle=r"""
    WITH cent AS (
      SELECT c.c AS c,
             list(floor((cast(concat('0x', substr(md5(concat('ivf:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                         / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 ORDER BY d.d) AS cv
      FROM range(16) c(c), range(64) d(d) GROUP BY 1
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dist AS (
      SELECT e.vec_id, cent.c,
             list_dot_product(emb, emb) + list_dot_product(cv, cv)
               - 2 * list_dot_product(emb, cv) AS d
      FROM e, cent
    ), cell1 AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist) WHERE rn = 1
    ), qprobe AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist WHERE vec_id < 10) WHERE rn <= 4
    ), approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT DISTINCT q.vec_id AS query_id, cv2.vec_id AS neighbor_id,
               floor(list_dot_product(qe.emb, ce.emb)
                     / (sqrt(list_dot_product(qe.emb, qe.emb))
                        * sqrt(list_dot_product(ce.emb, ce.emb)))
                     * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM qprobe q
        JOIN cell1 cv2 ON cv2.cell = q.cell AND cv2.vec_id != q.vec_id
        JOIN e qe ON qe.vec_id = q.vec_id
        JOIN e ce ON ce.vec_id = cv2.vec_id)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               floor(list_dot_product(q.emb, c.emb)
                     / (sqrt(list_dot_product(q.emb, q.emb))
                        * sqrt(list_dot_product(c.emb, c.emb)))
                     * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
    ), hits AS (
      SELECT x.query_id, count(*) AS h
      FROM exact x JOIN approx a
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           floor(coalesce(h, 0) / 5.0 * 1e6 + 0.5) / 1e6 AS recall
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits ON q.query_id = hits.query_id
    """,
)
def q143_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the fixed-centroid IVF search (q133) against exact
    brute-force cosine top-5, per query
    (operators/similarity.py:recall_at_k — one k·|Q|-row equi-join,
    corpus-size-independent)."""
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        recall_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(
        queries, corpus=emb, n_cells=16, n_probe=4, k=5, centroids=_fixed_centroids()
    )
    exact = cosine_topk(queries, corpus=emb, k=5)
    return recall_at_k(approx, exact=exact, k=5)


# --- q150: MMR diversity re-rank (full hash oracle, unrolled greedy) --------
# Carbonell & Goldstein 1998 — the diversity re-rank between ANN
# retrieval and a RAG prompt. The greedy selection is unrolled per
# step in BOTH engines (argmax windows over the bounded candidate
# list), so the entire k=3 selection trace is hash-verified: scores
# are 0.5·rel − 0.5·maxsim over 6dp-rounded cosines, deterministic
# across engines.
@register(
    "q150_mmr_rerank",
    oracle=r"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), cand AS (
      SELECT query_id, neighbor_id, cos_sim AS rel FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               floor(list_dot_product(q.emb, c.emb)
                     / (sqrt(list_dot_product(q.emb, q.emb))
                        * sqrt(list_dot_product(c.emb, c.emb)))
                     * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 8
    ), candset AS (
      SELECT DISTINCT neighbor_id AS id FROM cand
    ), sim AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             floor(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb)))
                   * 1e6 + 0.5) / 1e6 AS s
      FROM e a JOIN candset ca ON ca.id = a.vec_id
      JOIN e b ON b.vec_id != a.vec_id
      JOIN candset cb ON cb.id = b.vec_id
    ), s1 AS (
      SELECT query_id, neighbor_id FROM cand
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, neighbor_id ASC) = 1
    ), s2 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               0.5 * c.rel - 0.5 * x.s AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id
               AND c.neighbor_id != s1.neighbor_id
        JOIN sim x ON x.i = c.neighbor_id AND x.j = s1.neighbor_id)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) = 1
    ), s3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               0.5 * c.rel - 0.5 * greatest(x1.s, x2.s) AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id
               AND c.neighbor_id != s1.neighbor_id
        JOIN s2 ON s2.query_id = c.query_id
               AND c.neighbor_id != s2.neighbor_id
        JOIN sim x1 ON x1.i = c.neighbor_id AND x1.j = s1.neighbor_id
        JOIN sim x2 ON x2.i = c.neighbor_id AND x2.j = s2.neighbor_id)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) = 1
    )
    SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS rank FROM s1
    UNION ALL
    SELECT query_id, neighbor_id, CAST(2 AS BIGINT) FROM s2
    UNION ALL
    SELECT query_id, neighbor_id, CAST(3 AS BIGINT) FROM s3
    """,
)
def q150_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank (k=3, λ=0.5) of exact top-8 cosine candidates for
    10 queries (operators/similarity.py:mmr_rerank — plan-level
    unrolled greedy, joins bounded by the candidate list)."""
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cand = cosine_topk(queries, corpus=emb, k=8).withColumnRenamed("cos_sim", "rel")
    return mmr_rerank(cand, emb, k=3, lam=0.5)


# --- q152: nDCG@5 of the fixed-centroid IVF search --------------------------
# Ranking-quality companion to q143's recall@5: graded relevance from
# the exact top-5 (rel = 6 - exact_rank), position-discounted. Both
# retrieval sides, the rank derivation, and the DCG/IDCG aggregation
# are mirrored in SQL — the evaluation harness is hash-verified end to
# end (Järvelin & Kekäläinen 2002).
@register(
    "q152_ann_ndcg",
    oracle="""
    WITH cent AS (
      SELECT c.c AS c,
             list(floor((cast(concat('0x', substr(md5(concat('ivf:', c.c, ':', d.d)), 1, 8)) AS BIGINT)
                         / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 ORDER BY d.d) AS cv
      FROM range(16) c(c), range(64) d(d) GROUP BY 1
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), dist AS (
      SELECT e.vec_id, cent.c,
             list_dot_product(emb, emb) + list_dot_product(cv, cv)
               - 2 * list_dot_product(emb, cv) AS d
      FROM e, cent
    ), cell1 AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist) WHERE rn = 1
    ), qprobe AS (
      SELECT vec_id, c AS cell FROM (
        SELECT vec_id, c, row_number() OVER (
          PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
        FROM dist WHERE vec_id < 10) WHERE rn <= 4
    ), approx AS (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT DISTINCT q.vec_id AS query_id, cv2.vec_id AS neighbor_id,
               floor(list_dot_product(qe.emb, ce.emb)
                     / (sqrt(list_dot_product(qe.emb, qe.emb))
                        * sqrt(list_dot_product(ce.emb, ce.emb)))
                     * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM qprobe q
        JOIN cell1 cv2 ON cv2.cell = q.cell AND cv2.vec_id != q.vec_id
        JOIN e qe ON qe.vec_id = q.vec_id
        JOIN e ce ON ce.vec_id = cv2.vec_id)
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
    ), ranked AS (
      SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS pos
      FROM approx
    ), exact0 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(q.emb, c.emb)
                   / (sqrt(list_dot_product(q.emb, q.emb))
                      * sqrt(list_dot_product(c.emb, c.emb)))
                   * 1e6 + 0.5) / 1e6 AS cos_sim
      FROM e q JOIN e c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ), truth AS (
      SELECT query_id, neighbor_id, CAST(6 - rn AS DOUBLE) AS rel FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
        FROM exact0) WHERE rn <= 5
    ), dcg AS (
      SELECT r.query_id, sum(coalesce(t.rel, 0) / log2(r.pos + 1.0)) AS dcg
      FROM ranked r LEFT JOIN truth t
        ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
      GROUP BY 1
    ), idcg AS (
      SELECT query_id, sum(rel / log2(p + 1.0)) AS idcg FROM (
        SELECT query_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, neighbor_id ASC) AS p
        FROM truth) WHERE p <= 5
      GROUP BY 1
    )
    SELECT i.query_id,
           floor(CASE WHEN i.idcg > 0
                      THEN coalesce(d.dcg, 0) / i.idcg ELSE 0 END
                 * 1e6 + 0.5) / 1e6 AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """,
)
def q152_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the fixed-centroid IVF search against graded exact
    top-5 relevance (operators/similarity.py:ndcg_at_k — two k·|Q|-row
    windows + one equi-join, corpus-size-independent)."""
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ndcg_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(
        queries, corpus=emb, n_cells=16, n_probe=4, k=5, centroids=_fixed_centroids()
    )
    exact = cosine_topk(queries, corpus=emb, k=5)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        exact.withColumn("__rn", F.row_number().over(w))
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(6) - F.col("__rn")).cast("double").alias("rel"),
        )
    )
    return ndcg_at_k(approx, truth, k=5)


# --- q221: ANN-mined hard negatives (r9) -------------------------------------
# DPR-style retrieve-then-exclude (top-20 retrieved, same-LABEL docs
# are the "positives", first 3 different-label survivors per query).
# The oracle replays the exact depth semantics: brute-force cosine
# rank <= 20, then label filter, then rank <= 3.
@register(
    "q221_hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlab, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, label AS clab, embedding::DOUBLE[] AS cv
      FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, q.qlab, c.clab,
             floor(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))) * 1e6 + 0.5)
               / 1e6 AS cos_sim
      FROM q, c
      WHERE q.query_id != c.neighbor_id
    ), topd AS (
      SELECT * FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
      ) <= 20
    )
    SELECT query_id, neighbor_id AS doc_id, cos_sim,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
           ) - 1 AS INTEGER) AS neg_rank
    FROM topd
    WHERE qlab <> clab
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
    ) <= 3
    """,
)
def q221_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 different-label docs among each query's top-20 cosine
    neighbors (operators/sampling.py:hard_negative_sample — exact
    retrieve-then-exclude; positives = same-label pairs)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        hard_negative_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    pos = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql"))
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), F.col("label").alias("cl")),
            F.col("ql") == F.col("cl"),
        )
        .select("query_id", "doc_id")
    )
    out = hard_negative_sample(pos, queries, emb, k=3, depth=20)
    return out.select(
        "query_id", "doc_id", dround("cos_sim", 6).alias("cos_sim"), "neg_rank"
    )
