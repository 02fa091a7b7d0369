"""End-to-end retrieval-corpus build: chunk → embed → index → query.

The RAG preparation pipeline every retrieval-augmented system runs
over a curated corpus —

  1. **chunk** the documents with stride/overlap
     (``text.chunk_documents`` — coverage-guaranteed windows);
  2. **embed** each chunk (``retrieval.embed_hashed_projection`` — the
     deterministic JL featurizer by default; a trained encoder plugs
     into the same seam as an Arrow-batched map and NOTHING downstream
     changes);
  3. **index**: IVF cells over the chunk vectors (bounded-sample
     k-means — `similarity.ivf_topk`'s quantizer), optionally
     PQ-compressed codes for the 100 TB storage budget;
  4. **query**: embed the query texts with the SAME featurizer and
     retrieve top-k chunks per query (cell-pruned candidate set, exact
     cosine scores).

Every stage is deterministic, so the whole build is retry/repartition
stable — the property that makes an index REBUILDABLE byte-for-byte
from the corpus, which is the difference between "a serving artifact"
and "state you must never lose".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.retrieval import (
    embed_hashed_projection,
)
from mimic_iv_data_pipeline_spark.operators.similarity import ivf_topk
from mimic_iv_data_pipeline_spark.operators.text import chunk_documents

__all__ = ["build_chunk_index", "retrieve"]


def build_chunk_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    dims: int = 64,
) -> DataFrame:
    """Chunk the corpus and embed every chunk.

    Returns ``(chunk_uid, doc_id, chunk_id, chunk_text, embedding)`` —
    the indexable relation. ``chunk_uid = doc_id·1e6 + chunk_id`` so it
    is stable across rebuilds AND order-preserving within a document.
    Id-space contract (enforced, not assumed): ``chunk_id < 1_000_000``
    (a 1M-chunk doc at the default stride is a ≥24M-token document) and
    ``doc_id < ~9.2e12`` so the product can't overflow a long; a row
    outside either bound raises instead of silently colliding. For id
    spaces beyond that, key chunks by ``xxhash64(doc_id, chunk_id)``
    instead (loses ordering, never collides by construction bounds).
    Persist or write this once; both the ANN index build and any
    re-ranking read it.
    """
    uid_ok = (
        (F.col("chunk_id") < F.lit(1_000_000))
        & (F.col(id_col) >= F.lit(0))
        & (F.col(id_col) < F.lit(9_223_372_036_854 - 1))
    )
    chunks = chunk_documents(
        docs, id_col, text_col, window=window, stride=stride
    ).withColumn(
        "chunk_uid",
        F.when(
            uid_ok, (F.col(id_col) * F.lit(1_000_000) + F.col("chunk_id")).cast("long")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("build_chunk_index: chunk_uid id-space exceeded "
                          "(need 0 <= doc_id < 9.2e12, chunk_id < 1e6): doc_id="),
                    F.col(id_col).cast("string"),
                    F.lit(" chunk_id="),
                    F.col("chunk_id").cast("string"),
                )
            ).cast("long")
        ),
    )
    emb = embed_hashed_projection(
        chunks.select("chunk_uid", "chunk_text"), "chunk_uid", "chunk_text", dims=dims
    )
    return (
        chunks.select("chunk_uid", id_col, "chunk_id", "chunk_text")
        .join(emb, "chunk_uid")
    )


def retrieve(
    index: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Top-``k`` chunks per query text over a built chunk index.

    Queries embed with the same featurizer; retrieval is the IVF path
    (cell-pruned candidates, exact cosine scores, deterministic
    tie-break). Output ``(query_id, neighbor_id, cos_sim)`` where
    ``neighbor_id`` is the chunk uid.
    """
    q_emb = embed_hashed_projection(
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.col(query_text_col).alias("qtext"),
        ),
        "qid",
        "qtext",
        dims=dims,
    ).select(F.col("qid").alias("vec_id"), "embedding")
    c_emb = index.select(F.col("chunk_uid").alias("vec_id"), "embedding")
    return ivf_topk(
        q_emb, corpus=c_emb, n_cells=n_cells, n_probe=n_probe, k=k
    )
