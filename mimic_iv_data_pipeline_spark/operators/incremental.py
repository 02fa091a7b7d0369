"""Incremental corpus deduplication against a persisted MinHash index.

The production shape of LLM-corpus dedup is not one giant batch: a
crawled corpus grows in snapshots, and each NEW batch must be deduped
against everything already accepted WITHOUT re-scanning the old corpus
text. The standard answer (public: Lee et al. 2022 §4 "incremental
setting"; every vector-DB LSH index) is to persist the old corpus's
MinHash band index — ``(doc, band, bucket, signature)``, a few hundred
bytes per doc — and run each new batch as:

  1. signature + band the new docs with the SAME hash family/banding,
  2. equi-join new bands against index bands (keyed shuffle, no
     text movement, index side partition-pruned by band),
  3. score surviving candidates by SIGNATURE-estimated Jaccard (mean
     per-function agreement — an unbiased estimator with s.e.
     ≈ 1/sqrt(num_hashes) ≈ 0.125 at 64; the index stores no shingle
     sets, so exact re-verify would need the old text — callers who
     keep it can exact-verify the tiny surviving pair list).

At 100 TB the index is ~1/1000th of the corpus and the per-snapshot
cost is O(new batch) — the whole point vs re-running
``minhash_lsh_pairs`` over old∪new every snapshot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.operators.dedup import minhash_signatures

__all__ = [
    "band_buckets",
    "build_minhash_index",
    "dedup_against_index",
    "estimated_jaccard",
]


def band_buckets(
    sig_df: DataFrame, num_hashes: int, bands: int, bucket: str = "hash"
) -> DataFrame:
    """Explode a ``(doc, signature)`` relation to ``(doc, band, bucket,
    signature)`` — one parsed expression, same banding as
    ``minhash_lsh_pairs``: ``bucket='hash'`` keys by Spark ``hash()``
    of each signature slice (production), ``'exact'`` by the joined
    slice values (engine-neutral — the oracle-checkable fixed form).
    The banding expression is the ONE shared
    ``dedup.band_buckets_expr`` — an index written here must be
    probed with the exact keys the batch path computes."""
    from mimic_iv_data_pipeline_spark.operators.dedup import band_buckets_expr

    return sig_df.select(
        "doc",
        "signature",
        F.explode(band_buckets_expr(num_hashes, bands, bucket)).alias("bb"),
    ).select(
        "doc",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        "signature",
    )


def estimated_jaccard(sig_a: Column, sig_b: Column, num_hashes: int | None = None) -> Column:
    """Mean per-function MinHash agreement — the classical unbiased
    Jaccard estimator (Broder 1997).

    Pass ``num_hashes`` (the signature length, a plan-time constant
    everywhere this is used) to evaluate as an UNROLLED codegen sum of
    ``element_at`` equality terms — higher-order ``zip_with`` /
    ``aggregate`` lambdas never enter whole-stage codegen (the PERF.md
    interpreted-lambda trap, ~20-50x slower per row) and this runs on
    the candidate-pair hot path. The lambda form remains as the
    fallback for a truly unknown length. PRECONDITION: ``num_hashes``
    must equal the actual signature length — a longer value reads
    NULL elements and the NULL-absorbing sum poisons the estimate.
    """
    if num_hashes:
        agree = None
        for i in range(1, int(num_hashes) + 1):
            term = (
                F.element_at(sig_a, i) == F.element_at(sig_b, i)
            ).cast("int")
            agree = term if agree is None else agree + term
        # runtime guard: a signature built with a DIFFERENT num_hashes
        # would be scored on only the first `num_hashes` elements
        # (longer) or hit out-of-bounds element_at (shorter) — either
        # silently wrong. The size compare is one codegen branch per
        # row; the raise only evaluates on mismatch.
        ok = (F.size(sig_a) == F.lit(int(num_hashes))) & (
            F.size(sig_b) == F.lit(int(num_hashes))
        )
        # NULL signatures score NULL (matching the lambda fallback,
        # where agree/size(NULL) is NULL) — they must NOT reach the
        # raise branch: size(NULL) is NULL, so `ok` would be NULL and
        # otherwise() would fail the whole job with a misleading
        # "length mismatch" for a row the threshold filter would have
        # silently dropped.
        return (
            F.when(sig_a.isNull() | sig_b.isNull(), F.lit(None).cast("double"))
            .when(ok, agree / F.lit(float(num_hashes)))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "estimated_jaccard: signature lengths (%s, %s) != "
                        "num_hashes " + str(int(num_hashes)),
                        F.size(sig_a).cast("string"),
                        F.size(sig_b).cast("string"),
                    )
                )
            )
        )
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree / F.size(sig_a)


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_hash: str = "xxhash64",
    bucket: str = "hash",
) -> DataFrame:
    """The persistable index relation for an accepted corpus:
    ``(doc, band, bucket, signature)``. Write it partitioned by
    ``band`` (16 directories) so each incremental join prunes to the
    band being probed; ~bands × (8·num_hashes + 16) bytes per doc.
    ``shingle_hash``/``bucket`` are the fixed-parameterization seams
    (see ``minhash_lsh_pairs``); an index must be probed with the SAME
    settings it was built with."""
    sig = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes, shingle_hash=shingle_hash
    )
    return band_buckets(sig, num_hashes, bands, bucket=bucket)


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_hash: str = "xxhash64",
    bucket: str = "hash",
) -> DataFrame:
    """Flag new docs that near-duplicate an indexed doc.

    Output: ``(new_id, index_id, est_jaccard)`` — one row per
    (new, indexed) pair that shares ≥1 band bucket AND has estimated
    Jaccard ≥ ``threshold``; distinct over bands. Anti-join the
    new batch against ``select(new_id)`` of this to keep survivors,
    then union survivors' own ``minhash_lsh_pairs`` for within-batch
    dedup.

    The hash family is deterministic (fixed seeds), so signatures
    computed today join correctly against an index written months ago —
    the property that makes the index durable.
    """
    new_sig = minhash_signatures(
        new_docs, id_col, text_col, n=n, num_hashes=num_hashes,
        shingle_hash=shingle_hash,
    )
    new_banded = band_buckets(new_sig, num_hashes, bands, bucket=bucket)
    cand = (
        new_banded.select(
            F.col("doc").alias("new_id"),
            "band",
            "bucket",
            F.col("signature").alias("__new_sig"),
        )
        .join(
            index.select(
                F.col("doc").alias("index_id"),
                "band",
                "bucket",
                F.col("signature").alias("__idx_sig"),
            ),
            on=["band", "bucket"],
        )
        .select("new_id", "index_id", "__new_sig", "__idx_sig")
        .distinct()
    )
    return cand.select(
        "new_id",
        "index_id",
        dround(
            estimated_jaccard(
                F.col("__new_sig"), F.col("__idx_sig"), num_hashes=num_hashes
            ),
            6,
        ).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)
