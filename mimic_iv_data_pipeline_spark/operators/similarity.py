"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the scale path (candidates only meet within their bucket,
so the pairwise cost is Σ bucket² instead of n²). All dot products are
built-in higher-order functions (``zip_with`` + ``aggregate``) — JVM
expression tree, Arrow-free, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential left fold (deterministic order — oracle
    and engine agree to float precision)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector scores NULL in BOTH ANSI and
    # legacy modes (plain '/' THROWS DIVIDE_BY_ZERO under ANSI — the
    # Spark 4 default — and returns NULL otherwise; the operator's
    # contract is the NULL, which ranks last under desc windows)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def as_double_vec(col: Column) -> Column:
    """float32 → float64 elementwise, so arithmetic matches engines that
    upcast before accumulating."""
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    queries: DataFrame,
    *,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the corpus, score every pair, keep k per query.

    Shape at scale: corpus stays partitioned, queries broadcast — one
    narrow map stage plus a top-k window partitioned by query (AQE
    handles the skewless reduction). Excludes self-matches. Ties break
    on corpus id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def hyperplane_signature(
    vec: Column, dims: int, bits: int = 16, table: int = 0,
    plane_hash: str = "xxhash64",
) -> Column:
    """Random-hyperplane LSH signature as a packed long.

    Plane p's component for dimension d is a deterministic ±1 derived
    from ``xxhash64((table·bits + p)·dims + d)`` parity — no stored
    plane matrix, any executor can recompute it (the 100 TB-friendly
    property: zero broadcast state). Bit p = 1 iff vec · plane_p > 0.
    ``table`` selects an independent plane family for multi-table LSH
    amplification (table 0 reproduces the single-table signature).
    ``plane_hash='md5'`` derives the parity from the md5 hex prefix of
    ``'hp:<index>'`` instead — the engine-neutral fixed plane family
    behind q132's hash oracle; production stays xxhash64.
    """
    def plane_component(p: int, d: Column) -> Column:
        idx = F.lit((table * bits + p) * dims) + d
        if plane_hash == "xxhash64":
            h = F.xxhash64(idx)
        elif plane_hash == "md5":
            h = F.conv(
                F.substring(F.md5(F.concat(F.lit("hp:"), idx.cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
        else:
            raise ValueError(f"hyperplane_signature: unknown plane_hash={plane_hash!r}")
        return F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(F.lit(-1.0))

    def bit_for_plane(p: int) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda x, d: x.cast("double") * plane_component(p, d),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))

    return sum(
        [bit_for_plane(p) for p in range(bits)], start=F.lit(0).cast("long")
    ).cast("long")


def cosine_topk_pandas(
    queries: DataFrame,
    *,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Vectorized brute-force top-k: the scale path for wide corpora.

    The expression-tree cosine (``cosine_topk``) evaluates its
    higher-order lambdas interpreted, per element — fine for thousands
    of pairs, dominated at millions. This variant broadcasts the query
    matrix to every executor and scores each corpus partition as ONE
    numpy matmul per Arrow batch (``mapInPandas``), then keeps the
    per-partition top-k before the final global top-k window — the
    classic map-side-combine for top-k. Identical results (same
    ``dround`` floor-rounding inlined as ``np.floor(x·1e6+0.5)/1e6`` —
    NOT ``np.round``, whose ties-to-even differs at half boundaries;
    same tie-break; zero-norm vectors score NULL and rank last exactly
    as the expression path's 0/0 → NULL does), asserted in
    tests/test_similarity.py.

    The query side is collected to the driver and broadcast — correct
    for the intended serving shape (a bounded query batch against a huge
    corpus), but a driver OOM if a caller passes a corpus-sized query
    DataFrame. ``max_query_rows`` guards that: a query side larger than
    the cap raises with a pointer to the bucketed join paths
    (``ann_lsh_topk`` / ``ivf_topk``), which never materialize either
    side on the driver.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    # limit(cap+1) bounds the check itself: never pulls more than cap+1
    # rows regardless of the query side's true size.
    q_rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_pandas broadcasts the query side to every executor; "
            f"got > {max_query_rows} query rows. For large query sides use the "
            f"bucketed paths (ann_lsh_topk / ivf_topk) or raise max_query_rows."
        )
    from mimic_iv_data_pipeline_spark.operators.pq import _require_integral_id

    _require_integral_id(queries, id_col, "cosine_topk_pandas (query side)")
    _require_integral_id(corpus, id_col, "cosine_topk_pandas")
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_norm))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # zero-norm vectors: 0/0 -> NaN here; the expression path's
            # 0/0 division yields NULL, so NaN cells are masked to NULL
            # below (NaN would otherwise rank FIRST in Spark's desc
            # window — NaN > any double — returning a zero vector as
            # everyone's top-1 neighbor)
            with np.errstate(divide="ignore", invalid="ignore"):
                c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ qn.T  # |corpus_batch| × |queries|
            n_q = len(ids)
            # dround twin: floor(x*1e6 + 0.5)/1e6 — np.round's
            # ties-to-even disagrees at half boundaries
            sims_r = np.floor(sims.T.ravel() * 1e6 + 0.5) / 1e6
            frame = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(c_ids)),
                    "neighbor_id": np.tile(c_ids, n_q),
                    "cos_sim": (
                        pd.array(sims_r, dtype="Float64")
                        if np.isnan(sims_r).any()
                        else sims_r
                    ),
                }
            )
            frame = frame[frame.query_id != frame.neighbor_id]
            # per-batch top-k: bound the shuffle to k rows per query per batch
            frame = frame.sort_values(
                ["query_id", "cos_sim", "neighbor_id"],
                ascending=[True, False, True],
            ).groupby("query_id").head(k)
            yield frame

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sampled_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    train_sample: int,
    tag: str,
    key_expr: Column | None = None,
):
    """Hash-ordered bounded training sample as a numpy (n, d) float64
    matrix — THE shared draw for every bounded-driver trainer (IVF,
    PQ, IVF-PQ, SemDeDup, distributed k-means init).

    ``orderBy(xxhash64(key, tag))`` plans as TakeOrderedAndProject
    (per-partition top-n, no global sort) and draws uniformly from the
    whole corpus, invariant to partition order/layout — a ``limit()``
    prefix instead takes whatever partitions scan first, which at
    scale is typically one source/shard and trains biased centroids
    (the round-4 de-bias fix, now in one place). ``tag`` decorrelates
    draws of different trainers over the same corpus; ``key_expr``
    overrides the key when no natural id exists (e.g. a content hash).

    Driver-transfer bound (r10 probe finding): TakeOrdered ships each
    TASK's own top-``train_sample`` rows to the driver BEFORE the
    merge, so the transfer is tasks × sample × row-width — the 5M-doc
    / 64-partition ivf probe blew ``spark.driver.maxResultSize``
    (1 GB) on exactly this. When the corpus is ≥ 4× the sample, a
    hash-threshold pre-filter keeps only ~2× ``train_sample`` rows
    (the hash is uniform on the signed-64 range, so the frontier sits
    at min + 2·(sample/n)·2⁶⁴; P[survivors < sample] is Chernoff-
    negligible at 2× margin, and a short-collect falls back to the
    unfiltered draw for exactness). The filtered TakeOrdered returns
    the SAME rows — the global top-``train_sample`` by hash is a
    subset of any superset of the threshold survivors — so trained
    centroids are bit-identical to the unfiltered draw. Costs one
    count job, amortized into the training it bounds.
    """
    import numpy as np

    key = key_expr if key_expr is not None else F.col(id_col).cast("string")
    base = df.select(key.alias("__k"), F.col(vec_col).alias("__v"))
    h = F.xxhash64(F.col("__k"), F.lit(tag))

    def take(src) -> list:
        return (
            src.orderBy(h.asc(), F.col("__k").asc())
            .limit(train_sample)
            .collect()
        )

    n = base.count()
    if n >= 4 * train_sample:
        frac = 2.0 * train_sample / n
        thresh = int(-(1 << 63) + frac * float(1 << 64))
        rows = take(base.filter(h < F.lit(thresh)))
        if len(rows) < train_sample:  # astronomically rare; exactness net
            rows = take(base)
    else:
        rows = take(base)
    return np.asarray([r["__v"] for r in rows], dtype=np.float64)


def _train_quantizer(X, k: int, seed: int = 42, iters: int = 10, block: int = 8192):
    """Lloyd's k-means on an in-memory sample — the IVF coarse-quantizer
    trainer (numpy twin of what FAISS's ``Clustering`` does on its
    bounded training sample).

    Distances go through the ``argmax(2·X·Cᵀ − |c|²)`` identity in
    ``block``-row slabs so peak memory is O(block × k), never
    O(sample × k); empty cells keep their previous centroid (FAISS
    semantics). Deterministic under (seed, sample order).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    k_eff = min(k, len(X))
    C = X[rng.choice(len(X), size=k_eff, replace=False)].copy()

    def assign(C):
        c2 = (C * C).sum(axis=1)
        out = np.empty(len(X), dtype=np.int64)
        for s in range(0, len(X), block):
            xb = X[s : s + block]
            out[s : s + block] = np.argmax(2.0 * (xb @ C.T) - c2[None, :], axis=1)
        return out

    for _ in range(iters):
        labels = assign(C)
        sums = np.zeros_like(C)
        np.add.at(sums, labels, X)
        counts = np.bincount(labels, minlength=k_eff).astype(np.float64)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    return C


def _make_nearest_cells():
    """The nearest-cell kernel, nested so executor closures pickle it
    by value (see ``bpe._make_word_encoder``): each row's ``n`` nearest
    cell ids (at most n_cells) by ``d² = |v|² + |c|² − 2v·c`` as one
    matmul, ties to the lower cell id (stable argsort)."""
    import numpy as np

    def nearest(v, centers, c_sq, n: int):
        d = (v * v).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (v @ centers.T)
        return np.argsort(d, axis=1, kind="stable")[:, :n]

    return nearest


def _assign_cells_pandas(
    df: DataFrame, id_col: str, vec_col: str, centers, n: int
) -> DataFrame:
    """Nearest-cell assignment: broadcast the centroid matrix once and
    score each Arrow batch as one numpy matmul (``d² = |v|² + |c|² − 2v·c``).

    Replaces the earlier literal-expression plan (one
    ``aggregate(zip_with(...))`` per centroid, each inlining ``dims``
    float literals) whose Catalyst tree grew O(n_cells × dims) — fatal at
    the 1k–64k cells real IVF uses. This path has O(1) plan size at any
    ``n_cells``; the per-batch cost is a dense (batch × cells) matmul,
    exactly the shape BLAS is fastest at. Emits each vector's ``n``
    nearest cell ids (``_make_nearest_cells``: ties break on the lower
    cell id).
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import IntegerType, StructField, StructType

    centers_np = np.asarray(centers, dtype=np.float64)
    c_sq = (centers_np**2).sum(axis=1)
    bc = df.sparkSession.sparkContext.broadcast((centers_np, c_sq))
    nearest = _make_nearest_cells()

    narrow = df.select(id_col, vec_col)
    out_schema = StructType(
        list(narrow.schema.fields) + [StructField("cell", IntegerType(), False)]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, cc2 = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            order = nearest(v, cent, cc2, n)
            reps = order.shape[1]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), reps),
                    vec_col: np.repeat(pdf[vec_col].to_numpy(), reps),
                    "cell": order.ravel().astype(np.int32),
                }
            )

    return narrow.mapInPandas(assign, schema=out_schema)


def _bucketed_topk_score_pandas(
    c_keyed: DataFrame,
    bucket_col: str,
    q_rows: list,
    id_col: str,
    vec_col: str,
    k: int,
    query_id_type=None,
    neighbor_id_type=None,
) -> DataFrame:
    """Shared vectorized scorer for the bucketed ANN paths (IVF cells,
    hyperplane-LSH buckets): group the collected query rows
    ``(qid, qv, <bucket>)`` into per-bucket (ids, L2-normalized matrix)
    pairs, broadcast the dict, and score each corpus Arrow batch's
    bucket-mates as one numpy matmul, keeping per-batch per-query top-k
    (the cosine_topk_pandas map-side-combine restricted by bucket
    membership — exact: top-k of per-batch top-ks equals global top-k
    under the (cos desc, id asc) total order). Conventions copied from
    cosine_topk_pandas: floor(x·1e6+0.5)/1e6 rounding (dround twin),
    zero-norm → NULL (ranks last in the desc window), self-match
    exclusion. Arrow transfer pins ids to long internally — callers
    gate on integral ids and fall back to their expression path
    otherwise — but the RESULT carries the input id types:
    ``query_id_type`` / ``neighbor_id_type`` (the query-side and
    corpus-side ``id_col`` DataTypes) are cast back after the map, so
    int/smallint ids do not silently widen relative to the expression
    path.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    grouped: dict[int, list] = {}
    for r in q_rows:
        grouped.setdefault(int(r[2]), []).append((r[0], r[1]))
    by_bucket: dict[int, tuple] = {}
    for bucket, items in grouped.items():
        ids = np.array([i for i, _ in items], dtype=np.int64)
        m = np.array([list(v) for _, v in items], dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        by_bucket[bucket] = (ids, mn)
    bq = c_keyed.sparkSession.sparkContext.broadcast(by_bucket)
    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def score_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for bucket, sub in pdf.groupby(bucket_col):
                entry = by.get(int(bucket))
                if entry is None:
                    continue
                ids, qn = entry
                c_ids = sub[id_col].to_numpy()
                c_mat = np.stack(sub[vec_col].to_numpy()).astype(np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
                sims = c_norm @ qn.T  # |bucket batch| × |bucket queries|
                sims_r = np.floor(sims.T.ravel() * 1e6 + 0.5) / 1e6
                frame = pd.DataFrame(
                    {
                        "query_id": np.repeat(ids, len(c_ids)),
                        "neighbor_id": np.tile(c_ids, len(ids)),
                        "cos_sim": (
                            pd.array(sims_r, dtype="Float64")
                            if np.isnan(sims_r).any()
                            else sims_r
                        ),
                    }
                )
                frames.append(frame[frame.query_id != frame.neighbor_id])
            if not frames:
                continue
            out = pd.concat(frames, ignore_index=True)
            yield (
                out.sort_values(
                    ["query_id", "cos_sim", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id")
                .head(k)
            )

    scored = c_keyed.mapInPandas(score_fn, schema=out_schema)
    if query_id_type is not None:
        scored = scored.withColumn(
            "query_id", F.col("query_id").cast(query_id_type)
        )
    if neighbor_id_type is not None:
        scored = scored.withColumn(
            "neighbor_id", F.col("neighbor_id").cast(neighbor_id_type)
        )
    return scored


def _integral_ids(queries: DataFrame, corpus: DataFrame, id_col: str) -> bool:
    """True if both sides' ``id_col`` is integral: the vectorized scorer
    carries ids through a ``long`` Arrow schema, so any other id type
    takes the expression path."""
    integral = ("tinyint", "smallint", "int", "bigint")
    return all(df.schema[id_col].dataType.simpleString() in integral for df in (queries, corpus))


def _probe_rows(q_rows: list, centers, n_probe: int) -> list[tuple]:
    """``(id, vec, cell)`` per probed cell of collected ``(id, vec)``
    rows: the driver twin of ``_assign_cells_pandas(queries, n_probe)``."""
    import numpy as np

    if not q_rows:
        return []
    cent = np.asarray(centers, dtype=np.float64)
    v = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    order = _make_nearest_cells()(v, cent, (cent**2).sum(axis=1), n_probe)
    return [(r[0], r[1], int(c)) for r, cells in zip(q_rows, order) for c in cells]


def ivf_topk(
    queries: DataFrame,
    *,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    seed: int = 42,
    max_iter: int = 10,
    train_sample: int = 262_144,
    centroids=None,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer.

    ``centroids`` (an (n_cells, dims) array-like) skips the k-means fit
    and searches against the GIVEN coarse quantizer — the q123-style
    fixed-parameterization seam (q133 hash-verifies the whole search
    path against md5-derived centroids) and the serving shape when a
    quantizer trained offline is reused across queries.

    Train ``n_cells`` centroids (Spark ML KMeans — distributed Lloyd),
    assign every corpus vector to its nearest cell, and search each
    query only in its ``n_probe`` closest cells. Recall/throughput trade
    is (n_probe / n_cells); the join is an equi-join on cell id, so the
    pairwise work drops from |Q|·|C| to |Q|·|C|·(n_probe/n_cells) and
    shuffles stay keyed. This is the standard IVF-Flat scheme (public:
    Johnson et al., "Billion-scale similarity search with GPUs", 2017).

    Quantizer training follows IVF practice (FAISS trains the coarse
    quantizer single-process on a bounded sample with cheap init): a
    hash-ordered sample of ``train_sample`` corpus rows is pulled to
    the driver (one TakeOrdered job — no count pass, no distributed
    fit; memory is bounded at sample × dims × 8 B ≈ 134 MB at the
    default, and the draw is partition-order invariant) and Lloyd
    iterations run as blocked numpy matmuls. Training cost is flat in
    corpus size while assignment stays exact over the full corpus; a
    Spark ML KMeans fit of the same 16-cell quantizer costs ~0.9 s of
    JVM job overhead alone at sf0.1 — more than this whole query.

    The id type picks the scorer. With integral ids on both sides the
    query rows are collected (``max_query_rows`` bounds that collect),
    their ``n_probe`` cells are assigned on the driver with the kernel
    the corpus side's ``mapInPandas`` runs, and each corpus Arrow batch
    scores its cell-mate queries as one numpy matmul
    (:func:`_bucketed_topk_score_pandas`). Any other id type takes the
    type-generic expression path: a broadcast equi-join on cell id with
    an interpreted cosine per candidate row. Both give the same top-k
    (the floor-round absorbs the op-order ulp).
    """
    if centroids is not None:
        import numpy as np

        centers = np.asarray(centroids, dtype=np.float64)
    else:
        # hash-ordered bounded sample via the shared draw (see
        # sampled_matrix: TakeOrderedAndProject, partition-order invariant)
        X = sampled_matrix(corpus, id_col, vec_col, train_sample, "ivf")
        centers = _train_quantizer(X, n_cells, seed=seed, iters=max_iter)

    def assign_cells(df: DataFrame, n: int) -> DataFrame:
        return _assign_cells_pandas(df, id_col, vec_col, centers, n)

    if not _integral_ids(queries, corpus, id_col):
        c_assigned = assign_cells(corpus, 1).select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv"), "cell"
        )
        q_assigned = assign_cells(queries, n_probe).select(
            F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv"), "cell"
        )
        scored = (
            c_assigned.join(F.broadcast(q_assigned), on="cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                dround(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
            )
            # NO distinct: each corpus vector lives in exactly ONE cell
            # (assign_cells(corpus, 1)), so a (query, neighbor) pair can
            # meet in at most one probed cell — a distinct here would
            # hash-shuffle the whole scored relation for zero dedup effect
        )
    else:
        q_rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
        if len(q_rows) > max_query_rows:
            raise ValueError(
                f"ivf_topk broadcasts the probed-query matrices; got > "
                f"{max_query_rows} query rows — raise max_query_rows or "
                f"shard the query side."
            )
        scored = _bucketed_topk_score_pandas(
            assign_cells(corpus, 1).select(id_col, vec_col, "cell"),
            "cell",
            _probe_rows(q_rows, centers, n_probe),
            id_col,
            vec_col,
            k,
            query_id_type=queries.schema[id_col].dataType,
            neighbor_id_type=corpus.schema[id_col].dataType,
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ann_lsh_topk(
    queries: DataFrame,
    *,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    bits: int = 8,
    k: int = 5,
    plane_hash: str = "xxhash64",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, score only
    within the query's bucket. Recall is tunable via ``bits`` (fewer
    bits → bigger buckets → higher recall, more compute).

    The id type picks the scorer, as in :func:`ivf_topk`: integral ids
    on both sides collect the bucketed queries (``max_query_rows``
    bounds that collect) and score each corpus Arrow batch's
    bucket-mates as one numpy matmul
    (:func:`_bucketed_topk_score_pandas`); any other id type takes the
    type-generic expression join. Both give the same top-k."""
    sig = lambda df, idc, vc: df.select(  # noqa: E731
        F.col(id_col).alias(idc),
        as_double_vec(F.col(vec_col)).alias(vc),
        hyperplane_signature(
            F.col(vec_col), dims, bits, plane_hash=plane_hash
        ).alias("bucket"),
    )

    if not _integral_ids(queries, corpus, id_col):
        q = sig(queries, "query_id", "qv")
        c = sig(corpus, "neighbor_id", "cv")
        scored = (
            c.join(F.broadcast(q), on="bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                dround(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
            )
        )
    else:
        q_rows = (
            sig(queries, "qid", "qv")
            .select("qid", "qv", "bucket")
            .limit(max_query_rows + 1)
            .collect()
        )
        if len(q_rows) > max_query_rows:
            raise ValueError(
                f"ann_lsh_topk broadcasts the bucketed query matrices; got > "
                f"{max_query_rows} query rows — raise max_query_rows or "
                f"shard the query side."
            )
        c_keyed = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            hyperplane_signature(
                F.col(vec_col), dims, bits, plane_hash=plane_hash
            ).alias("bucket"),
        )
        scored = _bucketed_topk_score_pandas(
            c_keyed,
            "bucket",
            q_rows,
            id_col,
            vec_col,
            k,
            query_id_type=queries.schema[id_col].dataType,
            neighbor_id_type=corpus.schema[id_col].dataType,
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantize_embeddings_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension min/max scalar quantization of an embedding corpus
    to int8 (the FAISS ``SQ8`` / vector-DB storage recipe: 4× smaller
    than float32, ~1% recall loss at ANN time).

    ``q_i = round((x_i − min_i) / (max_i − min_i) · 254) − 127`` with a
    constant dimension collapsing to 0; also emits the per-vector mean
    absolute reconstruction error of the dequantized vector.

    Scale shape: the stats pass is a posexplode + dim-keyed aggregate
    (``dims`` groups — trivially small); the per-dim min/max arrays
    come back as ONE broadcast row (no driver collect, no literal-plan
    centroids); quantization itself is a narrow
    ``transform`` over each vector, whole-stage codegen, no shuffle.
    """
    # feeds the stats aggregate and the quantize map
    base = materialize(emb.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("__x")))
    stats = (
        base.select(F.posexplode("__x").alias("__i", "__v"))
        .groupBy("__i")
        .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
    )
    arrs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "mn"))), lambda s: s.mn
        ).alias("__mn_a"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "mx"))), lambda s: s.mx
        ).alias("__mx_a"),
    )

    def _mn(i: Column) -> Column:
        return F.element_at(F.col("__mn_a"), (i + 1).cast("int"))

    def _mx(i: Column) -> Column:
        return F.element_at(F.col("__mx_a"), (i + 1).cast("int"))

    qvec = F.transform(
        F.col("__x"),
        lambda v, i: F.when(_mx(i) == _mn(i), F.lit(0))
        .otherwise(
            (F.floor((v - _mn(i)) / (_mx(i) - _mn(i)) * 254.0 + 0.5) - 127).cast("int")
        )
        .cast("int"),
    )
    quantized = base.crossJoin(F.broadcast(arrs)).withColumn("qvec", qvec)
    err_arr = F.transform(
        F.col("qvec"),
        lambda q, i: F.abs(
            F.when(_mx(i) == _mn(i), _mn(i))
            .otherwise((q + 127) / 254.0 * (_mx(i) - _mn(i)) + _mn(i))
            - F.element_at(F.col("__x"), (i + 1).cast("int"))
        ),
    )
    return quantized.select(
        id_col,
        "qvec",
        dround(
            F.aggregate(err_arr, F.lit(0.0), lambda a, v: a + v) / F.size("qvec"), 6
        ).alias("recon_err"),
    )


def recall_at_k(
    approx: DataFrame,
    *,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of an approximate
    top-k result against the exact top-k ground truth.

    ``recall = |approx ∩ exact| / k`` per query (the standard ANN
    benchmark metric — public: ann-benchmarks.com / Aumüller et al.
    2019). Queries present in ``exact`` but absent from ``approx``
    (e.g. every probed cell was empty) score 0.0 rather than
    disappearing, so a broken index can't inflate the metric by
    dropping hard queries.

    Scale shape: ONE equi-join on (query, neighbor) — both sides are
    k·|Q| rows regardless of corpus size, so the evaluation costs
    nothing next to the searches that produced its inputs. No UDFs,
    no collect.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    a = approx.select(
        F.col(query_col).alias("query_id"), F.col(neighbor_col).alias("neighbor_id")
    )
    # dedup the truth side: duplicate (query, neighbor) rows (e.g. an
    # upstream union) would each survive the semi-join and let recall
    # exceed 1.0; the relation is k·|Q| rows, so the shuffle is noise
    e = exact.select(
        F.col(query_col).alias("query_id"), F.col(neighbor_col).alias("neighbor_id")
    ).distinct()
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    all_q = e.select("query_id").distinct()
    return (
        all_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            dround(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int,
    lam: float = 0.5,
    query_col: str = "query_id",
    cand_col: str = "neighbor_id",
    rel_col: str = "rel",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick, per query, the candidate maximizing
    ``lam·rel(q, d) − (1−lam)·max_{s∈selected} sim(d, s)`` — the
    standard diversity re-rank between ANN retrieval and a RAG prompt,
    so the k passages are not k near-copies of each other.

    Spark-first shape: ``k`` is small and static, so the greedy loop
    unrolls at PLAN level — step t is one join of the remaining
    candidates against the t selected rows (both bounded by the
    candidate list, NOT the corpus) + one per-query argmax window. No
    UDFs, no collect; the corpus is touched only to fetch candidate
    vectors once. Candidate–candidate similarity is rounded to 6dp
    (dround) so the greedy trace is engine-portable — the q150 oracle
    replays the same unrolled selection in SQL.

    ``candidates``: (query, candidate, rel) — rel already rounded by
    the producing search (e.g. ``cosine_topk``). Ties break on
    candidate id ascending, matching the search operators.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if not (0.0 <= lam <= 1.0):
        raise ValueError("lam must be in [0, 1]")

    vecs = corpus.select(
        F.col(id_col).alias(cand_col), as_double_vec(F.col(vec_col)).alias("__v")
    )
    cand = (
        candidates.select(query_col, cand_col, rel_col)
        .join(vecs, cand_col)
    )

    def argmax(df: DataFrame, score, order_cols) -> DataFrame:
        w = Window.partitionBy(query_col).orderBy(*order_cols)
        return (
            df.withColumn("__score", score)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    first = argmax(
        cand, F.col(rel_col), [F.col(rel_col).desc(), F.col(cand_col).asc()]
    ).select(
        query_col,
        F.col(cand_col),
        F.col("__v").alias("__sv"),
        F.lit(1).alias("rank"),
    )
    selected = first
    out = first.select(query_col, cand_col, "rank")

    for t in range(2, k + 1):
        remaining = cand.join(
            selected.select(query_col, cand_col), [query_col, cand_col], "left_anti"
        )
        pen = (
            remaining.join(
                selected.select(query_col, F.col("__sv")), query_col
            )
            .withColumn("__sim", dround(cosine(F.col("__v"), F.col("__sv")), 6))
            .groupBy(query_col, cand_col, rel_col)
            .agg(F.max("__sim").alias("__maxsim"), F.first("__v").alias("__v"))
        )
        score = F.lit(lam) * F.col(rel_col) - F.lit(1.0 - lam) * F.col("__maxsim")
        pick = argmax(
            pen, score, [score.desc(), F.col(cand_col).asc()]
        ).select(
            query_col,
            F.col(cand_col),
            F.col("__v").alias("__sv"),
            F.lit(t).alias("rank"),
        )
        selected = selected.unionByName(pick)
        out = out.unionByName(pick.select(query_col, cand_col, "rank"))
    return out.withColumn("rank", F.col("rank").cast("long"))


def ndcg_at_k(
    results: DataFrame,
    truth: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    score_col: str = "cos_sim",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query nDCG@k of a ranked retrieval result against graded
    relevance judgments (public metric: Järvelin & Kekäläinen 2002;
    the standard IR/ANN ranking-quality measure next to recall@k).

    ``results`` carries a score column; ranks are derived here with
    the repo-wide tie-break (score desc, neighbor asc) so the metric
    is deterministic even when the retriever emits tied scores.
    ``truth`` carries explicit grades (query, neighbor, rel).

      DCG@k  = Σ_{i<=k} rel(result_i) / log2(i+1)
      IDCG@k = the same sum over truth's top-k by (rel desc, id asc)
      nDCG   = DCG / IDCG   (0.0 when IDCG = 0)

    Queries present in ``truth`` but absent from ``results`` score 0.0
    rather than disappearing — same no-silent-drop contract as
    ``recall_at_k``.

    Scale shape: both inputs are k·|Q|-row relations; two top-k
    windows partitioned by query + one equi-join + one keyed
    aggregate. Corpus-size-independent, no UDFs, no collect.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    r = results.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.col(score_col).alias("__score"),
    )
    # dedup judgments: an exact-duplicate (query, neighbor, rel) row
    # would fan out the DCG join and double-add that result's gain,
    # silently pushing nDCG past 1.0; k·|Q| rows — negligible shuffle
    t = truth.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.col(rel_col).cast("double").alias("__rel"),
    ).distinct()
    wr = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    ranked = (
        r.withColumn("__pos", F.row_number().over(wr))
        .filter(F.col("__pos") <= k)
        .join(t, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("__rel"), F.lit(0.0))
                / F.log2(F.col("__pos") + F.lit(1.0))
            ).alias("__dcg")
        )
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("__rel").desc(), F.col("neighbor_id").asc()
    )
    ideal = (
        t.withColumn("__pos", F.row_number().over(wt))
        .filter(F.col("__pos") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(F.col("__rel") / F.log2(F.col("__pos") + F.lit(1.0))).alias(
                "__idcg"
            )
        )
    )
    return (
        ideal.join(ranked, "query_id", "left")
        .select(
            "query_id",
            dround(
                F.when(
                    F.col("__idcg") > 0,
                    F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg"),
        )
    )
