"""Frequency sketches over token streams: exact heavy hitters and a
Count-Min sketch built as a DataFrame aggregation.

Corpus-frequency questions ("what are the most common tokens / boiler-
plate lines?") drive stop-lists and dedup heuristics. The exact path
is a single hash aggregate on the token (vocabulary-bounded, so fine
even at 100 TB); the Count-Min path bounds the *state* instead —
``depth × width`` counters regardless of vocabulary size — which is
the shape you want when the keys are unbounded (URLs, 13-gram
fingerprints) and an ε-overestimate is acceptable.

Spark-first design: the sketch IS a tiny DataFrame ``(depth, bucket,
cnt)`` produced by one map-side-combinable groupBy — no driver
accumulator, no custom UDAF, mergeable across corpora by a further
groupBy-sum (the classic CM merge = counter-wise add). Hashing is the
same portable md5-prefix primitive as ``sampling._hash_long`` so the
whole construction has a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize

__all__ = [
    "token_stream",
    "heavy_hitters",
    "cm_sketch",
    "cm_estimate",
    "bloom_build",
    "bloom_probe",
]


def token_stream(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per token occurrence (lowercased, ``\\s+`` split —
    identical semantics to ``operators.text.tokens``)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return df.select(F.explode(toks).alias("token")).filter(F.col("token") != "")


def heavy_hitters(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Exact global top-k tokens with deterministic tie-break.

    Three-phase: groupBy(token) (shuffle bounded by vocabulary,
    map-side partial aggregation does the heavy lifting), then a
    bucket-local rank prunes each of 256 hash-buckets to its own top-k
    (parallel windows — any global top-k member is top-k within its
    bucket, so nothing true is dropped), and only the ≤ 256·k
    survivors pass through the final single-partition row_number. The
    serial step is O(buckets·k) regardless of vocabulary size.
    """
    counts = token_stream(df, text_col).groupBy("token").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wb = Window.partitionBy("__b").orderBy(F.desc("cnt"), F.asc("token"))
    pruned = (
        counts.withColumn("__b", F.pmod(F.hash("token"), F.lit(256)))
        .withColumn("__r", F.row_number().over(wb))
        .filter(F.col("__r") <= k)
        .drop("__b", "__r")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _digest_bucket(digest: Column, token: Column, row: int, width: int) -> Column:
    """Row-``row``'s CM bucket for a token, from a pre-materialized
    ``md5(token)`` digest column.

    Rows 0-3 slice disjoint 32-bit windows out of ONE md5 digest (32
    hex chars = 4 independent 8-hex slices) — measured 2.7× faster at
    100M hashed occurrences than per-row seeded digests. Rows ≥ 4 fall
    back to a seeded digest. Both forms stay DuckDB-expressible
    (``substr(md5(token), row*8+1, 8)``).
    """
    if row < 4:
        h = F.conv(F.substring(digest, row * 8 + 1, 8), 16, 10).cast("long")
    else:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}:"), token)), 1, 8), 16, 10
        ).cast("long")
    return F.pmod(h, F.lit(width))


def cm_sketch(
    occ: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a Count-Min sketch ``(depth, bucket, cnt)`` from a token-
    occurrence stream. State is O(depth × width) — independent of
    corpus size.

    Counts per token FIRST, then hashes only the distinct vocabulary
    (weighted by count into the counters). On Zipfian corpora this
    hashes orders of magnitude fewer rows — measured 4.2× faster at 25M
    occurrences than hashing every occurrence — at the cost of a
    token-keyed shuffle whose size is the per-partition-distinct
    vocabulary.
    """
    tok = F.col(token_col)
    base = occ.groupBy(token_col).agg(F.count("*").alias("__c"))
    # one md5 per row, sliced per depth (beats per-depth seeded digests
    # 2.7×: codegen does NOT eliminate repeated md5 inside a generate)
    hashed = base.withColumn("__dig", F.md5(tok))
    rows = F.array(*[
        F.struct(
            F.lit(d).cast("long").alias("depth"),
            _digest_bucket(F.col("__dig"), tok, d, width).alias("bucket"),
        )
        for d in range(depth)
    ])
    return (
        hashed.select("__c", F.explode(rows).alias("r"))
        .select("__c", "r.depth", "r.bucket")
        .groupBy("depth", "bucket")
        .agg(F.sum("__c").cast("long").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each probe token: min over rows of
    the counter at that row's bucket (the CM estimate — an
    overestimate with classical ε·N / e^-depth guarantees).

    The sketch is tiny → broadcast join; probes stream through without
    a shuffle on their side. The probe token's md5 is materialized
    ONCE and sliced per depth row — the same non-CSE-inside-generate
    fix cm_sketch measured at 2.7× (codegen does not eliminate a
    repeated md5 inside a generate).
    """
    keyed = (
        probes.select(F.col(token_col))
        .withColumn("__dig", F.md5(F.col(token_col)))
        .select(
            token_col,
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(d).cast("long").alias("depth"),
                        _digest_bucket(
                            F.col("__dig"), F.col(token_col), d, width
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ])
            ).alias("r"),
        )
        .select(token_col, "r.depth", "r.bucket")
    )
    joined = keyed.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return joined.groupBy(token_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cm_est")
    )


def _bloom_bits(
    key: Column, num_bits: int, num_hashes: int, salt: str
) -> Column:
    """The ONE bit-position recipe shared by build and probe: per hash
    j, ``pmod(md5-8-hex-prefix('{salt}{j}:' || key), num_bits)``. Build
    and probe must stay bit-identical or every probe goes false — same
    one-source-of-truth rule as ``dedup._shingle_hash64``."""
    return F.array(*[
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}{j}:"), key.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(num_bits),
        )
        for j in range(num_hashes)
    ])


def bloom_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom filter as a DataFrame of DISTINCT set bit positions
    ``(bit)`` — at most ``num_bits`` rows regardless of key count.

    Spark-first sketch shape (cf. ``cm_sketch``): no driver-side bitset,
    no UDAF — one explode to ``num_hashes`` rows per key and one
    map-side-combinable distinct. Mergeable: union two filters and
    re-distinct (classic Bloom OR). The md5-prefix hash keeps a DuckDB
    oracle twin possible. Use when a 100 TB membership pre-filter must
    ship to every executor: ``num_bits`` rows of one long broadcast in
    KBs where the key set itself would be TBs.

    NULL keys are NOT representable (md5(NULL) is NULL — no bit to
    set); they are dropped here, and :func:`bloom_probe` returns NULL
    ``maybe_member`` for them, so the no-false-negatives guarantee is
    scoped to non-null keys instead of being silently violated.
    """
    bits = _bloom_bits(F.col(key_col), num_bits, num_hashes, salt)
    return (
        keys.filter(F.col(key_col).isNotNull())
        .select(F.explode(bits).alias("bit"))
        .distinct()
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Probe: ``maybe_member`` is true iff ALL ``num_hashes`` bit
    positions of the key are set (no false negatives for NON-NULL
    keys; false-positive rate ≈ (1 − e^{−kn/m})^k). A NULL probe key
    returns NULL (unknown) — its bit positions are NULL, so a false
    ``maybe_member`` would be a silent false negative when NULL was in
    the build set. The filter is ≤ ``num_bits`` rows → broadcast
    inner-count join; the probe side never shuffles."""
    keyed = probes.select(
        F.col(key_col),
        F.explode(_bloom_bits(F.col(key_col), num_bits, num_hashes, salt)).alias(
            "bit"
        ),
    )
    hits = keyed.join(F.broadcast(bloom), "bit", "inner")
    agg = hits.groupBy(key_col).agg(F.count("*").cast("long").alias("__hits"))
    return probes.select(key_col).distinct().join(agg, key_col, "left").select(
        key_col,
        F.when(
            F.col(key_col).isNotNull(),
            F.coalesce("__hits", F.lit(0)) == num_hashes,
        ).alias("maybe_member"),
    )


def _theta_u(key: Column) -> Column:
    """48-bit md5-prefix uniform in [0, 1) — deterministic and
    DuckDB-twinnable (`cast('0x'||substr(md5(...),1,12) as bigint)`),
    the same portability contract as the sampling/hash-split family."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("theta:"), key.cast("string"))), 1, 12),
        16,
        10,
    ).cast("double")
    return h / F.lit(float(1 << 48))


def theta_sketch(df: DataFrame, key_col: str, k: int = 512) -> DataFrame:
    """KMV/Theta distinct sketch of a key column: the ``k`` smallest
    distinct hash values (one DataFrame row each, ``u`` ascending rank).

    The Theta sketch (public: Dalvi/DataSketches KMV line of work) is
    the distinct-count summary that supports SET ALGEBRA — union,
    intersection, difference — which HLL (q56) cannot. Bounded state
    (k rows), mergeable, exact below k. Build cost: one distinct
    aggregate + one TakeOrdered — no global sort.
    """
    return (
        df.select(F.col(key_col).alias("key"))
        .distinct()
        .select(_theta_u(F.col("key")).alias("u"))
        # distinct HASH VALUES, not just distinct keys: two keys
        # colliding on the 48-bit prefix must enter the KMV sample
        # once — duplicate u rows would row-multiply the intersection
        # join and bias the (k-1)/u_k estimator low on u_k
        .distinct()
        .orderBy(F.col("u").asc())
        .limit(k)
    )


def theta_set_cardinalities(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = 512,
) -> DataFrame:
    """Distinct / union / intersection cardinality estimates for two
    keyed sets from their Theta sketches, next to the exact counts.

    Estimators (KMV, Beyer et al. SIGMOD'07):
      * per set: exact when the sketch holds < k values, else
        ``(k−1)/u_k`` with ``u_k`` the k-th smallest hash;
      * union: k smallest of the merged samples, same rule;
      * intersection: ``θ = min(θ_a, θ_b)``; retained = hash values in
        BOTH samples below θ; estimate ``|retained|/θ``.

    One deterministic output row (md5-based hashes — the estimate
    itself is oracle-checkable exactly, not just within tolerance):
    exact_a/b/union/inter plus est_a/b/union/inter. At 100 TB the
    exact columns are the expensive ones (countDistinct + a distinct
    join); production keeps only the sketch path — they are emitted
    here as the differential ground truth.
    """
    a_keys = df_a.select(F.col(key_col).alias("key")).distinct()
    b_keys = df_b.select(F.col(key_col).alias("key")).distinct()
    sk_a = theta_sketch(df_a, key_col, k).withColumn("side", F.lit("a"))
    sk_b = theta_sketch(df_b, key_col, k).withColumn("side", F.lit("b"))

    def est_expr(n_col: Column, kth_col: Column) -> Column:
        return F.when(n_col < k, n_col.cast("double")).otherwise(
            F.lit(float(k - 1)) / kth_col
        )

    def sketch_stats(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).alias(f"__n_{name}"),
            F.max("u").alias(f"__kth_{name}"),
        )

    merged = (
        sk_a.select("u")
        .union(sk_b.select("u"))
        .distinct()
        .orderBy(F.col("u").asc())
        .limit(k)
    )
    inter_stats = (
        sk_a.select("u")
        .join(sk_b.select("u"), on="u")
        .agg(F.collect_list("u").alias("__both"))
    )

    exact = (
        a_keys.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(b_keys.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            a_keys.union(b_keys).distinct().agg(F.count(F.lit(1)).alias("exact_union"))
        )
        .crossJoin(
            a_keys.join(b_keys, on="key").agg(F.count(F.lit(1)).alias("exact_inter"))
        )
    )
    stats = (
        sketch_stats(sk_a, "a")
        .crossJoin(sketch_stats(sk_b, "b"))
        .crossJoin(sketch_stats(merged, "u"))
        .crossJoin(inter_stats)
    )
    theta = F.least(
        F.when(F.col("__n_a") < k, F.lit(1.0)).otherwise(F.col("__kth_a")),
        F.when(F.col("__n_b") < k, F.lit(1.0)).otherwise(F.col("__kth_b")),
    )
    n_retained = F.size(F.filter("__both", lambda u: u < theta))
    from mimic_iv_data_pipeline_spark.functions.rounding import dround

    return exact.crossJoin(F.broadcast(stats)).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        dround(est_expr(F.col("__n_a"), F.col("__kth_a")), 6).alias("est_a"),
        dround(est_expr(F.col("__n_b"), F.col("__kth_b")), 6).alias("est_b"),
        dround(est_expr(F.col("__n_u"), F.col("__kth_u")), 6).alias("est_union"),
        dround(n_retained / theta, 6).alias("est_inter"),
    )


def bloom_prefilter_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Join acceleration by Bloom pre-filtering: drop fact rows that
    CANNOT match any dim key BEFORE the join shuffle, then run the
    exact join (which also removes the Bloom's false positives, so the
    result is bit-identical to ``facts.join(dim, on, how)`` — that
    equality is the oracle).

    This is the runtime-filter / sideways-information-passing pattern
    (public: Spark's own `spark.sql.optimizer.runtime.bloomFilter.enabled`,
    and semi-join reduction in classic distributed query processing),
    made explicit for when the optimizer can't inject it — e.g. the dim
    is itself a subquery the planner won't sniff, or the filter must be
    REUSED across several fact scans.

    Physical shape: the filter is ≤ ``num_bits`` DISTINCT bit rows
    (KBs), broadcast; membership is ``num_hashes`` chained
    broadcast-hash LEFT SEMI joins on computed bit columns — row-level,
    ZERO shuffle and zero row multiplication on the fact side (contrast
    ``bloom_probe``, whose explode + groupBy answers per-KEY membership).
    At 100 TB this turns "shuffle every fact row" into "shuffle only
    plausible matchers": measured at 12M facts × a ~1%-selective dim
    (1M bits, k=3), 6.2% of fact rows survive the prefilter against
    3.9% true matchers — a 16× reduction in rows entering the
    exchange. Know the trade: the prefilter COSTS ~3 narrow hash
    passes over the fact side, so on a shuffle-cheap single node it
    LOSES wall-clock (2.0 s vs 0.8 s in the same measurement); it wins
    when the exchange is the constraint — network-bound clusters,
    disk-spilling shuffles — which is the 100 TB regime it exists for
    (PERF.md "r5 second-wave probes"). False-positive rate
    ≈ (1 − e^{−kn/m})^k; size ``num_bits`` ≈ 10× expected distinct keys
    for ~1% at k=3.

    ``how`` is restricted to join types where pre-dropping non-matching
    FACT rows is semantics-preserving: 'inner' and 'left_semi'.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom prefilter preserves semantics only for how='inner'/'left_semi'"
        )
    ft, dt = facts.schema[on].dataType, dim.schema[on].dataType
    if ft != dt:
        # xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash apart)
        # while the exact equi-join coerces — a silent dtype mismatch
        # would prefilter away every true match. Make the caller cast.
        raise ValueError(
            f"bloom_prefilter_join: key dtype mismatch (facts {ft.simpleString()}"
            f" vs dim {dt.simpleString()}) — cast one side first; xxhash64 is"
            " type-sensitive and would hash equal keys apart"
        )
    def bit_expr(j: int) -> Column:
        # xxhash64, NOT the md5 family bloom_build/bloom_probe use: this
        # expression runs per FACT row (x num_hashes, x num_hashes
        # semi-joins), so hash cost is the whole game — md5-with-string-
        # cast measured 6x SLOWER than the plain join it was meant to
        # beat at 12M facts, while native xxhash64 on the unconverted
        # key is ~free (PERF.md "r5 second-wave probes"). The md5 family
        # keeps its DuckDB-twinnable hash because its *sketch contents*
        # are oracled; here only the JOIN RESULT is oracled, so the
        # fastest deterministic hash wins.
        return F.pmod(F.xxhash64(F.lit(j), F.col(on)), F.lit(num_bits))

    bloom = (
        dim.select(on)
        .distinct()
        .select(
            F.explode(
                F.array(*[bit_expr(j) for j in range(num_hashes)])
            ).alias("bit")
        )
        .distinct()
        # materialize ONCE: the per-j rename below makes the three
        # broadcast plans non-identical, so without this the dim-side
        # distinct+explode pipeline would recompute per semi-join
        # (3 BroadcastExchange, 0 ReusedExchange)
        .transform(materialize)
    )

    filtered = facts
    for j in range(num_hashes):
        b = bloom.withColumnRenamed("bit", f"__b{j}")
        filtered = filtered.join(
            F.broadcast(b), bit_expr(j) == F.col(f"__b{j}"), "left_semi"
        )
    return filtered.join(dim, on, how)
