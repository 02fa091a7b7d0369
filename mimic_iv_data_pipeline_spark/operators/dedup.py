"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — all long-format, shuffle-key'd on content
hashes so they scale horizontally:

  * exact        — md5 groupBy (one shuffle on the 128-bit digest)
  * fingerprint  — exact after normalization (operators/text.py)
  * n-gram Jaccard — shingle self-join (exact pairwise, quadratic in
                     bucket size; use on candidate sets)
  * MinHash + LSH  — sketch + banding: candidate generation is linear,
                     only candidates pay the exact-verify join
  * SimHash        — 64-bit near-dup signature, hamming buckets

At 100 TB: exact/fingerprint are single-shuffle; MinHash-LSH is the
scale path (band buckets bound the quadratic blowup); the pairwise
verify joins stay key-local because both sides are partitioned by the
band/bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.operators.text import tokens


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (digest, canonical id, size).

    Canonical row = min id (deterministic). One hash aggregate.
    """
    return (
        # NOT fanned out (optimization r11): one md5 per doc is ~0.1 s of
        # CPU at sf0.1 — the repartition costs more than it buys
        # (interleaved A/B 1.9× slower with it); contrast
        # exploded_shingles below where the per-row chain is seconds
        df.withColumn("digest", F.md5(F.col(text_col)))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingle) distinct rows via posexplode + ``lead`` windows.

    This is the throughput path: every step is whole-stage-codegen'd
    (generate, window, hash aggregate) — measured ~20× faster than the
    equivalent ``transform``-lambda array expression, whose interpreted
    per-element evaluation dominates (higher-order functions never enter
    codegen). One shuffle on doc for the window, one for the distinct.

    Gram positions 0..max(k−n, 0); shorter-than-n docs yield one
    partial gram (``concat_ws`` skips the null leads).
    """
    # NOT fanned out (optimization r11): an engine.fan_out here measured
    # 0.6× on q39/q88 in interleaved A/B probes but FLAT on both under
    # the bench's own protocol while regressing q83 1.6× and q65 1.2×
    # canary-adjusted — the doc window below re-shuffles immediately, so
    # the extra exchange only pays when the tokenize itself dominates,
    # which it does not on this corpus shape. The bench protocol is the
    # authority; see OPTIMIZATION_r11.md.
    toked = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks")
    )
    pos = toked.select(
        "doc",
        F.size("__toks").alias("__k"),
        F.posexplode("__toks").alias("__pos", "__tok"),
    )
    w = Window.partitionBy("doc").orderBy("__pos")
    gram = F.concat_ws(
        " ", *([F.col("__tok")] + [F.lag("__tok", -j).over(w) for j in range(1, n)])
    )
    return (
        pos.withColumn("shingle", gram)
        .filter(F.col("__pos") <= F.greatest(F.col("__k") - n, F.lit(0)))
        .select("doc", "shingle")
        .distinct()
    )


def shingle_sets(exploded: DataFrame) -> DataFrame:
    """(doc, shingles array, n_shingles) — set form for array-verify
    paths, assembled from the codegen'd exploded relation."""
    return exploded.groupBy("doc").agg(
        F.collect_list("shingle").alias("shingles"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def _score_pairs(candidates: DataFrame, sets_df: DataFrame) -> DataFrame:
    """Exact Jaccard for (id_a, id_b) candidate pairs: join the two
    shingle arrays and intersect JVM-side (``array_intersect``). Cost is
    |candidates| — no quadratic blowup — at the price of shipping the
    arrays through the join (fine: shingle arrays are the same order of
    magnitude as the documents themselves)."""
    sa = sets_df.select(
        F.col("doc").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("size_a"),
    )
    sb = sets_df.select(
        F.col("doc").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("size_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            dround(inter / (F.col("size_a") + F.col("size_b") - inter), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard near-dup pairs above ``threshold``.

    Two exactness-preserving physical strategies, picked by selectivity:

    * t < 0.5: inverted-index count join — explode (doc, shingle),
      self-join on shingle, count common per pair (4-long-int rows:
      the pair and both set sizes, which ride each shingle row from a
      per-doc window), then ``|A∪B| = |A|+|B|−common``. Cost is
      Σ df(shingle)² join rows but each row is tiny.

    * t ≥ 0.5: prefix filtering (PPJoin family — Xiao et al.,
      "Efficient Similarity Joins for Near-Duplicate Detection",
      WWW'08): order each doc's shingles by
      ascending global document frequency; a doc only indexes its first
      ``|S| − ⌈t·|S|⌉ + 1`` shingles — sets with J ≥ t must collide on
      a prefix token, so hot shingles (the Σdf² blowup) drop out of the
      index; surviving candidates are verified on full shingle arrays.
      Selective only when t is high; at low t the prefix is ~the whole
      set and the extra freq-join/window just add overhead.

    Both produce identical output (property-tested against a
    brute-force python implementation in tests/test_dedup.py).

    ``max_df`` hardens low-threshold corpus-wide runs against the Σdf²
    wall: shingles with document frequency above the cap are dropped
    from the *candidate index* (they are exactly the quadratic-blowup
    keys and the least discriminative), and every surviving candidate
    pair is re-verified on its FULL shingle sets — so reported scores
    stay exact. Recall bound: a true pair is missed only if EVERY
    shingle the two documents share has df > max_df; on natural text
    near-dup pairs share many rare shingles, so a cap in the hundreds
    loses essentially nothing while bounding index fan-out to
    Σ min(df, max_df)². Property-tested: capped and uncapped agree on
    the fixture corpus above threshold. ``max_df`` TAKES PRECEDENCE
    over the threshold's pick: when set, the capped inverted-index path
    runs and the prefix index is not built (the cap and the prefix
    target the same Σdf² wall from different ends).
    """
    # the exploded relation feeds both join sides AND the size window
    # (or set aggregate) — pinning it computes the tokenize+window
    # chain once (~1s saved per call at 5k docs)
    exploded = exploded_shingles(df, id_col, text_col, n).transform(materialize)

    if max_df is not None:
        # candidate index without hot shingles; exact verify below
        freq_cap = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        capped = exploded.join(freq_cap, "shingle")
        a = capped.alias("a")
        b = capped.alias("b")
        candidates = (
            a.join(b, on="shingle")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct()
        )
        sets_df = shingle_sets(exploded)
        return _score_pairs(candidates, sets_df).filter(
            F.col("jaccard") >= threshold
        )

    if threshold < 0.5:
        # each shingle row carries its doc's set size (a per-doc
        # window), so the pair count needs no size table joined back
        sized = exploded.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        a = sized.select(F.col("doc").alias("id_a"), F.col("__n").alias("size_a"), "shingle")
        b = sized.select(F.col("doc").alias("id_b"), F.col("__n").alias("size_b"), "shingle")
        return (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("common"))
            .withColumn(
                "jaccard",
                dround(
                    F.col("common")
                    / (F.col("size_a") + F.col("size_b") - F.col("common")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # read by the prefix-length join and both _score_pairs probes
    sets_df = shingle_sets(exploded).transform(materialize)
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (
        F.col("n_shingles") - F.ceil(F.lit(threshold) * F.col("n_shingles")) + 1
    ).cast("int")
    ranked = (
        exploded.join(freq, "shingle")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("shingle").asc())
            ),
        )
        .join(sets_df.select("doc", "n_shingles"), "doc")
        .filter(F.col("rk") <= prefix_len)
        .select("doc", "shingle")
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    candidates = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    return _score_pairs(candidates, sets_df).filter(F.col("jaccard") >= threshold)


_M32 = 4_294_967_296  # 2^32
_MERSENNE61 = (1 << 61) - 1


def _minhash_perms(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the classical universal-hash
    MinHash family ``h_i(x) = (a_i·x32 + b_i) mod (2^61−1)`` (Broder's
    min-wise permutations via Carter–Wegman hashing). ``a`` is kept
    below 2^30 so ``a·x32 + b < 2^62 + 2^61`` never overflows a long
    under ANSI arithmetic. One string xxhash64 per shingle plus a
    multiply-add-mod per function — hashing, not arithmetic, is the
    per-row cost (the CM-sketch lesson), and unlike a Kirsch-
    Mitzenmacher linear combination the per-function argmins stay
    independent (a shared ``i·h2`` term lets the smallest h2 dominate
    every high-i function — measured recall collapse on the fixture)."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, _MERSENNE61))
        for _ in range(num_hashes)
    ]


def _signature_expr(num_hashes: int) -> Column:
    """The 64-way min-aggregate as ONE parsed SQL expression. Built
    Column-by-Column this is ~450 Py4J round-trips (~1.5 s of driver
    Python per call — measured, and the driver re-pays it on every
    query build); one ``F.expr`` string is a single round-trip and
    identical once parsed."""
    mins = ", ".join(
        f"min(pmod({a}L * __x + {b}L, {_MERSENNE61}L))"
        for a, b in _minhash_perms(num_hashes)
    )
    return F.expr(f"array({mins})")


def _shingle_hash64(shingle_hash: str, col: str | Column = "shingle") -> Column:
    """64-bit string-hash value: production ``xxhash64``, or the
    60-bit md5 hex prefix (``'md5'``) — the engine-neutral fixed
    family that lets the hash-sketch pipelines earn DuckDB hash
    oracles. ONE source of truth for the md5 recipe: the oracle twins
    mirror it bit for bit, so it must never fork per call site
    (simhash and the MinHash family both route through here)."""
    if shingle_hash == "xxhash64":
        return F.xxhash64(col)
    if shingle_hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown shingle_hash={shingle_hash!r}")


def band_buckets_expr(num_hashes: int, bands: int, bucket: str = "hash") -> Column:
    """The banding expression shared by ``minhash_lsh_pairs`` and the
    incremental index (``incremental.band_buckets``): explodes a
    ``signature`` column into ``bands`` (band, bucket) structs.
    ``'hash'`` keys by Spark ``hash()`` of each slice (production);
    ``'exact'`` by the joined slice values (engine-neutral — the
    oracle-checkable fixed form). ONE definition on purpose: an index
    written with these keys must be probed with the SAME keys, so the
    expression must never fork between the batch and incremental
    paths."""
    if bands <= 0 or bands > num_hashes:
        raise ValueError(
            f"band_buckets_expr: bands must be in [1, num_hashes] "
            f"(got bands={bands}, num_hashes={num_hashes}); bands > "
            f"num_hashes makes rows_per_band 0 — EVERY doc lands in one "
            f"bucket and the candidate join degenerates to all-pairs"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"band_buckets_expr: num_hashes ({num_hashes}) must divide "
            f"evenly into bands ({bands}) — a remainder silently drops "
            f"the trailing signature entries from every bucket key, "
            f"changing recall from what was configured"
        )
    rows_per_band = num_hashes // bands
    if bucket == "hash":
        bucket_expr = (
            f"hash(slice(signature, b * {rows_per_band} + 1, {rows_per_band}))"
        )
    elif bucket == "exact":
        bucket_expr = (
            f"concat_ws(',', transform("
            f"slice(signature, b * {rows_per_band} + 1, {rows_per_band}), "
            f"x -> cast(x AS string)))"
        )
    else:
        raise ValueError(f"band_buckets_expr: unknown bucket={bucket!r}")
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> struct("
        f"b AS band, "
        f"{bucket_expr} AS bucket))"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash sketch: for each of ``num_hashes`` hash functions, the
    min over the doc's shingle set of that function's hash.

    The shingle STRING is hashed once (``xxhash64``, or md5 via
    ``shingle_hash='md5'`` for the oracle-checkable fixed family); the
    per-function values are classical universal-hash permutations
    ``(a·x + b) mod (2^61−1)`` of the 32-bit folded hash — codegen
    multiply-add-mods, no per-function re-hash. The single shuffle is
    the groupBy(doc) with map-side partial mins: ``num_hashes`` longs
    per doc per partition.
    """
    shingled = exploded_shingles(df, id_col, text_col, n)
    base = shingled.select(
        "doc", F.pmod(_shingle_hash64(shingle_hash), F.lit(_M32)).alias("__x")
    )
    return base.groupBy("doc").agg(_signature_expr(num_hashes).alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.5,
    shingle_hash: str = "xxhash64",
    bucket: str = "hash",
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs, exact-verified.

    Signature is cut into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band hash become candidates (linear generation —
    explode bands, groupBy band bucket); candidates are then verified
    with exact n-gram Jaccard so the output has no false positives.

    The shared (doc, shingle-hash) relation is pinned with
    :func:`~mimic_iv_data_pipeline_spark.engine.materialize` (it feeds
    the sketch aggregate AND the verify join).

    Scale shape: the sketch shuffle ships only ``num_hashes``
    map-side-combined mins per doc per partition — the shingle sets
    needed for exact verification are collected ONLY for
    documents that appear in some candidate pair (semi-join on the
    candidate id set), so the corpus-wide ``collect_list`` shuffle of
    full shingle text that previously dominated the runtime never
    happens. Verification intersects 64-bit shingle-hash arrays instead
    of strings; scores are exact up to xxhash64 collisions (~2⁻⁶⁴ per
    shared shingle — property-tested identical to string-exact scores).

    ``shingle_hash``/``bucket`` are the q123-style fixed
    parameterization seams: ``shingle_hash='md5'`` derives the 64-bit
    shingle value from the md5 hex prefix (slower than xxhash64 but
    reproducible in any engine) and ``bucket='exact'`` keys band
    buckets by the joined signature values instead of Spark's
    ``hash()`` — together they make the ENTIRE pipeline (signature
    mins, banding, candidate join, exact verify) differentially
    checkable against a DuckDB twin. Production defaults stay
    xxhash64/hash (cheaper; bucket hashing only ever ADDS candidates,
    which the exact verify then discards).
    """
    if bucket not in ("hash", "exact"):
        raise ValueError(f"minhash_lsh_pairs: unknown bucket={bucket!r}")
    exploded = exploded_shingles(df, id_col, text_col, n)
    base = materialize(exploded.select("doc", _shingle_hash64(shingle_hash).alias("__h")))
    x32 = F.pmod(F.col("__h"), F.lit(_M32))
    sig = (
        base.select("doc", x32.alias("__x"))
        .groupBy("doc")
        .agg(_signature_expr(num_hashes).alias("signature"))
    )
    banded = sig.select(
        "doc",
        F.explode(band_buckets_expr(num_hashes, bands, bucket)).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    # exact verification only on candidates — |candidates| joins, never
    # the full quadratic pair space. The candidate relation (tiny: the
    # LSH survivors) fans out to THREE consumers (the id set and both
    # verify-join probes), so pin it — otherwise the banded
    # self-join re-executes per consumer.
    candidates = candidates.transform(materialize)
    # Shingle-hash sets are built ONLY for docs in some candidate pair
    # (left-semi on the candidate ids), from the pinned base relation.
    cand_docs = (
        candidates.select(F.col("id_a").alias("doc"))
        .union(candidates.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    # probed twice by _score_pairs (id_a side and id_b side)
    sets_df = (
        base.join(cand_docs, "doc", "left_semi")
        .groupBy("doc")
        .agg(
            F.collect_list("__h").alias("shingles"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .transform(materialize)
    )
    return _score_pairs(candidates, sets_df).filter(
        F.col("jaccard") >= verify_threshold
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup signature: sign of the per-bit sum of token-hash
    bit contributions (+1 if the token's xxhash64 has bit b set, −1
    otherwise), packed little-endian into a long.

    Token explode → per-token contribution array (transform over a bit
    sequence) → elementwise array sum via ``aggregate``+``zip_with``
    fold per doc. All built-ins; the fold is over per-doc token counts,
    not the corpus.

    ``token_hash='md5'`` swaps in the 60-bit md5 hex prefix (use with
    ``bits <= 32``) — the fixed family whose bit arithmetic a DuckDB
    twin can recompute exactly (q131); production stays xxhash64.
    """
    def mask(b: int) -> int:
        # bit 63 as a signed-long literal (two's complement sign bit)
        return (1 << b) if b < 63 else -(1 << 63)

    toked = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")  # empty/whitespace-only docs vote nothing
    try:
        h = _shingle_hash64(token_hash, "token")
    except ValueError:
        raise ValueError(f"simhash: unknown token_hash={token_hash!r}") from None
    # Per-bit ±1 contribution, summed map-side by the hash aggregate;
    # bit masks are python-int literals so everything stays codegen'd.
    summed = toked.groupBy("doc").agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(mask(b))) != 0, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = sum(
        [F.when(F.col(f"s{b}") > 0, F.lit(mask(b))).otherwise(F.lit(0)) for b in range(bits)],
        start=F.lit(0).cast("long"),
    )
    return summed.select("doc", sig.cast("long").alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    dims: int = 64,
    bits: int = 8,
    tables: int = 4,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    ``id_a < id_b`` and ``cos_sim >= threshold`` — the embedding-space
    member of the dedup family (exact text dup → fingerprint → Jaccard →
    MinHash → SimHash → THIS).

    ``method='exact'``: all-pairs via the broadcast-matrix numpy path —
    one matmul per (corpus-batch × corpus) block, pairs filtered at the
    batch level so only survivors shuffle. |C|² work: the verification /
    small-corpus baseline, guarded by ``max_exact_rows``.

    ``method='lsh'``: hyperplane-signature buckets (zero-state planes,
    ``similarity.hyperplane_signature``) generate candidates; a pair at
    angle θ collides in one table with probability ``(1 − θ/π)^bits``,
    and ``tables`` independent plane families amplify recall to
    ``1 − (1 − p)^tables`` (standard LSH OR-amplification) — then
    candidates are EXACT-scored, so output rows are never false
    positives. Tuning: bits ↓ or tables ↑ → recall ↑, compute ↑. Every
    shuffle is an equi-join on the (table, bucket) key and candidates
    are deduped before scoring: the 100 TB path.
    """
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        as_double_vec,
        cosine,
        hyperplane_signature,
    )

    if method == "exact":
        import numpy as np
        import pandas as pd
        from collections.abc import Iterator

        rows = df.select(id_col, vec_col).limit(max_exact_rows + 1).collect()
        if len(rows) > max_exact_rows:
            raise ValueError(
                f"exact all-pairs over > {max_exact_rows} vectors; use "
                f"method='lsh' (bucketed) for corpus-scale near-dup."
            )
        ids = np.array([r[id_col] for r in rows])
        mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        bq = df.sparkSession.sparkContext.broadcast((ids, norm))

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            all_ids, all_norm = bq.value
            for pdf in batches:
                if not len(pdf):
                    continue
                b_ids = pdf[id_col].to_numpy()
                b_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                b_norm = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
                sims = b_norm @ all_norm.T
                # same half-up rule as functions.rounding.dround (and the
                # LSH path / DuckDB oracles) — np.round is half-even and
                # can disagree with them exactly at threshold boundaries
                sims_r = np.floor(sims * 1e6 + 0.5) / 1e6
                li, ri = np.nonzero(sims_r >= threshold)
                ia, ib = b_ids[li], all_ids[ri]
                keep = ia < ib
                yield pd.DataFrame(
                    {
                        "id_a": ia[keep],
                        "id_b": ib[keep],
                        "cos_sim": sims_r[li, ri][keep],
                    }
                )

        # id type follows the input (the LSH path preserves it; a
        # hardcoded long would die in an opaque Arrow cast on string ids)
        id_t = df.schema[id_col].dataType.simpleString()
        return df.select(id_col, vec_col).mapInPandas(
            score, schema=f"id_a {id_t}, id_b {id_t}, cos_sim double"
        )

    if method != "lsh":
        raise ValueError("method must be 'exact' or 'lsh'")
    sig = df.select(
        F.col(id_col).alias("__id"),
        as_double_vec(F.col(vec_col)).alias("__v"),
        F.posexplode(
            F.array(
                *[
                    hyperplane_signature(F.col(vec_col), dims, bits, table=t)
                    for t in range(tables)
                ]
            )
        ).alias("__table", "__bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, on=["__table", "__bucket"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dround(cosine(F.col("a.__v"), F.col("b.__v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: per benchmark document, the share
    of its distinct word n-grams that appear ANYWHERE in the training
    corpus (the standard eval-leakage check run before training —
    GPT-3 App. C / PaLM-style n-gram overlap).

    Returns (doc, n_grams, n_contaminated, contamination) with
    ``contamination = n_contaminated / n_grams`` rounded to 6dp.

    Scale shape: both sides reduce to distinct (doc, shingle) /
    (shingle) relations via the codegen'd ``exploded_shingles`` path;
    the corpus side collapses to its DISTINCT shingle set *before* the
    join (vocabulary-bounded, typically ≪ corpus), and the membership
    test is a left-semi-style aggregation on the shingle equi-key — no
    all-pairs, no skew beyond hot shingles (which a ``max_df`` stop-
    list upstream would cap, cf. ``ngram_jaccard_pairs``).
    """
    bench_grams = exploded_shingles(benchmark, id_col, text_col, n)
    corpus_grams = (
        exploded_shingles(corpus, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    hits = bench_grams.join(
        corpus_grams.withColumn("__hit", F.lit(1)), "shingle", "left"
    )
    return hits.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        dround(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            / F.count("*"),
            6,
        ).alias("contamination"),
    )


def passage_block_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_tokens: int = 20,
) -> DataFrame:
    """Passage-level exact dedup (the C4/Dolma recipe between doc-level
    and n-gram-level): cut each document into fixed-size token blocks,
    hash each block, mark every occurrence after the corpus-wide first
    as duplicated, report per-doc duplication stats
    ``(doc, n_blocks, n_dup_blocks, dup_ratio)``.

    Scale shape: one narrow tokenize+explode (a doc emits
    ``ceil(tokens/block_tokens)`` rows), one shuffle keyed on the block
    hash (high cardinality — no skew concern beyond boilerplate blocks,
    which is exactly what the operator exists to find), one per-doc
    re-aggregate. First-occurrence is decided by ``(doc, block_idx)``
    lexicographic order so the result is deterministic under any
    partitioning.
    """
    toks = tokens(F.col(text_col))  # the ONE tokenizer — no inline copy
    base = df.select(F.col(id_col).alias("doc"), toks.alias("__toks"))
    n_blocks = F.greatest(
        F.ceil(F.size("__toks") / F.lit(float(block_tokens))).cast("long"), F.lit(1)
    )
    blocks = base.select(
        "doc",
        F.explode(F.sequence(F.lit(0).cast("long"), n_blocks - 1)).alias("b"),
        "__toks",
    ).select(
        "doc",
        "b",
        F.md5(
            F.array_join(
                F.slice(F.col("__toks"), F.col("b") * block_tokens + 1, block_tokens),
                " ",
            )
        ).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy("doc", "b")
    marked = blocks.withColumn("__rn", F.row_number().over(w))
    return marked.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).cast("long").alias("n_dup_blocks"),
        dround(
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("dup_ratio"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Sliding-window duplicated-span detector (the exact-substring
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", at token granularity).

    Unlike ``passage_block_dedup`` (fixed non-overlapping blocks, which
    misses any duplicate not aligned to a block boundary), this slides
    a ``k``-token window one token at a time, marks every window whose
    text occurs ≥ ``min_df`` times corpus-wide, and merges overlapping
    marked windows into maximal spans per document (gaps-and-islands
    over the start positions). Output per doc: ``n_tokens``,
    ``n_dup_spans``, ``dup_tokens`` (tokens covered by some duplicated
    span), ``dup_frac``.

    Scale shape: tokenize+explode is narrow (a doc emits n−k+1 rows);
    the duplicate mark is ONE shuffle keyed on the window text (high
    cardinality, skew-free by construction); the island merge is one
    per-doc window chain (second shuffle, keyed on doc). No self-join
    — the corpus never meets itself, unlike the Jaccard pair path.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc"), toks.alias("__toks"), F.size(toks).alias("__n")
    )
    grams = base.where(F.col("__n") >= k).select(
        "doc",
        F.explode(
            F.sequence(F.lit(1), F.col("__n") - F.lit(k) + F.lit(1))
        ).alias("p"),
        "__toks",
    ).select(
        "doc", "p", F.array_join(F.slice("__toks", F.col("p"), k), " ").alias("__g")
    )
    dup = grams.withColumn(
        "__df", F.count("*").over(Window.partitionBy("__g"))
    ).where(F.col("__df") >= min_df)
    # gaps-and-islands: spans [p, p+k-1] merge when the next start is
    # within k of the previous (touching counts as one span)
    by_doc = Window.partitionBy("doc").orderBy("p")
    isl = dup.withColumn(
        "__new",
        F.when(
            F.lag("p").over(by_doc).isNull()
            | (F.col("p") - F.lag("p").over(by_doc) > k),
            1,
        ).otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(by_doc))
    spans = isl.groupBy("doc", "__isl").agg(
        (F.max("p") + F.lit(k) - F.min("p")).cast("long").alias("__span_toks")
    )
    per_doc = spans.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("__span_toks").cast("long").alias("dup_tokens"),
    )
    return (
        base.select("doc", F.col("__n").cast("long").alias("n_tokens"))
        .join(per_doc, "doc", "left")
        .select(
            "doc",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            dround(
                F.coalesce("dup_tokens", F.lit(0))
                / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    train_sample: int = 262_144,
    centroids=None,
    pairs: str = "pandas",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then deduplicate ONLY within clusters — pairwise cosine is
    paid per cluster, never corpus-wide. A document is pruned when a
    smaller-id neighbor in its cluster has cosine ≥ ``threshold``
    (deterministic keep-lowest-id stand-in for the paper's
    keep-farthest-from-centroid tie-break).

    Reuses the IVF coarse quantizer (bounded driver-side Lloyd sample,
    broadcast centroid matrix, Arrow-batched assignment —
    ``operators/similarity.py``); the within-cluster pair join is an
    equi-join on the cell id, so the quadratic term is bounded by the
    largest cluster, not the corpus. Output: every input id with its
    ``cell`` and a ``pruned`` flag (rows-only query — k-means has no
    SQL twin; ``centroids`` is the fixed-parameterization seam that
    lets q134 hash-verify everything AROUND the training: assignment,
    within-cell pairing, the cosine-threshold prune, the keep rule).

    ``pairs`` picks the within-cell compare strategy:

    - ``"join"``: the original cell-key self-join with the expression
      cosine — interpreted per pair (the HOF-lambda cost), and the
      pair relation MATERIALIZES as shuffle rows: ~Σ|cell|²/2 rows
      plus a distinct. The parity reference for ``"pandas"``.
    - ``"pandas"`` (default): one ``applyInPandas`` per cell — the Gram
      products accumulate as dim-count vectorized rank-one updates **in Spark's
      exact sequential fold order** (``acc += V[:,d]·V[:,d]``
      reproduces ``aggregate(zip_with(a,b,x*y), 0.0, acc+v)`` element
      for element, and IEEE-754 ops are deterministic given order), so
      the UNROUNDED threshold compare is bit-identical to the
      expression path — including ``try_divide``'s zero-denominator
      NULL, NULL array elements (never prune; flagged Spark-side
      before Arrow coerces them to NaN — the assignment pass upstream
      already turns literal NaN elements into NULLs on its own Arrow
      round-trip, identically for both strategies) and NaN cosines
      from inf-norm overflow (always prune — Spark orders NaN above
      every threshold; the kernel's isnan branch mirrors it). The pair
      relation never ships: one shuffle on ``cell``, O(largest cell)
      memory per group in bounded row chunks, pruned flags emitted
      directly. This is deliberately NOT the ANN scorer
      (``_bucketed_topk_score_pandas``): that kernel uses BLAS matmul
      whose pairwise summation would flip boundary pairs; the
      per-dimension fold forgoes BLAS to keep the hash contract, and is
      still vectorized across each cell's pair block. Bit-equality with
      ``"join"`` is pinned by the expr==pandas parity suite
      (tests/test_dedup.py) and the q134 fixed-centroid hash twin
      runs through it.
    """
    import numpy as np

    from mimic_iv_data_pipeline_spark.operators.similarity import (
        _assign_cells_pandas,
        _train_quantizer,
        as_double_vec,
        cosine,
    )

    from mimic_iv_data_pipeline_spark.operators.similarity import sampled_matrix

    if centroids is not None:
        centers = np.asarray(centroids, dtype=np.float64)
    else:
        # hash-ordered bounded sample via the shared draw (see
        # similarity.sampled_matrix — the NOT-a-limit()-prefix rationale
        # and TakeOrderedAndProject shape live there)
        X = sampled_matrix(emb, id_col, vec_col, train_sample, "semdedup")
        centers = _train_quantizer(X, n_clusters, seed=seed)
    assigned = _assign_cells_pandas(emb, id_col, vec_col, centers, 1).select(
        F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("__v"), "cell"
    )
    if pairs not in ("join", "pandas"):
        raise ValueError(
            f"semantic_dedup: pairs must be 'join' or 'pandas', got {pairs!r}"
        )
    # the join path has three consumers (both self-join sides + the
    # final output join on a DIFFERENT key); the pandas path pins too,
    # sparing a recompute when callers hold the result across actions.
    # materialize runs the Python/Arrow assignment pass, the most
    # expensive stage here, once.
    assigned = materialize(assigned)
    if pairs == "pandas":
        return _semantic_prune_pandas(assigned, threshold)
    a = assigned.alias("a")
    b = assigned.alias("b")
    # The vectorized ANN scorer (_bucketed_topk_score_pandas) is the
    # WRONG tool here — its BLAS matmul sums in pairwise order and a
    # boundary-straddling pair could flip the prune flag. The
    # pairs="pandas" kernel above solves this differently:
    # per-dimension sequential accumulation IS the expression fold
    # order, so it is bit-identical, not just close.
    pruned_ids = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("b.id") < F.col("a.id")))
        .where(cosine(F.col("a.__v"), F.col("b.__v")) >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        assigned.select("id", "cell")
        .join(pruned_ids.withColumn("pruned", F.lit(True)), "id", "left")
        .select(
            "id", "cell", F.coalesce("pruned", F.lit(False)).alias("pruned")
        )
    )


def _semantic_prune_pandas(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cell prune flags via one ``applyInPandas`` per cell,
    bit-identical to the expression-path self-join (see
    :func:`semantic_dedup`'s ``pairs`` contract for the why and the
    fold-order argument). Input: ``(id, __v array<double>, cell)``;
    output: ``(id, cell, pruned)`` with ``id``'s type preserved.

    Memory per group is bounded: the Gram block is computed in row
    chunks of ``~2M doubles / |cell|`` rows, so the peak accumulator is
    ~16 MB regardless of cell size (the quadratic WORK is inherent to
    SemDeDup and bounded by the largest cell — the memory no longer
    is). NULL-element vectors are flagged Spark-side (``__hasnull``)
    before Arrow coerces NULL to NaN: they never prune and are never
    pruned (expression cosine is NULL). Literal NaN data elements never
    reach either pair path (the assignment pass's Arrow round-trip
    coerces them to NULL first); NaN cosines ARE still reachable via
    inf-norm overflow, and the isnan branch prunes them exactly like
    the expression path (NaN compares above every threshold in Spark's
    ordering).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    id_field = assigned.schema["id"]
    cell_field = assigned.schema["cell"]
    out_schema = StructType(
        [
            StructField("id", id_field.dataType, id_field.nullable),
            StructField("cell", cell_field.dataType, cell_field.nullable),
            StructField("pruned", BooleanType(), False),
        ]
    )
    flagged = assigned.withColumn(
        "__hasnull",
        F.coalesce(
            F.exists("__v", lambda x: x.isNull()), F.lit(True)
        ),
    )
    thr = float(threshold)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="stable").reset_index(drop=True)
        c = len(pdf)
        excl = pdf["__hasnull"].to_numpy(dtype=bool)
        pruned = np.zeros(c, dtype=bool)
        keep = ~excl
        n_valid = int(keep.sum())
        if n_valid >= 2:
            # valid rows in id order; positions map back via vidx
            vidx = np.flatnonzero(keep)
            ids_unique = bool(pdf["id"].is_unique)
            id_vals = pdf["id"].to_numpy()[vidx]
            V = np.stack(pdf["__v"].to_numpy()[vidx]).astype(np.float64)
            d = V.shape[1]
            # norms: sqrt of the sequential fold of squares (index order)
            acc = np.zeros(n_valid)
            for k in range(d):
                acc = acc + V[:, k] * V[:, k]
            nrm = np.sqrt(acc)
            rows_per_chunk = max(1, 2_000_000 // max(n_valid, 1))
            vp = np.zeros(n_valid, dtype=bool)
            for s in range(1, n_valid, rows_per_chunk):
                e = min(s + rows_per_chunk, n_valid)
                # Gram block rows [s,e) x cols [0,e): dim-count rank-one
                # updates — the expression fold's exact addition order
                num = np.zeros((e - s, e))
                for k in range(d):
                    num = num + np.multiply.outer(V[s:e, k], V[:e, k])
                denom = np.multiply.outer(nrm[s:e], nrm[:e])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = num / denom
                hit = ((cos >= thr) | np.isnan(cos)) & (denom != 0.0)
                # strict lower triangle: the join's b.id < a.id is a VALUE
                # compare — position order equals value order for unique
                # ids (sorted), but duplicate ids must not pair
                if ids_unique:
                    lt = np.arange(e)[None, :] < np.arange(s, e)[:, None]
                else:
                    lt = id_vals[None, :e] < id_vals[s:e, None]
                vp[s:e] = (hit & lt).any(axis=1)
            pruned[vidx] = vp
            if not ids_unique:
                # the join path flags EVERY row of a pruned id (its
                # output join keys on id alone) — mirror that within the
                # cell; unique ids are the operator's contract, and a
                # duplicate id split ACROSS cells diverges (join path
                # ORs globally, this kernel per cell)
                hit_ids = set(pdf["id"].to_numpy()[pruned])
                pruned = pdf["id"].isin(hit_ids).to_numpy()
        return pd.DataFrame(
            {"id": pdf["id"], "cell": pdf["cell"], "pruned": pruned}
        )

    return flagged.groupBy("cell").applyInPandas(prune, schema=out_schema)
