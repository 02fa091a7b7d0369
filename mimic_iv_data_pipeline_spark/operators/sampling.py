"""Deterministic sampling / splitting / packing operators for
training-data pipelines.

The reference splits train/test by shuffling an id list on the driver
(``model/ml_models.py:71``, ``model/dl_train.py:122``,
``model/tokenization.py:130-140``) — fine for 300k patients, unusable
at 100 TB (and irreproducible across runs unless the seed and the id
*order* are both pinned). These operators replace driver-side shuffles
with *content-addressed* decisions: every row's fate is a pure function
of its key, so the split is reproducible on any cluster, at any
partitioning, with no driver state and no shuffle at all (the hash is a
narrow per-row projection).

Portability contract (the reason for md5 instead of ``xxhash64``):
``hash_unit`` below is expressible verbatim in any ANSI engine —
DuckDB: ``cast(concat('0x', substr(md5(concat(salt, ':', cast(k as
varchar))), 1, 8)) as bigint) / 4294967296.0`` — so every operator in
this module carries a DuckDB oracle in the driver battery. At 100 TB
the md5-per-row cost is dwarfed by the scan; swap ``_hash_long`` for
``F.xxhash64`` only if profiling ever shows otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import fan_out, materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround

__all__ = [
    "hash_unit",
    "hash_split",
    "stratified_sample",
    "pack_sequences",
    "source_mixture_rates",
    "dsir_log_weights",
    "length_bucketed_batches",
    "negative_sample",
    "build_corpus_index",
    "hard_negative_sample",
]

_HASH_SPAN = 4294967296.0  # 2^32: span of the 8-hex-digit prefix


def _hash_long(key: Column, salt: str) -> Column:
    """First 32 bits of md5(salt ':' key) as an unsigned long."""
    digest = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")


def hash_unit(key: Column, salt: str = "") -> Column:
    """Uniform [0, 1) value derived deterministically from ``key``.

    The split/sample primitive: stable under repartitioning, executor
    count, and row order — unlike ``F.rand`` whose output depends on
    partition layout.
    """
    return _hash_long(key, salt) / F.lit(_HASH_SPAN)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashed key.

    ``fractions`` maps split name → mass (must sum to ~1.0). Rows with
    equal keys always land in the same split (leak-proof grouping:
    pass subject_id, not row id, to keep a patient's visits together —
    the reference's random id shuffle gives the same guarantee only
    because it splits *ids*, then joins back).

    Narrow op: no shuffle, no driver state. At 100 TB this is the only
    split strategy that doesn't need a global sort or collected id set.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    # materialize the digest once (its own projection) instead of
    # inlining it into every WHEN condition — conditions evaluate
    # sequentially, so an inlined u re-hashes per split boundary
    # (the q180 poisson_count lesson; same values, fewer md5 evals)
    tmp = f"__{out_col}_u"
    # uniquify against the input (ADVICE r11: a fixed temp name would
    # silently withColumn-replace — then drop — a caller column that
    # happens to collide, corrupting input data)
    while tmp in df.columns:
        tmp = "_" + tmp
    u = F.col(tmp)
    expr: Column | None = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return (
        df.withColumn(tmp, hash_unit(F.col(key_col), salt))
        .withColumn(out_col, expr)
        .drop(tmp)
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. rebalance languages
    or sources in a training corpus).

    Keeps a row iff ``hash_unit(key) < rate(stratum)``. Unlike
    ``df.sampleBy`` (seeded Bernoulli over partition order) the result
    is bit-stable across any cluster layout, so a corpus re-sample on
    1000 executors equals the local[32] one. Narrow op — no shuffle.
    """
    rate = None
    for name, r in rates.items():
        cond = F.col(strata_col) == F.lit(name)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = F.lit(default_rate) if rate is None else rate.otherwise(F.lit(default_rate))
    return df.filter(hash_unit(F.col(key_col), salt) < rate)


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    tokens_col: str,
    budget: int,
    out_col: str = "window_id",
    split_oversized: bool = False,
    tie_break: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget context windows
    (GPT-style concat-and-chunk packing, document boundaries kept).

    Within each shard, documents are laid out in ``order_col`` order
    and a document starts window ``floor(tokens_before / budget)`` —
    the window its first token falls into under plain concatenation.
    A window may exceed ``budget`` by at most one document's tail
    (standard greedy packing slack; exact bin packing is NP-hard and
    order-dependent anyway).

    Scale shape: the running sum is a window over (shard, order) — one
    shuffle on ``shard_col``, each shard packed independently, so 100
    TB packs as long as no single shard is huge (shard by file/source,
    never a constant). This is deliberately NOT a global
    ``Window.orderBy`` — that would serialize on one task.

    ``split_oversized=True`` switches to real concat-and-chunk
    semantics: a document spanning a window boundary is split, emitting
    one row per covered window with ``chunk_index`` (0-based within the
    doc) and ``chunk_tokens`` (its token share in that window) — so
    every window holds EXACTLY ``budget`` tokens except each shard's
    last. The explode is a narrow op after the same single shuffle
    (``F.sequence`` over first..last covered window; a doc emits
    ``ceil(tokens/budget) + 1`` rows at most).

    Determinism: (shard, order_col) must be unique — or pass
    ``tie_break`` — for the layout-stable packing contract; with ties
    and no tie-break the running sum's tie order (and hence window
    ids) depends on partition layout.
    """
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be a positive token count")
    order = [F.col(order_col).asc()] + (
        [F.col(tie_break).asc()] if tie_break else []
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    if not split_oversized:
        return df.withColumn(out_col, F.floor(before / F.lit(budget)).cast("long"))

    tokens = F.col(tokens_col).cast("long")
    b = F.col("__before")
    first_w = F.floor(b / F.lit(budget)).cast("long")
    last_w = F.floor((b + tokens - F.lit(1)) / F.lit(budget)).cast("long")
    # materialize the running sum BEFORE the explode: a generator and a
    # window function cannot share one projection
    exploded = df.withColumn("__before", before).withColumn(
        out_col,
        # empty docs (tokens=0) still land in their start window
        F.explode(F.sequence(first_w, F.greatest(first_w, last_w))),
    )
    wid = F.col(out_col)
    lo = F.greatest(wid * budget, b)
    hi = F.least((wid + 1) * budget, b + tokens)
    return exploded.select(
        *[c for c in df.columns],
        wid.alias(out_col),
        (wid - F.floor(b / F.lit(budget)).cast("long")).cast("long").alias("chunk_index"),
        F.greatest(hi - lo, F.lit(0)).cast("long").alias("chunk_tokens"),
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023): per-document log importance weight
    ``Σ_f c_doc(f) · [ln p̂_target(f) − ln p̂_raw(f)]`` over hashed
    unigram+bigram features, with add-one smoothing
    ``p̂(f) = (c(f)+1)/(total+B)``. Documents scoring high look like the
    target distribution — the standard quality-domain upsampler for
    pretraining mixes.

    ``target_col`` is a boolean column marking the target exemplars;
    the raw distribution is the whole corpus. Features are md5-prefix
    hashes mod ``buckets`` (same portable primitive as
    :func:`hash_unit`, so the whole computation has an exact DuckDB
    twin).

    Returns ``(doc, n_feats, log_weight)`` — one row for EVERY input
    document: docs with no extractable features (NULL/empty/whitespace
    text) return ``(doc, 0, 0.0)`` instead of vanishing, so joining
    the weights back onto the corpus never silently drops documents.

    Scale shape: feature extraction is a narrow explode (unigrams +
    ``arrays_zip``-shifted bigrams) scanned once for the λ branch and
    once for the scoring join — the (doc, bucket) count aggregate is
    the only corpus-sized shuffle, and the target/raw bucket
    distributions are conditional sums over that already-aggregated
    relation (``buckets``-bounded, a doc's rows all carry its target
    flag). The two totals are a window over the B-row bucket
    relation, and the λ table (B rows) broadcasts into the per-doc
    scoring aggregate. No driver state, no collect.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc"), F.col(target_col).alias("__t"), w.alias("__w")
    )
    uni = base.select("doc", "__t", F.explode("__w").alias("feat")).filter(
        F.col("feat") != ""
    )
    bi = (
        base.select(
            "doc",
            "__t",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("__w"), 1, F.greatest(F.size("__w") - 1, F.lit(0))).alias("a"),
                    F.slice(F.col("__w"), 2, F.greatest(F.size("__w") - 1, F.lit(0))).alias("b"),
                )
            ).alias("p"),
        )
        .select("doc", "__t", F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("feat"))
        .filter(F.col("feat") != "")
    )
    occ = uni.unionByName(bi).withColumn(
        "bucket", F.pmod(_hash_long(F.col("feat"), salt), F.lit(buckets)).cast("long")
    )
    # the ONLY corpus-sized aggregate; __t rides along for free since a
    # doc's rows all share one flag. It feeds BOTH the λ branch and the
    # scoring join but is not pinned: a pin would run it even for
    # callers that never read the weights (a count() prunes the left
    # join below down to `docs`), and with the totals taken as a window
    # over the B-row bucket relation it is read twice, not three times.
    per_doc = occ.groupBy("doc", "__t", "bucket").agg(F.count("*").alias("c"))
    stats = per_doc.groupBy("bucket").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("__t"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
    )
    every_bucket = Window.partitionBy()
    lam = stats.select(
        "bucket",
        (
            F.log((F.col("ct") + 1) / (F.sum("ct").over(every_bucket) + F.lit(buckets)))
            - F.log((F.col("cr") + 1) / (F.sum("cr").over(every_bucket) + F.lit(buckets)))
        ).alias("__lam"),
    )
    scored = (
        per_doc.join(F.broadcast(lam), "bucket")
        .groupBy("doc")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            dround(F.sum(F.col("c") * F.col("__lam")), 6).alias("log_weight"),
        )
    )
    # featureless docs (NULL/empty text) produce no occurrence rows —
    # restore them with the neutral weight so the relation covers
    # every input document
    docs = df.select(F.col(id_col).alias("doc")).distinct()
    return docs.join(scored, "doc", "left").select(
        "doc",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    bucket_width: int = 64,
    batch_size: int = 32,
) -> DataFrame:
    """Length-bucketed batch assembly with padding-waste accounting —
    the dynamic-batching step every sequence-model input pipeline runs:
    group similar-length documents so per-batch padding to the batch max
    wastes the fewest tokens.

    Buckets are linear ``floor((tokens−1)/bucket_width)`` ranges
    (exact in integer arithmetic on any engine — a log2 bucket rule
    would hit cross-engine floating-point edge cases at exact powers).
    Within a bucket, documents are laid out in ``id_col`` order and
    chopped into batches of ``batch_size``.

    Returns per-batch stats ``(bucket, batch_id, n_docs, max_tokens,
    sum_tokens, pad_waste, pad_ratio)`` where ``pad_waste =
    n_docs·max_tokens − sum_tokens``.

    Scale shape: the row-number window partitions by bucket — each
    bucket serializes on one task, acceptable because bucket count is
    bounded (max_len / bucket_width) and the downstream batch stats are
    a hash aggregate. For corpora where single buckets overflow a task,
    pre-shard with :func:`hash_split` and window on (shard, bucket) —
    same composition as :func:`pack_sequences`.
    """
    t = F.col(tokens_col).cast("long")
    bucketed = df.select(
        F.col(id_col).alias("doc"),
        t.alias("__toks"),
        F.floor((t - 1) / F.lit(bucket_width)).cast("long").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc")
    return (
        bucketed.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "batch_id", F.floor((F.col("__rn") - 1) / F.lit(batch_size)).cast("long")
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("__toks").cast("long").alias("max_tokens"),
            F.sum("__toks").cast("long").alias("sum_tokens"),
            (F.count("*") * F.max("__toks") - F.sum("__toks"))
            .cast("long")
            .alias("pad_waste"),
            dround(
                1 - F.sum("__toks") / (F.count("*") * F.max("__toks")), 6
            ).alias("pad_ratio"),
        )
    )


def source_mixture_rates(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Per-source sampling rates hitting a target mixture exactly
    (the Pile/Dolma "data mixing" step): given target shares ``p_s``
    and per-source token masses ``t_s``, the largest achievable corpus
    is ``C = min_s(t_s / p_s)`` (the scarcest source binds); each
    source then keeps ``rate_s = p_s · C / t_s`` of its tokens.

    Returns ``(stratum, tokens, target_share, rate, expected_tokens)``
    for the targeted strata — INCLUDING targeted strata absent from
    the corpus, which surface as ``tokens = 0`` rows and bind the cap
    to ``C = 0`` (every rate 0): an unachievable mixture reports
    itself as unachievable instead of silently renormalizing over the
    sources that happen to exist. Two tiny aggregates: one
    groupBy(stratum) bounded by source count, one scalar min over it,
    joined back via broadcast — no driver collect, so the rate table
    composes straight into :func:`stratified_sample`-style filters on
    the full corpus.
    """
    total = sum(targets.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1.0, got {total}")
    spark = df.sparkSession
    shares = spark.createDataFrame(
        [(k, float(v)) for k, v in targets.items()],
        schema="stratum string, target_share double",
    )
    masses = (
        df.select(F.col(strata_col).alias("stratum"), F.col(weight_col))
        .groupBy("stratum")
        .agg(F.sum(weight_col).cast("long").alias("tokens"))
        # RIGHT join: drops untargeted strata but KEEPS targeted strata
        # missing from the corpus (tokens -> 0), so the binding t_s = 0
        # constraint reaches the cap instead of vanishing
        .join(F.broadcast(shares), "stratum", "right")
        .select(
            "stratum",
            F.coalesce("tokens", F.lit(0)).cast("long").alias("tokens"),
            "target_share",
        )
    )
    cap = masses.agg(
        F.min(F.col("tokens") / F.col("target_share")).alias("__cap")
    )
    raw_rate = F.when(
        F.col("tokens") > 0,
        F.least(
            F.lit(1.0), F.col("target_share") * F.col("__cap") / F.col("tokens")
        ),
    ).otherwise(F.lit(0.0))
    return masses.crossJoin(F.broadcast(cap)).select(
        "stratum",
        "tokens",
        "target_share",
        dround(raw_rate, 6).alias("rate"),
        F.floor(raw_rate * F.col("tokens") + F.lit(0.5))
        .cast("long")
        .alias("expected_tokens"),
    )


def quota_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    quotas: dict[str, int],
    salt: str = "quota",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exact-count per-stratum sampling: take EXACTLY ``quotas[s]`` rows
    from each stratum (or all of it, if smaller) — the execution step of
    a source-mixture plan, where ``source_mixture_rates`` decides the
    counts and this draws them.

    Selection is a deterministic hash ranking (``hash_unit`` of the key,
    ties broken by the key itself), so the drawn set is bit-stable under
    any partitioning/cluster layout AND nested: quota 500 is a superset
    of quota 100 for the same salt — growing a mixture never redraws
    documents (reservoir sampling can't promise either). Strata absent
    from ``quotas`` are dropped.

    Scale shape: one shuffle keyed on the stratum for the per-stratum
    rank. A stratum is one partition's worth of work here; when a single
    stratum dominates a 100 TB corpus, pre-filter with
    ``hash_unit(key) < margin · quota/|stratum|`` (a narrow pass using a
    counts broadcast) before ranking so the window sees a bounded slice;
    the margin makes a shortfall vanishingly unlikely but the final
    exactness check is the rank itself.
    """
    w = Window.partitionBy(strata_col).orderBy(
        hash_unit(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    quota = None
    for name, n in quotas.items():
        cond = F.col(strata_col) == F.lit(name)
        quota = F.when(cond, F.lit(n)) if quota is None else quota.when(cond, F.lit(n))
    quota = F.lit(0) if quota is None else quota.otherwise(F.lit(0))
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .where(F.col(rank_col) <= quota)
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement in one pass
    (Efraimidis & Spirakis 2006): each row draws an exponential race
    key ``e = -ln(u) / w`` with ``u`` derived deterministically from
    the row key (:func:`hash_unit`); the ``k`` smallest keys are the
    sample, with inclusion probability proportional to weight at every
    prefix. This is the DSIR *resampling* step (`dsir_log_weights`
    produces the weights) and the standard one-pass distributed
    weighted sampler — no global sort: ``orderBy(...).limit(k)`` plans
    as TakeOrderedAndProject (per-partition top-k, merge on driver),
    and the keys are content-addressed so the draw is repartition- and
    retry-stable (same reason the hash split uses md5, not ``F.rand``).

    Rows with non-positive weight are excluded (they'd win with
    probability 0 anyway and ``/0`` poisons comparisons).
    """
    # guard u=0 (ln(0) = -inf): shifting the integer hash by half a
    # step keeps u in the open interval (0, 1)
    u_open = (_hash_long(F.col(key_col), salt) + F.lit(0.5)) / F.lit(_HASH_SPAN)
    e = -F.log(u_open) / F.col(weight_col)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__es_key", e)
        .orderBy(F.col("__es_key").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__es_key")
    )


def kfold_ids(
    df: DataFrame,
    key_col: str,
    k: int,
    salt: str = "kfold",
    fold_col: str = "fold",
    strata_col: str | None = None,
) -> DataFrame:
    """k-fold cross-validation fold assignment over an id relation.

    Every reference ML/DL entry point starts by chunking shuffled ids
    into k folds (`model/dl_train.py:94-106` ``create_kfolds``;
    `model/ml_models.py:71` sklearn ``KFold`` over ids). The Spark-scale
    twin assigns ``fold = hash(key) mod k`` — content-addressed like
    :func:`hash_split`, so the assignment is bit-stable under
    repartitioning, executor count, retries, and corpus growth (an id
    keeps its fold when new data arrives — sklearn's positional chunks
    reshuffle everything). Folds are disjoint and exhaustive by
    construction; sizes are multinomial around n/k (deviation
    O(√(n/k)), irrelevant for CV) rather than positionally exact,
    which is the price of needing no global sort or driver id set at
    100 TB. Train/test materialization is a filter:
    ``df.where(F.col(fold_col) != i)`` / ``== i``.

    ``strata_col`` switches to STRATIFIED k-fold (sklearn
    ``StratifiedKFold`` twin — the right CV for imbalanced clinical
    labels, which is why the reference pairs KFold with an
    oversampler): within each stratum, rows are ranked by
    content-addressed hash and folds dealt round-robin, so per-stratum
    fold sizes are exactly balanced (they differ by at most 1). Costs
    one shuffle (the per-stratum rank window) vs the narrow hash-mod
    path; the same :func:`quota_sample` pre-filter recipe bounds the
    window when one stratum dominates at scale. Stability trade: the
    stratified draw is stable under repartitioning/retries but NOT
    under corpus growth (ranks shift) — the hash-mod path keeps both.
    """
    if k < 2:
        raise ValueError(f"kfold_ids: k must be >= 2, got {k}")
    if strata_col is None:
        return df.withColumn(
            fold_col,
            F.pmod(_hash_long(F.col(key_col), f"{salt}:{k}"), F.lit(k)).cast("long"),
        )
    w = Window.partitionBy(strata_col).orderBy(
        hash_unit(F.col(key_col), f"{salt}:{k}").asc(), F.col(key_col).asc()
    )
    return df.withColumn(
        fold_col,
        F.pmod(F.row_number().over(w) - 1, F.lit(k)).cast("long"),
    )


def oversample_minority(
    df: DataFrame,
    key_col: str,
    label_col: str,
    balance: str = "minority",
    salt: str = "oversample",
    copy_col: str = "copy_id",
    max_classes: int = 10_000,
) -> DataFrame:
    """Deterministic minority-class oversampling (imblearn
    ``RandomOverSampler`` twin — reference `model/dl_train.py:107-111`,
    `model/ml_models.py:20`, ``sampling_strategy='minority'``).

    ``balance='minority'`` replicates the single least-frequent class up
    to the majority count; ``balance='all'`` lifts every class to it.
    Each source row receives ``base = M // c`` whole copies plus one
    extra for the ``M % c`` rows ranked first by content-addressed hash
    (the :func:`quota_sample` primitive) — so the balanced relation hits
    the target count EXACTLY and is bit-stable under any partitioning,
    unlike imblearn's RNG draws. Output rows carry ``copy_col``
    (0-based copy index) so downstream joins keep multiplicity.

    Scale shape: class counts are a groupBy collapsed to one row per
    class — driver-bounded by the LABEL CARDINALITY, not the corpus,
    and that assumption is enforced: more than ``max_classes`` distinct
    labels raises (the ``bpe``/``wordpiece`` bounded-collect
    convention) rather than pulling an unbounded relation to the
    driver — a near-unique "label" column is a caller bug, not an
    oversampling input. Replication is a narrow
    ``explode(sequence(...))``; the only
    shuffle is the per-class rank window for residual draws, and at
    100 TB the same pre-filter trick documented on :func:`quota_sample`
    bounds what that window sees.
    """
    if balance not in ("minority", "all"):
        raise ValueError(f"oversample_minority: unknown balance={balance!r}")
    count_rows = (
        df.groupBy(F.col(label_col).alias("__l"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .limit(max_classes + 1)
        .collect()
    )
    if len(count_rows) > max_classes:
        raise ValueError(
            f"oversample_minority: > {max_classes} distinct values in "
            f"{label_col!r}; this collect is bounded by label cardinality "
            f"— raise max_classes only if the label space really is that wide"
        )
    counts = {r["__l"]: r["__c"] for r in count_rows}
    if not counts:
        return df.withColumn(copy_col, F.lit(0).cast("long"))
    majority = max(counts.values())
    # ties broken by label value so the chosen minority is deterministic
    minority = min(counts, key=lambda l: (counts[l], str(l)))
    targets = {
        lbl: majority if (balance == "all" or lbl == minority) else c
        for lbl, c in counts.items()
    }
    rank_w = Window.partitionBy(label_col).orderBy(
        hash_unit(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    base = None
    extra_cut = None
    for lbl, c in counts.items():
        t = targets[lbl]
        # eqNullSafe: a NULL label is a class like any other — a plain
        # == never matches it and the when-chain would silently DROP
        # every null-label row (explode of a null sequence emits none)
        cond = F.col(label_col).eqNullSafe(F.lit(lbl))
        b, r = t // c, t % c
        base = F.when(cond, F.lit(b)) if base is None else base.when(cond, F.lit(b))
        extra_cut = (
            F.when(cond, F.lit(r)) if extra_cut is None else extra_cut.when(cond, F.lit(r))
        )
    n_copies = base + (F.row_number().over(rank_w) <= extra_cut).cast("int")
    return (
        df.withColumn("__n", n_copies.cast("long"))
        .withColumn(
            copy_col,
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)),
        )
        .drop("__n")
    )


def global_prefix_sums(
    df: DataFrame,
    order_exprs: list,
    values: dict[str, Column],
    bucket_col: str | None = None,
    bucket_desc: bool = False,
) -> DataFrame:
    """Exact global running sums over the TOTAL order ``order_exprs`` —
    distributed, with no single-partition window. Each entry
    ``name: value`` of ``values`` adds a long column ``name``: the sum
    of ``value`` over every row up to and including this one in that
    order. Output keeps all input columns.

    All sums ride ONE hash shuffle + ONE window pass (they share the
    window spec, so Spark evaluates them in a single frame walk), with
    the cross-bucket offsets from a groupBy(bucket) to a ≤n_buckets-row
    relation, a prefix window over that tiny relation, and a broadcast
    join back. ``n_buckets`` is ``spark.sql.shuffle.partitions``.

    Bucketing is DETERMINISTIC BY VALUE, not by partitioner:
    ``bucket_col`` (the leading column of ``order_exprs``; numeric or
    timestamp) is split on approximate-quantile bounds collected ONCE
    and embedded as literals, so a row's bucket is a pure function of
    its value. This is a correctness requirement, not a style choice:
    an earlier version used ``repartitionByRange`` +
    ``spark_partition_id()``, but the range partitioner samples its
    bounds with a seed derived from the RDD id, so the totals pass and
    the facts pass could land rows in DIFFERENT partitions — at 20M
    rows ranks silently duplicated/overshot (a lift probe showed an
    11th decile). Value bucketing makes every branch agree
    by construction, with no fact-relation materialization and no
    reliance on exchange reuse. Bound quality only affects balance,
    never results — any bounds give correct sums.

    Nulls in ``bucket_col`` go to the first bucket for ascending /
    last for descending, matching Spark's default NULLS FIRST/LAST so
    buckets stay contiguous in the total order. A single hot value
    lands in one bucket (same caveat as any range partitioning of a
    tied sort key). Totals are sum(value), NOT max(cumsum) — identical
    for the non-negative token/rank callers, but this is a general
    helper and a negative value would corrupt max-based offsets.

    This is the shared engine under :func:`select_token_budget`,
    :func:`temporal_split`, :func:`build_corpus_index`, ``lift_gains``
    (global rank = prefix sum of 1), ``ks_statistic`` (both CDFs ride
    one shuffle) and ``roc_pr_curve`` (cum-TP and cum-FP likewise).
    """
    if not values:
        raise ValueError("global_prefix_sums: values must be non-empty")
    if bucket_col is None:
        raise ValueError(
            "global_prefix_sums: bucket_col (the leading order column) is "
            "required — bucketing must be a pure function of the data"
        )
    spark = df.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Sort key: numeric/timestamp cast to double, negated for desc so
    # "ascending key" == the requested total order. Nulls get the
    # infinity that matches Spark's default null ordering.
    key_raw = F.col(bucket_col).cast("double")
    key = (
        F.coalesce(-key_raw, F.lit(float("inf")))
        if bucket_desc
        else F.coalesce(key_raw, F.lit(float("-inf")))
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    rel_err = max(0.001, 0.25 / n_buckets)
    bounds = (
        df.select(key.alias("__gps_key")).stat.approxQuantile(
            "__gps_key", probs, rel_err
        )
        if probs
        else []
    )
    if bounds:
        # codegen WHEN chain (first bound >= key), not an array-filter
        # lambda — higher-order functions run interpreted per row (the
        # PERF.md lambda trap; this expression touches every fact row).
        # Built as ONE parsed SQL string over a named key column (r12,
        # guide §5): the Column-by-Column fold issued ~340 py4j
        # round-trips per call at 32 buckets; the parsed nested CASE is
        # the identical expression tree.
        chain = f"{len(bounds)}"
        for i in range(len(bounds) - 1, -1, -1):
            chain = (
                f"CASE WHEN __gps_key <= {float(bounds[i])!r}D"
                f" THEN {i} ELSE {chain} END"
            )
        withpid = (
            df.withColumn("__gps_key", key)
            .withColumn("__pid", F.expr(chain))
            .drop("__gps_key")
        )
    else:
        withpid = df.withColumn("__pid", F.lit(0))
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = withpid
    for name, col in values.items():
        local = local.withColumn(f"__lc_{name}", F.sum(col.cast("long")).over(w))
    totals = withpid.groupBy("__pid").agg(
        *[
            F.sum(col.cast("long")).alias(f"__t_{name}")
            for name, col in values.items()
        ]
    )
    # Offset of bucket p = sum of totals of buckets before it: a
    # prefix window over the ≤n_buckets-row totals relation
    # (single-partition window — fine, the relation is bucket-count
    # sized, not fact sized).
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__t_{name}").over(wo), F.lit(0)).alias(
                f"__off_{name}"
            )
            for name in values
        ],
    )
    out = local.join(F.broadcast(offsets), "__pid", "left")
    for name in values:
        out = out.withColumn(
            name,
            (F.col(f"__lc_{name}") + F.coalesce(F.col(f"__off_{name}"), F.lit(0)))
            .cast("long"),
        )
    return out.drop(
        "__pid",
        *[f"__lc_{name}" for name in values],
        *[f"__off_{name}" for name in values],
    )


def select_token_budget(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    budget: int,
    id_col: str = "doc_id",
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Token-budget corpus selection: keep the best-scoring prefix of
    the corpus whose cumulative token count fits ``budget`` (the
    curation step every LLM training run ends with — rank candidates
    by quality, cut at the compute budget; cf. the quality-ranked
    selection in Brown et al. 2020 §2.2 / RedPajama's token-budgeted
    mixtures).

    Semantics are PREFIX selection over the total order
    (score desc, id asc): a document is kept iff the running token sum
    through it is <= budget. (Skip-and-continue knapsack packing is
    inherently sequential and order-fragile; the prefix rule is the
    deterministic, engine-portable contract.)

    Scale shape — delegates to :func:`global_prefix_sums`'s
    deterministic VALUE-bucketed distributed prefix sum (quantile
    bounds of ``score_col`` collected once and embedded as literals,
    so a row's bucket is a pure function of its value; per-bucket
    running-sum window + a ≤n_buckets-row broadcast offset relation).
    See :func:`global_prefix_sums` for the correctness contract — in
    particular why ``repartitionByRange`` + ``spark_partition_id()``
    is NOT usable here (the range partitioner resamples bounds per
    action, so two passes can disagree on row placement; the bb0a369
    layout-drift fix). A naive ``Window.orderBy(...)`` with no
    partition key would funnel the whole corpus through one task —
    the thing this plan exists to avoid.

    Returns the kept rows with ``cum_col`` appended (long).
    """
    if budget < 0:
        raise ValueError("select_token_budget: budget must be >= 0")
    cum = global_prefix_sums(
        df,
        [F.col(score_col).desc(), F.col(id_col).asc()],
        {cum_col: F.col(tokens_col)},
        bucket_col=score_col,
        bucket_desc=True,
    )
    return cum.filter(F.col(cum_col) <= budget)


def pareto_front_2d(
    df: DataFrame,
    quality_col: str,
    cost_col: str,
) -> DataFrame:
    """2-D Pareto (skyline) selection: keep rows not dominated by any
    other — maximize ``quality_col`` while minimizing ``cost_col``
    (public: Börzsönyi et al. 2001 "The Skyline Operator"; the
    curation trade-off screen, e.g. max quality-score / min token-cost
    candidates for a training mixture).

    Domination: s dominates r iff s.q ≥ r.q ∧ s.c ≤ r.c with at least
    one strict. Identical (q, c) duplicates do not dominate each other
    — ALL rows equal to a non-dominated point are kept. Rows with a
    NULL quality or cost are EXCLUDED before the sweep (they can
    neither dominate nor be dominated under SQL comparison semantics,
    and an unfiltered NULL cost would otherwise rank NULLS FIRST in
    the per-quality window and shadow that quality's true min-cost
    representative); map NULLs to sentinels upstream if they should
    participate.

    Scale shape (the 2-D case admits an exact one-sweep plan — no
    quadratic pair join): reduce to one row per quality value (the
    per-q min cost via a keyed window), then a row survives iff the
    STRICT prefix minimum of cost over strictly-higher-quality rows
    exceeds its own cost. The prefix min runs distributed with the
    DETERMINISTIC VALUE-BUCKETING recipe of :func:`global_prefix_sums`
    (quantile bounds collected once and embedded as literals, so a
    row's bucket is a pure function of its quality — NOT
    ``repartitionByRange`` + ``spark_partition_id()``, whose
    partitioner resamples bounds per action and can place the totals
    pass and the facts pass in different partitions, silently
    corrupting the skyline; the exact bb0a369 layout-drift class). A
    per-bucket strict-prefix window plus a ≤n_buckets-row offset
    relation (prefix-min window over it, broadcast back) gives the
    exact global strict prefix min. Survivors semi-join back to the
    facts on (q, c). No single-partition window over facts anywhere.
    """
    q = F.col(quality_col)
    c = F.col(cost_col)
    spark = df.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    pts = (
        df.filter(q.isNotNull() & c.isNotNull())
        .select(q.alias("__q"), c.alias("__c"))
        .distinct()
    )
    wq = Window.partitionBy("__q").orderBy(F.col("__c").asc())
    firsts = (
        pts.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Deterministic value buckets on quality DESC: negate so ascending
    # bucket id == descending quality; NULL quality → +inf (NULLS LAST
    # for desc, matching the window order below).
    key = F.coalesce(-F.col("__q").cast("double"), F.lit(float("inf")))
    probs = [i / n_buckets for i in range(1, n_buckets)]
    rel_err = max(0.001, 0.25 / n_buckets)
    bounds = (
        firsts.select(key.alias("__pf_key")).stat.approxQuantile(
            "__pf_key", probs, rel_err
        )
        if probs
        else []
    )
    if bounds:
        # one parsed WHEN chain over a named key column (r12, guide §5
        # — same rewrite as global_prefix_sums above)
        chain = f"{len(bounds)}"
        for i in range(len(bounds) - 1, -1, -1):
            chain = (
                f"CASE WHEN __pf_key <= {float(bounds[i])!r}D"
                f" THEN {i} ELSE {chain} END"
            )
        withb = (
            firsts.withColumn("__pf_key", key)
            .withColumn("__pid", F.expr(chain))
            .drop("__pf_key")
        )
    else:
        withb = firsts.withColumn("__pid", F.lit(0))
    wp = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = withb.withColumn("__lmin", F.min("__c").over(wp))
    # Offset of bucket p = min cost over all strictly-earlier buckets:
    # a strict-prefix-min window over the ≤n_buckets-row totals
    # relation (single-partition window — fine, it is bucket-count
    # sized, not fact sized), broadcast back. Both passes derive the
    # bucket from the VALUE, so they agree by construction.
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        withb.groupBy("__pid")
        .agg(F.min("__c").alias("__t"))
        .select("__pid", F.min("__t").over(wo).alias("__off"))
    )
    joined = local.join(F.broadcast(offsets), "__pid", "left")
    prefix_min = F.least(
        F.coalesce(F.col("__lmin"), F.lit(float("inf"))),
        F.coalesce(F.col("__off").cast("double"), F.lit(float("inf"))),
    )
    skyline = (
        joined.withColumn("__pm", prefix_min)
        .filter(F.col("__pm") > F.col("__c"))
        .select("__q", "__c")
    )
    return df.join(
        skyline.withColumnRenamed("__q", quality_col).withColumnRenamed(
            "__c", cost_col
        ),
        [quality_col, cost_col],
        "left_semi",
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    fractions: tuple[float, float] = (0.8, 0.1),
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe time-based train/val/test assignment: the
    chronologically FIRST ``fractions[0]`` of rows are ``train``, the
    next ``fractions[1]`` are ``val``, the rest ``test`` (the standard
    forecasting/feature-store split discipline — a hash split would
    leak future rows into training; time-ordered prefixes cannot).

    Boundaries are RANK-based (global rank over the total order
    ``(ts, id)``, then integer thresholds ``int(f·n)`` computed on
    the IEEE DOUBLE product — note ``0.7·10 = 6.999…`` in binary, so
    a boundary-exact fraction can land one row below the decimal
    ``floor(f·n)``; this is deterministic and engine-portable because
    every engine's correctly-rounded double multiply agrees, which is
    the contract that matters — where interpolated percentiles of
    huge epoch values invite last-ulp disagreement. Pass fractions
    with exact binary representations (0.75, 0.125) when the decimal
    boundary itself matters. Ties at a boundary timestamp are
    resolved by the id tie-break, deterministically.

    Scale shape: one :func:`global_prefix_sums` of 1s (distributed
    rank — no single-partition window) + one count.
    """
    f_train, f_val = fractions
    if not (0 <= f_train and 0 <= f_val and f_train + f_val <= 1):
        raise ValueError("temporal_split: fractions must be >= 0 and sum <= 1")
    ranked = global_prefix_sums(
        df,
        [F.col(ts_col).asc(), F.col(id_col).asc()],
        {"__rank": F.lit(1)},
        bucket_col=ts_col,
    )
    n = df.count()
    k_train = int(f_train * n)
    k_val = int((f_train + f_val) * n)
    return ranked.withColumn(
        split_col,
        F.when(F.col("__rank") <= k_train, F.lit("train"))
        .when(F.col("__rank") <= k_val, F.lit("val"))
        .otherwise(F.lit("test")),
    ).drop("__rank")


# Poisson(1) inverse-CDF thresholds: P(N <= k) for k = 0..7 (count 8
# beyond). Fixed literals so Spark and any SQL twin bucket the SAME
# uniform into the SAME count — the determinism contract of
# poisson_bootstrap_ci.
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999916758850712,
)


def poisson_count(u: Column) -> Column:
    """Map a uniform [0,1) column to a Poisson(1) count via the fixed
    inverse CDF (codegen WHEN chain — no lambda)."""
    expr = F.lit(8).cast("long")
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k).cast("long")).otherwise(
            expr
        )
    return expr


def poisson_bootstrap_ci(
    df: DataFrame,
    group_by: str | list[str],
    value_col: str,
    id_col: str,
    n_replicates: int = 40,
    alpha: float = 0.05,
    salt: str = "boot",
    hasher: str = "md5",
) -> DataFrame:
    """Per-group mean with a percentile bootstrap CI — the Poisson
    bootstrap (each replicate reweights every row by an independent
    Poisson(1) count), the resampling scheme that works on partitioned
    data because no replicate ever needs a global sample of exactly n
    rows (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012).

    Deterministic: the replicate-b weight of a row is
    ``poisson_count(hash_unit(id ':' b, salt))`` — content-addressed
    like every sampler in this module, so the CI is reproducible at any
    partitioning and expressible verbatim in the SQL twin.
    ``value_col`` must be integer-quantized (long); replicate means are
    exact-sum ratios. CI rule: order the surviving replicate means
    (ties broken by replicate id) and take ranks
    ``floor(alpha/2·nb)+1`` and ``nb − floor(alpha/2·nb)`` where
    ``nb`` is the PER-GROUP surviving count — with no drops nb = B
    and the positions reduce to the classic B-based ranks.
    Replicates whose weights sum to 0 in a group (probability
    e^{-n·B}-ish — only tiny groups) are dropped from the order;
    deriving ranks from nb keeps the upper bound at an existing rank
    for such groups. Groups with fewer than 2 surviving replicate
    means return NULL bounds.

    Scale shape: one narrow explode (B× inflation feeding a map-side
    combine), one groupBy(group, b) shuffle to |groups|·B partial rows,
    windows over that small relation only. The point estimate rides the
    same aggregate (weight-independent exact sums at b=0 … any b).

    ``hasher``: ``"md5"`` (default) is the oracle-mirrorable path
    DuckDB can replay verbatim; ``"xxhash64"`` swaps the per-(row,
    replicate) digest for the JVM-side hash — ~same CI coverage, no
    SQL twin (the module-wide seam; r5d measured md5 as the dominant
    bootstrap cost at ~14M digests/s/32 threads, and the bench tracks
    both paths).
    """
    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))).alias("__b")
    # fan out BEFORE the B× explode: n·B digests after an unsplittable
    # small scan otherwise run in that scan's task count (measured
    # single-task at sf0.1 — 5.75 s → 1.49 s with the repartition);
    # no-op whenever the input already has ≥ cores partitions
    narrow = fan_out(
        df.select(*groups, F.col(value_col).alias("__y"), F.col(id_col).alias("__id"))
    )
    rows = narrow.select(*narrow.columns, b)
    key = F.concat(
        F.col("__id").cast("string"), F.lit(":"), F.col("__b").cast("string")
    )
    if hasher == "md5":
        u = hash_unit(key, salt)
    elif hasher == "xxhash64":
        u = F.pmod(F.xxhash64(F.lit(salt), key), F.lit(2**32)) / F.lit(float(2**32))
    else:
        raise ValueError(f"poisson_bootstrap_ci: unknown hasher {hasher!r}")
    # Materialize u in its own projection BEFORE the inverse-CDF WHEN
    # chain: poisson_count references u in every one of its 9 branch
    # conditions, and with u inlined the digest expression appears 8×
    # in the plan — CaseWhen conditions evaluate sequentially, so the
    # md5 ran ~2× per row on average (measured: q180 6.84 s → the fix
    # cut the digest stage roughly in half). As a named column the
    # digest is computed once; CollapseProject keeps the projection
    # separate because the expression is non-cheap and multiply
    # referenced. Same values bit-for-bit — only evaluation count
    # changes.
    weighted = (
        rows.withColumn("__u", u)
        .withColumn("__w", poisson_count(F.col("__u")))
        .drop("__u")
    )
    per_rep = weighted.groupBy(*groups, "__b").agg(
        F.sum("__w").cast("long").alias("__sw"),
        F.sum((F.col("__w") * F.col("__y")).cast("decimal(38,0)")).alias("__swy"),
        F.sum(F.col("__y").cast("decimal(38,0)")).alias("__sy"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    means = per_rep.filter(F.col("__sw") > 0).withColumn(
        "__mb", F.col("__swy").cast("double") / F.col("__sw").cast("double")
    )
    wo = Window.partitionBy(*groups).orderBy(F.col("__mb").asc(), F.col("__b").asc())
    ranked = means.withColumn("__rn", F.row_number().over(wo)).withColumn(
        "__nb", F.count(F.lit(1)).over(Window.partitionBy(*groups))
    )
    # rank positions derive from the SURVIVING replicate count per
    # group, not from n_replicates: a group that dropped all-zero
    # replicates (tiny groups) must still place its upper bound at an
    # existing rank (nb = B reduces to the classic floor(α/2·B)+1 /
    # B−floor(α/2·B) positions — identical plans on full groups)
    tail = F.floor(F.lit(alpha / 2) * F.col("__nb")).cast("long")
    lo_rank = tail + 1
    hi_rank = F.col("__nb") - tail
    return ranked.groupBy(*groups).agg(
        F.max("__n").alias("n"),
        (F.max("__sy").cast("double") / F.max("__n").cast("double")).alias("mean"),
        F.max(
            F.when((F.col("__rn") == lo_rank) & (F.col("__nb") >= 2), F.col("__mb"))
        ).alias("ci_lo"),
        F.max(
            F.when((F.col("__rn") == hi_rank) & (F.col("__nb") >= 2), F.col("__mb"))
        ).alias("ci_hi"),
    )


def mixture_temperature_weights(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based sampling weights per corpus domain and the
    token allocation of a training budget (public: the multilingual /
    multi-domain mixture rule of Lample & Conneau 2019 §3.1 and the
    Pile/Llama data recipes — sample domain i with
    p_i ∝ n_i^α, α < 1 upweighting low-resource domains):

        n_i          = Σ tokens in domain i
        w_i          = n_i^α           (micro-quantized to an integer)
        share_i      = w_i / Σ w
        alloc_i      = floor(budget · w_i / Σ w)   (exact integer)
        epochs_i     = alloc_i / n_i   (how often the domain repeats —
                                        the >1 values are the
                                        upsampling the rule creates)

    Determinism contract: for ``alpha=0.5`` the weight uses ``sqrt``
    (IEEE correctly-rounded — bitwise identical in any engine); other
    alphas use ``pow``, which is NOT correctly rounded, so the
    micro-quantization may straddle a boundary on another engine —
    hash-compared twins should stick to 0.5 (stated, not hidden).
    The allocation is a fixed double sequence (w·budget/Σw, all three
    IEEE basic ops correctly rounded → bitwise portable); it can
    differ from the exact rational floor only in the measure-zero case
    where the true ratio sits within an ulp of an integer, so
    Σ alloc_i stays within |domains| tokens of ``budget`` — an exact
    decimal(38) product would overflow Spark's decimal division at
    petatoken corpora, the thing this operator is for.

    Scale shape: ONE hash aggregate to a |domains|-row relation; the
    Σw total is a broadcast crossJoin of one row. Never fact-sized.
    """
    if budget < 0:
        raise ValueError("mixture_temperature_weights: budget must be >= 0")
    n = F.sum(F.col(tokens_col).cast("long")).alias("n_tokens")
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(n)
    nD = F.col("n_tokens").cast("double")
    w_raw = F.sqrt(nD) if alpha == 0.5 else F.pow(nD, F.lit(float(alpha)))
    weighted = per.withColumn(
        "weight_micro", F.floor(w_raw * F.lit(1e6) + F.lit(0.5)).cast("long")
    )
    total = weighted.agg(F.sum("weight_micro").alias("__tw"))
    out = weighted.crossJoin(F.broadcast(total))
    share = F.col("weight_micro").cast("double") / F.col("__tw").cast("double")
    alloc = F.floor(
        F.col("weight_micro").cast("double")
        * F.lit(float(budget))
        / F.col("__tw").cast("double")
    ).cast("long")
    return out.select(
        "domain",
        "n_tokens",
        "weight_micro",
        share.alias("share"),
        alloc.alias("alloc_tokens"),
        (alloc.cast("double") / nD).alias("epochs"),
    )


def build_corpus_index(
    corpus: DataFrame,
    doc_col: str = "doc_id",
    window_threshold: int = 1_000_000,
    skew_cap: int | None = None,
    range_buckets: int | None = None,
) -> DataFrame:
    """Dense 0..N-1 index over the distinct corpus docs for
    :func:`negative_sample`: ``(__i, __doc, __n)`` where ``__n`` is
    the corpus size as a constant column (so the relation is
    self-describing after a persist or parquet round-trip).

    Strategy picks itself from the observed count (the
    connected_components bounded-collect pattern): ≤``window_threshold``
    docs take a plain window rank — one narrow exchange, vs the
    prefix-sum engine's approxQuantile job + bucket window + broadcast
    join (measured 2.2 s of q220's 3.4 s on a 5k-doc corpus); larger
    corpora use a distributed rank with no single-partition window —
    :func:`global_prefix_sums` for numeric/timestamp ids, the
    build_vocab 2-char-prefix-bucket rank for STRING ids (a prefix is
    contiguous in the binary-collation total order, so per-bucket ranks
    + prefix-summed bucket offsets compose to the exact global rank;
    real corpora key on string doc ids/URLs, r9 verdict item 3).

    PREFIX SKEW (ADVICE r10): real string corpora are prefix-skewed —
    URLs nearly all start ``"ht"`` — so a fixed 2-char bucketing can
    degenerate into one giant bucket, i.e. exactly the single-partition
    window this branch exists to avoid. The bucket-count relation
    (bounded: ≤ |alphabet|² rows, collected in Spark's own binary-
    collation order so no Python re-sort) therefore doubles as a skew
    detector: if the largest prefix bucket exceeds ``skew_cap``
    (default ``max(window_threshold, n // 8)``), the rank falls back to
    a RANGE-bucketed recipe — ``repartitionByRange`` over the doc
    string (Spark's sampled RangePartitioner picks data-driven
    boundaries, immune to any prefix distribution),
    ``spark_partition_id()`` as the bucket key, then the same
    per-bucket rank + prefix-summed offsets. The ranged relation is
    pinned via :func:`~mimic_iv_data_pipeline_spark.engine.materialize`
    first because RangePartitioner re-samples per job — the rank job
    and the offsets job must observe ONE bucketing. Output values are
    identical on every path (bucket boundaries never affect the global
    rank of a contiguous bucketing — parity-pinned in
    tests/test_sampling.py), so which path fires is purely a physical
    choice. ``range_buckets`` defaults to ~n/(window_threshold/4)
    clamped to [64, 4096].

    ``window_threshold`` exists so tests can force the distributed
    paths at toy size (parity pins in tests/test_r10_wave.py); leave it
    at the default in production. Build once per corpus snapshot,
    persist/write it, and every sampling run amortizes the build
    (PERF r9c: the 50M-doc probe spends its time here).
    """
    from pyspark.sql.types import StringType
    from pyspark.sql.window import Window

    docs = corpus.select(F.col(doc_col).alias("__doc")).distinct()
    n = docs.count()
    if n == 0:
        raise ValueError("build_corpus_index: empty corpus")
    if n <= window_threshold:
        indexed = docs.select(
            (F.row_number().over(Window.orderBy("__doc")) - 1).alias("__i"),
            "__doc",
        )
    elif isinstance(docs.schema["__doc"].dataType, StringType):
        # prefix-bucketed distributed rank (plans/tokenization.build_vocab
        # recipe): bucket by the 2-char prefix — a VALUE-deterministic
        # key that is a prefix of the sort key, so buckets are contiguous
        # in the total order — rank within each bucket, then add
        # per-bucket offsets computed from the bounded bucket-count
        # relation (≤|alphabet|² rows). NULL docs coalesce into the
        # ""-prefix bucket: a plain equi-join on a NULL bucket silently
        # DROPS the null doc (NULL != NULL — caught by the r10
        # unicode/null parity test), and "" keeps the bucket map
        # monotone (null sorts first, "" is the smallest bucket;
        # within-bucket orderBy("__doc") puts null before "" exactly
        # like the window path's global order).
        spark = docs.sparkSession
        bucketed = docs.withColumn(
            "__b", F.coalesce(F.substring("__doc", 1, 2), F.lit(""))
        )
        # ONE bounded collect serves the skew decision AND the offsets.
        # Spark orders the rows (binary collation) so the Python running
        # sum never re-sorts — no Python/UTF8 collation mismatch.
        counts = (
            bucketed.groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .orderBy("__b")
            .collect()
        )
        cap = skew_cap if skew_cap is not None else max(window_threshold, n // 8)
        if max(r["__bn"] for r in counts) <= cap:
            off_rows, acc = [], 0
            for r in counts:
                off_rows.append((r["__b"], acc))
                acc += r["__bn"]
            offsets = spark.createDataFrame(off_rows, "__b string, __off long")
            ranked = bucketed.withColumn(
                "__r",
                F.row_number().over(Window.partitionBy("__b").orderBy("__doc")),
            )
            indexed = ranked.join(F.broadcast(offsets), "__b").select(
                (F.col("__off") + F.col("__r") - 1).alias("__i"), "__doc"
            )
        else:
            # prefix-skewed corpus (e.g. URLs — see docstring): fall
            # back to sampled RANGE buckets. materialize() pins ONE
            # bucketing (RangePartitioner re-samples per job; the rank
            # job and offsets job must agree), and spark_partition_id()
            # — evaluated post-exchange, never pushed below it (it is
            # nondeterministic to Catalyst) — is the bucket key.
            # Boundaries never affect the global rank of a contiguous
            # bucketing, so output values are identical to the other
            # paths (parity-pinned, tests/test_sampling.py).
            n_b = (
                range_buckets
                if range_buckets is not None
                else max(64, min(4096, -(-n // max(1, window_threshold // 4))))
            )
            ranged = materialize(
                docs.repartitionByRange(n_b, F.col("__doc")).withColumn(
                    "__b", F.spark_partition_id()
                )
            )
            roff = (
                ranged.groupBy("__b")
                .agg(F.count(F.lit(1)).alias("__bn"))
                .orderBy("__b")
                .collect()
            )
            off_rows, acc = [], 0
            for r in roff:
                off_rows.append((r["__b"], acc))
                acc += r["__bn"]
            offsets = spark.createDataFrame(off_rows, "__b int, __off long")
            ranked = ranged.withColumn(
                "__r",
                F.row_number().over(Window.partitionBy("__b").orderBy("__doc")),
            )
            indexed = ranked.join(F.broadcast(offsets), "__b").select(
                (F.col("__off") + F.col("__r") - 1).alias("__i"), "__doc"
            )
    else:
        indexed = global_prefix_sums(
            docs, [F.col("__doc")], {"__cum": F.lit(1)}, bucket_col="__doc"
        ).select((F.col("__cum") - 1).alias("__i"), "__doc")
    return indexed.withColumn("__n", F.lit(n))


def negative_sample(
    positives: DataFrame,
    corpus: DataFrame | None = None,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
    oversample: int | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive /
    retrieval training triples (public recipe: the in-batch /
    random-negative mining step of DPR, Karpukhin et al. 2020 §3.2 —
    every (query, positive) pair needs K random non-positive corpus
    docs).

    Returns ``(query_col, doc_col, neg_rank)`` with up to ``k``
    negatives per distinct query in ``positives``, drawn uniformly
    from the distinct ``corpus`` docs, EXCLUDING the query's known
    positives. Deterministic (md5-keyed draws — the module's
    oracle-mirrorable hash seam) and layout-stable: the same triples
    on 1 executor or 1000.

    Scale shape — NO cross join and no collected id list:

    1. the distinct corpus gets a dense 0..N-1 index
       (:func:`build_corpus_index` — window rank for dimension-sized
       corpora, the distributed :func:`global_prefix_sums` recipe past
       1M docs); the index carries its size as a constant column;
    2. each query emits ``oversample`` (default ``2k+2``) draw rows
       (narrow explode), each hashed to a target index — ONE equi-join
       against the indexed corpus resolves all draws;
    3. known positives drop via a left-anti join, duplicate targets
       collapse keeping the earliest draw, and a per-query window over
       the ≤oversample surviving rows ranks the first ``k``.

    A query whose positives + duplicate draws eat through the
    oversample emits FEWER than ``k`` negatives (documented deficit —
    raise ``oversample``; with the default, a deficit needs ≥k+3 of
    2k+2 draws lost, vanishingly rare when ``|positives per query| ≪
    N``). ``doc_col`` may be any orderable type including STRING (real
    corpora key on doc ids/URLs): the dense index ranks strings with
    the prefix-bucketed distributed recipe past the window threshold
    (see :func:`build_corpus_index`), and sampling itself draws on the
    numeric ``__i``, returning the original id.

    ``corpus_index`` amortizes the index across sampling runs: pass
    the relation returned by :func:`build_corpus_index` (typically
    persisted or written once per corpus snapshot — the 50M-doc probe
    spends its time in the index build, PERF r9c) and the per-run
    cost collapses to the draw-resolution equi-join; ``corpus`` is
    then ignored.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("negative_sample: k must be >= 1")
    m = oversample if oversample is not None else 2 * k + 2
    if m < k:
        raise ValueError(f"negative_sample: oversample {m} < k {k}")
    if corpus is None and corpus_index is None:
        raise ValueError("negative_sample: pass corpus or corpus_index")
    indexed = (
        corpus_index.select("__i", "__doc", "__n")
        if corpus_index is not None
        else build_corpus_index(corpus, doc_col)
    )
    queries = positives.select(F.col(query_col).alias("__q")).distinct()
    draws = queries.select(
        "__q", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j")
    )
    key = F.concat(
        F.col("__q").cast("string"), F.lit(":"), F.col("__j").cast("string")
    )
    # the index carries its own size (__n, a constant column) — the
    # modulo reads it via a broadcast 1-row cross join, so sampling
    # itself runs ZERO count jobs (the build counted once; a persisted
    # index amortizes even that)
    nn = indexed.select("__n").limit(1)
    tgt = draws.crossJoin(F.broadcast(nn)).withColumn(
        "__i", F.pmod(_hash_long(key, salt), F.col("__n"))
    )
    cand = tgt.join(indexed.select("__i", "__doc"), "__i").select(
        "__q", "__doc", "__j"
    )
    pos = positives.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__doc")
    ).distinct()
    cand = cand.join(pos, ["__q", "__doc"], "left_anti")
    first = cand.groupBy("__q", "__doc").agg(F.min("__j").alias("__j"))
    w = Window.partitionBy("__q").orderBy("__j", "__doc")
    return (
        first.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__q").alias(query_col),
            F.col("__doc").alias(doc_col),
            (F.col("__rk") - 1).cast("int").alias("neg_rank"),
        )
    )


def hard_negative_sample(
    positives: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 4,
    depth: int = 64,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
) -> DataFrame:
    """ANN-mined hard negatives: per query, the ``k`` most-similar
    corpus docs that are NOT known positives (the retrieve-then-
    exclude recipe of DPR's hard-negative mining, Karpukhin et al.
    2020 §5.2 — random negatives via :func:`negative_sample`, hard
    ones from the retriever itself).

    ``queries``/``corpus``: ``(vec_id, embedding)`` relations (the
    repo's ANN shape). The retriever is the exact brute-force cosine
    top-``depth`` of :func:`~.similarity.cosine_topk_pandas`, so the
    output is oracle-replayable. Positives drop via a left-anti join on
    (query, doc), and a per-query window over the ≤depth survivors
    ranks the first ``k``.

    DEPTH SEMANTICS (exact, oracle-replayable): negatives come from
    the top-``depth`` retrieved list only. A query whose positives
    crowd out the depth emits fewer than ``k`` rows — the standard
    retrieval-mining behavior, not an error; raise ``depth`` (cost is
    the retriever's k, linear). Self-matches are already excluded by
    the retriever.

    Returns ``(query_col, doc_col, cos_sim, neg_rank)`` with
    ``neg_rank`` 0-based by descending similarity, ties broken by doc
    id ascending — deterministic on any layout.
    """
    from pyspark.sql.window import Window

    from mimic_iv_data_pipeline_spark.operators.similarity import cosine_topk_pandas

    if k < 1:
        raise ValueError("hard_negative_sample: k must be >= 1")
    if depth < k:
        raise ValueError(f"hard_negative_sample: depth {depth} < k {k}")
    nn = cosine_topk_pandas(queries, corpus=corpus, k=depth)
    pos = positives.select(
        F.col(query_col).alias("query_id"), F.col(doc_col).alias("neighbor_id")
    ).distinct()
    neg = nn.join(pos, ["query_id", "neighbor_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        neg.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("query_id").alias(query_col),
            F.col("neighbor_id").alias(doc_col),
            "cos_sim",
            (F.col("__rk") - 1).cast("int").alias("neg_rank"),
        )
    )
