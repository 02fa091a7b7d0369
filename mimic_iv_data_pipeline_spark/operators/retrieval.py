"""Sparse lexical retrieval: TF-IDF cosine pair mining and BM25 search.

The lexical half of the similarity family (`operators/similarity.py`
covers dense embeddings): near-topic pair mining for curriculum /
source-overlap analysis, and BM25 — the ranking function behind
Lucene/Elasticsearch and the standard first-stage retriever for
RAG-corpus construction and dedup triage (Robertson & Zaragoza 2009).

Both operators are built on ONE (doc, token) term-frequency aggregate;
document frequency is a window count over that relation (no second
corpus pass); nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.operators.text import tokens

__all__ = ["tfidf_cosine_pairs", "bm25_search", "embed_hashed_projection"]


def _tf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    occ = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    return occ.groupBy("doc", "token").agg(F.count("*").alias("tf"))


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs whose TF-IDF cosine similarity, quantized to
    6dp (``dround`` — floor(x·1e6+0.5)/1e6), is ≥ ``threshold``. The
    threshold deliberately applies to the QUANTIZED value: it is the
    engine-portable quantity both the plan and its DuckDB twin compare
    (an unrounded filter would flip boundary pairs between engines on
    last-ulp disagreements); a pair whose true cosine is within 5e-7
    below the threshold may therefore be included.

    Weights are sklearn ``smooth_idf`` TF-IDF (``tf·(ln((1+N)/(1+df))+1)``,
    matching ``tfidf_topk``); the pair dot products come from an
    INVERTED-INDEX self-join on token — pairs only meet on shared
    terms, so the cost is Σ_t df(t)², never |docs|². ``max_df`` is the
    scale wall (same recipe as ``ngram_jaccard_pairs``): tokens in more
    than ``max_df`` docs leave the index before the join — they are
    stopwords contributing near-zero IDF weight, so the bound trades a
    vanishing score error for capping the largest df² term. Output
    ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``.
    """
    tf = _tf(df, id_col, text_col)
    n_docs = tf.select(F.countDistinct("doc").alias("__n"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token"))
    w = (
        tf.withColumn("__df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf") * (F.log((1 + F.col("__n")) / (1 + F.col("__df"))) + F.lit(1.0)),
        )
        .select("doc", "token", "w", "__df")
        # feeds the norms aggregate AND both join probes
        .transform(materialize)
    )
    norms = w.groupBy("doc").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    indexed = w if max_df is None else w.filter(F.col("__df") <= max_df)
    a = indexed.select(
        F.col("doc").alias("id_a"), "token", F.col("w").alias("__wa")
    )
    b = indexed.select(
        F.col("doc").alias("id_b"), "token", F.col("w").alias("__wb")
    )
    dots = (
        a.join(b, on="token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("doc").alias("id_a"), F.col("nrm").alias("__na"))
    nb = norms.select(F.col("doc").alias("id_b"), F.col("nrm").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            dround(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 ranking of the corpus against a bag of query terms.

    Lucene's non-negative IDF variant:
    ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``, term score
    ``qtf · idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``, summed
    over the query terms present in the doc — true BAG semantics:
    a term repeated in ``query_terms`` multiplies its score by its
    query frequency (the standard BM25 qtf factor). Output the ``top_k``
    ``(doc, score, n_hits)`` rows (score desc, doc asc — exact bounded
    TakeOrdered, no global sort).

    Scale shape (rebuilt by the r5 scale probe — 19.0 → 15.1 s at 500k
    docs, and 4 tokenize passes down to the 2 that bound the
    remaining time): exactly TWO corpus scans and no joins.

    * The heavy scan tokenizes, carries ``size(tokens)`` (the doc
      length) THROUGH the explode, and filters to the query terms
      before the (doc, token) aggregate — so the shuffled relation is
      O(Σ df(query terms)) and already holds dl (no doc-length join).
      ``df(t)`` is a count window over that same aggregated relation
      (rows are distinct (doc, token) by construction), not a second
      probe of the corpus subtree — the earlier join-back formulation
      made Catalyst duplicate the whole tokenize scan per consumer.
    * The narrow scan reduces per-doc lengths to the one (avgdl, N)
      broadcast row.

    A served deployment writes the (doc, token, tf, dl) relation once,
    bucketed by token, and skips the heavy scan entirely per query;
    this function is the one-shot/batch form of that plan.
    """
    # array_remove, NOT a filter() lambda: higher-order functions are
    # interpreted per element and never enter codegen (the r3
    # exploded_shingles lesson — measured 5× on this very scan)
    toks = F.array_remove(tokens(F.col(text_col)), "")
    # narrow scan: (avgdl, N) in one broadcast row. __dl > 0 keeps
    # N/avgdl identical to the tf-derived formulation (empty docs
    # never had a tf row)
    src = df.select(id_col, text_col)
    stats = (
        src.select(F.size(toks).alias("__dl"))
        .filter(F.col("__dl") > 0)
        .agg(F.avg("__dl").alias("__avgdl"), F.count(F.lit(1)).alias("__n"))
    )
    # tokenize ONCE per doc in a projection BELOW the Generate; putting
    # size(toks) next to explode(toks) in one select makes Catalyst
    # evaluate the whole split per EXPLODED row (plan-verified)
    occ = src.select(
        F.col(id_col).alias("doc"),
        F.size(toks).alias("__dl"),
        toks.alias("__toks"),
    ).select("doc", "__dl", F.explode("__toks").alias("token"))
    # BAG semantics: a term repeated in the query weights its score by
    # its query frequency (standard BM25 qtf factor) — isin alone
    # silently collapsed duplicates to set semantics
    from collections import Counter

    qtf = Counter(t.lower() for t in query_terms)
    if not qtf:
        # with no terms the when-chain below is never built and
        # qtf_expr.otherwise would raise AttributeError at plan-build
        # time — make the caller bug loud instead
        raise ValueError("bm25_search: query_terms is empty")
    qtf_expr = None
    for term, c in sorted(qtf.items()):
        branch = F.when(F.col("token") == term, F.lit(float(c)))
        qtf_expr = branch if qtf_expr is None else qtf_expr.when(
            F.col("token") == term, F.lit(float(c))
        )
    qtf_col = qtf_expr.otherwise(F.lit(0.0))
    hits = (
        occ.filter(F.col("token").isin(list(qtf)))
        .groupBy("doc", "token")
        .agg(F.count("*").alias("tf"), F.first("__dl").alias("__dl"))
        .withColumn("__df", F.count("*").over(Window.partitionBy("token")))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .withColumn("__s", qtf_col * idf * F.col("tf") * (k1 + 1) / denom)
        .groupBy("doc")
        .agg(
            dround(F.sum("__s"), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc").asc()).limit(top_k)


def embed_hashed_projection(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
) -> DataFrame:
    """Deterministic bag-of-words random-projection embeddings: 
    ``emb[d] = Σ_tokens sign(md5(token, d)) / sqrt(n_tokens)`` — signed
    feature hashing into a dense d-vector (the Johnson-Lindenstrauss /
    hashing-trick featurizer; SimHash's pre-binarization form). Zero
    model weights, fully reproducible, and cosine between two docs
    concentrates around their token-multiset similarity — exactly good
    enough to key the dense-ANN family (`pq`, `ivf_topk`,
    `semantic_dedup`) on RAW text when no trained encoder is in the
    loop, and the drop-in seam when one is (swap this for an
    Arrow-batched model featurizer; every downstream op is unchanged).

    Output ``(id, embedding array<double>)``. Plan: explode tokens ×
    dims to (doc, d, ±1) rows, one keyed sum, one array re-assembly —
    all codegen; the dims× row inflation is the expression-only cost,
    and the documented alternative at extreme scale is one numpy
    matmul per Arrow batch (the `_assign_cells_pandas` pattern).
    """
    toked = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # collapse to (doc, token, tf) BEFORE the dims explode: the sign of
    # a (token, d) cell is occurrence-independent, so Σ_occurrences sign
    # == Σ_distinct_tokens tf·sign — identical integers with the
    # shuffled relation shrunk by the per-doc token multiplicity factor
    tf_rel = toked.groupBy("doc", "tok").agg(F.count("*").alias("__tf"))
    d_idx = F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("d")
    sign = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("proj:"), F.col("tok"), F.lit(":"), F.col("d"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        )
        * 2
        - 1
    )
    per_dim = (
        tf_rel.select("doc", "tok", "__tf", d_idx)
        .withColumn("s", sign * F.col("__tf"))
        .groupBy("doc", "d")
        .agg(F.sum("s").alias("v"))
    )
    n_tok = tf_rel.groupBy("doc").agg(F.sum("__tf").alias("n"))
    return (
        per_dim.join(n_tok, "doc")
        .groupBy("doc", "n")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "v"))),
                lambda s: s.v / F.sqrt(F.col("n")),
            ).alias("embedding")
        )
        .select(F.col("doc").alias(id_col), "embedding")
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.01,
) -> DataFrame:
    """Frequent-pair association mining with support / confidence /
    lift (public: Agrawal & Srikant 1994 Apriori; the market-basket
    classic — co-occurrence signals for recommendations or feature
    interactions).

    Pair semantics are SET-based: duplicate (basket, item) rows count
    once, and each unordered pair is emitted once as (item_a < item_b)
    with both directed confidences.

    Scale shape — Apriori pruning BEFORE the pair join: items below
    ``min_support`` are dropped from the basket relation first (the
    downward-closure property guarantees no frequent pair is lost), so
    the per-basket self-join is bounded by the frequent-item count per
    basket, not the raw basket width; the join itself is an equi-join
    on the basket key (no cartesian), and item supports broadcast back
    onto the |pairs| relation. A hot basket with B frequent items still
    emits B²/2 rows — cap upstream if baskets are adversarial.

    Returns ``(item_a, item_b, n_ab, support, conf_a_to_b,
    conf_b_to_a, lift)`` for pairs meeting ``min_support`` (fraction
    of baskets), unrounded.
    """
    if not (0.0 < min_support <= 1.0):
        raise ValueError("association_rules: min_support must be in (0, 1]")
    pairs_src = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct().transform(materialize)
    n_baskets = pairs_src.select("__b").distinct().count()
    if n_baskets == 0:
        raise ValueError("association_rules: empty input")
    # compare the support RATIO, never a float min_count: the product
    # min_support·n rounds UP for many decimal fractions (0.07·100 =
    # 7.0000000000000001), wrongly excluding items whose support
    # EQUALS the threshold; count/n vs the same double literal is
    # boundary-exact and engine-portable (both engines round the one
    # division identically)
    # expression-dense tail as parsed SQL (r12, guide §5): same literal
    # doubles (repr round-trips), same IEEE order — q168 oracle-pinned
    nb = f"{float(n_baskets)!r}D"
    ms = f"{float(min_support)!r}D"
    supp = pairs_src.groupBy("__i").agg(F.count(F.lit(1)).alias("__s"))
    frequent = pairs_src.join(
        F.broadcast(supp.filter(F.expr(f"__s / {nb} >= {ms}"))), "__i"
    )
    a = frequent.selectExpr("__b", "__i AS item_a", "__s AS __sa")
    b = frequent.selectExpr("__b", "__i AS item_b", "__s AS __sb")
    pair_counts = (
        a.join(b, "__b")
        .filter(F.expr("item_a < item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ab"),
            F.first("__sa").alias("__sa"),
            F.first("__sb").alias("__sb"),
        )
        .filter(F.expr(f"n_ab / {nb} >= {ms}"))
    )
    return pair_counts.selectExpr(
        "item_a",
        "item_b",
        "n_ab",
        f"n_ab / {nb} AS support",
        "n_ab / __sa AS conf_a_to_b",
        "n_ab / __sb AS conf_b_to_a",
        f"n_ab * {nb} / (__sa * __sb) AS lift",
    )


def item_cooccurrence_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering neighbors from co-occurrence
    cosine (public: Sarwar et al. WWW 2001 item-based CF; the
    "customers also bought" kernel):

        cos(i,j) = c_ij / sqrt(c_i · c_j)

    with c counted over DISTINCT (basket, item) pairs. The
    recommendation sibling of :func:`association_rules` — that one
    scores directional rules at a support floor; this one emits each
    item's top-k symmetric neighbor list.

    Scale shape (the Apriori discipline): items below ``min_count``
    baskets are pruned BEFORE the pair join — c_ij ≤ min(c_i, c_j), so
    no surviving pair is lost — bounding the per-basket self-join by
    frequent items per basket; the join is an equi-join on the basket
    key, item counts broadcast onto the pair relation, and the final
    per-item top-k is a keyed window over pairs (never a global sort).
    A hot basket with B frequent items still emits B²/2 rows — cap
    basket width upstream if baskets are adversarial.

    Returns ``(item, neighbor, n_pair, n_item, n_neighbor, cosine,
    rank)`` with rank 1..k per item by (cosine desc, neighbor asc);
    cosine unrounded.
    """
    if k < 1:
        raise ValueError("item_cooccurrence_topk: k must be >= 1")
    if min_count < 1:
        raise ValueError("item_cooccurrence_topk: min_count must be >= 1")
    # Materialize the distinct basket-item relation ONCE (the pagerank
    # edge-list discipline): it feeds the item counts, both self-join
    # sides, and the enrichment joins — unmaterialized, the lazy plan
    # re-scans the fact table and re-runs the distinct shuffle per
    # consumer (measured: 10 parquet scans, 0 reused exchanges).
    bi = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
        .transform(materialize)
    )
    counts = bi.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    frequent = counts.filter(F.col("__c") >= min_count)
    pruned = bi.join(
        F.broadcast(frequent.select("__i")), "__i"
    ).select("__b", "__i")
    pairs = (
        pruned.alias("a")
        .join(pruned.alias("b"), on="__b")
        .filter(F.col("a.__i") < F.col("b.__i"))
        .groupBy(
            F.col("a.__i").alias("__ia"), F.col("b.__i").alias("__ib")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    # symmetrize: each unordered pair serves both items' neighbor lists
    sym = pairs.select(
        F.col("__ia").alias("item"), F.col("__ib").alias("neighbor"), "n_pair"
    ).unionByName(
        pairs.select(
            F.col("__ib").alias("item"), F.col("__ia").alias("neighbor"), "n_pair"
        )
    )
    enriched = sym.join(
        F.broadcast(frequent.select(F.col("__i").alias("item"), F.col("__c").alias("n_item"))),
        "item",
    ).join(
        F.broadcast(
            frequent.select(
                F.col("__i").alias("neighbor"), F.col("__c").alias("n_neighbor")
            )
        ),
        "neighbor",
    )
    cosine = F.col("n_pair").cast("double") / F.sqrt(
        F.col("n_item").cast("double") * F.col("n_neighbor").cast("double")
    )
    w = Window.partitionBy("item").orderBy(
        cosine.desc(), F.col("neighbor").asc()
    )
    return (
        enriched.withColumn("cosine", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item", "neighbor", "n_pair", "n_item", "n_neighbor", "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
