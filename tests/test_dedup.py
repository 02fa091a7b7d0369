"""Property tests for the dedup family: prefix-filtered Jaccard equals
the naive quadratic join; MinHash-LSH candidates recover high-Jaccard
pairs; SimHash invariance; semantic_dedup's pandas kernel equals its
join reference."""

from __future__ import annotations

import itertools

import pytest

from mimic_iv_data_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    variants = [
        (0, base),
        (1, base),  # exact dup
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different text about spark query engines and shuffles here"),
        (4, base + " with a small suffix appended"),
        (5, "another unrelated document mentioning the quick brown fox only briefly"),
    ]
    return spark.createDataFrame(variants, "doc_id long, text string")


def _brute_force_jaccard(docs, n=3):
    """Reference implementation in plain python."""
    def shingles(text):
        toks = text.strip().lower().split()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {d: shingles(t) for d, t in docs}
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sorted(sets.items()), 2):
        inter = len(sa & sb)
        if inter:
            out[(a, b)] = round(inter / (len(sa) + len(sb) - inter), 6)
    return out


def test_prefix_filter_matches_bruteforce(spark, near_dup_docs):
    docs = [(r["doc_id"], r["text"]) for r in near_dup_docs.collect()]
    expect = {
        k: v for k, v in _brute_force_jaccard(docs).items() if v >= 0.3
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(near_dup_docs, "doc_id", threshold=0.3).collect()
    }
    assert got == expect


def test_prefix_filter_matches_bruteforce_on_corpus(spark, sf_dir):
    """Same property on the real documents table at a saturating
    threshold — validates the prefix bound under heavy shingle reuse."""
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    docs = [(r["doc_id"], r["text"]) for r in docs_df.collect()]
    expect = {k: v for k, v in _brute_force_jaccard(docs).items() if v >= 0.2}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "doc_id", threshold=0.2).collect()
    }
    assert got == expect


def test_df_cap_agrees_with_uncapped(spark, sf_dir):
    """max_df candidate capping: scores stay exact (full-set verify) and
    with a cap comfortably above the corpus's rare-shingle df, capped ==
    uncapped on the fixture corpus above threshold."""
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "doc_id", threshold=0.2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs_df, "doc_id", threshold=0.2, max_df=30
        ).collect()
    }
    assert capped == uncapped
    # an aggressive cap can only LOSE pairs, never invent or mis-score
    tight = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs_df, "doc_id", threshold=0.2, max_df=1
        ).collect()
    }
    assert set(tight) <= set(uncapped)
    assert all(uncapped[k] == v for k, v in tight.items())


def test_minhash_lsh_recovers_near_dups(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            near_dup_docs, "doc_id", verify_threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup always found
    assert (0, 2) in pairs  # single-word change → high jaccard, banded together
    assert all(a < b for (a, b) in pairs)


def test_simhash_properties(spark, near_dup_docs):
    sigs = {r["doc"]: r["simhash"] for r in simhash(near_dup_docs, "doc_id").collect()}
    assert sigs[0] == sigs[1]  # identical docs → identical signature

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near dup differs in few bits; unrelated doc differs in many
    assert hamming(sigs[0], sigs[2]) < hamming(sigs[0], sigs[3])
    assert hamming(sigs[0], sigs[2]) <= 16


def test_exact_dedup_groups(spark, near_dup_docs):
    groups = exact_dedup_groups(near_dup_docs, "doc_id").collect()
    by_canonical = {r["canonical_id"]: r["group_size"] for r in groups}
    assert by_canonical[0] == 2  # docs 0 and 1 collapse
    assert len(groups) == 5


def test_embedding_near_dup(spark, sf_dir):
    """LSH-bucketed near-dup pairs are a subset of exact pairs with
    IDENTICAL scores (candidates approximate, scores never), and the
    exact path's all-pairs guard refuses corpus-sized inputs."""
    from mimic_iv_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.3, method="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, method="lsh", dims=64, bits=4, tables=8
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    assert all(a < b for a, b in exact)
    # 8 tables of 4-bit buckets: expected recall ~1-(1-p)^8 ≈ 0.66 at
    # cos 0.3 — assert well below expectation to stay deterministic-safe
    if exact:
        assert len(lsh) / len(exact) >= 0.3

    with pytest.raises(ValueError, match="all-pairs"):
        embedding_near_dup_pairs(emb, method="exact", max_exact_rows=10)


# --- connected components (graph.py) ----------------------------------------

def _uf_components(n_nodes, edges):
    """Reference union-find: {node: min-id-of-component}."""
    parent = {i: i for i in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_nodes}


@pytest.mark.parametrize(
    "name,nodes,edges",
    [
        # worst case for label propagation: a long path with the min in
        # the middle — large/small-star must still converge in O(log^2)
        ("path64", list(range(1, 65)) + [0],
         [(i, i + 1) for i in range(1, 64)] + [(32, 0)]),
        ("two_cliques", list(range(20)),
         [(a, b) for a in range(8) for b in range(a + 1, 8)]
         + [(a, b) for a in range(10, 18) for b in range(a + 1, 18)]),
        ("star_high_center", list(range(30)),
         [(29, i) for i in range(12)]),
        ("singletons_only", list(range(5)), []),
    ],
)
@pytest.mark.parametrize("driver_cap", [1_000_000, 0])
def test_connected_components_vs_union_find(spark, name, nodes, edges, driver_cap):
    # driver_cap=0 forces the distributed large/small-star path; the
    # default exercises the bounded driver union-find fast path.
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    expected = _uf_components(nodes, edges)
    nodes_df = spark.createDataFrame([(i,) for i in nodes], ["id"])
    if edges:
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    else:
        pairs = nodes_df.select(
            nodes_df.id.alias("id_a"), nodes_df.id.alias("id_b")
        ).limit(0)
    out = connected_components(pairs, nodes=nodes_df, driver_cap=driver_cap)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == expected, name


@pytest.mark.parametrize("driver_cap", [1_000_000, 0])
def test_connected_components_without_nodes_labels_roots(spark, driver_cap):
    # Regression: with nodes=None the distributed star path used to
    # label only the u side of the converged (member, root) edge list,
    # dropping every component root — driver_cap=0 and the union-find
    # fast path returned different id sets for the same input.
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, nodes=None, driver_cap=driver_cap
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_random_graphs(spark):
    import random

    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = 60
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _uf_components(nodes, edges)
        nodes_df = spark.createDataFrame([(i,) for i in nodes], ["id"])
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        cap = 0 if trial % 2 else 1_000_000  # alternate star/driver paths
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                pairs, nodes=nodes_df, driver_cap=cap
            ).collect()
        }
        assert got == expected, f"trial {trial}"
        # r8: the opt-in local contraction must be label-invariant on
        # the same random graphs, under a partitioning it didn't choose
        got_lc = {
            r["id"]: r["component"]
            for r in connected_components(
                pairs.repartition(5), nodes=nodes_df, driver_cap=cap,
                local_contract=True,
            ).collect()
        }
        assert got_lc == expected, f"trial {trial} (local_contract)"


# --- semantic_dedup pairs="pandas": the per-cell Gram kernel is
# BIT-identical to the expression-path self-join ("join", the reference),
# because per-dimension sequential accumulation reproduces the expression
# fold's addition order exactly -------------------------------------------------


def _sem_rows():
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(120):
        v = centers[i % 4] + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v]))
        if i % 3 == 0:  # planted near-dup
            rows.append(
                (1000 + i, [float(x) for x in v + rng.normal(scale=0.001, size=16)])
            )
    # edge rows: zero vector (try_divide NULL), NULL element (never
    # prunes), true-NaN element (always prunes — Spark orders NaN above
    # any threshold), duplicate id (flags OR per id)
    rows.append((5000, [0.0] * 16))
    rows.append((5001, [None] + [1.0] * 15))
    nanv = [float("nan")] + [float(x) for x in centers[0]][1:]
    rows.append((5002, nanv))
    rows.append((5003, [float(x) for x in centers[1]]))
    rows.append((5003, [float(x) for x in centers[2]]))
    # inf-norm overflow: squares of 1e200 overflow to inf -> cosine
    # inf/inf = NaN, the one REACHABLE NaN (literal NaN data elements
    # are laundered to NULL by the assignment pass's Arrow round-trip);
    # two of them so a smaller-id partner exists in whatever cell the
    # all-NaN distance row lands in
    rows.append((5004, [1e200 * float(x) for x in centers[0]]))
    rows.append((5005, [1e200 * float(x) for x in centers[3]]))
    cent = [[float(x) + 0.01 for x in centers[i]] for i in range(4)]
    return rows, cent


@pytest.mark.parametrize("thr", [0.95, 0.999999])
def test_semantic_dedup_pandas_matches_join(spark, thr):
    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup

    rows, cent = _sem_rows()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=thr, centroids=cent)
    a = semantic_dedup(emb, "vec_id", "embedding", pairs="join", **kw)
    b = semantic_dedup(emb, "vec_id", "embedding", pairs="pandas", **kw)
    ra = a.orderBy("id", "cell").collect()
    rb = b.orderBy("id", "cell").collect()
    assert ra == rb
    assert sum(r["pruned"] for r in ra) > 0  # the fixture actually prunes
    pr = {r["id"]: r["pruned"] for r in rb}
    assert pr[5000] is False and pr[5001] is False  # zero-norm / NULL element
    # the NaN-element row is ALSO never pruned — on BOTH paths: the
    # assignment pass's Arrow round-trip coerces NaN array elements to
    # NULL before either pair strategy runs, so it degrades to the
    # NULL-element case (the kernel's isnan branch still guards the
    # reachable NaN cosines: inf-norm overflow products)
    assert pr[5002] is False
    # the inf-overflow rows: NaN cosine vs their smaller-id cellmates
    # prunes them (NaN >= thr is true under Spark's NaN ordering; the
    # kernel's isnan branch must agree — it does, on both paths)
    assert pr[5004] is True and pr[5005] is True


def test_semantic_dedup_pandas_exact_boundary_threshold(spark):
    """Ulp pin: threshold set to a REALIZED pair cosine — >= must keep
    the pair pruned on both paths; any summation-order deviation in the
    kernel would flip this bit."""
    from pyspark.sql import functions as F

    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        as_double_vec,
        cosine,
    )

    rows, cent = _sem_rows()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .where((F.col("a.vec_id") == 0) & (F.col("b.vec_id") == 1000))
        .select(
            cosine(
                as_double_vec(F.col("a.embedding")),
                as_double_vec(F.col("b.embedding")),
            ).alias("c")
        )
        .collect()[0]["c"]
    )
    a = semantic_dedup(
        emb, "vec_id", "embedding", threshold=thr, centroids=cent, pairs="join"
    ).orderBy("id", "cell").collect()
    b = semantic_dedup(
        emb, "vec_id", "embedding", threshold=thr, centroids=cent, pairs="pandas"
    ).orderBy("id", "cell").collect()
    assert a == b
    assert {r["id"]: r["pruned"] for r in b}[1000] is True  # inclusive >=


def test_semantic_dedup_auto_routes_pandas(spark):
    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup

    rows, cent = _sem_rows()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, "vec_id", "embedding", centroids=cent)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # auto -> the per-cell kernel
    with pytest.raises(ValueError, match="pairs"):
        semantic_dedup(emb, "vec_id", "embedding", centroids=cent, pairs="nope")
