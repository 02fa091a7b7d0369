"""Unit tests for the round-5 additions: SCD-2 history building,
table profiling / expectation validation, fixed-iteration PageRank,
and ANN recall@k — property-style checks beyond the oracle battery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.history import as_of, scd2_history
from mimic_iv_data_pipeline_spark.operators.profiling import (
    Expectation,
    profile_table,
    validate_expectations,
)
from mimic_iv_data_pipeline_spark.operators.graph import pagerank
from mimic_iv_data_pipeline_spark.operators.similarity import recall_at_k


# --- scd2_history -----------------------------------------------------------


def _log(spark):
    rows = [
        (1, "a", 10), (1, "b", 20), (1, "c", 30),
        (2, "x", 10),
        (3, "m", 10), (3, "m", 20), (3, "n", 30),  # v20 is a no-op
    ]
    return spark.createDataFrame(rows, ["k", "attr", "v"])


def test_scd2_intervals_and_current(spark):
    out = scd2_history(_log(spark), ["k"], "v").collect()
    by = {(r.k, r.v): r for r in out}
    assert by[(1, 10)].effective_to == 20 and not by[(1, 10)].is_current
    assert by[(1, 30)].effective_to is None and by[(1, 30)].is_current
    assert by[(2, 10)].is_current
    assert len(out) == 7  # no compaction without drop_unchanged


def test_scd2_compaction_drops_noop_rows(spark):
    out = scd2_history(_log(spark), ["k"], "v", drop_unchanged=["attr"]).collect()
    k3 = sorted([(r.v, r.attr, r.effective_to) for r in out if r.k == 3])
    # v20 (attr unchanged 'm') is compacted away; v10's interval now
    # spans to v30.
    assert k3 == [(10, "m", 30), (30, "n", None)]


def test_scd2_duplicate_version_collapse_is_stable(spark):
    dup = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 10), (1, "c", 20)], ["k", "attr", "v"]
    )
    out1 = scd2_history(dup, ["k"], "v").collect()
    out2 = scd2_history(dup.repartition(7), ["k"], "v").collect()
    pick = {r.v: r.attr for r in out1}
    assert pick[10] == "a"  # deterministic min-by-attrs tiebreak
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_scd2_as_of_slice(spark):
    hist = scd2_history(_log(spark), ["k"], "v")
    snap = {r.k: r.attr for r in as_of(hist, 25).collect()}
    assert snap == {1: "b", 2: "x", 3: "m"}
    assert {r.k: r.attr for r in as_of(hist, 10).collect()} == {
        1: "a", 2: "x", 3: "m",
    }


def test_scd2_validates_inputs(spark):
    with pytest.raises(ValueError):
        scd2_history(_log(spark), [], "v")
    with pytest.raises(ValueError):
        scd2_history(_log(spark), ["k"], "nope")
    with pytest.raises(ValueError):
        scd2_history(_log(spark), ["k"], "v", drop_unchanged=["missing"])


# --- profile_table / validate_expectations ---------------------------------


def _orders_like(spark):
    rows = [
        (1, 10, "O", 5.0), (2, 10, "F", None), (3, None, "F", -1.0),
        (4, 99, "Z", 2.5), (4, 11, "O", 7.5),
    ]
    return spark.createDataFrame(
        rows, "id long, cust long, status string, amt double"
    )


def test_profile_table_stats(spark):
    p = {r.column: r for r in profile_table(_orders_like(spark)).collect()}
    assert p["id"].n_rows == 5 and p["id"].n_distinct == 4
    assert p["cust"].n_nulls == 1 and p["cust"].n_distinct == 3
    assert p["status"].mean_value is None
    assert p["amt"].n_nulls == 1 and p["amt"].min_value == "-1.0"
    assert p["amt"].mean_value == pytest.approx(3.5)
    assert p["id"].data_type == "bigint"


def test_profile_table_validates(spark):
    with pytest.raises(ValueError):
        profile_table(_orders_like(spark), ["nope"])
    with pytest.raises(ValueError):
        profile_table(_orders_like(spark), [])


def test_expectations_counts(spark):
    df = _orders_like(spark)
    dim = spark.createDataFrame([(10,), (11,)], ["ck"])
    rules = [
        Expectation("not_null", ("cust",)),
        Expectation("accepted_values", ("status",), values=("O", "F")),
        Expectation("in_range", ("amt",), lo=0.0),
        Expectation("unique", ("id",)),
        Expectation("foreign_key", ("cust",), ref=dim, ref_cols=("ck",)),
    ]
    out = {r.rule: r for r in validate_expectations(df, rules).collect()}
    assert out["not_null(cust)"].n_violations == 1
    assert out["accepted_values(status)"].n_violations == 1  # 'Z'
    assert out["in_range(amt)"].n_violations == 1  # -1.0; NULL not counted
    assert out["unique(id)"].n_violations == 1  # id=4 twice
    # cust=99 is an orphan; NULL cust is NOT an FK violation
    assert out["foreign_key(cust)"].n_violations == 1
    assert all(r.n_checked == 5 for r in out.values())
    assert not out["unique(id)"].passed


def test_expectations_validates_inputs(spark):
    df = _orders_like(spark)
    with pytest.raises(ValueError):
        validate_expectations(df, [])
    with pytest.raises(ValueError):
        validate_expectations(df, [Expectation("not_null", ("nope",))])
    with pytest.raises(ValueError):
        validate_expectations(df, [Expectation("sorted", ("id",))])
    with pytest.raises(ValueError):
        validate_expectations(df, [Expectation("foreign_key", ("cust",))])


# --- pagerank ---------------------------------------------------------------


def _numpy_pagerank(edges, iters, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {i: [] for i in range(n)}
    for s, t in set(edges):
        out[idx[s]].append(idx[t])
    r = [1.0 / n] * n
    for _ in range(iters):
        dm = sum(r[i] for i in range(n) if not out[i])
        nxt = [(1 - d) / n + d * dm / n] * n
        for i, ts in out.items():
            for t in ts:
                nxt[t] += d * r[i] / len(ts)
        r = nxt
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_reference_with_dangling(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # 5 is absent; 4 dangles? no
    edges.append((3, 5))  # 5 has no out-edges → dangling
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r["rank"] for r in pagerank(df, iterations=4).collect()}
    want = _numpy_pagerank(edges, 4)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_zero_iterations_uniform(spark):
    df = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    got = {r.node: r["rank"] for r in pagerank(df, iterations=0).collect()}
    assert got == {1: 0.5, 2: 0.5}


def test_pagerank_partition_invariant(spark):
    edges = [(i, (i * 7 + 3) % 11) for i in range(11) if i != (i * 7 + 3) % 11]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted((r.node, round(r["rank"], 12)) for r in pagerank(df, 3).collect())
    b = sorted(
        (r.node, round(r["rank"], 12))
        for r in pagerank(df.repartition(13), 3).collect()
    )
    assert a == b


def test_pagerank_validates(spark):
    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, iterations=-1)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)


# --- recall_at_k ------------------------------------------------------------


def test_recall_counts_and_missing_queries_score_zero(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)], ["query_id", "neighbor_id"]
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)], ["query_id", "neighbor_id"]
    )  # query 3 entirely missing from approx
    got = {r.query_id: r.recall for r in recall_at_k(approx, exact=exact, k=2).collect()}
    assert got == {1: 1.0, 2: 0.5, 3: 0.0}


def test_recall_validates(spark):
    df = spark.createDataFrame([(1, 1)], ["query_id", "neighbor_id"])
    with pytest.raises(ValueError):
        recall_at_k(df, exact=df, k=0)


# --- pit_join ---------------------------------------------------------------


def test_pit_join_matches_interval_and_keeps_unmatched(spark):
    hist = scd2_history(_log(spark), ["k"], "v").select(
        "k", "attr", "effective_from", "effective_to"
    )
    facts = spark.createDataFrame(
        [(1, 15), (1, 30), (2, 5), (9, 10)], ["k", "t"]
    )
    from mimic_iv_data_pipeline_spark.operators.history import pit_join

    out = {(r.k, r.t): r.attr for r in pit_join(facts, hist, ["k"], "t").collect()}
    assert out[(1, 15)] == "a"      # [10,20) covers 15
    assert out[(1, 30)] == "c"      # open current interval
    assert out[(2, 5)] is None      # before first version
    assert out[(9, 10)] is None     # unknown key survives with nulls
    assert pit_join(facts, hist, ["k"], "t").count() == 4  # exactly |facts|


def test_pit_join_inner_and_validation(spark):
    from mimic_iv_data_pipeline_spark.operators.history import pit_join

    hist = scd2_history(_log(spark), ["k"], "v").select(
        "k", "attr", "effective_from", "effective_to"
    )
    facts = spark.createDataFrame([(1, 15), (2, 5)], ["k", "t"])
    assert pit_join(facts, hist, ["k"], "t", how="inner").count() == 1
    with pytest.raises(ValueError):
        pit_join(facts, hist, ["k"], "t", how="full")
    with pytest.raises(ValueError):
        pit_join(facts, hist.drop("effective_to"), ["k"], "t")


def test_expectations_matches_regex(spark):
    df = _orders_like(spark)
    out = {
        r.rule: r
        for r in validate_expectations(
            df,
            [
                Expectation("matches_regex", ("status",), pattern=r"^[OF]$"),
            ],
        ).collect()
    }
    assert out["matches_regex(status)"].n_violations == 1  # 'Z'
    with pytest.raises(ValueError):
        validate_expectations(df, [Expectation("matches_regex", ("status",))])


# --- randomized scd2 vs a python reference ---------------------------------


def _py_scd2(rows, compact):
    """Reference SCD-2: rows = (k, attr, v); returns the operator's
    expected output tuples."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, a, v in rows:
        by_key[k].append((v, a))
    out = []
    for k, items in by_key.items():
        items.sort()
        # collapse duplicate versions (keep min attr)
        dedup = []
        for v, a in items:
            if dedup and dedup[-1][0] == v:
                continue
            dedup.append((v, a))
        if compact:
            kept = []
            for v, a in dedup:
                if kept and kept[-1][1] == a:
                    continue
                kept.append((v, a))
            dedup = kept
        for i, (v, a) in enumerate(dedup):
            nxt = dedup[i + 1][0] if i + 1 < len(dedup) else None
            out.append((k, a, v, v, nxt, nxt is None))
    return sorted(out)


@pytest.mark.parametrize("seed", [7, 41])
@pytest.mark.parametrize("compact", [False, True])
def test_scd2_matches_python_reference_randomized(spark, seed, compact):
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(12), rng.choice("abc"), rng.randrange(8))
        for _ in range(150)
    ]
    # reference collapses duplicate (k, v) by min attr, matching the
    # operator's attrs-ascending tiebreak — make rows unique per (k, v,
    # attr) so "min attr" is well-defined on both sides
    rows = sorted(set(rows))
    df = spark.createDataFrame(rows, ["k", "attr", "v"]).repartition(9)
    kwargs = {"drop_unchanged": ["attr"]} if compact else {}
    got = sorted(
        (r.k, r.attr, r.v, r.effective_from, r.effective_to, r.is_current)
        for r in scd2_history(df, ["k"], "v", **kwargs).collect()
    )
    assert got == _py_scd2(rows, compact)


# --- review-fix regressions -------------------------------------------------


def test_scd2_compaction_null_transitions_are_changes(spark):
    """attr 'a' -> NULL -> 'b' must produce three history rows — a
    NULL-unsafe comparison would compact the NULL and 'b' rows away."""
    log = spark.createDataFrame(
        [(1, "a", 10), (1, None, 20), (1, "b", 30)], "k long, attr string, v long"
    )
    out = sorted(
        (r.v, r.attr, r.effective_to)
        for r in scd2_history(log, ["k"], "v", drop_unchanged=["attr"]).collect()
    )
    assert out == [(10, "a", 20), (20, None, 30), (30, "b", None)]
    # NULL == NULL is still "unchanged"
    log2 = spark.createDataFrame(
        [(1, None, 10), (1, None, 20)], "k long, attr string, v long"
    )
    assert scd2_history(log2, ["k"], "v", drop_unchanged=["attr"]).count() == 1


def test_scd2_null_version_raises(spark):
    log = spark.createDataFrame(
        [(1, "a", 10), (1, "b", None)], "k long, attr string, v long"
    )
    with pytest.raises(Exception, match="NULL in version column"):
        scd2_history(log, ["k"], "v").collect()


def test_expectations_unique_exempts_null_keys(spark):
    df = spark.createDataFrame(
        [(None, 1), (None, 2), (1, 3), (1, 4), (2, 5)], "id long, p long"
    )
    out = validate_expectations(df, [Expectation("unique", ("id",))]).collect()[0]
    # two NULL ids are NOT duplicates; id=1 twice is one violation
    assert out.n_violations == 1 and out.n_checked == 5


def test_as_of_slice_equals_pit_join_at_same_time(spark):
    """Cross-operator invariant: slicing the history at time v and
    PIT-joining a probe fact at time v must agree for every key."""
    import random

    from mimic_iv_data_pipeline_spark.operators.history import pit_join

    rng = random.Random(3)
    rows = sorted(
        {
            (rng.randrange(8), rng.choice("xyz"), rng.randrange(6) * 10)
            for _ in range(60)
        }
    )
    hist = scd2_history(
        spark.createDataFrame(rows, ["k", "attr", "v"]), ["k"], "v"
    )
    keys = [r.k for r in hist.select("k").distinct().collect()]
    for probe_v in (0, 15, 30, 999):
        slice_ = {
            r.k: r.attr for r in as_of(hist, probe_v).collect()
        }
        probes = spark.createDataFrame([(k, probe_v) for k in keys], ["k", "t"])
        joined = {
            r.k: r.attr
            for r in pit_join(
                probes, hist.select("k", "attr", "effective_from", "effective_to"),
                ["k"], "t",
            ).collect()
        }
        for k in keys:
            assert joined.get(k) == slice_.get(k), (k, probe_v)


def test_scd2_plans_exactly_one_exchange(spark):
    """Plan pin for the PERF claim: dup-collapse, compaction, and
    interval windows all share ONE hashpartitioning(key) exchange."""
    log = _log(spark).repartition(4)  # non-aligned input partitioning
    plan = (
        scd2_history(log, ["k"], "v", drop_unchanged=["attr"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- mmr_rerank -------------------------------------------------------------


def _py_mmr(cand, sims, k, lam):
    """cand: {(q, d): rel}; sims: {(i, j): s}; returns [(q, d, rank)]."""
    out = []
    by_q = {}
    for (q, d), r in cand.items():
        by_q.setdefault(q, {})[d] = r
    for q, ds in by_q.items():
        sel = []
        for rank in range(1, k + 1):
            best = None
            for d, r in sorted(ds.items()):
                if d in sel:
                    continue
                score = r if not sel else (
                    lam * r - (1 - lam) * max(sims[(d, s)] for s in sel)
                )
                if best is None or score > best[1]:
                    best = (d, score)
            sel.append(best[0])
            out.append((q, best[0], rank))
    return sorted(out)


def test_mmr_matches_python_reference(spark):
    import itertools
    import math
    import random

    from mimic_iv_data_pipeline_spark.operators.similarity import mmr_rerank

    rng = random.Random(11)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(4)] for i in range(12)}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return math.floor(num / den * 1e6 + 0.5) / 1e6

    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    cand_rows, cand_map, sim_map = [], {}, {}
    for q in (100, 200):
        qv = [rng.uniform(-1, 1) for _ in range(4)]
        for d in range(8):
            rel = cos(qv, vecs[d])
            cand_rows.append((q, d, rel))
            cand_map[(q, d)] = rel
    for i, j in itertools.permutations(range(12), 2):
        sim_map[(i, j)] = cos(vecs[i], vecs[j])
    cand = spark.createDataFrame(
        cand_rows, "query_id long, neighbor_id long, rel double"
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r["rank"])
        for r in mmr_rerank(cand, corpus, k=4, lam=0.7).collect()
    )
    assert got == _py_mmr(cand_map, sim_map, k=4, lam=0.7)


def test_mmr_validates(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame([(1, 2, 0.5)], "query_id long, neighbor_id long, rel double")
    emb = spark.createDataFrame([(2, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        mmr_rerank(df, emb, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(df, emb, k=1, lam=2.0)


# --- connected_components argument validation --------------------------------


def test_connected_components_rejects_int_local_contract(spark):
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    # 1 == True in Python, so a membership check would let int 1 through
    # and the later `is True` dispatch would silently treat it as False
    with pytest.raises(ValueError, match="local_contract"):
        connected_components(pairs, local_contract=1)
    with pytest.raises(ValueError, match="local_contract"):
        connected_components(pairs, local_contract=0)
