"""Round-7 additions: NULL-parity contracts for the per-key recurrences
(ewma/holt — r6 ADVICE items 1-2), spearman null filtering, exact
percentile name-collision validation, and the q219 notes-NLP fixture's
closed-form extraction."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.aggregates import (
    exact_percentiles,
    spearman_by_group,
)
from mimic_iv_data_pipeline_spark.operators.windows import ewma, holt_linear


def test_ewma_null_poisons_like_sql(spark):
    """A NULL value must emit NULL and poison every later row of the
    key — exactly what a recursive-CTE twin computes (NULL-absorbing
    arithmetic) — while other keys are untouched. This is the r6
    ADVICE finding: NaN-in-float64 used to surface as NaN, silently
    breaking the bitwise engine-portability contract on null inputs.
    """
    rows = [
        # key 'a': null at t=2 → rows 2,3,4 NULL
        ("a", 0, 10.0), ("a", 1, 20.0), ("a", 2, None), ("a", 3, 40.0), ("a", 4, 8.0),
        # key 'b': FIRST value null → whole key NULL
        ("b", 0, None), ("b", 1, 5.0),
        # key 'c': no nulls → plain recursion
        ("c", 0, 4.0), ("c", 1, 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    got = {
        (r["k"], r["t"]): r["e"]
        for r in ewma(df, "k", "t", "x", 0.25, out_col="e").collect()
    }
    assert got[("a", 0)] == 10.0
    assert got[("a", 1)] == 0.25 * 20.0 + 0.75 * 10.0
    assert got[("a", 2)] is None and got[("a", 3)] is None and got[("a", 4)] is None
    assert got[("b", 0)] is None and got[("b", 1)] is None
    assert got[("c", 0)] == 4.0 and got[("c", 1)] == 0.25 * 8.0 + 0.75 * 4.0

    # engine cross-check: DuckDB's recursive CTE over the same rows
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE s(k VARCHAR, t BIGINT, x DOUBLE);
        INSERT INTO s VALUES ('a',0,10.0),('a',1,20.0),('a',2,NULL),
          ('a',3,40.0),('a',4,8.0),('b',0,NULL),('b',1,5.0),
          ('c',0,4.0),('c',1,8.0);
        """
    )
    duck = {
        (k, t): e
        for k, t, e in con.execute(
            """
            WITH RECURSIVE r AS (
              SELECT k, t, x AS e FROM s WHERE t = 0
              UNION ALL
              SELECT s.k, s.t, 0.25 * s.x + 0.75 * r.e
              FROM s JOIN r ON s.k = r.k AND s.t = r.t + 1
            ) SELECT k, t, e FROM r
            """
        ).fetchall()
    }
    assert got == duck  # bitwise, including the NULL cells


def test_holt_null_parity(spark):
    """Holt's level/forecast go NULL from the first NULL value on;
    trend stays 0.0 on a key whose FIRST value is NULL (b_0 is the
    literal 0 in the recursion) and goes NULL one step later."""
    rows = [
        ("a", 0, 10.0), ("a", 1, None), ("a", 2, 30.0),
        ("b", 0, None), ("b", 1, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    got = {
        (r["k"], r["t"]): (r["level"], r["trend"], r["forecast"])
        for r in holt_linear(df, "k", "t", "x", 0.5, 0.25).collect()
    }
    assert got[("a", 0)] == (10.0, 0.0, 10.0)
    assert got[("a", 1)] == (None, None, None)
    assert got[("a", 2)] == (None, None, None)
    assert got[("b", 0)] == (None, 0.0, None)  # b_0 = 0 literal, l_0 = NULL
    assert got[("b", 1)] == (None, None, None)


def test_spearman_drops_null_pairs(spark):
    """Rows with NULL x or y are excluded before ranking (pairwise-
    complete Spearman) — r6 ADVICE: Spark ranks NULLS FIRST, DuckDB
    NULLS LAST, so unfiltered nulls silently desync engines."""
    rows = [
        ("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0),
        ("g", None, 99.0), ("g", 50.0, None),  # must not shift ranks
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = spearman_by_group(df, "g", "x", "y").collect()
    assert len(out) == 1
    assert out[0]["n"] == 3  # null pairs dropped from n as well
    assert out[0]["rho"] == pytest.approx(1.0)


def test_exact_percentiles_rejects_colliding_names(spark):
    df = spark.createDataFrame([("g", 1.0, 1)], "g string, v double, i long")
    with pytest.raises(ValueError, match="collide"):
        exact_percentiles(df, "g", "v", [0.05, 0.052], tie_break="i")
    # non-colliding probs still work
    out = exact_percentiles(df, "g", "v", [0.05, 0.5], tie_break="i").collect()
    assert out[0]["p5"] == 1.0 and out[0]["p50"] == 1.0


def test_q219_fixture_extraction_is_the_closed_form(spark):
    """The q219 oracle hardcodes each template's expected entities; if
    anyone edits a template or the matcher, this pins the closed form
    locally before the driver does."""
    from mimic_iv_data_pipeline_spark.operators.nlp import (
        DEFAULT_TARGETS,
        _extract,
    )
    from mimic_iv_data_pipeline_spark.queries.llmops import _Q219_NOTE_TEMPLATES

    expected = {
        0: [("history of present illness", "fever", False, False, 44),
            ("history of present illness", "chest pain", False, False, 54),
            ("family history", "diabetes", False, True, 94)],
        1: [("history of present illness", "fever", True, False, 35),
            ("past medical history", "hypertension", False, False, 64)],
        2: [("history of present illness", "chest pain", False, False, 61),
            ("history of present illness", "heart failure", True, False, 43)],
        3: [("assessment and plan", "shortness of breath", False, False, 21),
            ("assessment and plan", "fever", True, False, 49)],
    }
    for m, text in enumerate(_Q219_NOTE_TEMPLATES):
        got = sorted(
            (e["section"], e["term"], e["negated"], e["family_context"], e["offset"])
            for e in _extract(text, DEFAULT_TARGETS)
        )
        assert got == sorted(expected[m]), f"template {m} drifted"


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over a seeded mess of
    composed URL variants — a canonical form that moves under its own
    map would break dedup group stability (RFC 3986 §6: normalization
    is a projection)."""
    import random

    from mimic_iv_data_pipeline_spark.functions.url import canonical_url

    rng = random.Random(7)
    schemes = ["http", "HTTP", "https", "HTTPS", "ftp", ""]
    hosts = ["Ex.COM", "www.ex.com", "a.b.co.uk", "localhost", "ex.com:80",
             "ex.com:443", "ex.com:8080", "user:pw@ex.com"]
    paths = ["", "/", "/a", "/a/", "/a/b.html", "/a//b/", "/%7Euser"]
    queries = ["", "?", "?a=1", "?utm_source=x", "?a=1&utm_medium=m&b=2",
               "?gclid=z", "?utm_source=x&utm_campaign=y"]
    frags = ["", "#f", "#a?b"]
    urls = ["not a url", "http://", "//ex.com/x", ""]
    for _ in range(400):
        s = rng.choice(schemes)
        u = (s + "://" if s else "") + rng.choice(hosts) + rng.choice(paths) \
            + rng.choice(queries) + rng.choice(frags)
        urls.append(u)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    bad = [(r["c1"], r["c2"]) for r in rows if r["c1"] != r["c2"]]
    assert not bad, f"canonical form not idempotent: {bad[:5]}"


# ------------------------------------------------------------------ r7 review
def test_pareto_front_null_cost_cannot_shadow(spark):
    """A NULL-cost row must neither shadow its quality's true min-cost
    representative nor reach the front (r7 self-review): with (q=10,
    c=NULL), (q=10, c=1), (q=5, c=2) the front is {(10,1)} — (5,2) is
    dominated and the NULL row is excluded."""
    from mimic_iv_data_pipeline_spark.operators.sampling import pareto_front_2d

    df = spark.createDataFrame(
        [(10.0, None), (10.0, 1.0), (5.0, 2.0)], "q double, c double"
    )
    got = sorted((r["q"], r["c"]) for r in pareto_front_2d(df, "q", "c").collect())
    assert got == [(10.0, 1.0)]


def test_source_mixture_missing_stratum_binds_cap_to_zero(spark):
    """A targeted source absent from the corpus makes the mixture
    unachievable: it must surface as a tokens=0 row forcing every
    rate to 0 — not silently vanish from the join (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import source_mixture_rates

    df = spark.createDataFrame([("a", 1000)], "src string, toks long")
    out = {
        r["stratum"]: (r["tokens"], r["rate"], r["expected_tokens"])
        for r in source_mixture_rates(
            df, "src", "toks", {"a": 0.5, "b": 0.5}
        ).collect()
    }
    assert out["b"] == (0, 0.0, 0)
    assert out["a"] == (1000, 0.0, 0)  # cap bound by the missing source


def test_pack_sequences_rejects_nonpositive_budget(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame([("s", 1, 10)], "shard string, ord long, toks long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "shard", "ord", "toks", budget=0)


def test_dsir_keeps_featureless_docs(spark):
    """Docs with empty/NULL text must appear with (0, 0.0) instead of
    silently vanishing from the weight relation (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import dsir_log_weights

    df = spark.createDataFrame(
        [(1, "alpha beta gamma", True), (2, "", False), (3, None, False),
         (4, "alpha beta", False)],
        "doc_id long, text string, is_target boolean",
    )
    out = {r["doc"]: (r["n_feats"], r["log_weight"]) for r in
           dsir_log_weights(df, "doc_id", "text", "is_target").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2] == (0, 0.0) and out[3] == (0, 0.0)
    assert out[1][0] > 0 and out[4][0] > 0


def test_bootstrap_ci_ranks_follow_surviving_count(spark):
    """With dropped all-zero replicates the upper bound must sit at an
    EXISTING rank (nb-based), not at n_replicates-based rank 39 of a
    38-row order (r7 self-review). Forced here with a tiny group and
    few replicates; contract: nb >= 2 -> BOTH bounds non-NULL."""
    from mimic_iv_data_pipeline_spark.operators.sampling import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [("g", i, 10 + i) for i in range(2)], "grp string, id long, y long"
    )
    rows = poisson_bootstrap_ci(
        df, "grp", "y", "id", n_replicates=25, alpha=0.1, salt="r7"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # with 2 rows per replicate, some of the 25 replicates draw w=0 for
    # both rows and are dropped; the bounds must still both be set
    assert r["ci_lo"] is not None and r["ci_hi"] is not None
    assert r["ci_lo"] <= r["ci_hi"]


def test_estimated_jaccard_unrolled_matches_lambda(spark):
    from mimic_iv_data_pipeline_spark.operators.incremental import estimated_jaccard

    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 9, 3, 7]), ([5, 5, 5, 5], [5, 5, 5, 5])],
        "a array<bigint>, b array<bigint>",
    )
    got = df.select(
        estimated_jaccard(F.col("a"), F.col("b"), num_hashes=4).alias("u"),
        estimated_jaccard(F.col("a"), F.col("b")).alias("l"),
    ).collect()
    for r in got:
        assert r["u"] == r["l"]
    assert {round(r["u"], 3) for r in got} == {0.5, 1.0}


def test_cosine_topk_pandas_zero_norm_and_rounding_match_expression(spark):
    """r7 self-review: (a) a zero-norm vector must NOT become everyone's
    top-1 neighbor (NaN sims are masked to NULL, ranking LAST like the
    expression path's 0/0 -> NULL); (b) rounding is the dround floor
    twin, not np.round ties-to-even — asserted by exact path identity
    on vectors engineered to include a zero vector."""
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
    )

    rows = [
        (0, [0.0, 0.0, 0.0]),  # zero vector
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got_p = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk_pandas(df, corpus=df, k=2).collect()
    }
    got_e = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk(df, corpus=df, k=2).collect()
    }
    assert got_p == got_e  # identical incl. NULL-sim placement
    # the zero vector is nobody's top-1
    top1_e = {r["query_id"]: r["neighbor_id"]
              for r in cosine_topk(df, corpus=df, k=1).collect()}
    top1_p = {r["query_id"]: r["neighbor_id"]
              for r in cosine_topk_pandas(df, corpus=df, k=1).collect()}
    assert top1_p == top1_e
    assert all(n != 0 for q, n in top1_p.items() if q != 0)


def test_cosine_topk_pandas_rejects_string_ids(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import cosine_topk_pandas
    import pytest as _pytest

    df = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="integral"):
        cosine_topk_pandas(df, corpus=df, k=1)


def test_token_count_empty_text_is_zero(spark):
    from mimic_iv_data_pipeline_spark.operators.text import token_count

    df = spark.createDataFrame(
        [("",), ("   ",), ("a  b",), ("  hi  ",)], "text string"
    )
    got = [r["n"] for r in df.select(token_count(F.col("text")).alias("n")).collect()]
    assert got == [0, 0, 2, 1]


def test_mean_token_len_robust_to_whitespace_runs(spark):
    from mimic_iv_data_pipeline_spark.operators.text import with_quality_metrics

    df = spark.createDataFrame(
        [(1, "a  b"), (2, "  hi  "), (3, "one two")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["mean_token_len"]
           for r in with_quality_metrics(df).collect()}
    assert got[1] == 1.0   # was 1.5 under the separator-count formula
    assert got[2] == 2.0   # was 6.0
    assert got[3] == 3.0


def test_bpe_pair_counts_n_words_is_distinct_words(spark):
    from mimic_iv_data_pipeline_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame([(1, "banana banana band")], "doc_id long, text string")
    got = {r["pair"]: (r["n_words"], r["n_occurrences"])
           for r in bpe_pair_counts(df, "text", top_k=50).collect()}
    # 'a n' appears twice in 'banana' (wc=2) and once in 'band' (wc=1):
    # 2 distinct words contain it; 2*2 + 1 = 5 occurrences
    assert got["a n"] == (2, 5)


def test_recall_and_ndcg_dedup_duplicate_truth(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        ndcg_at_k,
        recall_at_k,
    )

    approx = spark.createDataFrame([(1, 7), (1, 8)], "query_id long, neighbor_id long")
    exact_dup = spark.createDataFrame(
        [(1, 7), (1, 7)], "query_id long, neighbor_id long"
    )
    rec = recall_at_k(approx, exact=exact_dup, k=2).collect()
    assert rec[0]["recall"] <= 1.0 and rec[0]["recall"] == 0.5
    truth_dup = spark.createDataFrame(
        [(1, 7, 3.0), (1, 7, 3.0)], "query_id long, neighbor_id long, rel double"
    )
    results = spark.createDataFrame(
        [(1, 7, 0.9)], "query_id long, neighbor_id long, cos_sim double"
    )
    nd = ndcg_at_k(results, truth_dup, k=2).collect()
    assert nd[0]["ndcg"] <= 1.0


def test_url_frequency_custom_id_col(spark):
    from mimic_iv_data_pipeline_spark.operators.text import url_frequency

    df = spark.createDataFrame(
        [(1, "see https://ex.com/a and http://www.ex.com/a?x=1")],
        "my_id long, text string",
    )
    got = {r["url"]: (r["n_docs"], r["n_occurrences"])
           for r in url_frequency(df, id_col="my_id").collect()}
    assert got == {"ex.com/a": (1, 2)}


def test_band_buckets_rejects_degenerate_banding(spark):
    """bands > num_hashes made rows_per_band 0 — every doc in ONE
    bucket, detonating the quadratic candidate join (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.dedup import band_buckets_expr
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        band_buckets_expr(8, 16)
    with _pytest.raises(ValueError, match="evenly"):
        band_buckets_expr(64, 10)  # silently dropped 4 trailing hashes


def test_embedding_exact_dedup_preserves_string_ids(spark):
    from mimic_iv_data_pipeline_spark.operators.dedup import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [1.0, 0.0]), ("doc-c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dup_pairs(df, method="exact", threshold=0.99).collect()}
    assert got == {("doc-a", "doc-b")}


def test_theta_sketch_dedups_hash_values(spark):
    """KMV contract: the sample holds the k smallest DISTINCT hash
    values — duplicate u rows (48-bit collisions) bias the estimator
    and row-multiply the intersection join (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.sketches import theta_sketch

    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    us = [r["u"] for r in theta_sketch(df, "k", k=100).collect()]
    assert len(us) == len(set(us)) == 100
    assert us == sorted(us)


def test_bloom_probe_null_key_is_unknown(spark):
    """NULL keys are not representable in the filter: build drops
    them, probe returns NULL (a false 'maybe_member' would be a
    silent false negative) — r7 self-review."""
    from mimic_iv_data_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.createDataFrame([("a",), (None,)], "k string")
    bloom = bloom_build(keys, "k")
    assert all(r["bit"] is not None for r in bloom.collect())
    probes = spark.createDataFrame([("a",), ("zzz",), (None,)], "k string")
    got = {r["k"]: r["maybe_member"] for r in
           bloom_probe(bloom, probes, "k").collect()}
    assert got["a"] is True
    assert got[None] is None
    # 'zzz' is almost surely a miss with 3 hashes over 4096 bits and
    # one inserted key; at minimum it must be a bool, never None
    assert got["zzz"] in (True, False)


def test_filter_majority_unit_null_mode_cannot_delete_group(spark):
    """96% NULL units used to elect NULL as mode and delete the WHOLE
    group via NULL equality (r7 self-review); the mode is now elected
    over non-null units only (pandas value_counts semantics)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        filter_majority_unit,
    )

    rows = [(1, None)] * 96 + [(1, "bpm")] * 4 + [(2, None)] * 10
    df = spark.createDataFrame(rows, "itemid long, uom string")
    out = filter_majority_unit(df, "itemid", "uom", cutoff=0.95)
    got = out.groupBy("itemid").count().collect()
    counts = {r["itemid"]: r["count"] for r in got}
    # group 1: 'bpm' is 100% of non-null units -> filter fires, keeps
    # the 4 real-unit rows (NULL-unit rows drop with other minorities)
    assert counts.get(1) == 4
    # group 2: no non-null units at all -> untouched
    assert counts.get(2) == 10


def test_densify_time_grid_zero_length_emits_nothing(spark):
    from mimic_iv_data_pipeline_spark.operators.temporal import densify_time_grid

    df = spark.createDataFrame([(1, 3), (2, 0), (3, -2)], "id long, los long")
    got = sorted(
        (r["id"], r["t"]) for r in densify_time_grid(df, "id", "los").collect()
    )
    assert got == [(1, 0), (1, 1), (1, 2)]  # no phantom t=0/-1 for 2, 3


def test_asof_join_validates_and_honors_tolerance(spark):
    from datetime import datetime

    from mimic_iv_data_pipeline_spark.operators.joins import asof_join
    import pytest as _pytest

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 10))], "k long, t timestamp"
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 99.0)], "k long, rt timestamp, v double"
    )
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, "k", "t", "rt", direction="fwd")
    with _pytest.raises(ValueError, match="right_end"):
        asof_join(left, right, "k", "t", "rt", right_end="rt",
                  direction="backward")
    # tolerance under the DEFAULT join strategy: the 9-day-old row is
    # outside a 1h tolerance -> null match (used to silently match)
    out = asof_join(left, right, "k", "t", "rt", direction="backward",
                    tolerance_seconds=3600).collect()
    assert out[0]["v"] is None
    # and within tolerance it matches
    out2 = asof_join(left, right, "k", "t", "rt", direction="backward",
                     tolerance_seconds=30 * 86400).collect()
    assert out2[0]["v"] == 99.0


def test_trimmed_mean_and_percentiles_drop_nulls(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        exact_percentiles,
        trimmed_mean,
    )

    rows = [("g", float(v), i) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8])]
    rows += [("g", None, 100), ("g", None, 101), ("g", None, 102)]
    df = spark.createDataFrame(rows, "g string, v double, i long")
    tm = trimmed_mean(df, "g", "v", 0.1, tie_break="i").collect()[0]
    # n=8 non-null, cut=0 -> plain mean 4.5 (NULLs neither ranked nor
    # counted in the denominator)
    assert tm["n_total"] == 8 and tm["trimmed_mean"] == 4.5
    pc = exact_percentiles(df, "g", "v", [0.5], tie_break="i").collect()[0]
    assert pc["n"] == 8 and pc["p50"] == 4.0  # rank ceil(0.5*8)=4


def test_population_stability_ignores_nulls(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        population_stability,
    )

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    cur_rows = [(float(i),) for i in range(100)] + [(None,)] * 50
    cur = spark.createDataFrame(cur_rows, "v double")
    out = {r["bucket"]: r["psi_term"] for r in
           population_stability(ref, cur=cur, value_col="v", bins=5).collect()}
    # identical non-null distributions -> PSI ~ 0 (NULLs must not
    # inflate bucket 0)
    assert abs(out[-1]) < 1e-6


def test_grouped_linreg_no_long_overflow(spark):
    """x ~ 4e9: x*x wraps a long (~1.8e19 > 9.2e18) — the decimal
    pre-cast keeps the sums exact (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import grouped_linreg

    rows = [("g", 4_000_000_000 + i, 8_000_000_000 + 2 * i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = grouped_linreg(df, "g", "x", "y").collect()[0]
    assert out["slope"] == pytest.approx(2.0)
    assert out["r2"] == pytest.approx(1.0)


def test_attribute_revenue_int_cents_no_overflow(spark):
    """IntegerType cents used to overflow the raw (cents * 1e6) under
    ANSI / wrap silently otherwise (r7 self-review); revenue must be
    conserved in micro-cents."""
    from datetime import datetime, timedelta

    from mimic_iv_data_pipeline_spark.operators.windows import attribute_revenue

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, "ad", None, 1),
        (1, t0 + timedelta(hours=1), "email", None, 2),
        (1, t0 + timedelta(hours=2), "buy", 100_000, 3),  # $1000 as INT cents
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, cents int, eid long"
    )
    out = attribute_revenue(
        df, "user_id", "ts", "event_type", "cents", "buy",
        ["ad", "email"], lookback_seconds=86400, tie_break="eid",
    ).collect()
    assert sum(r["linear_micro"] for r in out) == 100_000 * 1_000_000


def test_forecast_backtest_all_zero_series(spark):
    """forecast == actual == 0 rows: sMAPE term is 0 by convention —
    used to crash with DIVIDE_BY_ZERO under ANSI (r7 self-review)."""
    from mimic_iv_data_pipeline_spark.operators.windows import forecast_backtest

    rows = [("k", t, 0.0) for t in range(30)]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    out = forecast_backtest(df, "k", "t", "x", alpha=0.5, beta=0.25,
                            season=7).collect()
    assert out and out[0]["smape"] == 0.0


def test_date_shift_null_subject_not_wiped(spark):
    """NULL-subject rows used to get NULL offsets, silently WIPING
    their timestamps (r7 self-review); they now shift as one group."""
    from datetime import datetime

    from mimic_iv_data_pipeline_spark.operators.privacy import date_shift

    df = spark.createDataFrame(
        [(1, "s1", datetime(2024, 1, 1, 12)), (2, None, datetime(2024, 1, 2, 12)),
         (3, None, datetime(2024, 1, 3, 12))],
        "eid long, subj string, ts timestamp",
    )
    out = {r["eid"]: (r["ts"], r["off"]) for r in
           date_shift(df, "subj", ["ts"], 30, offset_col="off").collect()}
    assert all(ts is not None and off is not None for ts, off in out.values())
    # both NULL-subject rows share ONE offset (they are one shift group)
    assert out[2][1] == out[3][1]
    # within-group interval preserved exactly
    assert (out[3][0] - out[2][0]).days == 1


def test_association_rules_boundary_support(spark):
    """Items whose support EQUALS min_support must survive — the float
    min_count product (0.07*100 = 7.000...001) used to prune them
    (r7 self-review, verified failing on the old code)."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import association_rules

    rows = []
    for b in range(100):
        rows.append((b, "x"))
        if b < 7:
            rows.append((b, "y"))
            rows.append((b, "z"))
    df = spark.createDataFrame(rows, "b long, i string")
    got = {(r["item_a"], r["item_b"]) for r in
           association_rules(df, "b", "i", min_support=0.07).collect()}
    assert ("y", "z") in got


def test_bm25_bag_semantics(spark):
    from mimic_iv_data_pipeline_spark.operators.retrieval import bm25_search

    df = spark.createDataFrame(
        [(1, "apple pie"), (2, "banana split"), (3, "apple apple tart")],
        "doc_id long, text string",
    )
    single = {r["doc"]: r["score"] for r in
              bm25_search(df, ["apple", "banana"]).collect()}
    double = {r["doc"]: r["score"] for r in
              bm25_search(df, ["apple", "apple", "banana"]).collect()}
    # doubling 'apple' doubles its term contribution for apple docs
    # (abs tolerance: each score is independently 6dp-rounded)
    assert double[1] == pytest.approx(2 * single[1], abs=2e-6)
    # banana-only doc unchanged
    assert double[2] == single[2]


def test_generate_timeseries_readmission_anchor_and_boundary(spark):
    """(a) anchor='last' used to crash with AMBIGUOUS_REFERENCE when
    events already carry los_hours (the run_pipeline readmission path);
    (b) an event in the final floored hour (t == include_hours) must
    neither survive off-grid nor fabricate an all-zero series for a
    code never observed in-window (r7 self-review, both confirmed)."""
    from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries

    cohort = spark.createDataFrame([(1, 48)], "stay_id long, los_hours long")
    events = spark.createDataFrame(
        [
            (1, 100, 1, 5.0, 48),   # in-window code 100
            (1, 200, 24, 7.0, 48),  # code 200 ONLY at t == include_hours
        ],
        "stay_id long, itemid long, event_time_from_admit long, "
        "valuenum double, los_hours long",
    )
    # (a) the join must disambiguate los_hours for BOTH anchors;
    # (b) for 'first', code 200's only event buckets to 24 (off the
    # 0..23 grid): no fabricated all-zero series. For 'last' (the
    # readmission window: last 24h of the 48h stay) the roles flip —
    # the t=24 event shifts to t'=0 (in-window) and code 100 drops out.
    expected = {"first": {100}, "last": {200}}
    for anchor, want in expected.items():
        dense = generate_timeseries(
            events, cohort, include_hours=24, bucket_hours=1,
            anchor=anchor, impute=None,
        )
        codes = {r["itemid"] for r in dense.select("itemid").distinct().collect()}
        assert codes == want, f"anchor={anchor}: got {codes}, want {want}"
        assert dense.count() == 24  # one full grid for the one code


def test_generate_timeseries_validates_impute_string(spark):
    from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries
    import pytest as _pytest

    cohort = spark.createDataFrame([(1, 48)], "stay_id long, los_hours long")
    events = spark.createDataFrame(
        [(1, 100, 1, 5.0)],
        "stay_id long, itemid long, event_time_from_admit long, valuenum double",
    )
    # reference capitalization accepted
    generate_timeseries(events, cohort, include_hours=4, impute="Mean").count()
    with _pytest.raises(ValueError, match="strategy"):
        generate_timeseries(events, cohort, include_hours=4, impute="meen").count()
