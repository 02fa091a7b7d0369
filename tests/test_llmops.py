"""Unit tests for the LLM-ops second wave: PII scrub, deterministic
splits/sampling, contamination, sketches, packing, repetition.

(The oracle-differential check for q63-q70 runs in test_oracle.py via
the shared registry; these tests pin the operator-level semantics on
crafted inputs.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.dedup import ngram_contamination
from mimic_iv_data_pipeline_spark.operators.privacy import with_pii_scrub
from mimic_iv_data_pipeline_spark.operators.sampling import (
    hash_split,
    hash_unit,
    pack_sequences,
    stratified_sample,
)
from mimic_iv_data_pipeline_spark.operators.sketches import (
    cm_estimate,
    cm_sketch,
    heavy_hitters,
    token_stream,
)
from mimic_iv_data_pipeline_spark.operators.text import with_repetition_metrics


def test_pii_scrub_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user@example.org and b@x.io, ip 192.168.0.1"),
            (2, "ssn 123-45-6789 phone 555-123-4567 clean tail"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in with_pii_scrub(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_ipv4"] == 1 and out[1]["n_ssn"] == 0
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert out[3]["redacted"] == "nothing sensitive here"
    assert "<EMAIL>" in out[1]["redacted"] and "<IPV4>" in out[1]["redacted"]
    assert "123-45-6789" not in out[2]["redacted"]
    assert "<SSN>" in out[2]["redacted"] and "<PHONE>" in out[2]["redacted"]


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = hash_split(df, "k", {"train": 0.8, "valid": 0.1, "test": 0.1})
    s2 = hash_split(df.repartition(7), "k", {"train": 0.8, "valid": 0.1, "test": 0.1})
    # stable under repartitioning (unlike F.rand)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    frac = {r["split"]: r["c"] for r in s1.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert sum(frac.values()) == 2000
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert 0.06 < frac["valid"] / 2000 < 0.14
    with pytest.raises(ValueError):
        hash_split(df, "k", {"a": 0.5, "b": 0.6})


def test_hash_unit_range_and_same_key_same_fate(spark):
    df = spark.createDataFrame([(5,), (5,), (9,)], ["k"])
    vals = [r[0] for r in df.select(hash_unit(F.col("k"), "s")).collect()]
    assert all(0.0 <= v < 1.0 for v in vals)
    assert vals[0] == vals[1]


def test_stratified_sample_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "lang"])
    kept = stratified_sample(df, "k", "lang", {"en": 0.25, "de": 0.75})
    counts = {r["lang"]: r["c"] for r in kept.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert 0.20 < counts["en"] / 2000 < 0.30
    assert 0.70 < counts["de"] / 2000 < 0.80
    # unlisted stratum defaults to rate 0
    df2 = spark.createDataFrame([(1, "fr")], ["k", "lang"])
    assert stratified_sample(df2, "k", "lang", {"en": 1.0}).count() == 0


def test_pack_sequences_budget_and_order(spark):
    rows = [("s", i, t) for i, t in enumerate([300, 300, 300, 300, 100])]
    df = spark.createDataFrame(rows, ["shard", "ord", "n_toks"])
    out = {r["ord"]: r["window_id"] for r in pack_sequences(df, "shard", "ord", "n_toks", 512).collect()}
    # cumulative starts: 0,300,600,900,1200 → windows 0,0,1,1,2
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}
    # shards pack independently
    df2 = df.union(spark.createDataFrame([("t", 0, 5000)], ["shard", "ord", "n_toks"]))
    out2 = pack_sequences(df2, "shard", "ord", "n_toks", 512)
    assert out2.filter((F.col("shard") == "t") & (F.col("window_id") == 0)).count() == 1


def test_pii_counts_match_placeholders_progressive(spark):
    # a phone-shaped run inside an email local part is consumed by the
    # email redaction first, so n_phone must NOT count it (counts are
    # computed on progressively-redacted text and always equal the
    # placeholders emitted)
    df = spark.createDataFrame(
        [
            (1, "call 555-123-4567 or mail 555-123-4567@x.com"),
            (2, "card 4111-1111-1111-1234 intl +91-2222-3333 "
                "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in with_pii_scrub(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[2]["n_cc"] == 1 and out[2]["n_phone_intl"] == 1
    assert out[2]["n_ipv6"] == 1 and out[2]["n_ssn"] == 0
    for did, row in out.items():
        red = row["redacted"]
        for cls in ("email", "cc", "ssn", "phone_intl", "phone", "ipv6", "ipv4"):
            assert red.count(f"<{cls.upper()}>") == row[f"n_{cls}"], (did, cls)


def test_pack_sequences_split_oversized_exact_windows(spark):
    # doc of 1300 tokens at budget 512 spans windows 0-2; every window
    # holds exactly `budget` tokens except the shard's last
    rows = [("s", 0, 300), ("s", 1, 1300), ("s", 2, 100), ("t", 0, 700)]
    df = spark.createDataFrame(rows, ["shard", "ord", "n_toks"])
    out = pack_sequences(
        df, "shard", "ord", "n_toks", 512, split_oversized=True
    ).collect()
    # brute-force expectation: concatenate per shard, cut every 512
    per_win: dict = {}
    chunks = []
    for shard in ("s", "t"):
        pos = 0
        for _, ord_, t in sorted((r for r in rows if r[0] == shard), key=lambda r: r[1]):
            first = pos // 512
            for w in range(first, max(first, (pos + t - 1) // 512) + 1):
                share = min((w + 1) * 512, pos + t) - max(w * 512, pos)
                chunks.append((shard, ord_, w, w - first, max(share, 0)))
                per_win[(shard, w)] = per_win.get((shard, w), 0) + max(share, 0)
            pos += t
    got = sorted(
        (r["shard"], r["ord"], r["window_id"], r["chunk_index"], r["chunk_tokens"])
        for r in out
    )
    assert got == sorted(chunks)
    last = {s: max(w for (sh, w) in per_win if sh == s) for s in ("s", "t")}
    for (shard, w), tot in per_win.items():
        if w != last[shard]:
            assert tot == 512, (shard, w, tot)
        else:
            assert tot <= 512


def test_cms_epsilon_guarantee(spark, sf_dir):
    """Classical CM bound (Cormode & Muthukrishnan '05): with width w and
    depth d, est >= true and est <= true + (e/w)·N with prob 1-e^-d per
    query. Hashing is deterministic here, so holding on the fixture
    corpus once means holding always."""
    import math

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    occ = token_stream(docs, "text")
    depth, width = 4, 256
    sketch = cm_sketch(occ, depth=depth, width=width)
    exact = occ.groupBy("token").agg(F.count("*").cast("long").alias("exact_cnt"))
    est = cm_estimate(sketch, exact.select("token"), depth=depth, width=width)
    joined = exact.join(est, "token")
    n_total = occ.count()
    eps_n = math.e / width * n_total
    bad_under = joined.filter(F.col("cm_est") < F.col("exact_cnt")).count()
    assert bad_under == 0  # deterministic guarantee
    n_tokens = joined.count()
    over = joined.filter(F.col("cm_est") > F.col("exact_cnt") + eps_n).count()
    # per-query failure prob e^-depth; allow that fraction with slack 2x
    assert over <= max(1, int(2 * math.exp(-depth) * n_tokens)), (
        f"{over}/{n_tokens} tokens exceed true+εN (εN={eps_n:.1f})"
    )


def test_contamination_planted_overlap(spark):
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "zeta eta theta iota")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma unseen words here"), (2, "fully novel tokens only")],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in ngram_contamination(corpus, bench, n=3).collect()}
    # bench doc 1: 4 shingles, exactly 1 ("alpha beta gamma") in corpus
    assert out[1]["n_grams"] == 4 and out[1]["n_contaminated"] == 1
    assert out[2]["n_contaminated"] == 0 and out[2]["contamination"] == 0.0


def test_heavy_hitters_rank_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c d")], ["doc_id", "text"]
    )
    rows = heavy_hitters(df, "text", k=3).collect()
    got = [(r["token"], r["cnt"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    # a and b tie at 3 → lexicographic tie-break
    assert got == [("a", 3, 1), ("b", 3, 2), ("c", 2, 3)]


def test_cms_overestimates_never_under(spark):
    df = spark.createDataFrame(
        [(i, "x " * (i + 1) + "unique" + str(i)) for i in range(20)], ["doc_id", "text"]
    )
    occ = token_stream(df, "text")
    sketch = cm_sketch(occ, depth=4, width=64)
    exact = occ.groupBy("token").agg(F.count("*").cast("long").alias("exact_cnt"))
    est = cm_estimate(sketch, exact.select("token"), depth=4, width=64)
    joined = exact.join(est, "token").collect()
    assert len(joined) == 21  # 'x' + 20 unique tokens
    for r in joined:
        assert r["cm_est"] >= r["exact_cnt"]  # CM never underestimates
    # sketch state is bounded by depth × width regardless of input
    assert sketch.count() <= 4 * 64


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam ham"), (2, "all distinct tokens here")],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in with_repetition_metrics(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 2
    assert out[1]["top_token"] == "spam" and out[1]["top_share"] == 0.75
    assert out[2]["dup_ratio"] == 0.0 and out[2]["n_distinct"] == 4


def test_passage_block_dedup_planted(spark):
    # doc 2 repeats doc 1's first 20-token block exactly; doc 3 is clean
    block = " ".join(f"w{i}" for i in range(20))
    tail = " ".join(f"x{i}" for i in range(20))
    other = " ".join(f"y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{block} {tail}"), (2, f"{block} {other}"), (3, other + " solo")],
        ["doc_id", "text"],
    )
    from mimic_iv_data_pipeline_spark.operators.dedup import passage_block_dedup

    out = {r["doc"]: r for r in passage_block_dedup(df, "doc_id", "text").collect()}
    assert out[1]["n_blocks"] == 2 and out[1]["n_dup_blocks"] == 0
    # doc 2's first block duplicates doc 1's (first occurrence wins on doc id)
    assert out[2]["n_dup_blocks"] == 1 and out[2]["dup_ratio"] == 0.5
    # doc 3's first block (y0..y19) equals doc 2's second block → dup;
    # its 'solo' tail block is unique
    assert out[3]["n_blocks"] == 2 and out[3]["n_dup_blocks"] == 1


def test_bloom_no_false_negatives_and_bounded_state(spark):
    from mimic_iv_data_pipeline_spark.operators.sketches import bloom_build, bloom_probe

    keys = spark.createDataFrame([(f"k{i}",) for i in range(500)], ["k"])
    probes = spark.createDataFrame([(f"k{i}",) for i in range(1000)], ["k"])
    bloom = bloom_build(keys, "k", num_bits=4096, num_hashes=3)
    assert bloom.count() <= 4096  # state bounded by filter size, not keys
    out = {r["k"]: r["maybe_member"] for r in
           bloom_probe(bloom, probes, "k", num_bits=4096, num_hashes=3).collect()}
    # NO false negatives: every inserted key must probe positive
    assert all(out[f"k{i}"] for i in range(500))
    # false-positive rate on the 500 non-members stays near theory:
    # (1 - e^{-kn/m})^k ≈ 0.043 at k=3, n=500, m=4096 — allow 3x
    fp = sum(1 for i in range(500, 1000) if out[f"k{i}"])
    assert fp / 500 < 0.13, f"fp rate {fp/500}"


def test_url_normalize_variants_collapse(spark):
    from mimic_iv_data_pipeline_spark.operators.text import url_frequency

    df = spark.createDataFrame(
        [
            (1, "see https://WWW.Example.com/Path?q=1#frag"),
            (2, "also http://example.com/Path/"),
            (3, "and https://example.com/Path"),
            (4, "but https://example.com/other"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["url"]: r for r in url_frequency(df).collect()}
    assert rows["example.com/path"]["n_docs"] == 3
    assert rows["example.com/path"]["n_occurrences"] == 3
    assert rows["example.com/other"]["n_docs"] == 1


def test_source_mixture_rates_math(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import source_mixture_rates

    # tokens: a=1000, b=1000, c=100; targets 0.5/0.3/0.2
    # cap = min(1000/0.5, 1000/0.3, 100/0.2) = 500 → rates 0.25, 0.15, 1.0
    rows = [("a", 1000), ("b", 1000), ("c", 100)]
    df = spark.createDataFrame(rows, ["src", "nt"])
    out = {r["stratum"]: r for r in
           source_mixture_rates(df, "src", "nt", {"a": 0.5, "b": 0.3, "c": 0.2}).collect()}
    assert out["a"]["rate"] == 0.25 and out["a"]["expected_tokens"] == 250
    assert out["b"]["rate"] == 0.15 and out["b"]["expected_tokens"] == 150
    assert out["c"]["rate"] == 1.0 and out["c"]["expected_tokens"] == 100
    with pytest.raises(ValueError):
        source_mixture_rates(df, "src", "nt", {"a": 0.5, "b": 0.6})


def test_bigram_lm_scores_hand_computed(spark):
    import math

    from mimic_iv_data_pipeline_spark.operators.text import bigram_lm_scores

    # corpus: two docs sharing a bigram; model trained on both
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b a")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    # pairs: d1 [(<s>,a),(a,b)]  d2 [(<s>,a),(a,b),(b,a)]
    # c(<s>)=2 c(a)=2 c(b)=1; c(<s>,a)=2 c(a,b)=2 c(b,a)=1; V={a,b}=2
    k = 0.5
    lp_sa = math.log((2 + k) / (2 + k * 2))
    lp_ab = math.log((2 + k) / (2 + k * 2))
    lp_ba = math.log((1 + k) / (1 + k * 2))
    d1 = (lp_sa + lp_ab) / 2
    d2 = (lp_sa + lp_ab + lp_ba) / 3
    assert out[1]["n_tokens"] == 2 and out[2]["n_tokens"] == 3
    assert abs(out[1]["avg_logprob"] - round(d1, 6)) < 2e-6
    assert abs(out[2]["avg_logprob"] - round(d2, 6)) < 2e-6
    assert abs(out[2]["perplexity"] - round(math.exp(-d2), 6)) < 2e-6


def test_quantize_int8_roundtrip(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    rows = [
        (1, [0.0, -1.0, 5.0]),
        (2, [1.0, 1.0, 5.0]),   # dim 2 constant -> q=0, recon = mn
        (3, [0.5, 0.25, 5.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    for vid, vec in rows:
        q = out[vid]["qvec"]
        assert all(-127 <= qi <= 127 for qi in q)
        # constant dim quantizes to 0 with zero reconstruction error
        assert q[2] == 0
        # dequantized value within half a quantization step per dim
        assert out[vid]["recon_err"] <= (1.0 / 254) / 2 * (1 + 2) / 3 + 1e-9
    # endpoints land exactly on the int8 rails
    assert out[1]["qvec"][1] == -127 and out[2]["qvec"][0] == 127


# --- wave 4: TF-IDF / DSIR / BPE / batching / novelty ------------------------


def test_tfidf_topk_hand_computed(spark):
    import math

    from mimic_iv_data_pipeline_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "durian durian durian"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk(df, "doc_id", "text", k=2)
    rows = {(r["doc"], r["token"]): r for r in out.collect()}
    # every doc emits <= k rows
    per_doc = out.groupBy("doc").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)
    # apple appears in 2 of 3 docs: idf = ln(4/3) + 1; tf=2 in doc 1
    exp = 2 * (math.log(4 / 3) + 1)
    assert abs(rows[(1, "apple")]["score"] - round(exp, 6)) < 1e-6
    # durian: df=1, tf=3 -> 3*(ln(4/2)+1) and it's doc 3's only token
    assert rows[(3, "durian")]["tf"] == 3
    assert (3, "durian") in rows and len([k for k in rows if k[0] == 3]) == 1


def test_dsir_weights_separate_target_lookalikes(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import dsir_log_weights

    # target docs share a distinctive vocabulary; one held-out doc of
    # each style must rank by target-likeness
    rows = [(i, "quantum flux entangle qubit gate", True) for i in range(5)]
    rows += [(10 + i, "soccer goal referee corner kick", False) for i in range(5)]
    rows += [(100, "quantum qubit gate flux", False)]   # looks like target
    rows += [(101, "soccer corner kick goal", False)]   # looks like raw
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
    w = {r["doc"]: r["log_weight"] for r in dsir_log_weights(
        df, "doc_id", "text", "is_tgt", buckets=256).collect()}
    assert w[100] > w[101]


def test_bpe_pair_counts_hand_computed(spark):
    from mimic_iv_data_pipeline_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low a")], ["doc_id", "text"]
    )
    # vocab: low(x3), lower(x1), a(x1; len<2 -> no pairs)
    out = {r["pair"]: (r["n_words"], r["n_occurrences"])
           for r in bpe_pair_counts(df, "text", top_k=10).collect()}
    assert out["l o"] == (2, 4)       # in 'low' (3 occ) and 'lower' (1)
    assert out["o w"] == (2, 4)
    assert out["w e"] == (1, 1)
    assert out["e r"] == (1, 1)
    assert "a ?" not in out and len(out) == 4


def test_length_batches_invariants(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        length_bucketed_batches,
    )

    df = spark.createDataFrame(
        [(i, 1 + (i * 37) % 500) for i in range(300)], ["doc_id", "n_toks"]
    )
    out = length_bucketed_batches(df, "doc_id", "n_toks",
                                  bucket_width=64, batch_size=16).collect()
    assert sum(r["n_docs"] for r in out) == 300
    for r in out:
        assert 1 <= r["n_docs"] <= 16
        assert r["pad_waste"] >= 0
        assert r["pad_waste"] == r["n_docs"] * r["max_tokens"] - r["sum_tokens"]
        # bucket invariant: max token length inside the bucket's range
        assert r["bucket"] * 64 < r["max_tokens"] <= (r["bucket"] + 1) * 64


def test_ngram_novelty_duplicate_vs_unique(spark):
    from mimic_iv_data_pipeline_spark.operators.text import ngram_novelty

    common = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, "alpha beta gamma delta epsilon zeta eta")],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in ngram_novelty(df, "doc_id", "text", n=5).collect()}
    # docs 1 and 2 are identical: every 5-gram shared
    assert out[1]["shared_share"] == 1.0 and out[2]["shared_share"] == 1.0
    # doc 3 is unique: nothing shared
    assert out[3]["n_shared"] == 0 and out[3]["shared_share"] == 0.0


class TestWeightedSample:
    @staticmethod
    def _py_keys(rows, salt):
        import hashlib
        import math

        out = []
        for doc_id, w in rows:
            h = int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:8], 16)
            u = (h + 0.5) / 4294967296.0
            out.append((-math.log(u) / w, doc_id))
        return out

    def test_matches_pure_python_replica(self, spark):
        from mimic_iv_data_pipeline_spark.operators.sampling import weighted_sample

        rows = [(i, float(1 + (i * 7) % 13)) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = sorted(
            r.doc_id for r in weighted_sample(df, "doc_id", "w", k=5).collect()
        )
        want = sorted(d for _, d in sorted(self._py_keys(rows, "es"))[:5])
        assert got == want

    def test_partition_invariant_and_excludes_nonpositive(self, spark):
        from mimic_iv_data_pipeline_spark.operators.sampling import weighted_sample

        rows = [(i, float(i % 7 - 1)) for i in range(60)]  # some w <= 0
        df = spark.createDataFrame(rows, "doc_id long, w double")
        a = sorted(r.doc_id for r in weighted_sample(df, "doc_id", "w", k=10).collect())
        b = sorted(
            r.doc_id
            for r in weighted_sample(df.repartition(11), "doc_id", "w", k=10).collect()
        )
        assert a == b
        assert all((d % 7 - 1) > 0 for d in a)

    def test_formula_weight_proportionality(self):
        # statistical check of the race-key formula itself (no Spark):
        # two items, w=9 vs w=1 → P(win) = 0.9; 2000 salts ≈ ±2%
        wins = 0
        n = 2000
        for s in range(n):
            keys = self._py_keys([(0, 9.0), (1, 1.0)], f"t{s}")
            if min(keys)[1] == 0:
                wins += 1
        assert abs(wins / n - 0.9) < 0.03


def test_kfold_disjoint_exhaustive_and_repartition_stable(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import kfold_ids

    ids = spark.range(0, 2000).withColumnRenamed("id", "key")
    out = kfold_ids(ids, "key", k=5)
    rows = {r.key: r.fold for r in out.collect()}
    # exhaustive: every id got exactly one fold in [0, 5)
    assert len(rows) == 2000
    assert set(rows.values()) == {0, 1, 2, 3, 4}
    # multinomial sizes around n/k
    from collections import Counter

    sizes = Counter(rows.values())
    assert all(abs(v - 400) < 100 for v in sizes.values()), sizes
    # bit-stable under any partition layout
    for parts in (1, 7, 64):
        again = {
            r.key: r.fold
            for r in kfold_ids(ids.repartition(parts), "key", k=5).collect()
        }
        assert again == rows
    with pytest.raises(ValueError, match="k must be"):
        kfold_ids(ids, "key", k=1)


@pytest.mark.parametrize("balance", ["minority", "all"])
def test_oversample_minority_exact_counts(spark, balance):
    from mimic_iv_data_pipeline_spark.operators.sampling import oversample_minority

    # classes: a=100 (majority), b=37, c=12 (minority)
    df = spark.range(0, 149).select(
        F.col("id").alias("key"),
        F.when(F.col("id") < 100, "a")
        .when(F.col("id") < 137, "b")
        .otherwise("c")
        .alias("label"),
    )
    out = oversample_minority(df, "key", "label", balance=balance)
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    if balance == "minority":
        assert counts == {"a": 100, "b": 37, "c": 100}
    else:
        assert counts == {"a": 100, "b": 100, "c": 100}
    # copies of one key are distinct rows with 0-based contiguous copy ids
    per_key = (
        out.groupBy("key").agg(F.count("*").alias("n"), F.max("copy_id").alias("mx"))
        .where(F.col("n") != F.col("mx") + 1)
        .count()
    )
    assert per_key == 0
    # deterministic: same result on a different partition layout
    again = oversample_minority(df.repartition(13), "key", "label", balance=balance)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_oversample_label_cardinality_guard(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import oversample_minority

    # a near-unique "label" column must hit the bounded-collect wall,
    # not silently pull every distinct value to the driver
    df = spark.range(0, 50).select(
        F.col("id").alias("key"), F.col("id").cast("string").alias("label")
    )
    with pytest.raises(ValueError, match="distinct values"):
        oversample_minority(df, "key", "label", max_classes=10)
    # at the boundary (cardinality == max_classes) it still runs
    ok = oversample_minority(
        df.withColumn("label", (F.col("key") % 5).cast("string")),
        "key",
        "label",
        max_classes=5,
    )
    assert ok.count() == 50


def test_stratified_kfold_exact_balance(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import kfold_ids

    # skewed strata: a=700, b=55, c=13 — per-stratum fold sizes must
    # differ by at most 1 even for the tiny class
    df = spark.range(0, 768).select(
        F.col("id").alias("key"),
        F.when(F.col("id") < 700, "a")
        .when(F.col("id") < 755, "b")
        .otherwise("c")
        .alias("label"),
    )
    out = kfold_ids(df, "key", k=5, strata_col="label")
    sizes = {
        (r.label, r.fold): r.n
        for r in out.groupBy("label", "fold").agg(F.count("*").alias("n")).collect()
    }
    for lbl, total in (("a", 700), ("b", 55), ("c", 13)):
        per = [sizes.get((lbl, f), 0) for f in range(5)]
        assert sum(per) == total
        assert max(per) - min(per) <= 1, (lbl, per)
    # repartition-stable
    again = kfold_ids(df.repartition(11), "key", k=5, strata_col="label")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_suppress_small_groups_k_anonymity(spark):
    from mimic_iv_data_pipeline_spark.operators.privacy import suppress_small_groups

    # quasi groups: (0,'x')=12 rows, (1,'x')=5, (2,'y')=3 — k=6 keeps
    # only the first
    rows = (
        [(i, 0, "x") for i in range(12)]
        + [(100 + i, 1, "x") for i in range(5)]
        + [(200 + i, 2, "y") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "id long, age int, zip string")
    out = suppress_small_groups(df, ["age", "zip"], k=6)
    got = out.collect()
    assert {r.id for r in got} == set(range(12))
    assert all(r.group_size == 12 for r in got)
    # every surviving quasi group has >= k members (the k-anonymity
    # property itself)
    mins = out.groupBy("age", "zip").agg(F.count("*").alias("n")).collect()
    assert all(r.n >= 6 for r in mins)
    with pytest.raises(ValueError, match="quasi_cols"):
        suppress_small_groups(df, [], k=2)
