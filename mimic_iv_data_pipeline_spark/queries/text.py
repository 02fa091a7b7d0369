"""Text-analysis + dedup queries over the documents table.

LLM-training-data operators (BASELINE.json north star) — exact dedup,
fingerprinting, token/quality stats, language ID, n-gram Jaccard
near-dup — each with a DuckDB oracle built from the SAME portable
semantics (regexp '\\s+' tokenization, concat_ws shingles, md5 digests).
MinHash-LSH and SimHash use xxhash64 (no DuckDB twin) → rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from mimic_iv_data_pipeline_spark.operators.text import (
    LANG_MARKERS,
    fingerprint,
    predict_language,
    token_count,
    with_quality_metrics,
)
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q34: exact dedup via content digest -----------------------------------
@register(
    "q34_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, min(doc_id) AS canonical_id, count(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def q34_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q35: token counting ----------------------------------------------------
@register(
    "q35_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_m
    FROM documents
    """,
)
def q35_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
    )


# --- q36: quality scoring ---------------------------------------------------
@register(
    "q36_quality_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS tok_chars,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
             CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> list_contains(['the', 'a', 'is'], x))) AS BIGINT) AS stop_hits
      FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens,
           round(tok_chars * 1.0 / nullif(n_tokens, 0), 6) AS mean_token_len,
           round(alpha * 1.0 / nullif(n_chars_m, 0), 6) AS alpha_ratio,
           round(stop_hits * 1.0 / nullif(n_tokens, 0), 6) AS stopword_ratio
    FROM t
    """,
)
def q36_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_quality_metrics(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_chars_m", "n_tokens", "mean_token_len", "alpha_ratio", "stopword_ratio"
    )


# --- q37: language ID heuristic ---------------------------------------------
def _lang_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = ",\n             ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        + f"], x))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    # alphabetical argmax with ties → first language
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        cases.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    case_sql = "CASE " + " ".join(cases[:-1]) + " " + cases[-1] + " END"
    return rf"""
    WITH toked AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             {score_exprs}
      FROM toked
    )
    SELECT doc_id, lang, {case_sql} AS pred_lang
    FROM scored
    """


@register("q37_lang_id", oracle=_lang_oracle())
def q37_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = predict_language(load_table(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang", "pred_lang")


# --- q38: document fingerprint ----------------------------------------------
@register(
    "q38_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
    FROM documents
    """,
)
def q38_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# --- q39: n-gram Jaccard near-dup pairs -------------------------------------
@register(
    "q39_ngram_jaccard",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.2
    """,
)
def q39_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.2)


# --- q40: MinHash + LSH near-dup candidates (rows-only: xxhash64 has no
# DuckDB twin; the SAME code path is hash-verified end to end under the
# fixed md5 family by q128) ----------------------------------------------
@register("q40_minhash_lsh")
def q40_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id",
        n=3, num_hashes=64, bands=16, verify_threshold=0.2,
    )


# --- q41: SimHash signatures (rows-only: xxhash64; the same kernel is
# hash-verified under the fixed md5 family by q131) ----------------------
@register("q41_simhash")
def q41_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q128: MinHash+LSH with the fixed md5 hash family (full hash oracle) ----
def _minhash_fixed_oracle(
    n_hashes: int = 64, bands: int = 16, threshold: float = 0.3
) -> str:
    """DuckDB twin of the ENTIRE ``minhash_lsh_pairs`` pipeline under
    ``shingle_hash='md5', bucket='exact'``: the same 64 Carter–Wegman
    permutations (literal (a, b) pairs generated from the operator's
    own ``_minhash_perms``), the same 3-gram shingles, band agreement
    as a 16-way OR of 4-conjunct equalities (the oracle brute-forces
    the pair space — fine at sf0.01; the Spark plan is the banded
    equi-join), and the same hashed-set exact-Jaccard verify."""
    from mimic_iv_data_pipeline_spark.operators.dedup import (
        _MERSENNE61,
        _minhash_perms,
    )

    perms = _minhash_perms(n_hashes)
    r = n_hashes // bands
    mins = ",\n             ".join(
        f"min(({a} * x + {b}) % {_MERSENNE61}) AS s{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_eq = "\n         OR ".join(
        "("
        + " AND ".join(f"a.s{b * r + j} = b.s{b * r + j}" for j in range(r))
        + ")"
        for b in range(bands)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id AS doc, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), grams AS (
      SELECT doc, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS sh
      FROM toks
    ), hx AS (
      SELECT DISTINCT doc,
             cast(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
      FROM grams
    ), sig AS (
      SELECT doc, {mins}
      FROM (SELECT doc, h % 4294967296 AS x FROM hx) GROUP BY doc
    ), cand AS (
      SELECT a.doc AS id_a, b.doc AS id_b
      FROM sig a JOIN sig b ON a.doc < b.doc
      WHERE {band_eq}
    ), sizes AS (
      SELECT doc, count(*) AS nsh FROM hx GROUP BY doc
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN hx ha ON ha.doc = c.id_a
      JOIN hx hb ON hb.doc = c.id_b AND hb.h = ha.h
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           floor(i.i * 1.0 / (sa.nsh + sb.nsh - i.i) * 1e6 + 0.5) / 1e6 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc = i.id_a
    JOIN sizes sb ON sb.doc = i.id_b
    WHERE floor(i.i * 1.0 / (sa.nsh + sb.nsh - i.i) * 1e6 + 0.5) / 1e6 >= {threshold}
    """


@register("q128_minhash_lsh_fixed", oracle=_minhash_fixed_oracle())
def q128_minhash_lsh_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q40 pipeline with its two engine-specific primitives swapped
    for the fixed md5 family (shingle hash) and exact band keys — the
    SAME operator code path, now hash-compared end to end: signature
    mins, banding, candidate generation, and the exact-Jaccard verify
    all differentially verified (q40's xxhash64 production path stays
    rows-only by necessity)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        n=3,
        num_hashes=64,
        bands=16,
        verify_threshold=0.3,
        shingle_hash="md5",
        bucket="exact",
    )


# --- q76: near-dup clusters via connected components ------------------------
@register(
    "q76_dedup_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON common.id_a = sa.doc_id
      JOIN sizes sb ON common.id_b = sb.doc_id
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.2
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk(id, reach) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.reach FROM walk w JOIN edges e ON w.id = e.u
    ), comp AS (
      SELECT id AS doc_id, min(reach) AS component FROM walk GROUP BY 1
    )
    SELECT c.doc_id, c.component, s.cluster_size
    FROM comp c
    JOIN (SELECT component, cast(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1) s USING (component)
    """,
)
def q76_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the q39 near-dup pairs: every document
    labeled with its connected component's min doc_id plus the cluster
    size — the C4/Dolma keep-one-per-cluster step. Oracle is a DuckDB
    recursive CTE computing min-reachable-id per node."""
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.2)
    cc = connected_components(
        pairs.select("id_a", "id_b"), nodes=docs.select("doc_id")
    )
    sizes = cc.groupBy("component").agg(F.count("*").cast("long").alias("cluster_size"))
    return cc.join(F.broadcast(sizes), "component").select(
        F.col("id").alias("doc_id"), "component", "cluster_size"
    )


# --- q77: bigram-LM perplexity quality score --------------------------------
@register(
    "q77_bigram_lm",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), pe AS (
      SELECT doc_id, p.prev AS prev, p.tok AS tok FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
                 i -> struct_pack(prev := CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END,
                                  tok := w[i]))) AS p
        FROM toks
      )
    ), big AS (
      SELECT prev, tok, count(*) AS c2 FROM pe GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, count(*) AS c1 FROM pe GROUP BY 1
    ), voc AS (
      SELECT count(DISTINCT tok) AS v FROM pe
    ), scored AS (
      SELECT pe.doc_id, ln((b.c2 + 0.5) / (c.c1 + 0.5 * voc.v)) AS lp
      FROM pe JOIN big b USING (prev, tok) JOIN ctx c USING (prev) CROSS JOIN voc
    )
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_tokens,
           floor(avg(lp) * 1e6 + 0.5) / 1e6 AS avg_logprob,
           floor(exp(-avg(lp)) * 1e6 + 0.5) / 1e6 AS perplexity
    FROM scored GROUP BY 1
    """,
)
def q77_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filter: corpus-trained add-k
    bigram LM, mean log-prob + perplexity per document."""
    from mimic_iv_data_pipeline_spark.operators.text import bigram_lm_scores

    return bigram_lm_scores(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q92: edit-distance fuzzy self-join (SymSpell deletion blocking) --------
@register(
    "q92_edit_distance_join",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a, customer b
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q92_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within Levenshtein distance 1. The
    oracle brute-forces O(n²) pairs (fine at sf0.01); the Spark plan is
    the deletion-neighborhood equi-join — complete candidate cover,
    exact verify, no all-pairs stage anywhere.

    ``max_bucket=2_000`` pins the skew wall ON at the query site (r5):
    ~50× the largest observed variant bucket (38 at sf0.1), so output
    is provably unchanged here — the hash-green oracle row is the
    proof — while a 100×-scale hot key can never inflate one bucket
    quadratically. ``bench.py`` tracks the uncapped twin
    (``q92_edit_distance_nocap``) so the cap's cost stays measured."""
    from mimic_iv_data_pipeline_spark.operators.fuzzy import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_join(cust, "c_custkey", "c_name", max_dist=1, max_bucket=2_000)


# --- q99: edit-distance join, sparse density --------------------------------
# q92's 5 s at sf0.1 is OUTPUT-bound (customer names are dense in true
# ed<=1 pairs: 262k of them — PERF.md), which makes its bench number a
# property of the dataset, not the operator. This twin runs the same
# plan over 12-char md5-prefix strings (random hex: essentially zero
# true pairs), so the tracked cost is the candidate explode + equi-join
# itself. Oracle brute-forces the same input to prove no false
# positives survive the verify.
@register(
    "q99_edit_distance_sparse",
    oracle="""
    WITH s AS (
      SELECT c_custkey AS id, substr(md5(concat('ed:',
               cast(c_custkey AS VARCHAR))), 1, 12) AS name
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM s a, s b
    WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
    """,
)
def q99_edit_distance_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.fuzzy import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    s = cust.select(
        F.col("c_custkey").alias("id"),
        F.substring(
            F.md5(F.concat(F.lit("ed:"), F.col("c_custkey").cast("string"))), 1, 12
        ).alias("name"),
    )
    return edit_distance_join(s, "id", "name", max_dist=1)


# --- q108: Kneser-Ney bigram LM quality score -------------------------------
@register(
    "q108_kneser_ney",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), pe AS (
      SELECT doc_id, p.prev AS prev, p.tok AS tok FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
                 i -> struct_pack(prev := CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END,
                                  tok := w[i]))) AS p
        FROM toks
      )
    ), big AS (
      SELECT prev, tok, count(*) AS c2 FROM pe GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, count(*) AS c1, count(DISTINCT tok) AS n1p_ctx FROM pe GROUP BY 1
    ), cont AS (
      SELECT tok, count(DISTINCT prev) AS n1p_tok FROM pe GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n1p_all FROM (SELECT DISTINCT prev, tok FROM pe)
    ), scored AS (
      SELECT pe.doc_id,
             ln((b.c2 - 0.75) / c.c1
                + 0.75 * c.n1p_ctx / c.c1 * (k.n1p_tok * 1.0 / t.n1p_all)) AS lp
      FROM pe JOIN big b USING (prev, tok) JOIN ctx c USING (prev)
              JOIN cont k USING (tok) CROSS JOIN tot t
    )
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_tokens,
           floor(avg(lp) * 1e6 + 0.5) / 1e6 AS avg_logprob,
           floor(exp(-avg(lp)) * 1e6 + 0.5) / 1e6 AS perplexity
    FROM scored GROUP BY 1
    """,
)
def q108_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style interpolated Kneser-Ney bigram scoring, trained on
    the scored corpus (the production filter swaps in reference-corpus
    counts; the scoring plan is identical)."""
    from mimic_iv_data_pipeline_spark.operators.text import kneser_ney_scores

    return kneser_ney_scores(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q109: sentence segmentation stats --------------------------------------
@register(
    "q109_sentence_stats",
    oracle=r"""
    WITH sents AS (
      SELECT doc_id, trim(s) AS st
      FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+')) AS s
            FROM documents)
      WHERE trim(s) <> ''
    )
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_sentences,
           floor(avg(len(regexp_split_to_array(st, '\s+'))) * 1e6 + 0.5) / 1e6
             AS avg_sentence_words,
           cast(max(len(regexp_split_to_array(st, '\s+'))) AS BIGINT)
             AS max_sentence_words
    FROM sents GROUP BY 1
    """,
)
def q109_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.text import sentence_stats

    return sentence_stats(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q110: Zipf slope per source --------------------------------------------
@register(
    "q110_zipf_slope",
    oracle=r"""
    WITH counts AS (
      SELECT source AS grp, t AS tok, count(*) AS c
      FROM (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY 1, 2
    ), ranked AS (
      SELECT grp, c, row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok ASC) AS r
      FROM counts
    )
    SELECT grp AS source, cast(count(*) AS BIGINT) AS n_ranks,
           floor(regr_slope(ln(c), ln(r)) * 1e6 + 0.5) / 1e6 AS zipf_slope
    FROM ranked WHERE r <= 1000 GROUP BY 1
    """,
)
def q110_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.text import zipf_slope

    return zipf_slope(load_table(spark, sf_dir, "documents"), "source", max_rank=1000)


# --- q111: per-doc token entropy --------------------------------------------
@register(
    "q111_token_entropy",
    oracle=r"""
    WITH per_tok AS (
      SELECT doc_id, t, count(*) AS c
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY 1, 2
    )
    SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
           cast(count(*) AS BIGINT) AS n_types,
           floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1e6 + 0.5) / 1e6 AS entropy
    FROM per_tok GROUP BY 1
    """,
)
def q111_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"), "doc_id")


# --- q112: TF-IDF cosine near-topic pairs -----------------------------------
# The TF-IDF terms are word BIGRAMS (w_i~w_{i+1}), not unigrams: the
# synthetic sf0.1 text column holds only ~40 distinct words, so every
# unigram is a stopword and the inverted index collapses toward
# all-pairs (the documented r5 degenerate skip). Bigrams square the
# type space (~1600 at sf0.1), restoring the realistic sparse regime
# at EVERY scale factor — and pair mining over bigram terms is itself
# a standard near-topic recipe. Both sides tokenize → drop empties →
# bigram, so the hash compare stays exact.
@register(
    "q112_tfidf_cosine_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS l
      FROM documents
    ), occ AS (
      SELECT doc_id AS doc, l[i] || '~' || l[i + 1] AS token
      FROM toks, unnest(generate_series(1, array_length(l) - 1)) AS u(i)
      WHERE array_length(l) >= 2
    ), tf AS (SELECT doc, token, count(*) AS tf FROM occ GROUP BY 1, 2),
    nd AS (SELECT count(DISTINCT doc) AS n FROM tf),
    dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT tf.doc, tf.token, tf.tf * (ln((1 + nd.n) * 1.0 / (1 + dfr.df)) + 1) AS w
      FROM tf JOIN dfr USING (token) CROSS JOIN nd
    ), nrm AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc AS id_a, b.doc AS id_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b USING (token) WHERE a.doc < b.doc GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim
    FROM dots JOIN nrm na ON na.doc = id_a JOIN nrm nb ON nb.doc = id_b
    WHERE floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 >= 0.9
    """,
)
def q112_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-topic pair mining over the inverted index (pairs meet only
    on shared terms — cost Σ df², capped by max_df at scale). Terms
    are word bigrams (see the oracle note): the text is rewritten to
    space-joined ``w~w'`` bigrams before the operator, keeping the
    operator itself unchanged. The interpreted ``transform`` lambda
    touches |docs| rows once (not the token stream) — outside the
    PERF.md lambda-trap regime."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import (
        tfidf_cosine_pairs,
    )

    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.size(toks) >= 2,
            F.array_join(
                F.transform(
                    F.slice(toks, 1, F.size(toks) - 1),
                    lambda x, i: F.concat(
                        x, F.lit("~"), F.element_at(toks, i + 2)
                    ),
                ),
                " ",
            ),
        )
        .otherwise(F.lit(""))
        .alias("text"),
    )
    return tfidf_cosine_pairs(docs, "doc_id", threshold=0.9)


# --- q113: BM25 search ------------------------------------------------------
@register(
    "q113_bm25",
    oracle=r"""
    WITH occ AS (
      SELECT doc_id AS doc, t AS token FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents) WHERE t <> ''
    ), tf AS (SELECT doc, token, count(*) AS tf FROM occ GROUP BY 1, 2),
    dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    hits AS (SELECT * FROM tf WHERE token IN ('hash', 'join', 'spark')),
    dfr AS (SELECT token, count(DISTINCT doc) AS df FROM hits GROUP BY 1),
    scored AS (
      SELECT h.doc,
             sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * h.tf * 2.2 / (h.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score,
             count(*) AS n_hits
      FROM hits h JOIN dfr d USING (token) JOIN dl l USING (doc) CROSS JOIN stats s
      GROUP BY 1
    )
    SELECT doc, floor(score * 1e6 + 0.5) / 1e6 AS score,
           cast(n_hits AS BIGINT) AS n_hits
    FROM scored
    ORDER BY score DESC, doc ASC LIMIT 20
    """,
)
def q113_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-variant BM25 top-20 for the query {hash, join, spark}:
    the inverted-index first-stage retriever (tf relation filtered to
    the query terms before any join)."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import bm25_search

    return bm25_search(
        load_table(spark, sf_dir, "documents"), ["hash", "join", "spark"], "doc_id", top_k=20
    )


# --- q120: web-text cleanup (tag strip + entities + mojibake repair) --------
def _sql_str(s: str) -> str:
    """SQL single-quoted literal (the only escape DuckDB needs)."""
    return "'" + s.replace("'", "''") + "'"


def _clean_web_text_sql(expr: str) -> str:
    """DuckDB twin of ``operators.text.clean_web_text`` GENERATED from
    the operator's own rule tables (HTML_ENTITIES, MOJIBAKE_MAP), so
    both engines run the identical full rule set in the identical
    order — a table entry added on one side cannot silently escape
    differential verification on the other."""
    from mimic_iv_data_pipeline_spark.operators.text import (
        HTML_ENTITIES,
        MOJIBAKE_MAP,
    )

    out = (
        f"regexp_replace(regexp_replace(regexp_replace({expr}, "
        f"'(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
        f"'(?is)<style[^>]*>.*?</style>', ' ', 'g'), '<[^>]+>', ' ', 'g')"
    )
    for pat, rep in list(HTML_ENTITIES) + list(MOJIBAKE_MAP):
        out = f"replace({out}, {_sql_str(pat)}, {_sql_str(rep)})"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


@register(
    "q120_clean_web_text",
    oracle=f"""
    WITH wrapped AS (
      SELECT doc_id,
             concat('<html><script type="x">junk();</script><p class="c">',
                    text, ' &amp; moreâ€™</p><br/></html>') AS raw
      FROM documents
    ), cleaned AS (
      SELECT doc_id, {_clean_web_text_sql("raw")} AS cleaned
      FROM wrapped
    )
    SELECT doc_id, md5(cleaned) AS clean_digest,
           CAST(length(cleaned) AS BIGINT) AS n_chars_clean
    FROM cleaned
    """,
)
def q120_clean_web_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wraps every document in deterministic markup (script block, tags,
    an entity, a planted mojibake quote) and runs the full cleanup
    chain; the digest of the cleaned text is hash-compared against the
    DuckDB twin running the identical rules. The wrap makes the op's
    whole rule surface observable on a corpus that carries no HTML of
    its own."""
    from mimic_iv_data_pipeline_spark.operators.text import clean_web_text

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit('<html><script type="x">junk();</script><p class="c">'),
        F.col("text"),
        F.lit(" &amp; more\u00e2\u20ac\u2122</p><br/></html>"),
    )
    cleaned = clean_web_text(raw)
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("clean_digest"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    )


# --- q121: hashed-projection document embeddings ----------------------------
@register(
    "q121_doc_embeddings",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc, t AS tok FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents) WHERE t <> ''
    ), n_tok AS (SELECT doc, count(*) AS n FROM toks GROUP BY 1),
    per_dim AS (
      SELECT doc, d.d AS d,
             sum(cast(concat('0x', substr(md5(concat('proj:', tok, ':', d.d)), 1, 8)) AS BIGINT)
                 % 2 * 2 - 1) AS v
      FROM toks, (SELECT unnest(range(0, 8)) AS d) d
      GROUP BY 1, 2
    )
    SELECT p.doc AS doc_id, CAST(p.d AS BIGINT) AS d,
           floor(p.v / sqrt(n.n) * 1e6 + 0.5) / 1e6 AS val
    FROM per_dim p JOIN n_tok n USING (doc)
    """,
)
def q121_doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL/hashing-trick document embeddings (8 dims for
    the driver row; the ANN family consumes the 64-dim form), exploded
    to scalar (doc, d, val) rows for the canonicalizer."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import (
        embed_hashed_projection,
    )

    emb = embed_hashed_projection(load_table(spark, sf_dir, "documents"), "doc_id", "text", dims=8)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("d", "__v")
    ).select("doc_id", F.col("d").cast("long").alias("d"), dround(F.col("__v"), 6).alias("val"))


# --- q131: SimHash signatures under the fixed md5 token family --------------
@register(
    "q131_simhash_fixed",
    oracle=r"""
    WITH occ AS (
      SELECT doc_id AS doc, t AS tok FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents) WHERE t <> ''
    ), hx AS (
      SELECT doc, cast(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM occ
    ), contrib AS (
      SELECT doc, b.b AS b,
             sum(CASE WHEN (h // (1::BIGINT << b.b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM hx, range(0, 16) b(b)
      GROUP BY 1, 2
    )
    SELECT doc AS doc_id,
           cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM contrib GROUP BY 1
    """,
)
def q131_simhash_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41's SimHash kernel under the fixed md5 token family (16 bits):
    per-bit ±1 contribution sums, the sign vote, and the little-endian
    packing all hash-compared against a DuckDB twin doing the same bit
    arithmetic. The 64-bit xxhash64 production signature (q41) stays
    rows-only by necessity.

    Note the occurrence semantics: contributions count every token
    OCCURRENCE (no distinct) — the twin unnests without dedup."""
    return simhash(
        load_table(spark, sf_dir, "documents"), "doc_id", bits=16, token_hash="md5"
    ).withColumnRenamed("doc", "doc_id")
