r"""LLM-training-data pipeline queries: PII scrub, deterministic
splits/sampling, benchmark contamination, frequency sketches, sequence
packing, repetition filters.

Second wave of the BASELINE.json north-star surface (first wave:
q34-q44 dedup/similarity/text in ``queries.text`` / ``queries.similarity``).
Every query here is oracle-checked: the hashing primitive is the
md5-hex-prefix trick (Spark ``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
``cast('0x' || substr(md5(x),1,8) as bigint)``), so even the sketch and
split operators — normally "no SQL twin" territory — get exact
value-hash compares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.operators.dedup import (
    ngram_contamination,
    passage_block_dedup,
)
from mimic_iv_data_pipeline_spark.operators.privacy import with_pii_scrub
from mimic_iv_data_pipeline_spark.operators.sampling import (
    dsir_log_weights,
    hash_split,
    kfold_ids,
    length_bucketed_batches,
    oversample_minority,
    pack_sequences,
    source_mixture_rates,
    stratified_sample,
)
from mimic_iv_data_pipeline_spark.operators.sketches import (
    bloom_build,
    bloom_probe,
    cm_estimate,
    cm_sketch,
    heavy_hitters,
    token_stream,
)
from mimic_iv_data_pipeline_spark.operators.text import (
    bpe_pair_counts,
    ngram_novelty,
    tfidf_topk,
    token_count,
    url_frequency,
    with_repetition_metrics,
)
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q63: PII redaction -----------------------------------------------------
# The synthetic corpus carries no PII, so the query plants one instance
# of each of the seven classes per document (deterministically, from
# doc_id) and then scrubs — exercising the counters, the replacement
# order, AND the count-on-progressively-redacted-text semantics (each
# class is counted on text with earlier classes already redacted, so
# counts always equal placeholders emitted).
@register(
    "q63_pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             concat(text,
                    ' contact user', cast(doc_id AS varchar), '@example.com',
                    ' card 4111-1111-1111-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
                    ' tel 555-', lpad(cast(doc_id % 1000 AS varchar), 3, '0'),
                    '-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
                    ' intl +91-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
                    '-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
                    ' ip 10.', cast(doc_id % 256 AS varchar), '.0.1',
                    ' v6 2001:0db8:85a3:0000:0000:8a2e:0370:', lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
                    ' ssn 123-45-', lpad(cast(doc_id % 10000 AS varchar), 4, '0')
             ) AS t0
      FROM documents
    ),
    r1 AS (SELECT *, regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM aug),
    r2 AS (SELECT *, regexp_replace(t1, '\b\d{4}(?:[- ]\d{4}){3}\b', '<CC>', 'g') AS t2 FROM r1),
    r3 AS (SELECT *, regexp_replace(t2, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t3 FROM r2),
    r4 AS (SELECT *, regexp_replace(t3, '\+\d{1,3}(?:[- ]?\d{3,4}){2,4}\b', '<PHONE_INTL>', 'g') AS t4 FROM r3),
    r5 AS (SELECT *, regexp_replace(t4, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t5 FROM r4),
    r6 AS (SELECT *, regexp_replace(t5, '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b', '<IPV6>', 'g') AS t6 FROM r5),
    r7 AS (SELECT *, regexp_replace(t6, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS t7 FROM r6)
    SELECT doc_id,
           cast(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_email,
           cast(len(regexp_extract_all(t1, '\b\d{4}(?:[- ]\d{4}){3}\b')) AS bigint) AS n_cc,
           cast(len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS bigint) AS n_ssn,
           cast(len(regexp_extract_all(t3, '\+\d{1,3}(?:[- ]?\d{3,4}){2,4}\b')) AS bigint) AS n_phone_intl,
           cast(len(regexp_extract_all(t4, '\b\d{3}-\d{3}-\d{4}\b')) AS bigint) AS n_phone,
           cast(len(regexp_extract_all(t5, '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b')) AS bigint) AS n_ipv6,
           cast(len(regexp_extract_all(t6, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS bigint) AS n_ipv4,
           md5(t7) AS red_digest
    FROM r7
    """,
)
def q63_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.lit(" card 4111-1111-1111-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" tel 555-"), F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" intl +91-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."), (did % 256).cast("string"), F.lit(".0.1"),
            F.lit(" v6 2001:0db8:85a3:0000:0000:8a2e:0370:"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = with_pii_scrub(aug, "text")
    return scrubbed.select(
        "doc_id", "n_email", "n_cc", "n_ssn", "n_phone_intl", "n_phone",
        "n_ipv6", "n_ipv4",
        F.md5("redacted").alias("red_digest"),
    )


# --- q64: deterministic hash split -----------------------------------------
@register(
    "q64_hash_split",
    oracle=r"""
    WITH h AS (
      SELECT n_chars,
             cast(concat('0x', substr(md5(concat('split:', cast(doc_id AS varchar))), 1, 8)) AS bigint)
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid' ELSE 'test' END AS split,
           cast(count(*) AS bigint) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars
    FROM h GROUP BY 1
    """,
)
def q64_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = hash_split(
        load_table(spark, sf_dir, "documents"), "doc_id",
        {"train": 0.8, "valid": 0.1, "test": 0.1},
    )
    return d.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        dround(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# --- q65: benchmark contamination ------------------------------------------
# src0 plays the held-out benchmark; the other 19 sources are the
# training corpus. 3-gram overlap — same shingle semantics as q39.
@register(
    "q65_contamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT doc_id, source, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS shingle
      FROM toks
    ), bench AS (
      SELECT doc_id AS doc, shingle FROM grams WHERE source = 'src0'
    ), corpus AS (
      SELECT DISTINCT shingle FROM grams WHERE source <> 'src0'
    ), hits AS (
      SELECT b.doc, CASE WHEN c.shingle IS NULL THEN 0 ELSE 1 END AS hit
      FROM bench b LEFT JOIN corpus c ON b.shingle = c.shingle
    )
    SELECT doc, cast(count(*) AS bigint) AS n_grams,
           cast(sum(hit) AS bigint) AS n_contaminated,
           round(sum(hit) * 1.0 / count(*), 6) AS contamination
    FROM hits GROUP BY 1
    """,
)
def q65_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    return ngram_contamination(corpus, bench, "doc_id", "text", n=3)


# --- q66: exact heavy hitters ----------------------------------------------
@register(
    "q66_heavy_hitters",
    oracle=r"""
    WITH occ AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token FROM documents
    ), f AS (
      SELECT token, cast(count(*) AS bigint) AS cnt FROM occ WHERE token <> '' GROUP BY 1
    ), r AS (
      SELECT token, cnt,
             cast(row_number() OVER (ORDER BY cnt DESC, token) AS bigint) AS rank
      FROM f
    )
    SELECT token, cnt, rank FROM r WHERE rank <= 50
    """,
)
def q66_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters(load_table(spark, sf_dir, "documents"), "text", k=50)


# --- q67: Count-Min sketch estimates ---------------------------------------
# Builds the 4x256 sketch AND probes it for every distinct token,
# returning exact vs estimated counts — the estimate is engine-
# deterministic (same hashes), so the compare is exact.
@register(
    "q67_cms_freq",
    oracle=r"""
    WITH occ AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token FROM documents
    ), occ2 AS (
      SELECT token FROM occ WHERE token <> ''
    ), d AS (
      SELECT unnest([0, 1, 2, 3]) AS depth
    ), hashed AS (
      -- rows 0-3 slice disjoint 32-bit windows of ONE md5(token)
      -- (mirrors sketches._digest_bucket's single-digest fast path)
      SELECT token, depth,
             cast(concat('0x', substr(md5(token), depth*8 + 1, 8)) AS bigint) % 256 AS bucket
      FROM occ2 CROSS JOIN d
    ), sketch AS (
      SELECT depth, bucket, cast(count(*) AS bigint) AS cnt FROM hashed GROUP BY 1, 2
    ), words AS (
      SELECT token, cast(count(*) AS bigint) AS exact_cnt FROM occ2 GROUP BY 1
    ), probe AS (
      SELECT w.token, d.depth,
             cast(concat('0x', substr(md5(w.token), d.depth*8 + 1, 8)) AS bigint) % 256 AS bucket
      FROM (SELECT DISTINCT token FROM occ2) w CROSS JOIN d
    ), est AS (
      SELECT p.token, min(s.cnt) AS cm_est
      FROM probe p JOIN sketch s USING (depth, bucket) GROUP BY 1
    )
    SELECT w.token, w.exact_cnt, cast(e.cm_est AS bigint) AS cm_est
    FROM words w JOIN est e USING (token)
    """,
)
def q67_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    occ = token_stream(load_table(spark, sf_dir, "documents"), "text").transform(materialize)
    sketch = cm_sketch(occ, "token", depth=4, width=256)
    words = occ.groupBy("token").agg(F.count("*").cast("long").alias("exact_cnt"))
    est = cm_estimate(sketch, words.select("token"), "token", depth=4, width=256)
    return words.join(est, "token")


# --- q68: deterministic stratified sampling --------------------------------
# Rebalances the corpus: downsample the dominant language, keep more
# of the rest — row-level output so the compare checks the exact
# per-key keep/drop decisions, not just totals.
@register(
    "q68_stratified_sample",
    oracle=r"""
    SELECT doc_id, lang FROM documents
    WHERE cast(concat('0x', substr(md5(concat('sample:', cast(doc_id AS varchar))), 1, 8)) AS bigint)
            / 4294967296.0
          < CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.7 WHEN 'fr' THEN 0.7
                      WHEN 'es' THEN 0.7 WHEN 'zh' THEN 0.7 ELSE 0.0 END
    """,
)
def q68_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    sampled = stratified_sample(
        load_table(spark, sf_dir, "documents"), "doc_id", "lang",
        {"en": 0.3, "de": 0.7, "fr": 0.7, "es": 0.7, "zh": 0.7},
    )
    return sampled.select("doc_id", "lang")


# --- q69: sequence packing --------------------------------------------------
# Concat-and-chunk packing into 512-token context windows, sharded by
# source (the shard key is what keeps this scalable: no global sort).
@register(
    "q69_sequence_packing",
    oracle=r"""
    WITH t AS (
      SELECT source, doc_id,
             cast(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS bigint) AS n_toks
      FROM documents
    ), p AS (
      SELECT source, n_toks,
             cast(floor(coalesce(sum(n_toks) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS bigint) AS window_id
      FROM t
    )
    SELECT source, window_id, cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_toks) AS bigint) AS window_tokens
    FROM p GROUP BY 1, 2
    """,
)
def q69_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    packed = pack_sequences(d, "source", "doc_id", "n_toks", budget=512)
    return packed.groupBy("source", "window_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("window_tokens"),
    )


# --- q71: chunk-splitting sequence packing ----------------------------------
# Real concat-and-chunk semantics (split_oversized=True): a document
# crossing a window boundary is split across windows, so every window
# carries EXACTLY `budget` tokens except each shard's last — the shape
# a GPT-style pretraining loader actually consumes. Budget of 128 is
# far below the corpus doc length so splits dominate and the chunk
# arithmetic (not just the running sum) is what the oracle checks.
@register(
    "q71_pack_chunked",
    oracle=r"""
    WITH t AS (
      SELECT source, doc_id,
             cast(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS bigint) AS n_toks
      FROM documents
    ), p AS (
      SELECT source, doc_id, n_toks,
             coalesce(sum(n_toks) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM t
    ), e AS (
      SELECT source, n_toks, before,
             unnest(generate_series(
                 cast(floor(before / 128) AS bigint),
                 greatest(cast(floor(before / 128) AS bigint),
                          cast(floor((before + n_toks - 1) / 128) AS bigint)))) AS window_id
      FROM p
    ), c AS (
      SELECT source, window_id,
             greatest(least((window_id + 1) * 128, before + n_toks)
                      - greatest(window_id * 128, before), 0) AS chunk_tokens
      FROM e
    )
    SELECT source, cast(window_id AS bigint) AS window_id,
           cast(count(*) AS bigint) AS n_chunks,
           cast(sum(chunk_tokens) AS bigint) AS window_tokens
    FROM c GROUP BY 1, 2
    """,
)
def q71_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    packed = pack_sequences(
        d, "source", "doc_id", "n_toks", budget=128, split_oversized=True
    )
    return packed.groupBy("source", "window_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("window_tokens"),
    )


# --- q70: within-document repetition ---------------------------------------
@register(
    "q70_repetition",
    oracle=r"""
    WITH occ AS (
      SELECT doc_id AS doc, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ), occ2 AS (
      SELECT * FROM occ WHERE token <> ''
    ), wc AS (
      SELECT doc, token, count(*) AS c FROM occ2 GROUP BY 1, 2
    ), st AS (
      SELECT doc, token, c,
             sum(c) OVER (PARTITION BY doc) AS n_tokens,
             count(*) OVER (PARTITION BY doc) AS n_distinct,
             max(c) OVER (PARTITION BY doc) AS max_c
      FROM wc
    )
    SELECT doc, cast(min(n_tokens) AS bigint) AS n_tokens,
           cast(min(n_distinct) AS bigint) AS n_distinct,
           round(1 - min(n_distinct) * 1.0 / min(n_tokens), 6) AS dup_ratio,
           min(token) AS top_token,
           round(min(max_c) * 1.0 / min(n_tokens), 6) AS top_share
    FROM st WHERE c = max_c GROUP BY doc
    """,
)
def q70_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_repetition_metrics(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# --- q72: passage-level (block) dedup ----------------------------------------
# C4/Dolma-style: 20-token blocks hashed corpus-wide, every occurrence
# after the first marked duplicated; per-doc duplication stats.
@register(
    "q72_passage_dedup",
    oracle=r"""
    WITH t AS (
      SELECT doc_id AS doc,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    ), e AS (
      SELECT doc, toks,
             unnest(generate_series(
                 0, greatest(cast(ceil(len(toks) / 20.0) AS bigint) - 1, 0))) AS b
      FROM t
    ), blk AS (
      SELECT doc, b,
             md5(array_to_string(list_slice(toks, b*20 + 1, b*20 + 20), ' ')) AS h
      FROM e
    ), rn AS (
      SELECT doc, b, row_number() OVER (PARTITION BY h ORDER BY doc, b) AS r
      FROM blk
    )
    SELECT doc, cast(count(*) AS bigint) AS n_blocks,
           cast(sum(CASE WHEN r > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_blocks,
           floor(sum(CASE WHEN r > 1 THEN 1 ELSE 0 END) * 1.0 / count(*) * 1000000 + 0.5)
             / 1000000 AS dup_ratio
    FROM rn GROUP BY doc
    """,
)
def q72_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passage_block_dedup(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", block_tokens=20
    )


# --- q73: Bloom-filter membership -------------------------------------------
# Mergeable DataFrame Bloom (≤ num_bits rows) built over the vocabulary
# of even-numbered docs, probed with the full vocabulary. Deterministic
# md5 bit positions → the sketch itself has an exact oracle; is_member
# alongside shows the no-false-negative property in the output.
@register(
    "q73_bloom_membership",
    oracle=r"""
    WITH occ AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ), occ2 AS (
      SELECT * FROM occ WHERE token <> ''
    ), corpus AS (
      SELECT DISTINCT token FROM occ2 WHERE doc_id % 2 = 0
    ), allt AS (
      SELECT DISTINCT token FROM occ2
    ), seeds AS (
      SELECT unnest([0, 1, 2]) AS j
    ), bits AS (
      SELECT DISTINCT
             cast(concat('0x', substr(md5(concat('bloom', cast(j AS varchar), ':', token)), 1, 8)) AS bigint) % 4096 AS bit
      FROM corpus CROSS JOIN seeds
    ), pb AS (
      SELECT token,
             cast(concat('0x', substr(md5(concat('bloom', cast(j AS varchar), ':', token)), 1, 8)) AS bigint) % 4096 AS bit
      FROM allt CROSS JOIN seeds
    ), hits AS (
      SELECT token, count(*) AS c FROM pb JOIN bits USING (bit) GROUP BY 1
    )
    SELECT a.token,
           coalesce(h.c, 0) = 3 AS maybe_member,
           c.token IS NOT NULL AS is_member
    FROM allt a
    LEFT JOIN hits h USING (token)
    LEFT JOIN corpus c USING (token)
    """,
)
def q73_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus_keys = (
        token_stream(d.filter(F.col("doc_id") % 2 == 0), "text")
        .select("token")
        .distinct()
    )
    probes = token_stream(d, "text").select("token").distinct()
    bloom = bloom_build(corpus_keys, "token", num_bits=4096, num_hashes=3)
    probed = bloom_probe(bloom, probes, "token", num_bits=4096, num_hashes=3)
    member = corpus_keys.withColumn("is_member", F.lit(True))
    return (
        probed.join(member, "token", "left")
        .select(
            "token",
            "maybe_member",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
    )


# --- q74: URL extraction / normalization / frequency ------------------------
# Crawl-dedup signal: the same page under scheme/WWW/query/trailing-
# slash variants collapses to one normalized key. URLs are planted
# deterministically (corpus has none): two variants per doc that must
# collapse.
@register(
    "q74_url_dedup",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             concat(text,
                    ' see https://WWW.Example', cast(doc_id % 7 AS varchar),
                    '.com/path', cast(doc_id % 3 AS varchar), '?q=', cast(doc_id AS varchar),
                    ' and http://example', cast(doc_id % 7 AS varchar),
                    '.com/path', cast(doc_id % 3 AS varchar), '/') AS text
      FROM documents
    ), occ AS (
      SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS raw
      FROM aug
    ), norm AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 lower(raw), '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/$', '') AS url
      FROM occ
    )
    SELECT url, cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
           cast(count(*) AS bigint) AS n_occurrences
    FROM norm GROUP BY 1
    """,
)
def q74_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://WWW.Example"), (did % 7).cast("string"),
            F.lit(".com/path"), (did % 3).cast("string"),
            F.lit("?q="), did.cast("string"),
            F.lit(" and http://example"), (did % 7).cast("string"),
            F.lit(".com/path"), (did % 3).cast("string"), F.lit("/"),
        ).alias("text"),
    )
    return url_frequency(aug, "text")


# --- q75: source-mixture reweighting ----------------------------------------
# Data-mixing solver: target shares over four sources; the scarcest
# source caps the achievable corpus; per-source keep-rates follow.
@register(
    "q75_source_mixture",
    oracle=r"""
    WITH t AS (
      SELECT source AS stratum,
             cast(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS bigint) AS nt
      FROM documents
    ), m AS (
      SELECT stratum, cast(sum(nt) AS bigint) AS tokens FROM t GROUP BY 1
    ), p AS (
      SELECT stratum, cast(ts AS double) AS target_share
      FROM (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1))
           AS v(stratum, ts)
    ), j AS (
      SELECT m.stratum, m.tokens, p.target_share FROM m JOIN p USING (stratum)
    ), c AS (
      SELECT min(tokens / target_share) AS cap FROM j
    )
    SELECT stratum, tokens, target_share,
           floor(least(1.0, target_share * cap / tokens) * 1000000 + 0.5) / 1000000 AS rate,
           cast(floor(least(1.0, target_share * cap / tokens) * tokens + 0.5) AS bigint) AS expected_tokens
    FROM j CROSS JOIN c
    """,
)
def q75_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_toks")
    )
    return source_mixture_rates(
        d, "source", "n_toks", {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    )


# --- q79: TF-IDF keyword extraction -----------------------------------------
# Wave 4. Corpus keyword / domain-tag signal; sklearn smooth_idf
# semantics. Deterministic rank (score desc, tf desc, token asc).
@register(
    "q79_tfidf_keywords",
    oracle=r"""
    WITH occ AS (
      SELECT doc_id AS doc,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ), occ2 AS (SELECT * FROM occ WHERE token <> ''),
    tf AS (SELECT doc, token, count(*) AS tf FROM occ2 GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc, tf.token, tf.tf,
             tf.tf * (ln((1 + n.n) * 1.0 / (1 + dfreq.df)) + 1) AS score
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc ORDER BY score DESC, tf DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc, token, cast(tf AS bigint) AS tf,
           floor(score * 1000000 + 0.5) / 1000000 AS score
    FROM ranked WHERE rn <= 3
    """,
)
def q79_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_topk(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


# --- q80: DSIR importance weights -------------------------------------------
# Wave 4. Xie et al. NeurIPS'23 hashed-ngram importance resampling;
# target distribution = lang='en' docs, raw = whole corpus.
@register(
    "q80_dsir_weights",
    oracle=r"""
    WITH base AS (
      SELECT doc_id AS doc, (lang = 'en') AS t,
             regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), uni AS (
      SELECT doc, t, unnest(w) AS feat FROM base
    ), bi AS (
      SELECT doc, t, unnest(list_transform(
               range(0, greatest(len(w) - 1, 0)),
               i -> concat(w[i+1], ' ', w[i+2]))) AS feat
      FROM base
    ), occ AS (
      SELECT doc, t, feat,
             cast(concat('0x', substr(md5(concat('dsir:', feat)), 1, 8)) AS bigint) % 1024 AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      WHERE feat <> ''
    ), per_doc AS (SELECT doc, bucket, count(*) AS c FROM occ GROUP BY 1, 2),
    tgt AS (SELECT bucket, count(*) AS ct FROM occ WHERE t GROUP BY 1),
    raw AS (SELECT bucket, count(*) AS cr FROM occ GROUP BY 1),
    tot AS (SELECT cast(sum(CASE WHEN t THEN 1 ELSE 0 END) AS bigint) AS tt,
                   count(*) AS rr FROM occ),
    lam AS (
      SELECT r.bucket,
             ln((coalesce(ct, 0) + 1) * 1.0 / (tt + 1024))
             - ln((cr + 1) * 1.0 / (rr + 1024)) AS lam
      FROM raw r LEFT JOIN tgt USING (bucket) CROSS JOIN tot
    )
    SELECT p.doc, cast(sum(p.c) AS bigint) AS n_feats,
           floor(sum(p.c * l.lam) * 1000000 + 0.5) / 1000000 AS log_weight
    FROM per_doc p JOIN lam l USING (bucket) GROUP BY 1
    """,
)
def q80_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").withColumn("__is_tgt", F.col("lang") == "en")
    return dsir_log_weights(d, "doc_id", "text", "__is_tgt", buckets=1024)


# --- q81: BPE pair-merge step -----------------------------------------------
# Wave 4. One tokenizer-training inner-loop iteration: corpus-wide
# adjacent char-pair frequencies over the word vocabulary.
@register(
    "q81_bpe_pairs",
    oracle=r"""
    WITH words AS (
      SELECT word, count(*) AS wc FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY 1
    ), pairs AS (
      SELECT unnest(list_transform(
               range(1, len(word)),
               i -> concat(word[i], ' ', word[i+1]))) AS pair, word, wc
      FROM words WHERE len(word) >= 2
    )
    -- DISTINCT word mirrors the operator: a word containing the pair
    -- at several positions is ONE word containing the pair
    SELECT pair, cast(count(DISTINCT word) AS bigint) AS n_words,
           cast(sum(wc) AS bigint) AS n_occurrences
    FROM pairs GROUP BY 1
    ORDER BY n_occurrences DESC, pair ASC LIMIT 20
    """,
)
def q81_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(load_table(spark, sf_dir, "documents"), "text", top_k=20)


# --- q82: length-bucketed batching ------------------------------------------
# Wave 4. Dynamic batching with padding-waste accounting.
@register(
    "q82_length_batches",
    oracle=r"""
    WITH d AS (
      SELECT doc_id AS doc,
             cast(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS bigint) AS toks
      FROM documents
    ), bkt AS (
      SELECT doc, toks, cast(floor((toks - 1) * 1.0 / 64) AS bigint) AS bucket FROM d
    ), rn AS (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc) AS rn FROM bkt
    ), batched AS (
      SELECT bucket, cast(floor((rn - 1) * 1.0 / 32) AS bigint) AS batch_id, toks
      FROM rn
    )
    SELECT bucket, batch_id,
           cast(count(*) AS bigint) AS n_docs,
           cast(max(toks) AS bigint) AS max_tokens,
           cast(sum(toks) AS bigint) AS sum_tokens,
           cast(count(*) * max(toks) - sum(toks) AS bigint) AS pad_waste,
           floor((1 - sum(toks) * 1.0 / (count(*) * max(toks))) * 1000000 + 0.5) / 1000000 AS pad_ratio
    FROM batched GROUP BY 1, 2
    """,
)
def q82_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    return length_bucketed_batches(d, "doc_id", "n_toks", bucket_width=64, batch_size=32)


# --- q83: n-gram novelty ----------------------------------------------------
# Wave 4. Leave-one-out memorization signal: share of a doc's distinct
# 5-grams that any OTHER doc also contains (corpus df >= 2).
@register(
    "q83_ngram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), grams AS (
      SELECT doc, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 5, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])))) AS shingle
      FROM toks
    ), gdf AS (SELECT shingle, count(*) AS gdf FROM grams GROUP BY 1)
    SELECT g.doc, cast(count(*) AS bigint) AS n_grams,
           cast(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_shared,
           round(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS shared_share
    FROM grams g JOIN gdf USING (shingle) GROUP BY 1
    """,
)
def q83_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(load_table(spark, sf_dir, "documents"), "doc_id", "text", n=5)


# --- q93: full BPE tokenize (rows-only: iterative merge induction has no
# SQL twin; the ENCODE kernel is hash-verified against a fixed merge list
# by q135; trainer + encoder are golden/property-tested) ---------------------
@register("q93_bpe_tokenize")
def q93_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 100-merge BPE vocabulary on the corpus (one word-count
    aggregate + bounded driver merge loop, q81's step iterated) and
    encode every document (Arrow-batched greedy merges). Emits per-doc
    token counts plus distinct-token counts."""
    from mimic_iv_data_pipeline_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", num_merges=100, max_words=50_000)
    enc = bpe_encode(docs, "doc_id", "text", merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct_tokens"),
    )


# --- q94: per-source quantiles — exact (oracled) + mergeable-sketch gate ----
@register(
    "q94_source_quantiles",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           floor(quantile_cont(n_chars, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
           floor(quantile_cont(n_chars, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
           floor(quantile_cont(n_chars, 0.99) * 1e6 + 0.5) / 1e6 AS p99,
           TRUE AS approx_ok
    FROM documents GROUP BY source
    """,
)
def q94_source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles: exact ``percentile`` (linear
    interpolation — the quantile_cont twin) is the oracle-checked
    payload; ``approx_ok`` gates the mergeable ``percentile_approx``
    sketch (the 100 TB path — bounded state, partial-mergeable) against
    the exact p50 within a generous rank-error bound, q56's
    exact+tolerance pattern."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("n_chars", F.lit(0.5)).alias("__p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("__p90"),
        F.percentile("n_chars", F.lit(0.99)).alias("__p99"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10_000)).alias("__a50"),
    )
    return agg.select(
        "source",
        "n",
        dround(F.col("__p50"), 6).alias("p50"),
        dround(F.col("__p90"), 6).alias("p90"),
        dround(F.col("__p99"), 6).alias("p99"),
        (
            F.abs(F.col("__a50") - F.col("__p50"))
            <= F.greatest(F.lit(5.0), F.col("__p50") * F.lit(0.05))
        ).alias("approx_ok"),
    )


# --- q96: weighted sampling without replacement (Efraimidis-Spirakis) -------
@register(
    "q96_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, n_chars,
             -ln((cast(concat('0x', substr(md5(concat('es:',
                    cast(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 0.5)
                 / 4294967296.0) / n_chars AS ek
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM w ORDER BY ek, doc_id LIMIT 100
    """,
)
def q96_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted sample (no replacement) of 100 documents with
    inclusion odds ∝ length: exponential race keys from the
    content-addressed hash, TakeOrdered top-k — the DSIR resampling
    step, deterministic across partitionings/retries."""
    from mimic_iv_data_pipeline_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=100, salt="es").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# --- q97: k-fold CV fold assignment -----------------------------------------
@register(
    "q97_kfold",
    oracle="""
    SELECT c_custkey,
           cast(concat('0x', substr(md5(concat('kfold:5:',
                  cast(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 5 AS fold
    FROM customer
    """,
)
def q97_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 5-fold CV assignment over the customer id
    relation (reference `model/dl_train.py:94-106` create_kfolds /
    `model/ml_models.py:71` KFold) — the full (id, fold) map, so the
    oracle checks exact membership, not just fold sizes."""
    cust = load_table(spark, sf_dir, "customer")
    return kfold_ids(cust.select("c_custkey"), "c_custkey", k=5)


# --- q98: deterministic minority-class oversampling -------------------------
@register(
    "q98_oversample",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS c FROM documents GROUP BY 1
    ), m AS (SELECT max(c) AS mx FROM counts),
    mn AS (SELECT lang FROM counts ORDER BY c ASC, lang ASC LIMIT 1),
    spec AS (
      SELECT counts.lang, c,
             CASE WHEN counts.lang = (SELECT lang FROM mn)
                  THEN (SELECT mx FROM m) ELSE c END AS t
      FROM counts
    ), ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY
               cast(concat('0x', substr(md5(concat('oversample:',
                 cast(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) ASC,
               doc_id ASC) AS rnk
      FROM documents
    ), nc AS (
      SELECT doc_id, r.lang, (t // c) + CASE WHEN rnk <= t % c THEN 1 ELSE 0 END AS n
      FROM ranked r JOIN spec s ON r.lang = s.lang
    )
    SELECT doc_id, lang, CAST(unnest(range(0, n)) AS BIGINT) AS copy_id
    FROM nc
    """,
)
def q98_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomOverSampler('minority') twin (reference
    `model/dl_train.py:107-111`, `model/ml_models.py:20`): replicate the
    least-frequent language class up to the majority count with
    hash-ordered residual draws; the oracle reproduces the draw
    bit-for-bit, copy indices included."""
    docs = load_table(spark, sf_dir, "documents")
    out = oversample_minority(
        docs.select("doc_id", "lang"), "doc_id", "lang", balance="minority"
    )
    return out.select("doc_id", "lang", "copy_id")


# --- q100: stratified k-fold CV ---------------------------------------------
@register(
    "q100_stratified_kfold",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST((row_number() OVER (PARTITION BY c_mktsegment ORDER BY
             cast(concat('0x', substr(md5(concat('kfold:5:',
               cast(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) ASC,
             c_custkey ASC) - 1) % 5 AS BIGINT) AS fold
    FROM customer
    """,
)
def q100_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StratifiedKFold twin: per-segment round-robin deal over the
    content-addressed hash order — per-stratum fold sizes exactly
    balanced (differ by at most 1), full (id, stratum, fold) map
    checked against the oracle's identical window."""
    cust = load_table(spark, sf_dir, "customer")
    return kfold_ids(
        cust.select("c_custkey", "c_mktsegment"),
        "c_custkey",
        k=5,
        strata_col="c_mktsegment",
    )


# --- q101: k-anonymity small-group suppression ------------------------------
@register(
    "q101_k_anonymity",
    oracle="""
    SELECT c_custkey, c_nationkey, c_mktsegment, group_size FROM (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
               AS BIGINT) AS group_size
      FROM customer
    ) WHERE group_size >= 10
    """,
)
def q101_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=10 anonymity on the (nationkey, mktsegment) quasi-identifier:
    every surviving row is indistinguishable from >= 9 others; the
    suppressed remainder is exactly the oracle's small-group set."""
    from mimic_iv_data_pipeline_spark.operators.privacy import (
        suppress_small_groups,
    )

    cust = load_table(spark, sf_dir, "customer")
    return suppress_small_groups(
        cust.select("c_custkey", "c_nationkey", "c_mktsegment"),
        ["c_nationkey", "c_mktsegment"],
        k=10,
    )


# --- q105: WordPiece tokenize (rows-only: likelihood-ratio merge induction
# has no SQL twin; the ENCODE kernel is hash-verified against a fixed
# vocabulary by q126; longest-match + losslessness property-tested) ----------
@register("q105_wordpiece")
def q105_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 500-piece WordPiece vocabulary (one word-count aggregate
    + bounded driver merge loop scored by count(ab)/(count(a)count(b)))
    and encode every document greedily longest-match-first; emits
    per-doc token/UNK counts."""
    from mimic_iv_data_pipeline_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = wordpiece_train(docs, "text", vocab_size=500, max_words=50_000)
    enc = wordpiece_encode(docs, "doc_id", "text", vocab)
    return enc.select("doc_id", "n_tokens", "n_unk")


# --- q106: unigram-LM tokenize (rows-only: EM fit has no SQL twin; the
# Viterbi ENCODE kernel is hash-verified against fixed probabilities by
# q127; Viterbi-vs-bruteforce and EM sanity property-tested) -----------------
@register("q106_unigram_lm")
def q106_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram tokenization: EM-fit a 600-piece
    vocabulary over the bounded word-count relation, Viterbi-encode the
    corpus, and emit each doc's token count and total best-path
    log-probability (the LM quality signal)."""
    from mimic_iv_data_pipeline_spark.operators.wordpiece import (
        unigram_encode,
        unigram_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    probs = unigram_train(
        docs, "text", vocab_size=600, max_words=20_000, max_piece_len=6
    )
    enc = unigram_encode(docs, "doc_id", "text", probs, max_piece_len=6)
    return enc.select("doc_id", "n_tokens", "logprob")


# --- q107: incremental dedup against a persisted MinHash index (rows-only:
# xxhash64 signatures have no SQL twin; the SAME code path incl. the
# estimated-Jaccard math is hash-verified under the fixed md5 family by
# q130; candidate/estimate logic re-verified in pure Python in
# tests/test_incremental.py) --------------------------------------------------
@register("q107_incremental_dedup")
def q107_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-dedup shape: index the 'accepted' half of the corpus
    (doc_id < 250) as (doc, band, bucket, signature) rows, then flag
    docs of the 'new' half whose estimated Jaccard vs an indexed doc is
    >= 0.3 — O(new batch) work, no old-corpus text rescanned."""
    from mimic_iv_data_pipeline_spark.operators.incremental import (
        build_minhash_index,
        dedup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = build_minhash_index(docs.filter(F.col("doc_id") < 250), "doc_id", "text")
    return dedup_against_index(
        docs.filter(F.col("doc_id") >= 250), index, "doc_id", "text", threshold=0.3
    )


# --- q116: Theta/KMV sketch set algebra across corpus halves ----------------
@register(
    "q116_theta_sets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 3, 0) + 1),
               i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS sh
      FROM toks
    ),
    a_keys AS (SELECT DISTINCT sh FROM grams WHERE doc_id < 250),
    b_keys AS (SELECT DISTINCT sh FROM grams WHERE doc_id >= 250),
    ua AS (
      -- DISTINCT u mirrors theta_sketch: colliding keys enter once
      SELECT DISTINCT cast(concat('0x', substr(md5(concat('theta:', sh)), 1, 12)) AS BIGINT)
               / 281474976710656.0 AS u
      FROM a_keys ORDER BY 1 LIMIT 512
    ),
    ub AS (
      SELECT DISTINCT cast(concat('0x', substr(md5(concat('theta:', sh)), 1, 12)) AS BIGINT)
               / 281474976710656.0 AS u
      FROM b_keys ORDER BY 1 LIMIT 512
    ),
    uu AS (
      SELECT u FROM (SELECT u FROM ua UNION SELECT u FROM ub) ORDER BY u LIMIT 512
    ),
    sa AS (SELECT count(*) AS n, max(u) AS kth FROM ua),
    sb AS (SELECT count(*) AS n, max(u) AS kth FROM ub),
    su AS (SELECT count(*) AS n, max(u) AS kth FROM uu),
    theta AS (
      SELECT least(CASE WHEN sa.n < 512 THEN 1.0 ELSE sa.kth END,
                   CASE WHEN sb.n < 512 THEN 1.0 ELSE sb.kth END) AS th
      FROM sa, sb
    ),
    retained AS (
      SELECT count(*) AS n FROM ua JOIN ub USING (u), theta WHERE u < theta.th
    ),
    exact AS (
      SELECT (SELECT count(*) FROM a_keys) AS exact_a,
             (SELECT count(*) FROM b_keys) AS exact_b,
             (SELECT count(*) FROM (SELECT sh FROM a_keys UNION SELECT sh FROM b_keys)) AS exact_union,
             (SELECT count(*) FROM a_keys JOIN b_keys USING (sh)) AS exact_inter
    )
    SELECT exact_a, exact_b, exact_union, exact_inter,
           floor(CASE WHEN sa.n < 512 THEN sa.n ELSE 511.0 / sa.kth END * 1e6 + 0.5) / 1e6 AS est_a,
           floor(CASE WHEN sb.n < 512 THEN sb.n ELSE 511.0 / sb.kth END * 1e6 + 0.5) / 1e6 AS est_b,
           floor(CASE WHEN su.n < 512 THEN su.n ELSE 511.0 / su.kth END * 1e6 + 0.5) / 1e6 AS est_union,
           floor(retained.n / theta.th * 1e6 + 0.5) / 1e6 AS est_inter
    FROM exact, sa, sb, su, theta, retained
    """,
)
def q116_theta_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV distinct sketches over the 3-gram shingle sets of two
    corpus halves: set-algebra estimates (union/intersection — the ops
    HLL can't do) next to exact ground truth; md5-based hashes make the
    ESTIMATES exactly oracle-checkable, the q56 pattern upgraded from
    tolerance-gate to full hash compare."""
    from mimic_iv_data_pipeline_spark.operators.dedup import exploded_shingles
    from mimic_iv_data_pipeline_spark.operators.sketches import (
        theta_set_cardinalities,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "doc_id", "text", 3)
    a = sh.filter(F.col("doc") < 250).select("shingle")
    b = sh.filter(F.col("doc") >= 250).select("shingle")
    out = theta_set_cardinalities(a, b, "shingle", k=512)
    return out.select(
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        "est_a",
        "est_b",
        "est_union",
        "est_inter",
    )


# --- q117: hashed-linear quality score (fastText-architecture plumbing) -----
@register(
    "q117_hashed_linear_score",
    oracle=r"""
    WITH wt AS (
      SELECT i AS b,
             floor((cast(concat('0x', substr(md5(concat('w:', i)), 1, 8)) AS BIGINT)
                    / 2147483648.0 - 1.0) * 1e6 + 0.5) / 1e6 AS w
      FROM (SELECT unnest(range(0, 1024)) AS i)
    ), toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, f FROM (
        SELECT doc_id, unnest(t) AS f FROM toks
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> concat(t[i], ' ', t[i+1]))) AS f
        FROM toks WHERE len(t) > 1
      ) WHERE f <> ''
    ), bucketed AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(concat('feat:', f)), 1, 8)) AS BIGINT) % 1024 AS b
      FROM feats
    )
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_features,
           floor(1.0 / (1.0 + exp(-avg(w))) * 1e6 + 0.5) / 1e6 AS score
    FROM bucketed JOIN wt USING (b)
    GROUP BY 1
    """,
)
def q117_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape quality scoring with the deterministic stand-in
    weight table (real trained weights are a drop-in replacement; the
    hashing/mean/sigmoid plumbing is what's verified here)."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import (
        default_hash_weights,
        hashed_linear_score,
    )

    return hashed_linear_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", default_hash_weights(1024)
    )


# --- q118: deterministic span-corruption masking layout ---------------------
@register(
    "q118_mask_layout",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, i, w[i+1] AS tok
      FROM toks, unnest(range(0, len(w))) AS r(i)
      WHERE w[i+1] <> ''
    ), started AS (
      SELECT doc_id, i,
             CASE WHEN cast(concat('0x', substr(md5(concat('mask:', doc_id, ':', i)), 1, 8)) AS BIGINT)
                       / 4294967296.0 < 0.05 THEN 1 ELSE 0 END AS s
      FROM pos
    ), masked AS (
      SELECT doc_id, i,
             max(s) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
      FROM started
    )
    SELECT doc_id, cast(count(*) AS BIGINT) AS n_tokens,
           cast(sum(m) AS BIGINT) AS n_masked,
           floor(sum(m) * 1.0 / count(*) * 1e6 + 0.5) / 1e6 AS mask_ratio,
           coalesce(array_to_string(list(i ORDER BY i) FILTER (WHERE m = 1), ','), '')
             AS masked_pos_csv
    FROM masked GROUP BY 1
    """,
)
def q118_mask_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style fixed-length (L=3) span-corruption layout at 15%
    expected mask rate, content-addressed so the same doc masks
    identically across engines/retries."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import mask_layout

    return mask_layout(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", mask_rate=0.15, span_len=3
    )


# --- q126: WordPiece ENCODE against a fixed vocabulary (full hash oracle) ---
# The q123 parameterization trick applied to subword encoding: freeze the
# learned artifact (the vocabulary) and the encode kernel becomes exactly
# SQL-expressible — greedy longest-match-first is a recursive CTE whose
# step consumes the longest vocab piece matching at the cursor (at most
# one piece of each length can equal a fixed substring, so "longest" is
# unambiguous on both engines). Training stays rows-only (q105); this row
# pins the Arrow-batched encoder's full per-word semantics: ##-prefixed
# continuations, dead-end -> whole-word [UNK] collapse, the >200-char
# wall, and per-doc order preservation.
_WP_FIXED_VOCAB: list[str] = (
    ["[UNK]"]
    # multi-char pieces chosen to segment the synthetic corpus words
    # into 2-3 pieces (so the greedy/longest logic is actually load-
    # bearing), word-initial and continuation forms
    + ["sc", "ta", "val", "que", "cus", "wind", "gro", "jo", "spark", "hash",
       "##an", "##ble", "##ue", "##ry", "##tom", "##er", "##ow", "##up",
       "##in", "##st", "##ta", "##lue"]
    # every single char in both forms: encoding is total (no dead ends
    # on ASCII words), matching the python encoder's behavior on this
    # corpus; the [UNK] path itself is golden-tested in
    # tests/test_wordpiece.py
    + [c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
)


def _wp_fixed_oracle() -> str:
    """DuckDB twin of ``wordpiece_encode`` under ``_WP_FIXED_VOCAB``,
    generated from the SAME python list (one source of truth, like the
    q120 rule-table oracle)."""
    values = ", ".join("('" + p.replace("'", "''") + "')" for p in _WP_FIXED_VOCAB)
    return rf"""
    WITH RECURSIVE vp(p, raw, cont) AS (
      SELECT p, CASE WHEN p LIKE '##%' THEN substr(p, 3) ELSE p END,
             p LIKE '##%'
      FROM (VALUES {values}) v(p)
      WHERE p <> '[UNK]'
    ),
    docw AS (
      SELECT doc_id, i, arr[i] AS word
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
            FROM documents) d,
           unnest(range(1, len(arr) + 1)) t(i)
      WHERE arr[i] <> ''
    ),
    words AS (SELECT DISTINCT word FROM docw),
    seg AS (
      SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM words
      UNION ALL
      SELECT word,
             CASE WHEN b IS NULL THEN len(word) ELSE pos + len(b.raw) END,
             CASE WHEN b IS NULL THEN ['[UNK]']
                  ELSE list_append(pieces, b.p) END
      FROM (
        SELECT s.word, s.pos, s.pieces,
               (SELECT {{'p': v.p, 'raw': v.raw}} FROM vp v
                WHERE v.cont = (s.pos > 0)
                  AND substr(s.word, s.pos + 1, len(v.raw)) = v.raw
                ORDER BY len(v.raw) DESC LIMIT 1) AS b
        FROM seg s WHERE s.pos < len(s.word)
      )
    ),
    wordseg AS (
      SELECT word,
             CASE WHEN len(word) > 200 THEN '[UNK]'
                  ELSE array_to_string(pieces, ' ') END AS pieces_str,
             CASE WHEN len(word) > 200 THEN 1 ELSE len(pieces) END AS n_pieces,
             CASE WHEN len(word) > 200 THEN 1
                  ELSE len(list_filter(pieces, x -> x = '[UNK]')) END AS n_unk
      FROM seg WHERE pos = len(word)
    ),
    per_doc AS (
      SELECT d.doc_id,
             string_agg(ws.pieces_str, ' ' ORDER BY d.i) AS tokens_csv,
             CAST(sum(ws.n_pieces) AS BIGINT) AS n_tokens,
             CAST(sum(ws.n_unk) AS BIGINT) AS n_unk
      FROM docw d JOIN wordseg ws USING (word)
      GROUP BY 1
    )
    SELECT doc_id, coalesce(p.tokens_csv, '') AS tokens_csv,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.n_unk, 0) AS n_unk
    FROM (SELECT DISTINCT doc_id FROM documents) ids LEFT JOIN per_doc p USING (doc_id)
    """


@register("q126_wordpiece_encode_fixed", oracle=_wp_fixed_oracle())
def q126_wordpiece_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece encoding of the corpus against
    the fixed ``_WP_FIXED_VOCAB``, hash-compared piece-for-piece
    (tokens go to the driver as a space-joined string: array cells
    crash its canonicalizer, r3)."""
    from mimic_iv_data_pipeline_spark.operators.wordpiece import wordpiece_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = wordpiece_encode(docs, "doc_id", "text", _WP_FIXED_VOCAB)
    return enc.select(
        "doc_id",
        F.array_join(F.col("tokens"), " ").alias("tokens_csv"),
        "n_tokens",
        "n_unk",
    )


# --- q127: unigram-LM Viterbi ENCODE against fixed probabilities ------------
# Same parameterization trick, second subword kernel: freeze the piece
# probabilities (md5-derived, so every lp is distinct and piece-sum ties
# are measure-zero) and Viterbi max-probability segmentation becomes
# SQL-checkable by ENUMERATING every segmentation of every distinct word
# (words are <= 8 chars here, so the lattice is tiny) and ranking with
# the encoder's exact tie-break: score desc, fewer pieces, then
# lexicographically smallest piece sequence read from the word's END
# (the DP's back-pointer rule). Each path's score folds left-to-right on
# both engines, so float comparisons see identical doubles.
_UG_FIXED_PIECES: list[str] = (
    ["da", "at", "ta", "an", "sc", "ow", "er", "ue", "in", "st", "ha", "sh",
     "lu", "val", "que", "ry", "cus", "tom", "wind", "gro", "jo", "spark"]
    + [c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
)


def _ug_fixed_probs() -> dict[str, float]:
    """Deterministic piece probabilities in [0.05, 0.95): the md5 trick
    (same recipe as the q123 codebooks), floor-rounded to 6dp so the
    DuckDB twin reconstructs bit-identical doubles."""
    import hashlib
    import math

    out = {}
    for p in _UG_FIXED_PIECES:
        h = int(hashlib.md5(f"ug:{p}".encode()).hexdigest()[:8], 16)
        out[p] = math.floor((h / 4294967296.0 * 0.9 + 0.05) * 1e6 + 0.5) / 1e6
    return out


def _ug_fixed_oracle() -> str:
    values = ", ".join("('" + p.replace("'", "''") + "')" for p in _UG_FIXED_PIECES)
    return rf"""
    WITH RECURSIVE vocab AS (
      SELECT p, ln(floor((cast(concat('0x', substr(md5(concat('ug:', p)), 1, 8)) AS BIGINT)
                          / 4294967296.0 * 0.9 + 0.05) * 1e6 + 0.5) / 1e6) AS lp
      FROM (VALUES {values}) v(p)
    ),
    docw AS (
      SELECT doc_id, i, arr[i] AS word
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
            FROM documents) d,
           unnest(range(1, len(arr) + 1)) t(i)
      WHERE arr[i] <> ''
    ),
    words AS (SELECT DISTINCT word FROM docw),
    seg AS (
      SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces,
             CAST(0.0 AS DOUBLE) AS score
      FROM words
      UNION ALL
      SELECT s.word, s.pos + len(v.p), list_append(s.pieces, v.p), s.score + v.lp
      FROM seg s JOIN vocab v ON substr(s.word, s.pos + 1, len(v.p)) = v.p
      WHERE s.pos < len(s.word)
    ),
    best AS (
      SELECT word, pieces, score, len(pieces) AS n FROM seg
      WHERE pos = len(word)
      QUALIFY row_number() OVER (
        PARTITION BY word
        ORDER BY score DESC, len(pieces) ASC, list_reverse(pieces) ASC
      ) = 1
    ),
    wordseg AS (
      SELECT w.word,
             coalesce(array_to_string(b.pieces, ' '), '[UNK]') AS pieces_str,
             coalesce(len(b.pieces), 1) AS n_pieces,
             coalesce(b.score, (SELECT min(lp) - 1 FROM vocab)) AS lp
      FROM words w LEFT JOIN best b USING (word)
    ),
    per_doc AS (
      SELECT d.doc_id,
             string_agg(ws.pieces_str, ' ' ORDER BY d.i) AS tokens_csv,
             CAST(sum(ws.n_pieces) AS BIGINT) AS n_tokens,
             floor(sum(ws.lp) * 1e6 + 0.5) / 1e6 AS logprob
      FROM docw d JOIN wordseg ws USING (word)
      GROUP BY 1
    )
    SELECT doc_id, coalesce(p.tokens_csv, '') AS tokens_csv,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.logprob, 0.0) AS logprob
    FROM (SELECT DISTINCT doc_id FROM documents) ids LEFT JOIN per_doc p USING (doc_id)
    """


@register("q127_unigram_encode_fixed", oracle=_ug_fixed_oracle())
def q127_unigram_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi unigram segmentation of the corpus under the fixed
    probability table, hash-compared piece-for-piece against the
    exhaustive-enumeration DuckDB twin (tokens as a space-joined
    string for the driver canonicalizer)."""
    from mimic_iv_data_pipeline_spark.operators.wordpiece import unigram_encode

    enc = unigram_encode(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", _ug_fixed_probs(),
        max_piece_len=8,
    )
    return enc.select(
        "doc_id",
        F.array_join(F.col("tokens"), " ").alias("tokens_csv"),
        "n_tokens",
        dround(F.col("logprob"), 6).alias("logprob"),
    )


# --- q130: incremental dedup vs persisted index, fixed md5 family -----------
def _incdedup_fixed_oracle(n_hashes: int = 64, threshold: float = 0.3) -> str:
    """DuckDB twin of q107's whole pipeline under the md5 shingle
    family: signatures for BOTH corpus halves from the operator's own
    64 Carter-Wegman perms, candidates = (new, indexed) pairs agreeing
    on >= 1 band of 4 (16-way OR), scored by the SIGNATURE-estimated
    Jaccard (mean per-function agreement) — the exact math
    ``estimated_jaccard`` runs, including its /64 and rounding."""
    from mimic_iv_data_pipeline_spark.operators.dedup import (
        _MERSENNE61,
        _minhash_perms,
    )

    perms = _minhash_perms(n_hashes)
    bands, r = 16, n_hashes // 16
    mins = ",\n             ".join(
        f"min(({a} * x + {b}) % {_MERSENNE61}) AS s{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_eq = "\n         OR ".join(
        "("
        + " AND ".join(f"n.s{b * r + j} = o.s{b * r + j}" for j in range(r))
        + ")"
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN n.s{i} = o.s{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
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
             cast(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 4294967296 AS x
      FROM grams
    ), sig AS (
      SELECT doc, {mins}
      FROM hx GROUP BY doc
    )
    SELECT n.doc AS new_id, o.doc AS index_id,
           floor(({agree}) / 64.0 * 1e6 + 0.5) / 1e6 AS est_jaccard
    FROM sig n JOIN sig o ON n.doc >= 250 AND o.doc < 250
    WHERE ({band_eq})
      AND floor(({agree}) / 64.0 * 1e6 + 0.5) / 1e6 >= {threshold}
    """


@register("q130_incremental_dedup_fixed", oracle=_incdedup_fixed_oracle())
def q130_incremental_dedup_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's snapshot-dedup shape under the fixed md5 shingle family
    and exact band keys — the SAME operator code path
    (build_minhash_index -> dedup_against_index), now hash-compared
    end to end including the estimated-Jaccard scores. The xxhash64
    production path (q107) stays rows-only by necessity."""
    from mimic_iv_data_pipeline_spark.operators.incremental import (
        build_minhash_index,
        dedup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = build_minhash_index(
        docs.filter(F.col("doc_id") < 250), "doc_id", "text",
        shingle_hash="md5", bucket="exact",
    )
    return dedup_against_index(
        docs.filter(F.col("doc_id") >= 250), index, "doc_id", "text",
        threshold=0.3, shingle_hash="md5", bucket="exact",
    )


# --- q135: BPE ENCODE against a FIXED merge list (full hash oracle) ---------
# Third subword kernel under the q123 trick. The SQL twin replays the
# merge loop ONE merge at a time (leftmost occurrence of the
# lowest-rank applicable pair), which equals the encoder's
# merge-all-occurrences step because trained-BPE ranks satisfy the
# invariant that any pair containing a merged symbol ranks AFTER the
# merge that created it — the fixed list below is built hierarchically
# so the invariant holds by construction.
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("s", "c"), ("a", "n"), ("sc", "an"),
    ("t", "a"), ("l", "e"), ("b", "le"), ("ta", "ble"),
    ("e", "</w>"), ("l", "u"), ("v", "a"), ("va", "lu"), ("valu", "e</w>"),
    ("e", "r"), ("er", "</w>"), ("t", "h"), ("th", "e</w>"),
    ("q", "u"), ("o", "w"), ("r", "ow"),
    ("h", "a"), ("s", "h"), ("ha", "sh"),
]


def _bpe_fixed_oracle() -> str:
    """DuckDB twin of ``bpe_encode`` under ``_BPE_FIXED_MERGES``: a
    recursive CTE whose step finds the lowest-rank adjacent pair
    (pair keys joined with chr(1), which no token contains), splices
    the leftmost occurrence, and recurses; a word's final state is the
    unique seg row with no applicable merge."""
    values = ", ".join(
        "('" + a.replace("'", "''") + "', '" + b.replace("'", "''") + f"', {i})"
        for i, (a, b) in enumerate(_BPE_FIXED_MERGES)
    )
    pk = (
        "list_transform(range(1, len({s})), i -> "
        "concat({s}[i], chr(1), {s}[i+1]))"
    )
    return rf"""
    WITH RECURSIVE ranks(a, b, rnk) AS (
      SELECT * FROM (VALUES {values}) v(a, b, rnk)
    ),
    docw AS (
      SELECT doc_id, i, arr[i] AS word
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
            FROM documents) d,
           unnest(range(1, len(arr) + 1)) t(i)
      WHERE arr[i] <> ''
    ),
    words AS (SELECT DISTINCT word FROM docw),
    seg AS (
      SELECT word,
             list_append(list_transform(range(1, len(word) + 1),
                                        i -> substr(word, i, 1)), '</w>') AS syms
      FROM words
      UNION ALL
      SELECT word,
             syms[1:p-1] || [concat(best.a, best.b)] || syms[p+2:len(syms)]
      FROM (
        SELECT word, syms, best,
               list_position({pk.format(s="syms")},
                             concat(best.a, chr(1), best.b)) AS p
        FROM (
          SELECT s.word, s.syms,
                 (SELECT {{'a': r.a, 'b': r.b}} FROM ranks r
                  WHERE list_contains({pk.format(s="s.syms")},
                                      concat(r.a, chr(1), r.b))
                  ORDER BY r.rnk LIMIT 1) AS best
          FROM seg s WHERE len(s.syms) > 1
        )
        WHERE best IS NOT NULL
      )
    ),
    final AS (
      SELECT word, syms FROM seg s
      WHERE NOT EXISTS (
        SELECT 1 FROM ranks r
        WHERE list_contains({pk.format(s="s.syms")},
                            concat(r.a, chr(1), r.b)))
    ),
    per_doc AS (
      SELECT d.doc_id,
             string_agg(array_to_string(f.syms, ' '), ' ' ORDER BY d.i) AS tokens_csv,
             CAST(sum(len(f.syms)) AS BIGINT) AS n_tokens
      FROM docw d JOIN final f USING (word)
      GROUP BY 1
    )
    SELECT doc_id, coalesce(p.tokens_csv, '') AS tokens_csv,
           coalesce(p.n_tokens, 0) AS n_tokens
    FROM (SELECT DISTINCT doc_id FROM documents) ids LEFT JOIN per_doc p USING (doc_id)
    """


@register("q135_bpe_encode_fixed", oracle=_bpe_fixed_oracle())
def q135_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy lowest-rank BPE encoding of the corpus against the fixed
    merge list, hash-compared piece-for-piece — the multi-level merge
    cascade (chars -> bigrams -> whole words like scan/table/value,
    including </w>-fused merges) exercised end to end. q93's trained
    production path stays rows-only."""
    from mimic_iv_data_pipeline_spark.operators.bpe import bpe_encode

    enc = bpe_encode(load_table(spark, sf_dir, "documents"), "doc_id", "text", _BPE_FIXED_MERGES)
    return enc.select(
        "doc_id",
        F.array_join(F.col("tokens"), " ").alias("tokens_csv"),
        "n_tokens",
    )


# --- q154: leakage-safe k-fold target encoding -------------------------------
# Smoothed out-of-fold target statistics (Micci-Barreca 2001) for
# o_orderpriority against the order-completion label: each order's
# encoding excludes its own hash-fold's labels — the full (key, fold,
# te) map is hash-verified, so any leak of the row's own label into
# its encoding flips the digest.
@register(
    "q154_target_encoding",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             cast(concat('0x', substr(md5(concat('te:5:',
               cast(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 5 AS fold
      FROM orders
    ), cf AS (
      SELECT cat, fold, sum(y) AS s, count(*) AS c FROM base GROUP BY 1, 2
    ), ct AS (SELECT cat, sum(s) AS s, sum(c) AS c FROM cf GROUP BY 1),
    gf AS (SELECT fold, sum(y) AS s, count(*) AS c FROM base GROUP BY 1),
    g AS (SELECT sum(y) AS s, count(*) AS c FROM base)
    SELECT b.o_orderkey, CAST(b.fold AS BIGINT) AS fold,
           floor(((ct.s - cf.s)
                  + 10.0 * ((g.s - gf.s) / (g.c - gf.c)))
                 / ((ct.c - cf.c) + 10.0) * 1e6 + 0.5) / 1e6 AS te
    FROM base b
    JOIN cf ON cf.cat = b.cat AND cf.fold = b.fold
    JOIN ct ON ct.cat = b.cat
    JOIN gf ON gf.fold = b.fold
    CROSS JOIN g
    """,
)
def q154_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe smoothed target encoding of order priority
    (operators/mlprep.py:target_encode_kfold — one (cat, fold)
    aggregate broadcast back, no fact-side window)."""
    from mimic_iv_data_pipeline_spark.operators.mlprep import target_encode_kfold

    orders = load_table(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    out = target_encode_kfold(
        df, key_col="o_orderkey", cat_col="o_orderpriority",
        label_col="label", k=5, smoothing=10.0,
    )
    return out.select("o_orderkey", "fold", dround(F.col("te"), 6).alias("te"))


# --- q155: token-budget corpus selection -------------------------------------
# Quality-ranked prefix selection at a fixed token budget: rank docs by
# alphabetic-character ratio, keep the prefix whose running token sum
# fits 12k tokens (~45% of the sf0.01 corpus, so the cut bites). The operator's distributed prefix sum
# (range-partition + per-partition window + broadcast offsets) must
# reproduce the oracle's single ordered window EXACTLY — the digest
# covers every kept row's cumulative sum.
@register(
    "q155_token_budget",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
               AS n_tokens,
             coalesce(
               floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                     / nullif(length(text), 0) * 1e6 + 0.5) / 1e6,
               0.0) AS score
      FROM documents
    ), c AS (
      SELECT doc_id, score, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY score DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
               AS cum_tokens
      FROM base
    )
    SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 12000
    """,
)
def q155_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget prefix selection by alpha-ratio quality score
    (operators/sampling.py:select_token_budget — distributed prefix
    sum, no single-partition window)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import select_token_budget
    from mimic_iv_data_pipeline_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.coalesce(
            dround(
                F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
                / F.nullif(F.length(F.col("text")).cast("double"), F.lit(0.0)),
                6,
            ),
            F.lit(0.0),
        ).alias("score"),
    )
    out = select_token_budget(
        base, score_col="score", tokens_col="n_tokens", budget=12_000
    )
    return out.select("doc_id", "score", "n_tokens", "cum_tokens")


# --- q160: Pareto-front (skyline) curation screen ----------------------------
# Non-dominated docs on (token count up, byte cost down) — the
# token-densest documents per byte stored, a 65-point front at sf0.01.
# The operator's one-sweep prefix-min plan must reproduce the oracle's
# naive quadratic NOT EXISTS dominance exactly — including the
# keep-identical-duplicates rule.
@register(
    "q160_pareto_front",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
               AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT b.doc_id, b.n_tokens, b.n_chars
    FROM base b
    WHERE NOT EXISTS (
      SELECT 1 FROM base s
      WHERE s.n_tokens >= b.n_tokens AND s.n_chars <= b.n_chars
        AND (s.n_tokens > b.n_tokens OR s.n_chars < b.n_chars)
    )
    """,
)
def q160_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of (token count, byte cost) over documents
    (operators/sampling.py:pareto_front_2d — per-q window + distributed
    strict-prefix min, no pair join)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import pareto_front_2d
    from mimic_iv_data_pipeline_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        "n_chars",
    )
    out = pareto_front_2d(base, quality_col="n_tokens", cost_col="n_chars")
    return out.select("doc_id", "n_tokens", "n_chars")


# --- q161: leakage-safe temporal split ---------------------------------------
# Chronological train/val/test prefixes over the event log, rank-based
# (integer thresholds — exact and engine-portable where interpolated
# timestamp percentiles invite last-ulp drift). The full (event_id,
# split) map is hash-verified; the oracle mirrors the operator's
# floor(f·n) arithmetic including the (0.8 + 0.1) float sum.
@register(
    "q161_temporal_split",
    oracle="""
    WITH r AS (
      SELECT event_id,
             row_number() OVER (ORDER BY ts, event_id) AS rk,
             count(*) OVER () AS n
      FROM events
    )
    SELECT event_id,
           CASE WHEN rk <= CAST(floor(0.8 * n) AS BIGINT) THEN 'train'
                WHEN rk <= CAST(floor((0.8 + 0.1) * n) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def q161_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 chronological split of the event log
    (operators/sampling.py:temporal_split — distributed global rank via
    global_prefix_sums, no single-partition window)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import temporal_split

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    out = temporal_split(ev, ts_col="ts", id_col="event_id")
    return out.select("event_id", "split")


# --- q168: association-rule mining -------------------------------------------
# Frequent part-group pairs across orders (Apriori pruning before the
# pair join): support / both confidences / lift for every pair above
# 0.5% basket support — the whole rule table is hash-verified.
@register(
    "q168_association_rules",
    oracle="""
    WITH src AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS i FROM lineitem
    ), n AS (SELECT count(DISTINCT b) * 1.0 AS nb FROM src),
    s AS (SELECT i, count(*) AS c FROM src GROUP BY 1),
    freq AS (
      SELECT src.b, src.i, s.c FROM src JOIN s USING (i)
      WHERE s.c * 1.0 / (SELECT nb FROM n) >= 0.005  -- ratio form (boundary-exact)
    ), pc AS (
      SELECT a.i AS item_a, b2.i AS item_b,
             count(*) AS n_ab, max(a.c) AS sa, max(b2.c) AS sb
      FROM freq a JOIN freq b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
           floor(n_ab / (SELECT nb FROM n) * 1e6 + 0.5) / 1e6 AS support,
           floor(n_ab * 1.0 / sa * 1e6 + 0.5) / 1e6 AS conf_a_to_b,
           floor(n_ab * 1.0 / sb * 1e6 + 0.5) / 1e6 AS conf_b_to_a,
           floor(n_ab * (SELECT nb FROM n) / (sa * 1.0 * sb) * 1e6 + 0.5) / 1e6
             AS lift
    FROM pc WHERE n_ab * 1.0 / (SELECT nb FROM n) >= 0.005
    """,
)
def q168_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part-group pair rules over orders
    (operators/retrieval.py:association_rules — Apriori item pruning
    before the basket self-join, supports broadcast back)."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import association_rules

    from mimic_iv_data_pipeline_spark.functions.rounding import dround_sql

    li = load_table(spark, sf_dir, "lineitem")
    src = li.selectExpr("l_orderkey AS basket", "l_partkey % 50 AS item")
    out = association_rules(src, "basket", "item", min_support=0.005)
    return out.selectExpr(
        "item_a",
        "item_b",
        "n_ab",
        dround_sql("support", 6) + " AS support",
        dround_sql("conf_a_to_b", 6) + " AS conf_a_to_b",
        dround_sql("conf_b_to_a", 6) + " AS conf_b_to_a",
        dround_sql("lift", 6) + " AS lift",
    )


# --- q209: temperature-based mixture weights ----------------------------------
# The multilingual/multi-domain sampling rule (p_i ∝ n_i^0.5) + token
# allocation of a 100k budget. sqrt is IEEE correctly-rounded, so the
# whole chain (sqrt → micro-quantize → double ratio → floor) is
# bitwise engine-portable — see mixture_temperature_weights' contract.
@register(
    "q209_mixture_temperature",
    oracle=r"""
    WITH per AS (
      SELECT source AS domain,
             CAST(sum(len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), w AS (
      SELECT domain, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS weight_micro
      FROM per
    ), tot AS (SELECT sum(weight_micro) AS tw FROM w),
    alloc AS (
      SELECT domain, n_tokens, weight_micro,
             CAST(weight_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS share_raw,
             CAST(floor(CAST(weight_micro AS DOUBLE) * 100000.0
                        / CAST(tw AS DOUBLE)) AS BIGINT) AS alloc_tokens
      FROM w CROSS JOIN tot
    )
    SELECT domain, n_tokens, weight_micro,
           round(floor(share_raw * 1e6 + 0.5) / 1e6, 6) AS share,
           alloc_tokens,
           round(floor(CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                       * 1e6 + 0.5) / 1e6, 6) AS epochs
    FROM alloc
    """,
)
def q209_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature sampling weights (alpha=0.5) and the
    allocation of a 100k-token training budget
    (operators/sampling.py:mixture_temperature_weights — one hash
    aggregate to a |domains|-row relation)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        mixture_temperature_weights,
    )
    from mimic_iv_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.filter(tokens(F.col("text")), lambda x: x != "")).alias(
            "n_toks"
        ),
    )
    out = mixture_temperature_weights(
        docs, "source", "n_toks", budget=100_000, alpha=0.5
    )
    return out.select(
        "domain",
        "n_tokens",
        "weight_micro",
        dround("share", 6).alias("share"),
        "alloc_tokens",
        dround("epochs", 6).alias("epochs"),
    )


# --- q216: k/l anonymity risk report -------------------------------------------
# The audit readout BEFORE q101's suppression acts: per quasi group
# (nation, segment) the size, the distinct-sensitive count (balance
# kilobuckets), and the k/l risk flags — l-diversity catches groups
# that are k-anonymous yet all share one sensitive value.
@register(
    "q216_anonymity_report",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
             AS BIGINT) AS l_distinct,
           CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS INT) AS k_risky,
           CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000.0)
             AS BIGINT)) < 3 THEN 1 ELSE 0 END AS INT) AS l_risky
    FROM customer GROUP BY 1, 2
    """,
)
def q216_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=10 / l=3 risk report over the (nation, segment) quasi key
    with balance kilobuckets as the sensitive attribute
    (operators/privacy.py:anonymity_risk_report — one hash
    aggregate to |quasi-combination| rows)."""
    from mimic_iv_data_pipeline_spark.operators.privacy import (
        anonymity_risk_report,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_kb"),
    )
    return anonymity_risk_report(
        cust, ["c_nationkey", "c_mktsegment"], "bal_kb", k=10, l=3
    )


# --- q217: deterministic per-subject date shifting ------------------------------
# The MIMIC de-identification scheme itself: every user's events move
# by one hash-derived whole-day offset in ±182 days — intervals exact,
# absolute dates uninformative, re-runs identical on any layout. The
# oracle replays the md5 recipe verbatim (the sampling.hash_unit
# portability contract).
@register(
    "q217_date_shift",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts,
             CAST(floor(
               cast(concat('0x', substr(md5(concat('dateshift:',
                 coalesce(cast(user_id AS varchar), chr(0) || 'null'))), 1, 8))
                 AS BIGINT)
               / 4294967296.0 * 365.0) AS BIGINT) - 182 AS offset_days
      FROM events
    )
    SELECT event_id, user_id, offset_days,
           strftime(ts + to_days(CAST(offset_days AS INT)),
                    '%Y-%m-%d %H:%M:%S') AS shifted_ts
    FROM base
    """,
)
def q217_date_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±182-day deterministic date shift of the event stream
    (operators/privacy.py:date_shift — narrow hash + interval-add
    projection, no shuffle; within-user intervals preserved
    exactly)."""
    from mimic_iv_data_pipeline_spark.operators.privacy import date_shift

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = date_shift(
        ev, "user_id", ["ts"], max_shift_days=182, offset_col="offset_days"
    )
    return out.select(
        "event_id",
        "user_id",
        "offset_days",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("shifted_ts"),
    )


# --- q218: URL canonicalization + host-level collapse ---------------------------
# Synthetic crawl frontier: each customer key produces one of several
# MESSY variants (upper-case scheme/host, userinfo@, default :80 port,
# trailing slash, utm_* tracking params, #fragment) of one logical
# URL. The canonical form has a CLOSED FORM in the generator
# parameters, so the oracle states ground truth directly — a green row
# proves the whole regex chain (functions/url.py:canonical_url)
# normalizes every variant to exactly the expected string, rather than
# replaying the chain's own regexes.
@register(
    "q218_url_canonical",
    oracle="""
    WITH canon AS (
      SELECT 'shop' || CAST(c_custkey % 50 AS VARCHAR) || '.com' AS domain,
             'http://www.shop' || CAST(c_custkey % 50 AS VARCHAR)
               || '.com/item/' || CAST(c_custkey // 7 AS VARCHAR)
               || '?id=' || CAST(c_custkey // 7 AS VARCHAR) AS curl
      FROM customer
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical
    FROM canon GROUP BY 1
    """,
)
def q218_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level URL dedup stats after canonicalization
    (functions/url.py — codegen regex chain, no UDF; ~7 messy
    variants per logical URL collapse to one canonical string)."""
    from mimic_iv_data_pipeline_spark.functions.url import (
        canonical_url,
        url_registered_domain,
    )

    c = F.col("c_custkey")
    item = F.expr("c_custkey div 7").cast("string")
    messy = F.concat(
        F.lit("HTTP://"),
        F.when(c % 7 == 0, F.lit("crawler:secret@")).otherwise(F.lit("")),
        F.lit("WWW.Shop"),
        (c % 50).cast("string"),
        F.lit(".COM"),
        F.when(c % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/item/"),
        item,
        F.when(c % 3 == 0, F.lit("/?utm_source=news&utm_medium=email&id="))
        .otherwise(F.lit("?id=")),
        item,
        F.when(c % 5 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    urls = load_table(spark, sf_dir, "customer").select(
        messy.alias("url")
    )
    out = urls.select(
        url_registered_domain(canonical_url(F.col("url"))).alias("domain"),
        canonical_url(F.col("url")).alias("curl"),
    )
    return out.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("curl").cast("long").alias("n_canonical"),
    )


# --- q219: clinical notes NLP (D6) — entity extraction oracle twin --------------
# The ONE SURVEY §2 surface that had never faced the oracle: the notes
# pipeline (reference preprocessing/notes_preproc.py:124-224 — medspacy
# section split + target match + ConText negation/family cues) runs
# here as operators/nlp.py's deterministic rule engine over mapInPandas.
# Fixture: each customer key picks one of FOUR fixed note templates
# (mod-4 class) that jointly exercise section splitting, multi-word
# targets, the 5-token ConText cue window, the 'but' termination rule,
# and the family-history section override. The extraction of each
# template has a CLOSED FORM (section/term/negated/family/offset are
# constants per class), so the oracle states ground truth directly —
# a green row proves the matcher, not a replay of its regexes.
_Q219_NOTE_TEMPLATES = [
    # m=0: two plain mentions + family-history section override
    "history of present illness: patient reports fever and chest pain. "
    "family history: mother with diabetes.",
    # m=1: 'denies' negation cue + second section
    "history of present illness: denies fever. "
    "past medical history: hypertension.",
    # m=2: 'no evidence of' cue + 'but' ConText termination
    "history of present illness: no evidence of heart failure but "
    "chest pain persists. medications: none.",
    # m=3: 'without' cue scoping over a later mention
    "assessment and plan: shortness of breath without fever.",
]


@register(
    "q219_notes_nlp",
    oracle="""
    WITH c AS (SELECT c_custkey, c_custkey % 4 AS m FROM customer),
    expected AS (
      SELECT * FROM (VALUES
        (0, 'history of present illness', 'fever',               FALSE, FALSE, 44),
        (0, 'history of present illness', 'chest pain',          FALSE, FALSE, 54),
        (0, 'family history',             'diabetes',            FALSE, TRUE,  94),
        (1, 'history of present illness', 'fever',               TRUE,  FALSE, 35),
        (1, 'past medical history',       'hypertension',        FALSE, FALSE, 64),
        (2, 'history of present illness', 'heart failure',       TRUE,  FALSE, 43),
        (2, 'history of present illness', 'chest pain',          FALSE, FALSE, 61),
        (3, 'assessment and plan',        'shortness of breath', FALSE, FALSE, 21),
        (3, 'assessment and plan',        'fever',               TRUE,  FALSE, 49)
      ) AS t(m, section, term, negated, family_context, off)
    )
    SELECT CAST(c.c_custkey AS VARCHAR) AS note_id,
           CAST(c.c_custkey AS BIGINT)  AS subject_id,
           e.section, e.term, e.negated, e.family_context,
           CAST(e.off AS INT) AS "offset"
    FROM c JOIN expected e ON c.m = e.m
    """,
)
def q219_notes_nlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clinical-notes entity extraction (SURVEY §2.10 D6): section
    split + target match + ConText negation/family cues over
    mapInPandas (operators/nlp.py:extract_entities; reference
    semantics preprocessing/notes_preproc.py:124-224). One note →
    N exploded entity rows; the oracle is generator ground truth."""
    from mimic_iv_data_pipeline_spark.operators.nlp import extract_entities

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    m = F.pmod(F.col("c_custkey"), F.lit(4))
    text = (
        F.when(m == 0, F.lit(_Q219_NOTE_TEMPLATES[0]))
        .when(m == 1, F.lit(_Q219_NOTE_TEMPLATES[1]))
        .when(m == 2, F.lit(_Q219_NOTE_TEMPLATES[2]))
        .otherwise(F.lit(_Q219_NOTE_TEMPLATES[3]))
    )
    notes = c.select(
        F.col("c_custkey").cast("string").alias("note_id"),
        F.col("c_custkey").cast("long").alias("subject_id"),
        text.alias("text"),
    )
    return extract_entities(notes)
