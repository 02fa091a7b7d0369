"""Text-analysis operators for large-scale training-data pipelines.

Scale extensions beyond the reference (BASELINE.json north star): all
pure Column expressions over ``documents(text)`` — tokenization, quality
scoring, language ID, fingerprinting — so they run JVM-side in
whole-stage codegen with zero Python in the hot path. The reference's
only text surface is the medspacy notes pipeline
(``preprocessing/notes_preproc.py:108-224``), which maps to
mapInPandas (see operators/nlp.py for that plumbing pattern).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.functions.rounding import dround

# Deterministic marker-word lists for the language-ID heuristic. Tiny on
# purpose: broadcast as literal arrays into the expression, no join.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is"],
    "es": ["el", "la", "es"],
    "de": ["der", "die", "ist"],
    "fr": ["le", "la", "est"],
    "zh": ["de", "shi", "le"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (BPE-ish regex split).

    ``\\s+`` split of the trimmed string — identical semantics in any
    ANSI engine, used by every operator below so token counts agree.
    Empty/whitespace-only text yields ``[]``: a bare split returns
    ``['']`` there (one phantom token), which inflated token_count to
    1 on empty docs and admitted ``''`` into vocabularies; the
    ``array_remove`` stays in codegen and only ever fires on that
    degenerate input (``\\s+`` on trimmed text cannot produce an
    interior empty token). SQL twin: wrap the split in
    ``list_filter(..., x -> x <> '')``.
    """
    return F.array_remove(F.split(F.trim(F.lower(text)), r"\s+"), "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def marker_hits(text: Column, words: list[str]) -> Column:
    """Count tokens that are exact matches of any marker word."""
    markers = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(tokens(text), lambda t: F.array_contains(markers, t))
    ).cast("long")


def with_quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio metrics.

    Mirrors the usual pretraining-corpus filters (C4/Gopher-style rules)
    with engine-portable expressions: char count, token count, mean
    token length, alpha ratio, stopword ratio.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    alpha_chars = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    stop_hits = marker_hits(t, LANG_MARKERS["en"])
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_token_len",
            # total token chars = length minus ALL whitespace (robust
            # to runs/leading/trailing ws — the old (n_chars−(n_tokens
            # −1))/n assumed exactly one separator char per boundary
            # and inflated on the messy docs this filter exists for)
            dround(
                F.length(F.regexp_replace(t, r"\s", "")).cast("long")
                / F.nullif(n_tokens, F.lit(0)),
                6,
            ),
        )
        .withColumn("alpha_ratio", dround(alpha_chars / F.nullif(n_chars, F.lit(0)), 6))
        .withColumn("stopword_ratio", dround(stop_hits / F.nullif(n_tokens, F.lit(0)), 6))
    )


def predict_language(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Language ID: argmax of marker-hit counts with deterministic
    alphabetical tie-break (ties → first language name in order).

    Expressed as a greatest-of-structs trick: max over
    ``struct(score, reverse_alphabetical_rank)`` picks the winner without
    a UDF or an explode.
    """
    langs = sorted(LANG_MARKERS)
    t = F.col(text_col)
    # struct ordering compares fields in sequence: score first, then the
    # tie-break (later-alphabet languages lose because we negate rank).
    candidates = [
        F.struct(
            marker_hits(t, LANG_MARKERS[lang]).alias("score"),
            F.lit(-i).alias("tie"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    return df.withColumn(out_col, F.greatest(*candidates).getField("lang"))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive hashes, keep each window's minimum;
    the distinct selected hashes are the fingerprint set. Guarantees
    any match of length ≥ w+k-1 grams shares a fingerprint.

    Hash = md5 hex string, minimum = lexicographic — deterministic and
    identical in any engine (no integer-hex conversion needed), so the
    operator is DuckDB-oracle-checkable. Plan: posexplode + lead-style
    window min + distinct — all codegen, shuffles only on (doc).
    """
    from pyspark.sql.window import Window

    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks"))
    pos = toked.select(
        "doc",
        F.size("__toks").alias("__n"),
        F.posexplode("__toks").alias("__pos", "__tok"),
    )
    wspec = Window.partitionBy("doc").orderBy("__pos")
    gram = F.concat_ws(
        " ", *([F.col("__tok")] + [F.lag("__tok", -j).over(wspec) for j in range(1, k)])
    )
    grams = pos.withColumn("gram_hash", F.md5(gram)).filter(
        F.col("__pos") <= F.greatest(F.col("__n") - k, F.lit(0))
    )
    win = Window.partitionBy("doc").orderBy("__pos").rowsBetween(0, w - 1)
    n_grams = Window.partitionBy("doc")
    selected = (
        grams.withColumn("__win_min", F.min("gram_hash").over(win))
        .withColumn("__total", F.count(F.lit(1)).over(n_grams))
        .filter(F.col("__pos") <= F.greatest(F.col("__total") - w, F.lit(0)))
        .select("doc", F.col("__win_min").alias("fingerprint"))
        .distinct()
    )
    return selected


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalization-canonical form
    (lowercase, all non-alphanumerics stripped). Dedup on this catches
    whitespace/punctuation-only variants that exact md5(text) misses.
    """
    return F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))


def with_repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition profile — the Rae et al. (Gopher,
    2021) style quality filters: token-level duplication ratio and the
    most-frequent-token share. High values flag boilerplate / spam /
    degenerate generations for corpus filtering.

    Returns (id, n_tokens, n_distinct, dup_ratio, top_token, top_share):
      * dup_ratio  = 1 − n_distinct / n_tokens
      * top_token  = lexicographically-smallest token among the argmax
                     (deterministic tie-break, engine-portable)
      * top_share  = occurrences(top_token) / n_tokens

    Plan: explode → (doc, token) count → per-doc window max → one
    aggregate. Shuffles key on the document id only; all codegen.
    """
    from pyspark.sql.window import Window

    occ = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    wc = occ.groupBy("doc", "token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc")
    stats = wc.select(
        "doc",
        "token",
        "c",
        F.sum("c").over(w).alias("n_tokens"),
        F.count("*").over(w).alias("n_distinct"),
        F.max("c").over(w).alias("max_c"),
    )
    return (
        stats.filter(F.col("c") == F.col("max_c"))
        .groupBy("doc")
        .agg(
            F.first("n_tokens").cast("long").alias("n_tokens"),
            F.first("n_distinct").cast("long").alias("n_distinct"),
            dround(1 - F.first("n_distinct") / F.first("n_tokens"), 6).alias("dup_ratio"),
            F.min("token").alias("top_token"),
            dround(F.first("max_c") / F.first("n_tokens"), 6).alias("top_share"),
        )
    )


URL_REGEX = r"https?://[^\s]+"


def extract_urls(text: Column) -> Column:
    """All URL-shaped substrings (conservative ``https?://`` anchor —
    scheme-relative and bare-domain forms are deliberately out: the
    false-positive cost of bare-domain matching at corpus scale beats
    the recall win). RE2-safe; identical in DuckDB oracles."""
    return F.regexp_extract_all(text, F.lit(URL_REGEX), F.lit(0))


def normalize_url(url: Column) -> Column:
    """Canonical URL form for dedup/frequency counting: lowercase,
    strip scheme, strip a leading ``www.``, drop query + fragment, drop
    one trailing slash. Pure codegen regexp chain — streams at scan
    speed; each step is a single anchored replacement so Spark
    (replace-all) and DuckDB (replace-first) agree by construction."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    u = F.regexp_replace(u, r"/$", "")
    return u


def url_frequency(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized-URL frequency table ``(url, n_docs, n_occurrences)``
    — the standard crawl-dedup signal (the same page fetched under
    scheme/www/query variants collapses to one key). One explode + one
    vocabulary-bounded hash aggregate."""
    # NOT fanned out (optimization r12): the r11 fan_out here was
    # driver-flagged and the r12 interleaved A/B read fan ON/OFF 1.51×
    # (min-of-6, every rep ON slower) — the regex explode is cheap
    # enough that the keyless repartition's local sort + exchange costs
    # more than the widened parallelism buys. A multi-file corpus scan
    # at scale already has ≥ cores partitions; only an unsplittable
    # single-file corpus would serialize, and that is an ingest-layout
    # problem to fix at the source (guide §2.5), not per-operator.
    occ = df.select(id_col, text_col).select(
        F.col(id_col).alias("__doc"),
        F.explode(extract_urls(F.col(text_col))).alias("__raw"),
    ).select("__doc", normalize_url(F.col("__raw")).alias("url"))
    return occ.groupBy("url").agg(
        F.countDistinct("__doc").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_occurrences"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` keywords per document by smoothed TF-IDF
    (sklearn ``smooth_idf`` semantics: ``idf = ln((1+N)/(1+df)) + 1``).
    The standard corpus keyword / topic-signal extractor a training-data
    pipeline uses for domain tagging and near-topic filtering.

    Returns ``(doc, token, tf, score)``, deterministic rank order
    (score desc, tf desc, token asc) so ties never flip across engines.

    Scale shape: term counts are one (doc, token) hash aggregate;
    document frequency is a window count over that relation (no second
    corpus pass, no self-join); N is a broadcast 1-row scalar. The only
    per-doc serialization is the top-k window, keyed by doc.
    """
    from pyspark.sql.window import Window

    occ = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    tf = occ.groupBy("doc", "token").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
    # document frequency as a window count over the tf relation — the
    # (doc, token) rows ARE one row per containing doc, so count(*)
    # over (token) is df without a second corpus pass or a self-join
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token"))
    score = F.col("tf") * (
        F.log((1 + F.col("__n")) / (1 + F.col("__df"))) + F.lit(1.0)
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("token").asc()
    )
    return (
        tf.withColumn("__df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("doc", "token", F.col("tf").cast("long").alias("tf"), dround(F.col("score"), 6).alias("score"))
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document novelty profile: the share of the doc's distinct
    word ``n``-grams that appear in at least one OTHER document — the
    leave-one-out memorization / boilerplate signal (the aggregate twin
    of Lee et al.'s *Deduplicating Training Data* substring analysis,
    at n-gram rather than suffix-array granularity).

    Returns ``(doc, n_grams, n_shared, shared_share)`` where
    ``shared_share = n_shared / n_grams``; high values mean the doc is
    mostly assembled from corpus-common n-grams.

    Scale shape: one distinct-(doc, gram) relation computed ONCE; gram
    document frequency is a window count over it (the rows are one per
    containing doc), so there is no self-join and no second shingle
    pass — the plan is explode → distinct → window(shingle) →
    groupBy(doc), three shuffles, no pairwise comparison anywhere. A
    doc's gram is "shared" iff its corpus df ≥ 2, which is exactly the
    leave-one-out membership test.
    """
    from pyspark.sql.window import Window

    from mimic_iv_data_pipeline_spark.operators.dedup import exploded_shingles

    sets = exploded_shingles(df, id_col, text_col, n)
    gdf = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    shared = (F.col("__gdf") >= 2).cast("long")
    return (
        sets.withColumn("__gdf", gdf)
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(shared).cast("long").alias("n_shared"),
            dround(F.sum(shared) / F.count("*"), 6).alias("shared_share"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """One BPE merge-selection step (Sennrich et al. 2016): corpus-wide
    adjacent-symbol-pair frequencies at the character level, weighted by
    word frequency — the inner loop of tokenizer training, expressed as
    a Spark plan so vocabulary induction can run where the corpus lives
    instead of on a driver sample.

    Returns the ``top_k`` pairs ``(pair, n_words, n_occurrences)``
    ordered by (occurrences desc, pair asc) — the argmax row is the
    merge a BPE trainer would apply next.

    Scale shape: the word-frequency aggregate collapses the corpus to
    its vocabulary FIRST (pair explosion runs over distinct words ×
    their counts, not over every token instance); pair counts are
    alphabet²-bounded; the final top-k is a TakeOrderedAndProject over
    that tiny relation, not a global sort.
    """
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("__wc"))
    )
    pairs = (
        words.filter(F.length("word") >= 2)  # sequence(1, 0) would DEscend
        .select(
            "word",
            "__wc",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("__i"),
        )
        .select(
            F.concat(
                F.col("word").substr(F.col("__i"), F.lit(1)),
                F.lit(" "),
                F.col("word").substr(F.col("__i") + 1, F.lit(1)),
            ).alias("pair"),
            "word",
            "__wc",
        )
    )
    agg = pairs.groupBy("pair").agg(
        # DISTINCT word: a word containing the pair at several
        # positions ('banana' → 'a n' twice) is ONE word containing
        # the pair, not two — count(*) over (word, position) rows
        # inflated this column on exactly the repetitive words BPE
        # statistics care about
        F.countDistinct("word").cast("long").alias("n_words"),
        F.sum("__wc").cast("long").alias("n_occurrences"),
    )
    return agg.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc()).limit(top_k)


def _bigram_pairs(df: DataFrame, id_col: str, text_col: str, bos: str) -> DataFrame:
    """Pinned ``(id, prev, tok)`` bigram rows of the lower-cased,
    whitespace-split text, ``bos`` before each document's first token.
    Shuffle-free: ``arrays_zip`` of the token array with its BOS-shifted
    self, then one explode. Pinned because every bigram scorer reads
    it twice (the count aggregate and the scoring join probe)."""
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        df.select(F.col(id_col), w.alias("__w"))
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(bos)),
                        F.slice(F.col("__w"), 1, F.greatest(F.size("__w") - 1, F.lit(0))),
                    ).alias("prev"),
                    F.col("__w").alias("tok"),
                )
            ).alias("p"),
        )
        .select(id_col, F.col("p.prev").alias("prev"), F.col("p.tok").alias("tok"))
        .transform(materialize)
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
    bos: str = "<s>",
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    CCNet-style perplexity quality filter (Wenzek et al., LREC'20)
    with the LM trained on the corpus itself so the whole computation
    is one deterministic, oracle-checkable plan (a production pipeline
    would swap in counts trained on a held-out reference corpus — the
    scoring join is identical).

    Per position ``i``: ``ln P(w_i | w_{i-1})`` with add-k smoothing,
    ``P = (c(prev,w) + k) / (c(prev) + k·V)``; per document the mean
    log-prob and its perplexity ``exp(-mean)``.

    Scale shape: bigram extraction is shuffle-free (``arrays_zip`` of
    the token array with its BOS-shifted self, then one explode); the
    count model is two vocab-bounded hash aggregates; scoring is two
    equi-joins on (prev, tok)/(prev) plus a broadcast of the 1-row
    vocabulary size — no driver-side state at any corpus size.
    """
    pairs = _bigram_pairs(df, id_col, text_col, bos)
    # c(prev) = Σ_w c(prev, w) and the vocabulary is the distinct tok
    # set of the count matrix, so both derive from the vocab²-bounded
    # ``big`` instead of two more passes over the corpus-sized pair
    # relation (same longs, same doubles).
    big = materialize(pairs.groupBy("prev", "tok").agg(F.count("*").alias("__c2")))
    ctx = big.groupBy("prev").agg(F.sum("__c2").alias("__c1"))
    voc = big.agg(F.countDistinct("tok").alias("__v"))
    lp = F.log(
        (F.col("__c2") + F.lit(add_k)) / (F.col("__c1") + F.lit(add_k) * F.col("__v"))
    )
    return (
        pairs.join(big, ["prev", "tok"])
        .join(ctx, ["prev"])
        .crossJoin(F.broadcast(voc))
        .withColumn("__lp", lp)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            dround(F.avg("__lp"), 6).alias("avg_logprob"),
            dround(F.exp(-F.avg("__lp")), 6).alias("perplexity"),
        )
    )


def nfc_normalize(df: DataFrame, text_col: str = "text", out_col: str = "text_nfc") -> DataFrame:
    """Unicode NFC canonicalization — the first step of every corpus
    pipeline (decomposed ``e`` + U+0301 and precomposed ``é`` must hash,
    dedup, and tokenize identically).

    Spark has no built-in normalizer, so this is the one text operator
    that leaves the JVM: an Arrow-batched pandas UDF over
    ``unicodedata.normalize('NFC', …)``. Narrow per-row map — no
    shuffle, and the Arrow batch transfer (not per-row pickling) keeps
    it viable corpus-wide; place it FIRST in the pipeline so every
    downstream codegen expression sees canonical text. DuckDB twin:
    ``nfc_normalize``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return df.withColumn(out_col, _nfc(F.col(text_col)))


# Gopher quality-rule defaults (Rae et al. 2021, "Scaling Language
# Models", Table A1). The line-shape rules (bullet/ellipsis line
# fractions) need multi-line documents and are covered by the
# repetition family (with_repetition_metrics); the word-level rules
# live here.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher word-level quality rules as one codegen projection.

    Emits the per-document metrics each rule reads plus the combined
    ``keep`` verdict, so a pipeline can either filter or audit the
    rule mix. Pure Column expressions — no shuffle, no Python; at
    100 TB this is a free rider on the first corpus scan.
    """
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    tok_len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mean_len = dround(tok_len_sum / F.nullif(n_tok.cast("double"), F.lit(0.0)), 6)
    # column API (not an F.expr f-string): works for any column name
    # (spaces/dots) and keeps the regex out of SQL-string splicing
    n_symbol = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\."), F.lit(0))
    ).cast("long")
    symbol_ratio = dround(
        n_symbol / F.nullif(n_tok.cast("double"), F.lit(0.0)), 6
    )
    n_alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    alpha_word_frac = dround(
        n_alpha_words / F.nullif(n_tok.cast("double"), F.lit(0.0)), 6
    )
    stop_hits = marker_hits(F.col(text_col), GOPHER_STOPWORDS)
    keep = (
        n_tok.between(min_tokens, max_tokens)
        & mean_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_word_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        "*",
        n_tok.alias("g_n_tokens"),
        mean_len.alias("g_mean_word_len"),
        symbol_ratio.alias("g_symbol_ratio"),
        alpha_word_frac.alias("g_alpha_word_frac"),
        stop_hits.cast("long").alias("g_stop_hits"),
        keep.alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Sliding-window chunking with overlap: the context-window
    preparation step for long documents (stride < window ⇒
    ``window - stride`` tokens of overlap between consecutive chunks,
    the standard recipe for fine-tuning/retrieval corpora).

    One narrow ``explode`` of per-doc chunk starts — chunks per doc is
    ``⌈max(n - window, 0) / stride⌉ + 1``, so output size is
    ~``n_tokens / stride`` rows corpus-wide with no shuffle at all
    (chunking is embarrassingly parallel; any downstream packing/
    shuffling is a separate operator's job).

    **No token is ever dropped**: when ``n - window`` is not a stride
    multiple, a final window anchored at ``n - window`` is appended
    (deduplicated when aligned) — the HF ``return_overflowing_tokens``
    tail rule. Emits ``(id, chunk_id, n_chunk_tokens, chunk_text)``;
    empty/whitespace-only documents yield no chunks.
    """
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    # NOT fanned out (optimization r12): the r11 fan_out here regressed
    # q95 0.69× in the driver's ground truth and the r12 interleaved
    # A/B confirmed (fan ON/OFF 1.12 min-of-6, ON ≥ OFF in most reps) —
    # the bench protocol overrules the r11 "never a loss" A/Bs. The
    # scale argument (an unsplittable single-file corpus would chunk in
    # ONE task because chunking has no exchange anywhere) remains true
    # but is an ingest-layout problem (guide §2.5 "fix at the source");
    # a caller with that pathology can fan_out its input explicitly.
    base = df.select(id_col, text_col).select(
        F.col(id_col), toks.alias("__t"), F.size(toks).alias("__n")
    ).where(F.col("__n") > 0)
    last = F.greatest(F.col("__n") - window, F.lit(0))
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(0), last, F.lit(stride)),
            F.array(last),
        )
    )
    chunked = base.select(
        id_col,
        "__t",
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    chunk = F.slice(F.col("__t"), F.col("__start") + 1, F.lit(window))
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def kneser_ney_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    bos: str = "<s>",
) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM score per document — the
    smoothing KenLM actually ships (Kneser & Ney 1995; Heafield 2011),
    upgrading ``bigram_lm_scores``'s add-k:

      ``P(w|prev) = (c(prev,w) − D)/c(prev)
                    + D·N1+(prev,·)/c(prev) · N1+(·,w)/N1+(·,·)``

    The continuation probability ``N1+(·,w)/N1+(·,·)`` scores how many
    CONTEXTS a word follows, not how often it occurs — the property
    that makes KN the strongest n-gram smoother. Trained on the scored
    corpus itself (like ``bigram_lm_scores``), every scored bigram has
    ``c(prev,w) ≥ 1 > D`` so no zero-backoff branch is needed and the
    whole computation stays one oracle-checkable plan.

    Scale shape: identical to ``bigram_lm_scores`` plus two
    vocab-bounded distinct aggregates (N1+ per context, N1+ per word)
    and a 1-row broadcast of the distinct-bigram total — all keyed
    shuffles on (prev)/(tok), no driver state.
    """
    pairs = _bigram_pairs(df, id_col, text_col, bos)
    # every KN training statistic is an exact aggregation of the
    # bigram-count matrix — c(prev) = Σ_w c(prev, w); N1+(prev,·) =
    # rows per prev of the matrix (it has one row per seen (prev, w));
    # N1+(·,w) = rows per tok; N1+(·,·) = its row count — so they
    # derive from the vocab²-bounded ``big`` instead of three further
    # passes over the corpus-sized pair relation (pairs' consumers drop
    # 5 → 2). big is pinned so its aggregate runs once for its four
    # consumers.
    big = materialize(pairs.groupBy("prev", "tok").agg(F.count("*").alias("__c2")))
    ctx = big.groupBy("prev").agg(
        F.sum("__c2").alias("__c1"), F.count("*").alias("__n1p_ctx")
    )
    cont = big.groupBy("tok").agg(F.count("*").alias("__n1p_tok"))
    tot = big.agg(F.count("*").alias("__n1p_all"))
    d = F.lit(discount)
    p_kn = (F.col("__c2") - d) / F.col("__c1") + (
        d * F.col("__n1p_ctx") / F.col("__c1")
    ) * (F.col("__n1p_tok") / F.col("__n1p_all"))
    return (
        pairs.join(big, ["prev", "tok"])
        .join(ctx, ["prev"])
        .join(cont, ["tok"])
        .crossJoin(F.broadcast(tot))
        .withColumn("__lp", F.log(p_kn))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            dround(F.avg("__lp"), 6).alias("avg_logprob"),
            dround(F.exp(-F.avg("__lp")), 6).alias("perplexity"),
        )
    )


def sentence_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document sentence segmentation stats: sentence count, mean
    and max words per sentence — the document-structure quality signal
    (C4 drops docs whose 'sentences' lack terminal punctuation; Gopher
    bounds mean words/sentence). Splitting is a regex on terminal
    punctuation runs (``[.!?]+``) — a deliberate portable approximation
    (abbreviation-aware splitters are model territory, D6's seam).

    One narrow split+explode, one groupBy(id) — codegen throughout.
    """
    sents = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"[.!?]+")).alias("__s"),
    ).withColumn("__st", F.trim(F.col("__s"))).filter(F.col("__st") != "")
    n_words = F.size(F.split(F.col("__st"), r"\s+"))
    return (
        sents.withColumn("__nw", n_words)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            dround(F.avg("__nw"), 6).alias("avg_sentence_words"),
            F.max("__nw").cast("long").alias("max_sentence_words"),
        )
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram (word) Shannon entropy in nats, with token
    and type counts — the repetitiveness/templating signal (low entropy
    at high length = boilerplate; complements ``repetition_scores``'
    n-gram ratios). ``H = −Σ (c/n)·ln(c/n)`` over the doc's word
    histogram. Two keyed aggregates (doc×token, then doc), both
    map-side combined; no joins."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    ).filter(F.col("__t") != "")
    per_tok = toks.groupBy(id_col, "__t").agg(F.count("*").alias("__c"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            dround(
                F.log(F.sum("__c"))
                - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c"),
                6,
            ).alias("entropy"),
        )
    )


def zipf_slope(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_rank: int = 1000,
) -> DataFrame:
    """Zipf law fit per corpus slice: the least-squares slope of
    ``ln(freq) ~ ln(rank)`` over the top ``max_rank`` word frequencies
    (natural text ≈ −1; templated/generated slices drift). The
    corpus-health diagnostic every ingest dashboard plots.

    One (group, token) count aggregate, a rank window per group cut at
    ``max_rank`` (so the regression input is bounded per group), and
    ``regr_slope`` — a single-pass algebraic aggregate.
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("grp", "__t")
        .agg(F.count("*").alias("__c"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("__c").desc(), F.col("__t").asc())
    ranked = counts.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= max_rank
    )
    return ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_ranks"),
        dround(
            F.regr_slope(F.log("__c"), F.log("__r")), 6
        ).alias("zipf_slope"),
    ).select(F.col("grp").alias(group_col), "n_ranks", "zipf_slope")


# UTF-8 byte sequences mis-decoded as latin-1/cp1252 - the classic
# double-encoding ("mojibake") artifacts crawl text carries. Stored as
# escape sequences: several involve C1 control characters that must
# not appear raw in source. The repair table is the deterministic
# high-frequency subset of what ftfy fixes statistically.
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("\u00e2\u20ac\u00a6", "..."),
    ("\u00e2\u20ac\u2122", "'"),
    ("\u00e2\u20ac\u02dc", "'"),
    ("\u00e2\u20ac\u0153", "\""),
    ("\u00e2\u20ac\u009d", "\""),
    ("\u00e2\u20ac\u201c", "-"),
    ("\u00e2\u20ac\u201d", "-"),
    ("\u00c3\u00a9", "\u00e9"),
    ("\u00c3\u00a8", "\u00e8"),
    ("\u00c3\u00bc", "\u00fc"),
    ("\u00c2\u00a0", " "),
]

# '&amp;' decodes LAST: decoding it first turns double-escaped text
# ('5 &amp;lt; 6', which renders as '5 &lt; 6') into '&lt;' that the
# later rules then wrongly decode again — classic entity double-decode.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def clean_web_text(text: Column) -> Column:
    """Crawl-text cleanup as ONE codegen expression chain: drop
    script/style blocks wholesale, strip remaining markup tags, decode
    the common HTML entities, repair classic UTF-8-as-latin-1 mojibake
    sequences, and collapse whitespace runs - the trafilatura-lite
    normalization every web-corpus pipeline runs before quality
    scoring (full boilerplate EXTRACTION - text-density segmentation -
    is model territory; this is the deterministic rule layer).

    Pure ``regexp_replace``/``replace`` chain: no UDF, no shuffle, a
    free rider on the first corpus scan; every rule has an exact DuckDB
    twin (entity/mojibake tables are literal replaces; tag regexes are
    RE2-safe). Entity decode runs BEFORE mojibake repair so literal
    markup can't synthesize repair inputs; both run before whitespace
    collapse so replacements' spacing normalizes too.
    """
    # two patterns, not one with a backreference: RE2 (DuckDB) has
    # no backreferences, and the oracle twin must run the SAME rule
    out = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES + MOJIBAKE_MAP:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent
    token pairs (public: Church & Hanks 1990 — the classic "strongly
    associated word pairs" signal used for phrase induction / tokenizer
    seeding ahead of BPE/WordPiece training):

        PMI(w1,w2) = ln( (c12/N_bi) / ((c1/N_uni)·(c2/N_uni)) )

    with c12 counted over ADJACENT (position i, i+1) pairs, c over all
    tokens, N_bi = Σ(len−1), N_uni = Σlen. Evaluated as one double
    expression ``ln((c12·N_uni·N_uni)/(N_bi·c1·c2))`` from exact long
    counts — identical IEEE sequence in the SQL twin.

    Scale shape: bigrams are built WITHOUT a shuffle — a slice/
    transform over the token array (narrow, codegen) — then ONE
    groupBy(w1,w2) count and ONE token-count aggregate; the global
    counts broadcast onto the ≥min_count pair relation. min_count is
    the noise floor AND the skew wall: it prunes the hapax tail before
    the broadcast joins, so the pair relation is bounded by the
    frequent-bigram vocabulary, not the corpus. Final top-k is a
    TakeOrdered (pmi desc, w1, w2 asc), never a global sort.

    Returns ``(w1, w2, n_pair, n_w1, n_w2, pmi)``, pmi unrounded.
    """
    if min_count < 1:
        raise ValueError("pmi_collocations: min_count must be >= 1")
    toks = df.select(tokens(F.col(text_col)).alias("__w"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(__w, 1, greatest(size(__w) - 1, 0)),"
                " (t, i) -> struct(t AS w1, __w[i + 1] AS w2))"
            )
        ).alias("__p")
    ).select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    # c(w) >= c12 >= min_count for any surviving pair member (downward
    # closure), so the broadcast side is the FREQUENT vocabulary, not
    # the hapax-dominated full one.
    uni = (
        toks.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
        .filter(F.col("n_w") >= min_count)
    )
    totals = toks.agg(
        F.sum(F.size("__w")).cast("long").alias("__n_uni"),
        F.sum(F.greatest(F.size("__w") - 1, F.lit(0))).cast("long").alias("__n_bi"),
    )
    joined = (
        pair_counts.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (
            F.col("n_pair").cast("double")
            * F.col("__n_uni").cast("double")
            * F.col("__n_uni").cast("double")
        )
        / (
            F.col("__n_bi").cast("double")
            * F.col("n_w1").cast("double")
            * F.col("n_w2").cast("double")
        )
    )
    out = joined.select("w1", "w2", "n_pair", "n_w1", "n_w2", pmi.alias("pmi"))
    return out.orderBy(F.col("pmi").desc(), "w1", "w2").limit(top_k)


def naive_bayes_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes trained and scored on the corpus itself
    (public: the add-α multinomial NB of Manning/Raghavan/Schütze IR
    ch.13; sklearn ``MultinomialNB`` semantics with
    ``fit_prior=True``) — the cheap supervised baseline every corpus
    pipeline runs for language/domain routing before a neural model.

        score(d, c) = log P(c) + Σ_{w ∈ d} log( (c(w,c)+α) / (N_c+α·V) )

    with V the corpus vocabulary and duplicate tokens counted (true
    multinomial). Per-token log-likelihoods are quantized to integer
    micro-nats (floor(x·1e6 + 0.5)) BEFORE the per-(doc, class) sum,
    so the score is an exact integer sum — order-insensitive and
    engine-portable (the per-doc double sum a textbook implementation
    does is the one order-sensitive reduction here).

    Scale shape: ONE token explode; the (word, class) count matrix and
    the class totals are vocab-bounded aggregates. Scoring is
    CLASS-PRUNED via the exact decomposition

        score(d, c) = prior_c + n_d·lp0_c + Σ_{w∈d, (w,c) seen} (lp(w,c) − lp0_c)

    (lp0_c = the per-class unseen constant ln(α/(N_c+α·V)); the
    identity is exact in integer micro-nats because every occurrence
    of a (word, class) pair shares one floor'd value): the token
    stream inner-joins only the SPARSE seen (word, class) matrix, so
    emitted rows grow with matrix sparsity — NOT |tokens|·|classes|
    (the dense product was 120M rows at the 500k-doc probe). A class
    with zero seen overlap can still win via its background line
    prior_c + n·lp0_c; that side is an argmax over the |C|-row
    relation per DISTINCT token count (≤ max-doc-length
    rows × |C|, driver-free), unioned as one extra candidate per doc —
    correct because a seen class's full score always dominates its own
    background, so the over-all-classes max equals
    max(seen candidates ∪ {background winner}).

    Returns ``(id, pred_label, score_micro)`` — score_micro is the
    winning class's integer micro-nat score including the prior
    (argmax ties break on ascending label).

    The |V|·|C| precomputed log-likelihood matrix is broadcast-joined
    onto the token stream (measured 2.4× faster than letting the
    planner shuffle the 120M-row token side).

    The exploded token relation is pinned (it feeds the stats
    aggregate AND the scoring join).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.col(label_col).alias("__y"), tokens(F.col(text_col)).alias("__w")
    )
    tok = materialize(toks.select(id_col, "__y", F.explode("__w").alias("__t")))
    # training statistics (the corpus is its own training set).
    # The class totals and the vocabulary count are EXACT aggregations
    # of the (word, class) count matrix — N_c = Σ_t c(t, c) and
    # V = |distinct t in wc| — so they derive from the vocab-bounded wc
    # relation instead of re-scanning the corpus-sized token relation
    # (two fewer full passes; tok's consumers drop 5 → 3).
    # The per-doc token counts fold into the SAME corpus pass via
    # GROUPING SETS ((token, class), (id)) — the Expand ×2 adds only
    # ~5% to the one pass while a separate doc-length aggregate costs a
    # full scan plus its own exchange and job (measured at sf0.1,
    # min-of-3 noop: fresh tok 0.208 vs 0.389 s, PERSISTED tok 0.169 vs
    # 0.241 s — the fold wins both regimes). Counts at both
    # granularities are exact longs of the same rows, so values are
    # bit-identical (pinned by tests/test_r12_fixes.py). tok's
    # consumers drop 3 → 2 (this pass + the scoring join); the combined
    # stats relation is pinned (engine.materialize) so the aggregate
    # runs once for wc's three consumers and nd's two.
    stats = materialize(
        tok.groupingSets([["__t", "__y"], [id_col]], "__t", "__y", id_col).agg(
            F.count(F.lit(1)).cast("long").alias("__cnt"),
            F.grouping_id().alias("__gid"),
        )
    )
    # grouping_id bits follow the groupBy column order (__t, __y, id):
    # the (token, class) set aggregates id away -> 0b001 = 1; the (id)
    # set aggregates __t and __y away -> 0b110 = 6.
    wc = stats.filter(F.col("__gid") == 1).select(
        "__t", F.col("__y").alias("__c"), "__cnt"
    )
    class_tot = wc.groupBy("__c").agg(
        F.sum("__cnt").cast("long").alias("__nc")
    )
    priors = toks.groupBy(F.col("__y").alias("__c")).agg(
        F.count(F.lit(1)).cast("long").alias("__dc")
    )
    vocab_n = wc.select("__t").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__v")
    )
    n_docs = toks.agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    classes = (
        class_tot.join(F.broadcast(priors), "__c")
        .crossJoin(F.broadcast(vocab_n))
        .crossJoin(F.broadcast(n_docs))
    )
    a = float(alpha)
    # Precompute log-likelihood micro-nats ON THE COUNT MATRIX
    # (|V|·|C| rows) instead of per token occurrence: the floor'd
    # value of a (word, class) pair is identical for every occurrence,
    # so cnt·lp_micro equals the per-occurrence sum exactly while the
    # expensive ln drops from |tokens|·|C| calls to |V|·|C| + |C|
    # (a per-(doc, token) pre-aggregation was tried and reverted: its
    # extra 30M-row shuffle cost more than the saved lns on a low-
    # duplication corpus — see PERF). Unseen pairs share one per-class
    # constant ln(α/(N_c+α·V)).

    def _lp_micro(cnt_expr):
        return F.floor(
            F.log(
                (cnt_expr.cast("double") + F.lit(a))
                / (
                    F.col("__nc").cast("double")
                    + F.lit(a) * F.col("__v").cast("double")
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")

    wc_lp = wc.join(F.broadcast(classes), "__c").select(
        "__t", "__c", _lp_micro(F.col("__cnt")).alias("__lp")
    )
    unseen = classes.select("__c", _lp_micro(F.lit(0)).alias("__lp0"))
    prior_micro = F.floor(
        F.log(F.col("__dc").cast("double") / F.col("__nd").cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    # (__c, prior micro-nats, unseen-constant micro-nats) — |C| rows
    base = classes.select("__c", prior_micro.alias("__pm")).join(
        F.broadcast(unseen), "__c"
    )
    # Sparse delta matrix: only SEEN (word, class) pairs, value =
    # lp − lp0 ≥ 0 (a count ≥ 1 never scores below the unseen
    # constant — the dominance the candidate-union correctness rests
    # on; floor quantization can make it 0, never negative).
    delta = wc_lp.join(F.broadcast(unseen), "__c").select(
        "__t", "__c", (F.col("__lp") - F.col("__lp0")).alias("__d")
    )
    # Seen-overlap sums: inner join on the token only — emitted rows
    # = Σ over occurrences of |classes that saw this word|, bounded by
    # matrix sparsity, not |tokens|·|C|.
    seen_scores = (
        tok.select(id_col, "__t")
        .join(F.broadcast(delta), "__t")
        .groupBy(id_col, "__c")
        .agg(F.sum("__d").alias("__s"))
    )
    nd = stats.filter(F.col("__gid") == 6).select(
        F.col(id_col), F.col("__cnt").alias("__n")
    )
    # Background winner per DISTINCT doc length: argmax_c of the line
    # prior_c + n·lp0_c (ties: ascending class, matching the final
    # argmax tie-break).
    wbg = Window.partitionBy("__n").orderBy(
        F.col("__bg").desc(), F.col("__c").asc()
    )
    bg = (
        nd.select("__n")
        .distinct()
        .crossJoin(F.broadcast(base))
        .select(
            "__n",
            "__c",
            (F.col("__pm") + F.col("__n") * F.col("__lp0")).alias("__bg"),
        )
        .withColumn("__rn", F.row_number().over(wbg))
        .filter(F.col("__rn") == 1)
        .select("__n", F.col("__c").alias("__bgc"), F.col("__bg").alias("__bgs"))
    )
    full = (
        seen_scores.join(nd, id_col)
        .join(F.broadcast(base), "__c")
        .select(
            id_col,
            "__c",
            (F.col("__pm") + F.col("__n") * F.col("__lp0") + F.col("__s")).alias(
                "__score"
            ),
        )
    )
    bg_doc = nd.join(F.broadcast(bg), "__n").select(
        id_col, F.col("__bgc").alias("__c"), F.col("__bgs").alias("__score")
    )
    cand = full.unionByName(bg_doc)
    w = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col("__c").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__c").alias("pred_label"),
            F.col("__score").alias("score_micro"),
        )
    )
