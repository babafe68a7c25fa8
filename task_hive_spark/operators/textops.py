"""Text-analysis operators over the documents table (training-data
pipeline surface): language-ID, quality scoring, token counting,
fingerprinting. All built-in-function expressions — at 100 TB these are
embarrassingly parallel map stages with a small final aggregation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    fingerprint,
    portable_hash32,
    punct_ratio,
    quality_score,
    stopword_hits,
    ws_token_count,
    ws_tokens,
)
from task_hive_spark.functions.report import report_sort
from task_hive_spark.functions.prefix import bucketed_prefix
from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.materialize import session_index, session_memo
from task_hive_spark.sources.fixtures import load_table


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document scalar profile as a session index: (doc_id, lang,
    source, n_chars, ws_tokens, bpe_tokens, punct_ratio_raw, quality,
    fp), hash-partitioned by doc_id and persisted once per session.

    The regex scans behind these columns (tokenizer counts, punctuation
    ratio, the md5 fingerprint) are the dominant map-stage cost of every
    profile/mix/filter query; a production pipeline materializes its
    per-doc stats table once and every report reads it. Fixed width per
    doc — an index, not an expansion — so persisting is scale-safe; the
    doc_id partitioning makes joins against token_index-derived signals
    (filter pipeline) exchange-free on this side."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.repartition(n, "doc_id").select(
            "doc_id",
            "lang",
            "source",
            F.length("text").cast("int").alias("n_chars"),
            ws_token_count(F.col("text")).cast("int").alias("ws_tokens"),
            bpe_ish_token_count(F.col("text")).cast("int").alias("bpe_tokens"),
            punct_ratio(F.col("text")).alias("punct_ratio_raw"),
            quality_score(F.col("text")).alias("quality"),
            fingerprint(F.col("text")).alias("fp"),
        )

    return session_index(spark, sf_dir, "doc_stats", build)


def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokens per doc — a
    projection of the materialized doc_stats index."""
    return doc_stats(spark, sf_dir).select(
        "doc_id",
        "lang",
        "ws_tokens",
        "bpe_tokens",
        F.col("n_chars").alias("n_chars_actual"),
    ).orderBy("doc_id")


def txt_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / word-shape / punctuation composite —
    a projection of the materialized doc_stats index."""
    return doc_stats(spark, sf_dir).select(
        "doc_id",
        F.col("ws_tokens").alias("n_tokens"),
        F.round("punct_ratio_raw", 6).alias("punct_ratio"),
        "quality",
    ).orderBy("doc_id")


def txt_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax stopword-hit count across the four
    candidate languages ('zh'-style CJK would use a script check; the
    fixture corpus is space-tokenized). Ties → 'und', matching the
    oracle's deterministic CASE."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        *[stopword_hits(F.col("text"), lg).alias(f"hits_{lg}") for lg in STOPWORDS],
    )
    hit_cols = [f"hits_{lg}" for lg in STOPWORDS]
    best = F.greatest(*[F.col(c) for c in hit_cols])
    pred = F.when(best == 0, "und")
    for lg in STOPWORDS:  # first-wins order must match oracle CASE order
        pred = pred.when(F.col(f"hits_{lg}") == best, lg)
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(c).cast("int").alias(c) for c in hit_cols],
        pred.alias("predicted_lang"),
    ).orderBy("doc_id")


def txt_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (exact-dedup
    key) + a 64-bit rolling-style prefix for bucketing. The md5 comes
    from the doc_stats index (hashed once per session); the prefix is a
    cheap string expression over it."""
    return doc_stats(spark, sf_dir).select(
        "doc_id",
        F.col("fp").alias("fingerprint"),
        F.conv(F.substring("fp", 1, 15), 16, 10).cast("bigint").alias("fp64"),
    ).orderBy("doc_id")


def txt_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus roll-up: per (lang, source) token/quality profile — the
    'what goes in the training mix' query. A cached-scan aggregate over
    the doc_stats index: the tokenizer/quality regexes run once per
    session, not once per report."""
    # exact-integer aggregation: token counts sum as longs, and quality
    # (already rounded to 6 dp by quality_score) rides as exact 1e-6
    # units — a double AVG is summation-order-dependent in the last ulp,
    # and the cached index's doc_id partitioning orders the fold
    # differently than the oracle's scan (a boundary group flipped the
    # 6-dp rounding at sf0.001 before this)
    enriched = doc_stats(spark, sf_dir).select(
        "lang",
        "source",
        F.col("ws_tokens").cast("long").alias("n_tokens"),
        (F.col("quality") * 1000000 + F.lit(0.5)).cast("long").alias("q_e6"),
    )
    out = (
        enriched.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_tokens").cast("double"), 2).alias("total_tokens"),
            F.round(
                F.sum("q_e6") / (F.lit(1000000.0) * F.count("*")), 6
            ).alias("avg_quality"),
        )
    )
    # report-sized output: one-exchange deterministic sort (functions/report.py)
    return report_sort(out, "lang", "source")


CHUNK_TOKENS = 64  # window size
CHUNK_STRIDE = 48  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16 tokens


def txt_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: overlapping fixed-token windows — the
    context-window packing primitive of a training pipeline. Chunk i
    covers tokens [i·stride, i·stride + window); the last chunk is the
    first one whose window reaches the end (short tail allowed). Pure
    per-row array expressions (sequence → transform → explode): an
    embarrassingly parallel map stage, no shuffle until the final
    display sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = ws_token_count(F.col("text"))
    n_chunks = F.ceil(F.greatest(n - CHUNK_TOKENS, F.lit(0)) / F.lit(CHUNK_STRIDE)) + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.least(n - i * CHUNK_STRIDE, F.lit(CHUNK_TOKENS)).cast("int").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(toks, (i * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS)
            ).alias("chunk_text"),
        ),
    )
    return (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_text")
        .orderBy("doc_id", "chunk_idx")
    )


MIX_QUALITY_MIN = 0.5


def txt_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mix accounting — the composition a real
    pipeline runs nightly: exact-dedup keep decision (fingerprint
    groupBy, canonical = min doc_id) × quality gate, rolled up per
    language with kept/dropped token budgets. One fingerprint shuffle +
    one group-by — every per-doc column comes from the materialized
    doc_stats index (scored once per session)."""
    scored = doc_stats(spark, sf_dir).select(
        "doc_id",
        "lang",
        "fp",
        F.col("ws_tokens").cast("long").alias("n_tokens"),
        "quality",
    )
    # canonical flag via a window min over the fp partition — the same
    # single fingerprint shuffle the groupBy+join form pays, minus the
    # join and the second traversal of the scored subtree
    flagged = scored.withColumn(
        "canonical_doc_id", F.min("doc_id").over(W.partitionBy("fp"))
    ).select(
        "lang",
        "n_tokens",
        # quality in exact 1e-6 units: the kept-average is then an
        # integer sum / count — summation-order-independent, where a
        # double AVG could flip the 6-dp rounding depending on how the
        # cached index partitions the fold (see txt_corpus_profile)
        (F.col("quality") * 1000000 + F.lit(0.5)).cast("long").alias("q_e6"),
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
        (F.col("quality") >= MIX_QUALITY_MIN).alias("passes_quality"),
    )
    kept = F.col("is_canonical") & F.col("passes_quality")
    n_kept = F.sum(kept.cast("long"))
    out = (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            n_kept.alias("n_kept"),
            F.sum((~F.col("is_canonical")).cast("long")).alias("n_dup_dropped"),
            F.sum(
                (F.col("is_canonical") & ~F.col("passes_quality")).cast("long")
            ).alias("n_quality_dropped"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
            F.when(
                n_kept > 0,
                F.round(
                    F.sum(F.when(kept, F.col("q_e6"))) / (F.lit(1000000.0) * n_kept),
                    6,
                ),
            ).alias("kept_avg_quality"),
        )
        
    )
    return report_sort(out, "lang")


# per-language keep rates for mix rebalancing (basis points of 10000)
SAMPLE_BP = {"en": 10000, "de": 5000, "fr": 2500, "es": 2500}
SAMPLE_BP_DEFAULT = 1000


def txt_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for mix rebalancing: keep a
    doc iff its md5-derived bucket (0..9999) falls under its language's
    rate. Hash-based sampling — unlike RNG `sample()` — is reproducible
    across engines, runs, AND retries of a failed partition (exactly
    the property a production pipeline needs), and never shuffles: the
    decision is a map-stage expression."""
    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string"), seed="samp-") % 10000
    rate = F.lit(SAMPLE_BP_DEFAULT)
    for lg, bp in SAMPLE_BP.items():
        rate = F.when(F.col("lang") == lg, bp).otherwise(rate)
    return d.select(
        "doc_id",
        "lang",
        bucket.cast("int").alias("bucket"),
        rate.cast("int").alias("rate_bp"),
        (bucket < rate).alias("kept"),
    ).orderBy("doc_id")


# Lexicon-based sentiment (the Spark-EDBT-2016 dictionary pattern the
# SURVEY build plan names): deterministic word lists over the fixture
# vocabulary stand in for a real polarity lexicon — the operator shape
# (per-token lexicon membership folded to a per-doc polarity score,
# pure map stage) is what transfers to a real lexicon at scale.
SENT_POS = ["fast", "small", "value"]
SENT_NEG = ["slow", "big"]
SENT_EPS = 0.02  # |score| <= eps → neutral


def txt_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document polarity: score = (pos_hits − neg_hits)/ntok with
    multiplicity (array_intersect would dedup — a doc saying 'fast'
    five times IS more positive), labeled pos/neg/neutral at ±SENT_EPS.
    Shuffle-free: lexicon membership is an array filter over the
    materialized token_index; the only exchange is the display sort."""
    t = token_index(spark, sf_dir)

    def hits(words: list[str]):
        return F.size(F.filter("toks", lambda tok: tok.isin(*words)))

    n_pos = hits(SENT_POS)
    n_neg = hits(SENT_NEG)
    score = F.round((n_pos - n_neg) / F.col("ntok"), 6)
    return t.select(
        "doc_id",
        n_pos.cast("int").alias("n_pos"),
        n_neg.cast("int").alias("n_neg"),
        score.alias("score"),
        F.when(score > SENT_EPS, "pos")
        .when(score < -SENT_EPS, "neg")
        .otherwise("neutral")
        .alias("label"),
    ).orderBy("doc_id")


ARES_K = 5  # reservoir size per language stratum


def txt_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): per language stratum keep the ARES_K docs with the
    largest key u^(1/w), where w is the doc's quality score and u a
    hash-derived uniform — the importance-sampling pass a curation
    pipeline runs to over-select high-quality documents while keeping
    every doc some chance. Hash-derived u (not RNG) makes the draw
    reproducible across engines, runs, and task retries, like
    txt_hash_sample.

    Scale shape: the key is a map-stage expression; top-k is TWO-LEVEL
    so no language ever funnels through one task — per-(lang, input
    partition) reservoirs first (parallel window over a high-cardinality
    key), then the global per-lang rank over at most K·n_partitions
    survivors. The intermediate depends on partitioning; the RESULT
    doesn't (top-k of per-part top-ks is the global top-k). Keys are
    rounded to 6 dp with a doc_id tie-break before the cutoff so the
    ranking is identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    h32 = portable_hash32(F.col("doc_id").cast("string"), seed="ares-")
    u = (h32 + F.lit(0.5)) / F.lit(4294967296.0)
    weight = quality_score(F.col("text")) + F.lit(0.01)
    keyed = d.select(
        "lang",
        "doc_id",
        weight.alias("weight"),
        F.round(F.pow(u, F.lit(1.0) / weight), 6).alias("samp_key"),
    )
    pre = keyed.withColumn("pid", F.spark_partition_id())
    w1 = W.partitionBy("lang", "pid").orderBy(F.desc("samp_key"), "doc_id")
    cand = (
        pre.withColumn("prn", F.row_number().over(w1))
        .where(F.col("prn") <= ARES_K)
        .drop("pid", "prn")
    )
    w2 = W.partitionBy("lang").orderBy(F.desc("samp_key"), "doc_id")
    return report_sort(
        cand.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= ARES_K)
        .select("lang", "rank", "doc_id", F.round("weight", 6).alias("weight"), "samp_key"),
        "lang",
        "rank",
    )


def token_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized corpus as a session index: (doc_id, toks, ntok)
    over non-empty docs, lower-cased whitespace tokens, hash-partitioned
    by doc_id and persisted once per session. Every gram/token consumer
    (repetition filter, decontamination, filter pipeline, unigram LM)
    reads this instead of re-running the regex tokenizer over the raw
    text — the tokenizer is the dominant map-stage cost of the txt_*
    family, and a production pipeline materializes its tokenized corpus
    exactly once for the same reason.

    Scale note: this is ~1× the corpus re-encoded as arrays, NOT a gram
    explosion (those stay uncached — see materialize.py); persistence is
    MEMORY_AND_DISK so an oversized corpus spills instead of OOMing, and
    the doc_id hash partitioning makes every downstream per-doc
    aggregation exchange-free."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
        return (
            d.repartition(n, "doc_id")
            .select("doc_id", ws_tokens(F.lower("text")).alias("toks"))
            .withColumn("ntok", F.size("toks"))
        )

    return session_index(spark, sf_dir, "token_index", build)


def _toks_ngrams(t: DataFrame, n: int) -> DataFrame:
    """Non-distinct word n-grams per doc over a (doc_id, toks, ntok)
    frame (same shape as dedup._doc_shingles but keeping duplicates —
    repetition analysis NEEDS the multiplicities). Docs shorter than n
    words yield their whole text as one gram.

    Grams are built fully codegen-side in ONE stage: posexplode the
    tokens, then index the retained array for the n-1 following tokens
    (try_element_at → null past the end; null-skipping concat_ws
    reproduces the short-doc whole-text gram). No window: the earlier
    window-lead form paid a per-partition (doc_id, pos) sort for
    neighbor access the array lookup gives for free."""
    toks = t.select(
        "doc_id", "toks", "ntok", F.posexplode("toks").alias("pos", "tok")
    )
    nexts = [F.try_element_at("toks", F.col("pos") + 1 + i) for i in range(1, n)]
    g = toks.select(
        "doc_id", "pos", "ntok", F.concat_ws(" ", "tok", *nexts).alias("gram")
    )
    return g.where(F.col("pos") <= F.greatest(F.col("ntok") - n, F.lit(0))).select(
        "doc_id", "gram"
    )


def _toks_ngram_hashes(t: DataFrame, n: int) -> DataFrame:
    """64-bit n-gram hashes per doc — the decontamination form: hash the
    token TUPLE (xxhash64 is length-prefixed per field, so no boundary
    gluing) instead of materializing the gram string. Equal tuples hash
    equal and tokens never contain whitespace, so the hash equivalence
    classes are exactly the string-gram classes (modulo 2^-64
    collisions — the same trade GPT-3-style hashed-13-gram
    decontamination makes in production). Same short-doc whole-text
    semantics as _toks_ngrams — because Spark's xxhash64 SKIPS null
    inputs: a short doc's try_element_at nulls past the array end drop
    out of the hash, so hash(a, b, NULL) == hash(a, b), exactly the
    oracle's whole-text string gram 'a b'. A null-SENSITIVE hash
    swapped in here would silently change short-doc equivalence
    classes and break decontamination parity."""
    toks = t.select(
        "doc_id", "toks", "ntok", F.posexplode("toks").alias("pos", "tok")
    )
    nexts = [F.try_element_at("toks", F.col("pos") + 1 + i) for i in range(1, n)]
    g = toks.select(
        "doc_id", "pos", "ntok", F.xxhash64("tok", *nexts).alias("gh")
    )
    return g.where(F.col("pos") <= F.greatest(F.col("ntok") - n, F.lit(0))).select(
        "doc_id", "gh"
    )


# Gopher-style repetition gates (Rae et al. 2021 §A1.1 uses duplicate
# line/paragraph and top-ngram fractions; the fixture corpus has no
# line structure, so the 2-gram fraction carries that role). Thresholds
# calibrated on the fixtures to split the corpus non-trivially.
REP_TOP2_MAX = 0.05  # max share of the most frequent 2-gram
REP_DISTINCT_MIN = 0.4  # min distinct-token ratio


def gopher_signals_of(t: DataFrame) -> DataFrame:
    """The Gopher repetition signals per non-empty doc of a (doc_id,
    toks, ntok) frame: (doc_id, ntok, top2_frac_raw,
    distinct_ratio_raw). ONE construction shared by
    txt_repetition_filter, txt_filter_pipeline and the cleaned-corpus
    materializer (pipeline.py, which gates the AUGMENTED dedup corpus)
    — the thresholds are correctness-bearing, so the signal arithmetic
    must not drift between the standalone gate and the compositions.
    Scale shape: the 2-gram explosion is co-partitioned by doc_id (one
    |docs|-row shuffle), both aggregations run exchange-free on top of
    it, and the distinct-ratio branch is a pure map stage joined back
    on the same partitioning; every non-empty doc emits ≥1 gram, so the
    inner join is total over the frame's domain."""
    cnt = _toks_ngrams(t, 2).groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    rep = cnt.groupBy("doc_id").agg(
        (F.max("c") / F.sum("c")).alias("top2_frac_raw"),
    )
    ratio = t.select(
        "doc_id",
        "ntok",
        (F.size(F.array_distinct("toks")) / F.col("ntok")).alias("distinct_ratio_raw"),
    )
    return ratio.join(rep, "doc_id")


def _gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_signals_of(token_index(spark, sf_dir))


def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate: per doc, the most-frequent-2-gram
    share and the distinct-token ratio; keep iff both are inside their
    thresholds. Reads the shared _gopher_signals construction (which
    itself reads the materialized token_index — the regex tokenizer
    never reruns)."""
    keep = (F.col("top2_frac_raw") <= REP_TOP2_MAX) & (
        F.col("distinct_ratio_raw") >= REP_DISTINCT_MIN
    )
    return report_sort(
        _gopher_signals(spark, sf_dir).select(
            "doc_id",
            F.col("ntok").cast("int").alias("n_tokens"),
            F.round("distinct_ratio_raw", 6).alias("distinct_ratio"),
            F.round("top2_frac_raw", 6).alias("top2_frac"),
            keep.alias("keep"),
        ),
        "doc_id",
    )


# Benchmark-contamination check (the decontamination pass every
# training pipeline runs against its eval suites): the "benchmark" is
# the deterministic doc_id % 97 slice of the corpus; a training doc is
# contaminated if it shares ≥1 word n-gram with any benchmark doc.
# Production uses 13-grams (GPT-3 appendix C); the fixture texts are
# ~50 tokens from a tiny vocabulary, so n=3 keeps the overlap rate
# non-degenerate. Same inverted-index shape either way.
DECON_NGRAM = 3
DECON_EVAL_MOD = 97


def txt_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: benchmark grams are DISTINCT n-grams
    of the doc_id % DECON_EVAL_MOD slice — a small set, broadcast; the
    training side is one map-filter join against it (never a shuffle of
    the corpus), then a per-doc count. At 100 TB the benchmark side is
    fixed-size (the eval suites), so the broadcast holds.

    Both branches read the materialized token_index: the corpus is
    tokenized ONCE per session (at index build), and each branch is a
    cache-scan + filter + gram explosion — no raw-text re-scan, no
    re-tokenize (the regex tokenizer was the measured residual cost of
    the previous scan-once-per-query form). Grams travel as 64-bit
    tuple hashes (_toks_ngram_hashes), never as strings: the broadcast
    is 8 bytes/gram and the per-doc distinct aggregation dedups longs —
    the production hashed-n-gram decontamination design."""
    t = token_index(spark, sf_dir)
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    # raw (non-distinct) benchmark grams: the probe below is an OUTER
    # broadcast join and the per-doc overlap count is count(DISTINCT
    # gram) over matched grams only, so eval-side duplicates can't
    # inflate anything — skipping the distinct (an exchange on gram)
    # leaves the whole eval branch as one cache-scan+explode feeding
    # the broadcast build
    ev = _toks_ngram_hashes(t.where(is_eval), DECON_NGRAM).select(
        "gh", F.lit(1).alias("bench_hit")
    )
    # ONE pass over the training gram stream: the broadcast LEFT join
    # marks contaminated grams in-line and the conditional distinct
    # count aggregates exchange-free on top of the index's doc_id
    # partitioning. Every non-empty doc emits ≥1 gram row, so the
    # per-doc aggregate IS the full training roster — no separate
    # doc_id branch to left-join back (the earlier hits-then-join-back
    # form paid an extra scan, an extra join, and two more stage-floor
    # units for the same answer).
    out = (
        _toks_ngram_hashes(t.where(~is_eval), DECON_NGRAM)
        .join(F.broadcast(ev), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct(F.when(F.col("bench_hit") == 1, F.col("gh")))
            .cast("int")
            .alias("n_shared_ngrams")
        )
        .select(
            "doc_id",
            "n_shared_ngrams",
            (F.col("n_shared_ngrams") > 0).alias("contaminated"),
        )
    )
    return report_sort(out, "doc_id")


# The fixture corpus carries no PII; the scrub operator derives an
# augmented corpus with deterministic synthetic emails/phones (shared
# SQL, one source of truth for Spark and the oracle — the dedup
# CORPUS_SQL pattern).
PII_CORPUS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0
            THEN text || ' contact user' || CAST(doc_id AS STRING) || '@example.com now'
            WHEN doc_id % 17 = 0
            THEN text || ' call +1 555 ' || CAST(1000 + doc_id % 9000 AS STRING) || ' today'
            ELSE text END AS text,
       lang
FROM documents
"""

EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+[0-9][0-9 ]{5,}[0-9]"


def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone patterns (regex map
    stage, embarrassingly parallel). Output is the redaction
    accounting — match counts and the redacted-length delta — so the
    gate is integer-exact."""
    # register via the shared memoized path — a bare
    # createOrReplaceTempView("documents") here bypassed the
    # _REGISTERED memo, so a mixed-sf_dir session could end up with
    # 'documents' pointing at a different dataset than every other view
    from task_hive_spark.sources.fixtures import register_fixture_views

    register_fixture_views(spark, sf_dir)
    d = spark.sql(PII_CORPUS_SQL)
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
            F.regexp_count(F.col("text"), F.lit(PHONE_RE)).cast("int").alias("n_phones"),
            (F.length("text") - F.length(redacted)).cast("int").alias("chars_redacted"),
        )
        .orderBy("doc_id")
    )


def txt_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length distribution per language (the mix-design histogram):
    explicit power-of-two char buckets — a CASE ladder, not
    floor(log2(x)), so bucket edges are integer-exact cross-engine.
    One cached-index scan + one small group-by."""
    ln = F.col("n_chars")
    bucket = (
        F.when(ln < 64, 0)
        .when(ln < 128, 1)
        .when(ln < 256, 2)
        .when(ln < 512, 3)
        .otherwise(4)
    )
    return (
        doc_stats(spark, sf_dir)
        .select(
            "lang",
            bucket.cast("int").alias("len_bucket"),
            F.col("ws_tokens").cast("long").alias("n_tokens"),
        )
        .groupBy("lang", "len_bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("lang", "len_bucket")
    )


# Mean unigram negative-log-likelihood keep gate. The synthetic corpus
# draws from a near-uniform vocabulary, so the NLL spread is tight
# (~3.39–3.41 at every sf); the gate sits at the median so it splits
# the corpus non-trivially. Both engines compare the identical rounded
# avg_nll, so the boundary is deterministic.
NLL_KEEP_MAX = 3.402

# Target language mix for rebalancing (shares sum to 1): the fixture
# corpus is ~43% en by tokens; the target downsamples en toward 30%.
MIX_TARGETS = {"en": 0.30, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175}


def txt_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing — the sampling-rate computation a
    pipeline runs to hit a target token mix without upsampling: the
    achievable rebalanced size M is bounded by the most-constrained
    language (M = min over langs of actual/share), every language is
    sampled at share·M/actual ≤ 1, and the binding language keeps rate
    1.0. Two tiny aggregations (per-lang profile + the scalar M) — the
    heavy work is the same single corpus pass every profile query pays;
    at 100 TB the 5-row profile and scalar are driver-free broadcast
    joins. The token counts come from the doc_stats index."""
    share = F.create_map(
        *[F.lit(x) for kv in sorted(MIX_TARGETS.items()) for x in kv]
    )[F.col("lang")]
    prof = (
        doc_stats(spark, sf_dir)
        .select("lang", F.col("ws_tokens").cast("long").alias("n_tokens"))
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("actual_tokens"))
        .withColumn("target_share", share)
    )
    m = prof.agg(
        F.min(F.col("actual_tokens") / F.col("target_share")).alias("m_total")
    )
    return (
        prof.crossJoin(F.broadcast(m))
        .select(
            "lang",
            "actual_tokens",
            F.round("target_share", 6).alias("target_share"),
            F.floor(F.col("target_share") * F.col("m_total")).cast("long").alias(
                "sampled_tokens"
            ),
            F.round(
                F.least(
                    F.col("target_share") * F.col("m_total") / F.col("actual_tokens"),
                    F.lit(1.0),
                ),
                6,
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


# Temperature-based multilingual sampling (the XLM-R / mT5 α-sampling
# rule, Conneau et al. 2020 §3.1): draw language l with probability
# p_l ∝ s_l^α, α < 1 flattening the natural distribution so
# low-resource languages are upsampled without destroying the
# high-resource signal. α is a dyadic rational (eighths) so s^α =
# exp(α·ln s) uses an exactly-representable exponent in both engines.
MIX_ALPHA = 0.375


def txt_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture: derive the training mix FROM the corpus
    (p_l ∝ share_l^α) rather than toward an externally-given target
    (txt_mix_rebalance's waterfill) — the two standard mixture modes.
    Per language: natural token share, temperature share, and the
    oversample factor (temp/natural — >1 means the language is drawn
    more often than its natural rate; the rarest language gets the
    biggest boost). Shape: one 5-row aggregation over the doc_stats
    index plus two scalar broadcasts — the same budget as every other
    mix query; nothing scales with the corpus."""
    prof = (
        doc_stats(spark, sf_dir)
        .select("lang", F.col("ws_tokens").cast("long").alias("n_tokens"))
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("actual_tokens"))
    )
    tot = prof.agg(F.sum("actual_tokens").alias("t_all"))
    shared = prof.crossJoin(F.broadcast(tot)).withColumn(
        "share_raw", F.col("actual_tokens") / F.col("t_all")
    )
    powed = shared.withColumn(
        "pow_raw", F.pow(F.col("share_raw"), F.lit(MIX_ALPHA))
    )
    z = powed.agg(F.sum("pow_raw").alias("z"))
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "actual_tokens",
            F.round("share_raw", 6).alias("natural_share"),
            F.round(F.col("pow_raw") / F.col("z"), 6).alias("temp_share"),
            F.round(
                (F.col("pow_raw") / F.col("z")) / F.col("share_raw"), 6
            ).alias("oversample_factor"),
        )
        .orderBy("lang")
    )


def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus unigram LM table (tok, cnt) as a session index —
    ONE definition for every consumer (_unigram_scores' NLL probe, the
    bigram LM's interpolation terms). session_index caches by name, so
    a second registered builder would be a silent first-run-wins
    collision; deriving from doc_term_freq keeps it a second-level
    aggregate of the already-materialized bag-of-words (no extra token
    explosion)."""

    def build() -> DataFrame:
        return (
            doc_term_freq(spark, sf_dir)
            .groupBy("tok")
            .agg(F.sum("tf").alias("cnt"))
        )

    return session_index(spark, sf_dir, "unigram_vocab", build)


def _unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality proxy — the cheap stand-in for the
    KenLM perplexity filter a CCNet-style pipeline runs: score every doc
    by the mean negative log-likelihood of its tokens under the corpus's
    own unigram distribution (docs full of rare/garbage tokens score
    high, formulaic docs low), and gate on NLL_KEEP_MAX.

    Shape: one token explosion co-partitioned by doc_id; the vocabulary
    (token → count) is one token-keyed aggregation whose result is a
    fixed-size LM table, BROADCAST back onto the token stream so the
    per-doc scoring aggregation stays exchange-free on doc_id. At 100 TB
    the vocab outgrows a broadcast — production either caps to top-V
    plus an OOV smoothing constant (the standard trick, keeps the
    broadcast) or shuffle-joins on token; the fixture-true broadcast is
    the former's shape. The token stream reads the materialized
    token_index, so tokenization is paid once per session."""
    def build() -> DataFrame:
        toks = token_index(spark, sf_dir).select(
            "doc_id", F.explode("toks").alias("tok")
        )
        vocab = unigram_vocab(spark, sf_dir)
        total = vocab.agg(F.sum("cnt").alias("n_total"))
        nll = -F.log(F.col("cnt") / F.col("n_total"))
        return (
            toks.join(F.broadcast(vocab), "tok")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("int").alias("n_tokens"),
                F.round(F.avg(nll), 6).alias("avg_nll"),
            )
            .withColumn("keep", F.col("avg_nll") <= NLL_KEEP_MAX)
        )

    # fixed width per doc and read by THREE consumers (the registered
    # logprob query, the classifier's teacher labels — twice per run:
    # the labeled join and the prior — and the distillation tests):
    # worth the session index; the token explosion behind it was the
    # classifier's dominant repeated cost (measured 1.8s/run at sf0.1)
    return session_index(spark, sf_dir, "unigram_scores", build)


def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered (ordered) form of _unigram_scores; the quality
    classifier joins the unordered core instead — a global sort feeding
    a join is wasted work at any scale."""
    return _unigram_scores(spark, sf_dir).orderBy("doc_id")


FILTER_MIN_TOKENS = 5  # shorter docs carry no training signal


# Memo of the CONSTRUCTED gate-roster frame per (session, sf_dir) —
# an UNMATERIALIZED logical plan, no rows, no persisted blocks: every
# action on it (or on frames composed over it) still computes from the
# parquet inputs. What it saves is the plan CONSTRUCTION itself: the
# gate stack is ~860 py4j round-trips of eager JVM analysis (~0.4-0.7 s
# driver time, zero jobs — profiled r13-opt session 3), re-paid by
# every consumer (txt_tokenized_dataset re-builds it per call). Plan
# objects are immutable, so sharing one is semantics-free.


def txt_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop roster a training pipeline materializes
    before tokenization: every gate in one pass, with the FIRST failing
    gate as the drop reason — too_short → duplicate (exact-dedup
    canonical) → low_quality (composite score) → repetitive (Gopher
    gates) → low_likelihood (the bigram-LM perplexity gate, the same
    exact-integer arithmetic txt_bigram_lm_score gates on) — the
    RefinedWeb/DCLM gate stack end-to-end. Shape: one
    fingerprint-window shuffle (the dedup decision) over the
    materialized doc_stats index, one doc_id-co-partitioned 2-gram
    explosion (the shared _gopher_signals construction), and the
    doc_id-partitioned pair-frequency index scan behind the LM scores —
    all joins back on doc_id; every other signal is a map-stage
    expression. At 100 TB that is three narrow shuffles of |docs| rows
    — the same budget the individual gates already pay.

    Gate-domain note: every doc that reaches the low_likelihood gate
    has ≥ FILTER_MIN_TOKENS (=5) ≥ 2 tokens, so the left join against
    _bigram_scores (defined on ntok ≥ 2) is total over the surviving
    rows — the coalesce default can only ever apply to rows an earlier
    gate already dropped."""
    return session_memo(
        spark, ("gate_roster", sf_dir), lambda: _gate_roster(spark, sf_dir)
    )


def _gate_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = doc_stats(spark, sf_dir).select(
        "doc_id",
        "lang",
        "fp",
        F.col("ws_tokens").alias("n_tokens"),
        "quality",
    )
    flagged = scored.withColumn(
        "canonical_doc_id", F.min("doc_id").over(W.partitionBy("fp"))
    )
    j = flagged.join(
        _gopher_signals(spark, sf_dir).drop("ntok"), "doc_id", "left"
    ).join(
        _bigram_scores(spark, sf_dir).select("doc_id", "avg_p_micro"),
        "doc_id",
        "left",
    )
    # a doc with no grams (empty text) cannot be repetitive
    repetitive = F.coalesce(
        (F.col("top2_frac_raw") > REP_TOP2_MAX)
        | (F.col("distinct_ratio_raw") < REP_DISTINCT_MIN),
        F.lit(False),
    )
    low_likelihood = F.coalesce(
        F.col("avg_p_micro") < LM_KEEP_MIN, F.lit(False)
    )
    reason = (
        F.when(F.col("n_tokens") < FILTER_MIN_TOKENS, "too_short")
        .when(F.col("doc_id") != F.col("canonical_doc_id"), "duplicate")
        .when(F.col("quality") < MIX_QUALITY_MIN, "low_quality")
        .when(repetitive, "repetitive")
        .when(low_likelihood, "low_likelihood")
        .otherwise("kept")
    )
    return (
        j.select(
            "doc_id",
            "lang",
            "n_tokens",
            reason.alias("reason"),
            (reason == "kept").alias("keep"),
        )
        .orderBy("doc_id")
    )


# BPE merge learning (Sennrich et al. 2016): the tokenizer-training
# step of a pretraining pipeline. The scalable design — and the one
# every production trainer (SentencePiece, HF tokenizers) uses — is to
# run the merge loop on the WORD-FREQUENCY TABLE, not the corpus: the
# corpus is traversed once to count words (vocab-sized output), then
# each merge round is pair-count + argmax + merge-apply over the vocab
# rows. At 100 TB the corpus pass is the only heavy stage; the loop
# touches millions of vocab rows, not trillions of tokens.
#
# BATCHED rounds (r6 verdict task 4): strict Sennrich training is one
# Spark job per merge — a 32k-merge production vocab would be 32k
# sequential driver-paced jobs. Each round here selects the top
# BPE_BATCH pairs that are pairwise SYMBOL-DISJOINT (no shared lft/rgt,
# and no selected pair's merged symbol equal to another's symbol) from
# ONE pair-count pass and applies them in one vocab fold — disjointness
# makes the simultaneous application identical to applying them one at
# a time in any order. Bound (documented + parity-tested in
# tests/test_text_functions.py): BPE_BATCH=1 is EXACTLY sequential
# Sennrich; for BPE_BATCH>1 the merge PATH may diverge from sequential
# because merges chain — sequential's next pick is often a pair using
# the symbol just created (t+h → th+e), which a disjoint batch cannot
# see until the next round (measured on the fixture vocab: the 64
# batched merges share ~45/64 of sequential's merge set while paying 8
# driver rounds instead of 64). That is the standard throughput /
# fidelity trade of batched tokenizer trainers; the DuckDB oracle
# applies the SAME batched selection rule, so the value gate still
# checks this implementation exactly.
BPE_MERGES = 64
BPE_BATCH = 8
# the oracle unrolls _BPE_ORACLE_REPS first-occurrence splices per
# selected pair — enough iff no word holds more occurrences of one pair
# than that, i.e. max word length ≤ 2·REPS (a pair occupies two
# symbols). The fixture max is 8 chars → 4 splices; _learn_merges
# ASSERTS the bound against the live vocab so a longer-word corpus
# fails loudly instead of silently under-splicing the oracle. (At 64
# merges the oracle's cost is dominated by per-CTE materialization —
# REPS is the multiplier on its 2·merges·REPS CTE count.)
_BPE_ORACLE_REPS = 4


def _greedy_multi_merge_expr(pairs: list[tuple[str, str]]) -> str:
    """SQL expression applying one ROUND of learned merges to the
    `syms` array, greedy left-to-right (the BPE application rule): fold
    over the symbols, merging when the accumulator's tail is a pair's
    lft and the next symbol its rgt. The round's pairs are pairwise
    symbol-disjoint by selection, so at most one WHEN branch can match
    any (tail, next) state and the one-pass fold equals applying the
    pairs one at a time. A merged token is strictly longer than its
    lft, so a merge can never cascade within the same fold step — the
    fold IS exact greedy semantics ('a a a' under (a,a) → [aa, a], not
    [a, aa]). Symbols are [a-z0-9]+ by tokenizer construction, so
    inlining them in single quotes is injection-safe (asserted by the
    caller)."""
    whens = "\n            ".join(
        f"WHEN size(acc) > 0 AND element_at(acc, -1) = '{lft}' AND s = '{rgt}'"
        f" THEN concat(slice(acc, 1, size(acc) - 1), array('{lft + rgt}'))"
        for lft, rgt in pairs
    )
    return f"""
        aggregate(
          syms,
          CAST(array() AS ARRAY<STRING>),
          (acc, s) -> CASE
            {whens}
            ELSE concat(acc, array(s))
          END
        )
    """


def _greedy_merge_expr(lft: str, rgt: str) -> str:
    """Single-merge form of _greedy_multi_merge_expr (kept for the fold
    semantics unit/property tests)."""
    return _greedy_multi_merge_expr([(lft, rgt)])


def txt_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE_MERGES byte-pair-encoding merges over the corpus in
    batched rounds: per round, the top BPE_BATCH pairwise
    symbol-disjoint (left, right) adjacent-symbol pairs by
    frequency-weighted occurrence count (ties broken by (left, right)
    ascending — fully deterministic), all applied greedy left-to-right
    in one vocab fold before the next round. Output: one row per
    learned merge (merge_round = global 1-based selection order, lft,
    rgt, pair_count as of the pair's round start).

    Shape: one corpus pass builds the word-frequency table (a session
    index — the training-mix/profile discipline); every merge round is
    vocab-sized work. The per-round selection is a bounded driver
    collect over the sorted pair-count head (the k-means-iteration
    pattern); per-round localCheckpoint keeps the plan O(1) in rounds.
    The DuckDB oracle runs the SAME batched procedure with the merge
    application unrolled as first-occurrence string splices — two
    independent implementations of greedy BPE whose agreement the
    value gate checks end-to-end."""
    merges, _v = _learn_merges(spark, sf_dir)
    return rows_frame(
        spark, merges, "merge_round int, lft string, rgt string, pair_count bigint"
    ).orderBy("merge_round")


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = token_index(spark, sf_dir)

    def build_vocab() -> DataFrame:
        return (
            t.select(F.explode("toks").alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
        )

    return session_index(spark, sf_dir, "bpe_word_freq", build_vocab)


# Vocabulary size under which the merge loop runs DRIVER-LOCALLY on the
# collected word-frequency table — the HF-tokenizers / SentencePiece
# posture: the corpus pass (word counting) is the only distributed
# stage, and the trainer loop walks an in-memory (word, freq) table.
# Rationale (guide §1.2 — fix the algorithm before the per-task work):
# the distributed loop's cost is NOT data, it is 2 scheduler rounds +
# one fresh Catalyst/AQE plan per merge round over a vocab-bounded
# frame (~0.17 s/round measured at sf0.1, ~1.4 s of the query's 1.7 s).
# The vocab is distinct WORDS — language-bounded, never corpus-scale —
# so the same bounded-side reasoning as components.py's
# CC_LOCAL_EDGE_LIMIT applies; 2M rows keeps the collected list and the
# loop's dicts in the low hundreds of MB. Graphs over the limit fall
# through to the distributed loop below, which remains the 100 TB path
# for a corpus whose token alphabet is unbounded. Both paths are exact
# and must agree bit-for-bit: parity is pinned by
# tests/test_round13_opt.py::test_bpe_local_and_distributed_trainers_agree,
# and the DuckDB oracle re-checks the local path end to end.
BPE_LOCAL_VOCAB_LIMIT = 2_000_000

# Driver-memory guard for the local-trainer collect (r13 verdict item
# 8): BPE_LOCAL_VOCAB_LIMIT alone assumed the driver heap could always
# hold 2M collected rows. The effective limit is additionally capped by
# a conservative estimate against spark.driver.memory — at most
# _BPE_DRIVER_HEADROOM of the heap at _BPE_ROW_EST_BYTES per collected
# (w, freq) Row — so an under-provisioned driver falls through to the
# distributed trainer (identical results, parity-pinned) instead of
# OOMing mid-collect. The per-row constant is deliberately fat:
# pyspark Rows are hundreds of bytes (components.py's finding), and
# the trainer's own dict/list state roughly doubles the footprint.
_BPE_ROW_EST_BYTES = 512
_BPE_DRIVER_HEADROOM = 0.10


def _bpe_local_limit(spark: SparkSession) -> int:
    """BPE_LOCAL_VOCAB_LIMIT capped by the driver-heap budget.
    ``spark.driver.memory`` is a Spark byte string: a bare number is
    MiB, a unit letter may carry a trailing ``b`` (``16g``, ``16gb``,
    ``512mb``), and a lone ``b`` means bytes."""
    import re

    try:
        mem = str(spark.conf.get("spark.driver.memory")).strip().lower()
    except Exception:
        mem = "1g"  # Spark's driver-memory default when unset
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([kmgtp]?)(b?)", mem)
    if m is None:
        heap = 1024**3
    else:
        unit = m[2] or ("b" if m[3] else "m")
        heap = int(float(m[1]) * units[unit])
    budget_rows = int(heap * _BPE_DRIVER_HEADROOM) // _BPE_ROW_EST_BYTES
    return max(1, min(BPE_LOCAL_VOCAB_LIMIT, budget_rows))


# schema of the final (w, freq, syms) vocab state BOTH trainer paths
# return: the distributed path's groupBy-count + transform() shape,
# asserted equal in the parity test so the local frame can never drift
_BPE_VOCAB_SCHEMA = (
    "w string not null, freq bigint not null, syms array<string>"
)


def _apply_round_local(syms: list[str], pairs: set[tuple[str, str]]) -> list[str]:
    """Python twin of _greedy_multi_merge_expr's fold: one greedy
    left-to-right pass merging (acc tail, next) when it is a selected
    pair. The round's pairs are symbol-disjoint, so at most one pair
    can match any state and dict/set lookup equals the CASE walk; a
    merged token is strictly longer than its lft, so no cascade within
    the pass (the same argument as the SQL fold's docstring)."""
    acc: list[str] = []
    for s in syms:
        if acc and (acc[-1], s) in pairs:
            acc[-1] = acc[-1] + s
        else:
            acc.append(s)
    return acc


def _learn_merges_local(
    rows: list,
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]]:
    """Driver-local batched trainer over the collected word-frequency
    table. Mirrors the distributed loop EXACTLY: per round, pair counts
    summed over adjacent symbol positions weighted by word freq,
    conflict-greedy selection over the (c desc, lft, rgt) order (Python
    tuple sort on ASCII-alnum symbols == Spark's UTF8 binary order),
    one greedy fold applying the round's disjoint pairs. Integer
    arithmetic throughout — no float drift between the paths."""
    vocab: list[tuple[str, int, list[str]]] = [
        (r["w"], int(r["freq"]), list(r["w"])) for r in rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    schedule = [BPE_BATCH] * (BPE_MERGES // BPE_BATCH)
    if BPE_MERGES % BPE_BATCH:
        schedule.append(BPE_MERGES % BPE_BATCH)
    for want in schedule:
        counts: dict[tuple[str, str], int] = {}
        for _w, freq, syms in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        sel: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for (lft, rgt), c in sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        ):
            if lft in used or rgt in used or (lft + rgt) in used:
                continue
            assert lft.isalnum() and rgt.isalnum(), "non-alnum BPE symbol"
            sel.append((lft, rgt, c))
            used.update((lft, rgt, lft + rgt))
            if len(sel) == want:
                break
        if not sel:
            break  # pair supply exhausted — same sentinel as the loop
        for lft, rgt, c in sel:
            merges.append((len(merges) + 1, lft, rgt, c))
        rp = {(l, r) for l, r, _ in sel}
        vocab = [(w, f, _apply_round_local(s, rp)) for w, f, s in vocab]
    return merges, vocab


def _learn_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """(merge list, final (w, freq, syms) vocab state), memoized per
    (session, sf_dir): the trainer and the tokenizer (txt_bpe_tokenize)
    share one learning run — 8 rows of driver state plus the
    materialized vocab frame the loop ends on, so application never
    re-runs the merge folds (one application path, no drift). The
    memo's release frees any pinned checkpoint blocks. A checkpoint
    trades executor-loss recovery for O(1) plans (the same trade
    dd_duplicate_clusters documents); after a lost executor, re-run the
    query in a fresh session to re-learn."""
    return session_memo(spark, ("bpe_merges", sf_dir), lambda: _train_bpe(spark, sf_dir))


def _train_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """One BPE learning run, unmemoized.

    Dispatch: vocabularies at or under BPE_LOCAL_VOCAB_LIMIT words run
    the driver-local trainer (one bounded collect of the warm word-freq
    index, pure-Python merge loop, the final state back through
    rows_frame); larger ones run the distributed per-round
    loop (the 100 TB fallback). Identical results by construction,
    pinned by the parity test and the oracle gate."""
    vocab_tbl = _bpe_vocab(spark, sf_dir)
    # limit+1 bounds the driver transfer even on a huge vocabulary
    # (components.py's probe pattern); ≤ limit rows means `head` IS the
    # whole vocab and the trainer runs locally on it. The limit is the
    # vocab cap AND the driver-heap budget (_bpe_local_limit), so the
    # bounded transfer is bounded against THIS driver's memory too.
    local_limit = _bpe_local_limit(spark)
    head = vocab_tbl.limit(local_limit + 1).collect()
    if len(head) <= local_limit:
        max_w = max((len(r["w"]) for r in head), default=0)
        assert max_w <= 2 * _BPE_ORACLE_REPS, (
            f"max word length {max_w} exceeds the oracle splice budget "
            f"(2 x _BPE_ORACLE_REPS = {2 * _BPE_ORACLE_REPS}) - raise it"
        )
        merges, out = _learn_merges_local(head)
        return merges, rows_frame(spark, out, _BPE_VOCAB_SCHEMA)
    return _learn_merges_distributed(spark, vocab_tbl)


def _learn_merges_distributed(
    spark: SparkSession, vocab_tbl: DataFrame
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The distributed per-round merge loop — the over-limit path."""
    vstats = vocab_tbl.agg(
        F.max(F.length("w")).alias("mw"), F.count("*").alias("n")
    ).collect()[0]
    max_w = vstats["mw"] or 0
    assert max_w <= 2 * _BPE_ORACLE_REPS, (
        f"max word length {max_w} exceeds the oracle splice budget "
        f"(2 x _BPE_ORACLE_REPS = {2 * _BPE_ORACLE_REPS}) - raise it"
    )
    # Partition the trainer state by VOCAB size, not by the session's
    # shuffle default (guide §2.2/§6 — partition count tracks data, not
    # a constant): the state is distinct WORDS (language-bounded, never
    # corpus-scale), and every one of the 2·rounds sequential jobs below
    # re-pays the task floor per partition. At fixture scale the vocab
    # is tens of rows spread over 32 near-empty partitions, which made
    # EACH round's pair-count collect ~0.2 s of pure scheduler overhead
    # (measured; ~0.03 s on 1 partition); one partition per 64 Ki words
    # keeps a production vocabulary parallel.
    nparts = max(1, -(-int(vstats["n"] or 0) // 65536))
    v = vocab_tbl.select(
        "w",
        "freq",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "syms"
        ),
    ).coalesce(nparts)
    merges: list[tuple[int, str, str, int]] = []
    # FIXED round schedule, mirroring the oracle exactly: ceil(M/B)
    # rounds of up to BPE_BATCH selections each. A while-until-M loop
    # would instead ADD rounds when conflict-greedy under-fills one —
    # shifting every later round's pair-count recomputation off the
    # oracle's boundaries (review finding r7; on the fixtures every
    # round fills, but the contract must not depend on that).
    schedule = [BPE_BATCH] * (BPE_MERGES // BPE_BATCH)
    if BPE_MERGES % BPE_BATCH:
        schedule.append(BPE_MERGES % BPE_BATCH)
    for want in schedule:
        pairs = (
            v.where(F.size("syms") > 1)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i - 1] AS lft, syms[i] AS rgt))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lft", "p.rgt")
            .agg(F.sum("freq").alias("c"))
        )
        # conflict-greedy selection over the (c desc, lft, rgt) order:
        # walk the sorted pair list, skip any pair touching a symbol an
        # accepted pair already uses (its lft, rgt, or merged token).
        # Collect a bounded head and widen if conflicts exhaust it —
        # equivalent to scanning the full sorted list, but the driver
        # only ever holds a small prefix.
        lim = max(64, 8 * want)
        while True:
            head = pairs.orderBy(F.desc("c"), "lft", "rgt").limit(lim).collect()
            sel: list[tuple[str, str, int]] = []
            used: set[str] = set()
            for row in head:
                lft, rgt = row["lft"], row["rgt"]
                if lft in used or rgt in used or (lft + rgt) in used:
                    continue
                assert lft.isalnum() and rgt.isalnum(), "non-alnum BPE symbol"
                sel.append((lft, rgt, int(row["c"])))
                used.update((lft, rgt, lft + rgt))
                if len(sel) == want:
                    break
            if len(sel) == want or len(head) < lim:
                break  # filled the batch, or the pair table is exhausted
            lim *= 4
        if not sel:
            # pair supply exhausted (an empty table selects nothing in
            # every later round too, so skipping them equals the
            # oracle's sentinel rounds)
            break
        for lft, rgt, c in sel:
            merges.append((len(merges) + 1, lft, rgt, c))
        # LAZY fold: the next round's pair job replays the chain from
        # the materialized vocab index instead of paying a per-round
        # localCheckpoint job. The replay depth is bounded by the FIXED
        # round schedule (BPE_MERGES / BPE_BATCH) and each fold is an
        # O(|syms|) HOF over vocab-bounded rows, so the extra compute
        # is round-count x vocab-sized while 1 job per round (the
        # former eager checkpoint) disappears from the sequential
        # driver loop — measured 2.2 s -> 1.6 s per cache-cleared learn
        # at sf0.1 (guide §1.2: the trainer is scheduler-round-bound,
        # not data-bound).
        v = v.select(
            "w",
            "freq",
            F.expr(_greedy_multi_merge_expr([(l, r) for l, r, _ in sel])).alias(
                "syms"
            ),
        )
    # ONE final materialization: the cached state feeds every downstream
    # consumer (txt_bpe_tokenize, txt_tokenized_dataset), which must not
    # replay the fold chain per use.
    v = v.localCheckpoint(eager=True)
    return merges, v


def txt_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus — the train→apply
    loop closed: per document, word count, BPE subtoken count, and the
    fertility ratio (subtokens per word, the metric tokenizer work is
    judged by). The application runs on the VOCAB (each distinct word
    segmented once through the 8 learned folds), then a broadcast-sized
    word→subtoken-count map joins the token stream — at 100 TB the
    corpus pass is a map-filter join, never a per-token re-segmentation.
    The oracle extends the training chain's final vocab state to the
    same per-doc roll-up, so the gate checks learning AND application
    end-to-end."""
    _merges, v = _learn_merges(spark, sf_dir)  # final segmented vocab state
    seg = v.select("w", F.size("syms").cast("int").alias("n_subtok"))
    toks = token_index(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("w")
    )
    return (
        toks.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_subtok").cast("int").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6),
        )
        .orderBy("doc_id")
    )


def _bpe_chain_sql() -> tuple[str, str, str]:
    """Unrolled DuckDB mirror of the batched trainer's CTE chain.
    Returns (chain_sql, final_vocab_cte_name, merge_union_sql).

    Per round: pair counts, then BPE_BATCH conflict-greedy argmax steps
    (each step's argmax excludes every symbol — lft, rgt, merged — an
    earlier step of the round selected, via the accumulated u-CTEs:
    exactly the driver-side conflict-greedy walk over the full sorted
    pair list), then per selected pair _BPE_ORACLE_REPS
    first-occurrence splices of ' lft rgt ' → ' lftrgt ' over the
    padded symbol string — replacing the leftmost occurrence repeatedly
    IS greedy left-to-right (a replacement re-emits both boundary
    spaces and can never create an earlier match, since the merged
    token would have to equal a shorter symbol), and round pairs are
    symbol-disjoint so the per-pair splice chains commute. Every
    multi-referenced per-step CTE is AS MATERIALIZED: DuckDB inlines
    plain CTEs, and the thrice-referenced position() expression would
    otherwise grow 3^REPS per round."""
    parts = [
        """toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
vocab0 AS (
  SELECT w, COUNT(*) AS freq,
         array_to_string(list_transform(range(1, length(w) + 1),
                                        i -> substr(w, CAST(i AS INT), 1)), ' ') AS sym
  FROM toks GROUP BY w
)"""
    ]
    # round schedule: full BPE_BATCH rounds plus a remainder round
    schedule = [BPE_BATCH] * (BPE_MERGES // BPE_BATCH)
    if BPE_MERGES % BPE_BATCH:
        schedule.append(BPE_MERGES % BPE_BATCH)
    sel_rows: list[str] = []
    for rnd, want in enumerate(schedule, 1):
        prev = f"vocab{rnd - 1}"
        parts.append(
            f"""p{rnd} AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS lft, syms[CAST(i AS INT) + 1] AS rgt,
         SUM(freq) AS c
  FROM (SELECT freq, string_split(sym, ' ') AS syms FROM {prev}
        WHERE sym LIKE '% %') t,
  LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) s
  GROUP BY 1, 2
)"""
        )
        for j in range(1, want + 1):
            excl = (
                ""
                if j == 1
                else f"""
  WHERE lft NOT IN (SELECT s FROM u{rnd}_{j - 1})
    AND rgt NOT IN (SELECT s FROM u{rnd}_{j - 1})
    AND (lft || rgt) NOT IN (SELECT s FROM u{rnd}_{j - 1})"""
            )
            parts.append(
                f"""m{rnd}_{j} AS MATERIALIZED (
  -- sentinel fallback: when the pair supply is exhausted, an EMPTY
  -- argmax would cross-join the vocab chain to zero rows; the
  -- ('','',0) row keeps the chain alive, its '   ' pattern (empty
  -- symbols) can never match a single-space-joined sym, and the final
  -- union filters c > 0 so the emitted merge list still matches
  -- Spark's early-exit loop
  SELECT lft, rgt, c FROM (
    (SELECT lft, rgt, c FROM p{rnd}{excl} ORDER BY c DESC, lft, rgt LIMIT 1)
    UNION ALL SELECT '', '', 0
  ) ORDER BY c DESC LIMIT 1)"""
            )
            carry = (
                f"\n  UNION SELECT s FROM u{rnd}_{j - 1}" if j > 1 else ""
            )
            parts.append(
                f"""u{rnd}_{j} AS (
  SELECT lft AS s FROM m{rnd}_{j} WHERE c > 0
  UNION SELECT rgt FROM m{rnd}_{j} WHERE c > 0
  UNION SELECT lft || rgt FROM m{rnd}_{j} WHERE c > 0{carry}
)"""
            )
            sel_rows.append(
                f"SELECT {rnd} AS rnd, {j} AS j, lft, rgt, c"
                f" FROM m{rnd}_{j} WHERE c > 0"
            )
        # application: chain the per-pair splice sequences; pair j reads
        # the padded string pair j-1 finished with. Rows WITHOUT the
        # pattern bypass the splice chain entirely (position() computed
        # once on the full vocab, then only the hit subset pays the
        # REPS first-occurrence splices — at 64 merges the
        # all-rows-through-every-step form cost ~47s per oracle run)
        for j in range(1, want + 1):
            src = (
                f"(SELECT w, freq, ' ' || sym || ' ' AS p FROM {prev})"
                if j == 1
                else f"(SELECT w, freq, p FROM out{rnd}_{j - 1})"
            )
            parts.append(
                f"""r{rnd}_{j}_0 AS MATERIALIZED (
  SELECT w, freq, p,
         ' ' || lft || ' ' || rgt || ' ' AS pat,
         ' ' || lft || rgt || ' ' AS rep,
         position((' ' || lft || ' ' || rgt || ' ') IN p) AS hit
  FROM {src} v, m{rnd}_{j}
)"""
            )
            parts.append(
                f"""r{rnd}_{j}_1 AS MATERIALIZED (
  SELECT w, freq, pat, rep,
         substr(p, 1, hit - 1) || rep || substr(p, hit + length(pat)) AS p
  FROM r{rnd}_{j}_0 WHERE hit > 0
)"""
            )
            for k in range(2, _BPE_ORACLE_REPS + 1):
                parts.append(
                    f"""r{rnd}_{j}_{k} AS MATERIALIZED (
  SELECT w, freq, pat, rep,
         CASE WHEN position(pat IN p) > 0
              THEN substr(p, 1, position(pat IN p) - 1) || rep
                   || substr(p, position(pat IN p) + length(pat))
              ELSE p END AS p
  FROM r{rnd}_{j}_{k - 1}
)"""
                )
            parts.append(
                f"""out{rnd}_{j} AS MATERIALIZED (
  SELECT w, freq, p FROM r{rnd}_{j}_0 WHERE hit = 0
  UNION ALL SELECT w, freq, p FROM r{rnd}_{j}_{_BPE_ORACLE_REPS}
)"""
            )
        parts.append(
            f"vocab{rnd} AS MATERIALIZED (SELECT w, freq, trim(p) AS sym"
            f" FROM out{rnd}_{want})"
        )
    union = (
        "sel_all AS (\n" + "\nUNION ALL ".join(sel_rows) + "\n)"
    )
    parts.append(union)
    chain = "WITH " + ",\n".join(parts)
    return chain, f"vocab{len(schedule)}", "sel_all"


def _bpe_oracle_sql() -> str:
    chain, _final, sel = _bpe_chain_sql()
    return (
        chain
        + f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, j) AS INT) AS merge_round,
       lft, rgt, CAST(c AS BIGINT) AS pair_count
FROM {sel} ORDER BY merge_round"""
    )


def _bpe_tokenize_oracle_sql() -> str:
    """Per-doc roll-up over the training chain's FINAL vocab state:
    word→subtoken counts joined onto the token stream — the oracle side
    of txt_bpe_tokenize, sharing every CTE of the training oracle so
    learning and application are checked as one pipeline."""
    chain, final, _sel = _bpe_chain_sql()
    return chain + f""",
seg AS (SELECT w, CAST(len(string_split(sym, ' ')) AS INT) AS n_subtok
        FROM {final}),
dtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_words,
       CAST(SUM(n_subtok) AS INT) AS n_bpe_tokens,
       ROUND(SUM(n_subtok) * 1.0 / COUNT(*), 6) AS fertility
FROM dtoks JOIN seg USING (w)
GROUP BY doc_id ORDER BY doc_id"""


SEQ_LEN = 512  # tokens per packed training sequence


def txt_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: lay the corpus out in doc_id order and assign
    every document to the fixed-size SEQ_LEN-token training bin its
    token offset falls in — the packing bookkeeping a pretraining
    pipeline runs when concatenating documents into context windows.
    Output per bin: doc count, token total, and the doc_id span.

    Scale shape: the token offset is a corpus-wide PREFIX SUM, computed
    distributed via the shared two-pass scan fan-out
    (functions/prefix.py — range-bucket on doc_id, driver-folded bucket
    offsets, PARTITIONED running sum). The naive window (SUM OVER
    (ORDER BY doc_id) with no partition) funnels the corpus through one
    task; the streaming feed writer's chunk assignment rides the same
    helper."""
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = d.select("doc_id", ws_token_count(F.col("text")).cast("long").alias("n_tokens"))
    b, off, total = bucketed_prefix(
        t,
        "doc_id",
        weight=F.col("n_tokens"),
        n_buckets=int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    if total == 0:
        return rows_frame(
            spark, [], "bin_id bigint, n_docs bigint, total_tokens bigint,"
            " first_doc_id bigint, last_doc_id bigint"
        )
    run = F.sum("n_tokens").over(W.partitionBy("_bkt").orderBy("doc_id"))
    doc_offset = off + run - F.col("n_tokens")  # exclusive prefix sum
    return (
        b.withColumn("bin_id", F.floor(doc_offset / F.lit(SEQ_LEN)).cast("bigint"))
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("bin_id")
    )


# BM25 retrieval scoring (Robertson & Zaragoza 2009): the standard
# probabilistic ranking function a curation pipeline uses to pull
# domain-relevant documents out of a web corpus (retrieval-based data
# selection). Query terms are a fixed literal so the ranking is
# deterministic; constants are the textbook defaults.
BM25_TERMS = ["spark", "merge", "vector"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval over the tokenized corpus.

    score(d) = Σ_t ln(1 + (N − df + ½)/(df + ½))
                 · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    (the Lucene positive-idf form). Scores are rounded to 6 dp before
    ranking with a doc_id tie-break so the cutoff is identical
    cross-engine.

    Scale shape: reads the materialized token_index (no re-tokenize);
    the term filter prunes the posting explosion to |terms| rows per
    matching doc BEFORE any shuffle; corpus stats (N, avgdl) and the
    per-term df are 1-row / |terms|-row broadcast dims; the final top-k
    is an orderBy+limit, which Spark executes as TakeOrderedAndProject
    (per-partition heaps, no global sort). No stage ever carries more
    than the matching postings — at 100 TB the cost is one narrow
    groupBy over docs containing a query term."""
    t = token_index(spark, sf_dir)
    stats = t.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("ntok").alias("avgdl"),
    )
    tf = (
        t.select("doc_id", "ntok", F.explode("toks").alias("tok"))
        .where(F.col("tok").isin(BM25_TERMS))
        .groupBy("doc_id", "ntok", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("ntok") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1.0) / denom
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP)
    )


TFIDF_TOP = 3  # keywords per document


def doc_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(doc, term) frequency table as a session index: (doc_id,
    tok, tf), hash-partitioned by doc_id. The bag-of-words every
    term-statistics consumer (TF-IDF, document frequency, unigram LM
    derivations) reduces over — materialized once so the token
    explosion + count is paid once per session, the same policy as
    token_index. Size is ≤ the token stream (strictly smaller wherever
    terms repeat within a doc) — an index, not an expansion."""

    def build() -> DataFrame:
        return (
            token_index(spark, sf_dir)
            .select("doc_id", F.explode("toks").alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count("*").alias("tf"))
        )

    return session_index(spark, sf_dir, "doc_term_freq", build)


def txt_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the top-3 most characteristic terms
    per document (tf · smooth-idf, the sklearn ``TfidfVectorizer``
    form idf = ln((N+1)/(df+1)) + 1). BM25 (txt_bm25_topk) answers
    "which docs match this query"; this answers the dual a labeling /
    topic-tagging pipeline asks — "which terms characterize this doc".

    Scale shape: reads the materialized doc_term_freq index (the
    explosion + count is a once-per-session cost; HashPartitioning
    (doc_id) satisfies the (doc_id, tok) clustering so the index build
    aggregates exchange-free); the document-frequency table is one
    vocab-sized aggregation broadcast back onto the tf stream; the
    per-doc top-3 window runs on the same doc_id partitioning — one
    vocab shuffle total at any corpus size. Ties (same score within a
    doc) break on term order, and equal (tf, df) pairs produce
    bit-identical doubles in both engines, so the ranking is
    deterministic cross-engine; the fixture-margin test pins the
    remaining ln-ulp risk (tests/test_textops_lm.py)."""
    n_docs = token_index(spark, sf_dir).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tf = doc_term_freq(spark, sf_dir)

    # the corpus IDF table — vocab-sized, materialized once per session
    # like every other LM table here (production ships document
    # frequencies as a standing artifact of the corpus build)
    def build_dfreq() -> DataFrame:
        return tf.groupBy("tok").agg(F.count("*").alias("df"))

    dfreq = session_index(spark, sf_dir, "term_doc_freq", build_dfreq)
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * idf)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("tok").alias("term"),
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.round("score", 6).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


# Interpolated bigram LM score, exact 1e-6 integer units. Money-style
# float discipline (see rel_q1): p = 0.9·c12/c1 + 0.1·c2/T is evaluated
# as two positive integer divisions, so the per-doc sum is
# order-independent and the keep threshold compares integers — no
# cross-engine ln/rounding surface at all (contrast txt_unigram_logprob,
# which pins the double path).
# keep docs with avg token-pair likelihood ≥ 3.3% — splits every
# fixture sf non-trivially (sf0.001 ≈ 70% keep, sf0.1 ≈ 40%); integer
# threshold on integer units, so the boundary is exact cross-engine
LM_KEEP_MIN = 33_000


def _bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores, bigram form (the unordered core
    of txt_bigram_lm_score; the curation pipeline's low_likelihood gate
    joins this rather than paying the registered query's global sort):
    score every doc with ≥2 tokens by the mean interpolated bigram
    likelihood of its adjacent token pairs under the corpus's own
    counts — p(w2|w1) = 0.9·c(w1w2)/c(w1) + 0.1·c(w2)/T, in exact 1e-6
    units. Formulaic high-probability text scores high; docs full of
    rare transitions (garbage, wrong-language splices) score low. The
    real CCNet filter scores with a pretrained KenLM; the
    corpus-self-trained bigram table is the same shape with the LM
    training step inlined.

    Scale shape: one pair explosion co-partitioned by doc_id (the
    scoring aggregation is exchange-free on it); the bigram and unigram
    count tables are vocab-sized aggregations broadcast back onto the
    pair stream (at 100 TB: cap to top-V transitions + a smoothing
    floor, the standard trick — same note as txt_unigram_logprob). The
    unigram table rides the shared ``unigram_vocab`` session index.

    Overflow bound: the largest intermediate is 9e6·c12 with c12 ≤ T
    total tokens — safe in int64 for T < 1e12 tokens; past that scale
    the micro-unit constant moves into the divisor (c12 div (c1/9e5))
    or the counts shard, the same regime where the broadcast tables
    need the top-V cap anyway."""

    # one corpus pass: the per-(doc, transition) multiplicity table,
    # hash-partitioned by doc_id; both the LM fit (a vocab²-bounded
    # second-level aggregate) and the scoring join read THIS index —
    # the pair explosion never runs twice
    pf = session_index(
        spark, sf_dir, "doc_pair_freq", lambda: pair_freq_of(token_index(spark, sf_dir))
    )

    def build_bigrams() -> DataFrame:
        return pf.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))

    big = session_index(spark, sf_dir, "bigram_counts", build_bigrams)
    vocab = unigram_vocab(spark, sf_dir)
    # the transition-scored LM is itself a session index (bigram-type
    # sized): the fit arithmetic runs once per session, every score
    # pass just broadcasts the cached table — the _labeled_features
    # recipe applied to the LM gate
    lm = session_index(
        spark, sf_dir, "bigram_lm", lambda: bigram_lm_of(big, vocab)
    )
    return bigram_scores_of(pf, big, vocab, lm=lm)


def pair_freq_of(t: DataFrame) -> DataFrame:
    """Per-(doc, adjacent-token-pair) multiplicity table of a (doc_id,
    toks, ntok) frame — the one-corpus-pass input every bigram-LM
    consumer aggregates from (see _bigram_scores)."""
    toks = t.where(F.col("ntok") >= 2).select(
        "doc_id", "toks", "ntok", F.posexplode("toks").alias("pos", "w1")
    )
    return (
        toks.where(F.col("pos") <= F.col("ntok") - 2)
        .select(
            "doc_id",
            "w1",
            F.try_element_at("toks", F.col("pos") + 2).alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("n"))
    )


def bigram_lm_of(big: DataFrame, vocab: DataFrame) -> DataFrame:
    """The LM as a transition-SCORED table: (w1, w2, p_micro) with
    p(w2|w1) = 0.9·c12/c1 + 0.1·c2/T in exact 1e-6 integer units.
    p_micro depends only on the transition, so it is evaluated ONCE per
    bigram TYPE over the vocab²-bounded count table — never per
    (doc, transition) occurrence. The joins here are broadcast-dim ⋈
    broadcast-dim (bigram types × vocab), a sketch-sized job."""
    total = vocab.agg(F.sum("cnt").alias("t_total"))
    p_micro = F.expr("(9000000 * c12) div (10 * c1)") + F.expr(
        "(1000000 * c2) div (10 * t_total)"
    )
    return (
        big.join(F.broadcast(vocab.select(F.col("tok").alias("w1"), F.col("cnt").alias("c1"))), "w1")
        .join(F.broadcast(vocab.select(F.col("tok").alias("w2"), F.col("cnt").alias("c2"))), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", p_micro.alias("p_micro"))
    )


def bigram_scores_of(
    pf: DataFrame, big: DataFrame, vocab: DataFrame, lm: DataFrame | None = None
) -> DataFrame:
    """Interpolated-bigram doc scores from a pair-frequency frame
    (doc_id, w1, w2, n), a bigram-count table (w1, w2, c12) and a
    unigram table (tok, cnt) — the arithmetic core shared by
    _bigram_scores (base documents, session-indexed tables) and the
    cleaned-corpus materializer (pipeline.py, corpus-trained tables).
    One definition so the exact 1e-6 integer likelihood cannot drift
    between the standalone gate and the composition.

    Plan shape (re-planned r12): the DOC-side pair stream — the only
    corpus-proportional frame here — probes ONE broadcast table (the
    transition-scored LM from bigram_lm_of) instead of three vocab
    joins + a scalar cross join per pair row; the LM arithmetic runs
    per bigram type, not per occurrence. Value-identical by
    construction (p_micro is a function of the transition alone).
    ``lm``: pass a pre-materialized transition-scored table (the
    registered path session-indexes it) to skip re-deriving it."""
    if lm is None:
        lm = bigram_lm_of(big, vocab)
    return (
        pf.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("int").alias("n_pairs"),
            F.expr("sum(n * p_micro) div sum(n)").alias("avg_p_micro"),
        )
    )


def txt_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered (gated + ordered) form of _bigram_scores: keep
    docs whose mean pair likelihood clears LM_KEEP_MIN — an exact
    integer comparison, no float surface anywhere in the path.

    The final ordering exists solely for the deterministic oracle hash;
    it is produced by one exchange + an in-partition sort rather than
    a global orderBy, whose range sampler adds a whole extra job + a
    second wide exchange for the same rows (measured 0.65 → 0.33 s on
    the sf0.1 report; rows pinned identical). At corpus scale the
    report is per-doc and a production pipeline would drop the sort
    entirely — the gate's data work (the one broadcast-LM probe over
    the pair index) is unchanged."""
    return (
        _bigram_scores(spark, sf_dir)
        .withColumn("keep", F.col("avg_p_micro") >= LM_KEEP_MIN)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# DSIR (Xie et al. 2023, arXiv:2302.03169): select pretraining data
# whose hashed-ngram profile matches a target domain. Feature log-ratios
# are quantized to 1e-6 integer units ONCE (B buckets, broadcast), so
# per-doc weights are exact integer dot products — order-independent
# and cross-engine stable; the fixture-margin test pins the B ln calls'
# distance from the floor boundary.
DSIR_BUCKETS = 256  # hashed-bigram feature space (paper uses 10k)
DSIR_K = 100  # docs to select


def hashed_gram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(doc, hashed-bigram-bucket) feature-count table as a
    session index: (doc_id, lang, f, n_f), hash-partitioned by doc_id.
    ONE corpus pass shared by every hashed-feature model — DSIR's
    distribution fit + scoring and the logistic quality classifier's
    gradient steps all reduce over this index instead of re-exploding
    the gram stream."""

    def build() -> DataFrame:
        t = token_index(spark, sf_dir)
        langs = doc_stats(spark, sf_dir).select("doc_id", "lang")
        grams = (
            _toks_ngrams(t, 2)
            .join(langs, "doc_id")
            .select(
                "doc_id",
                "lang",
                (portable_hash32(F.col("gram"), seed="dsir") % DSIR_BUCKETS).alias(
                    "f"
                ),
            )
        )
        return grams.groupBy("doc_id", "lang", "f").agg(F.count("*").alias("n_f"))

    return session_index(spark, sf_dir, "dsir_feats", build)


def txt_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection: importance-weight every doc by how
    much more likely its hashed-bigram profile is under the target
    domain (lang='en' docs) than under the raw corpus, then take the
    top-K weights — the deterministic top-k selection variant (the
    paper's §5.1 heuristic-classification ablation; the
    sampled-without-replacement variant would ride the same weights
    through txt_importance_sample's hash-derived Gumbel keys).

    weight(doc) = Σ_f n_f(doc) · lr_micro(f), where lr_micro is the
    Laplace-smoothed log count ratio floor-quantized to 1e-6 units:
    lr_micro(f) = floor(1e6 · ln(((ct_f+1)·(Tr+B)) / ((cr_f+1)·(Tt+B)))).

    Scale shape: ONE corpus pass — the per-(doc, bucket) feature-count
    table, materialized doc_id-partitioned. The fit (raw + target
    distribution estimates; target = filtered sum of the same rows) is
    a B=256-row second-level aggregate of that index; the score joins
    the 256-row broadcast lr table back onto it, aggregating
    exchange-free on doc_id; the final top-K is
    TakeOrderedAndProject. Nothing except the feature index scales
    with corpus size."""
    feats = hashed_gram_features(spark, sf_dir)

    # fit: raw count = all grams, target count = the lang='en' slice
    def build_dist() -> DataFrame:
        return feats.groupBy("f").agg(
            F.sum("n_f").alias("cr"),
            F.sum(F.when(F.col("lang") == "en", F.col("n_f")).otherwise(0)).alias(
                "ct"
            ),
        )

    dist = session_index(spark, sf_dir, "dsir_dist", build_dist)
    tot = dist.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    lr = (
        dist.crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.floor(
                F.log(
                    ((F.col("ct") + 1) * (F.col("tr") + DSIR_BUCKETS))
                    / ((F.col("cr") + 1) * (F.col("tt") + DSIR_BUCKETS))
                )
                * 1e6
            ).alias("lr_micro"),
        )
    )
    # the LIMIT sits BELOW the global rank window — the bound the audit
    # measures (see _dsir_topk_input); a refactor that lifts the window
    # above the limit turns it corpus-wide and fails the audit gate
    sel = (
        feats.join(F.broadcast(lr), "f")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n_f").cast("int").alias("n_grams"),
            F.sum(F.col("n_f") * F.col("lr_micro")).alias("weight_micro"),
        )
        .orderBy(F.desc("weight_micro"), "doc_id")
        .limit(DSIR_K)
    )
    _DSIR_TOPK_INPUT[0] = sel
    # tail stays orderBy (r14 negative result): the global rank window
    # above already leaves ONE partition, so this sort plans without a
    # sampling job — the report_sort form ADDED a repartition(1)
    # exchange here (probe: 4 -> 5 jobs), the opposite of its effect on
    # multi-partition tails
    return (
        sel.select(
            F.row_number()
            .over(W.orderBy(F.desc("weight_micro"), "doc_id"))
            .cast("int")
            .alias("rank"),
            "doc_id",
            "lang",
            "n_grams",
            "weight_micro",
        )
        .orderBy("rank")
    )


# The exact frame txt_dsir_sample feeds into its single-partition rank
# window, captured at plan-build time so plan_audit.check_window_bounds
# measures the REAL window input (counting the query's post-window
# output would stay <= DSIR_K even if a refactor lifted the window above
# the LIMIT — the precise failure mode the audit exists to catch).
_DSIR_TOPK_INPUT: list = [None]


def _dsir_topk_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    txt_dsir_sample(spark, sf_dir)
    return _DSIR_TOPK_INPUT[0]


def _labeled_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The teacher-labeled feature index (doc_id, f, n_f, keep) as a
    session index: hashed_gram_features zipped with the unigram
    teacher's keep — the ONE cached frame both halves of the
    distillation (class-conditional fit, student re-score) traverse.
    Before this index the join was re-executed per consumer: the fit
    and the scoring each re-zipped and re-decoded the two parent
    caches (~0.6 s per traversal at sf0.1, 2 traversals per call)."""

    def build() -> DataFrame:
        return hashed_gram_features(spark, sf_dir).select(
            "doc_id", "f", "n_f"
        ).join(_unigram_scores(spark, sf_dir).select("doc_id", "keep"), "doc_id")

    return session_index(spark, sf_dir, "qc_labeled_feats", build)


def txt_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score a quality classifier inside the engine — the
    CCNet/DCLM distillation pattern: an expensive teacher (here the
    unigram-LM perplexity gate, txt_unigram_logprob's keep) labels the
    corpus, and a cheap hashed-feature student — multinomial Naive
    Bayes over the hashed-bigram buckets, the fastText-shaped linear
    scorer — is fit in closed form and re-scores every doc. Measured
    teacher-agreement on the fixtures: 0.79 / 0.81 / 0.73 at
    sf0.001/0.01/0.1 against ~0.5 base rate (floor asserted in
    tests/test_textops_lm.py); in production the student then prices
    documents the teacher never saw at a fraction of the teacher's
    cost.

    Float discipline (the DSIR treatment): per-bucket class log count
    ratios and the prior odds are floor-quantized ONCE to exact 1e-6
    integer units, so every doc score is an integer dot product and
    the decision threshold (score ≥ 0) is exact cross-engine; the B+1
    ln calls' floor margins are pinned by the fixture-margin test.

    Scale shape: teacher labels join the feature index exchange-free
    on its doc_id partitioning, materialized ONCE as the
    _labeled_features session index both distillation halves scan; the
    class-conditional counts are ONE 256-row conditional aggregation
    of that index, COLLECTED
    (bounded by construction: ≤ DSIR_BUCKETS rows) so the class totals
    are exact-integer driver sums and the weight table is rebuilt as a
    256-row literal frame — the broadcast side of the scoring join is
    then a LocalTableScan, where it used to be the whole fit subtree
    re-executed inside the final job's broadcast stage (one full
    labeled-index traversal + two single-partition windows, measured
    1.45s → 0.95s at sf0.1). The ln calls stay ENGINE-side (over
    integer literals identical to what the window form fed them), so
    the float discipline is unchanged; scoring joins the broadcast
    weight table back and folds per doc on the index's partitioning.
    The prior is ONE engine-computed scalar collected to the driver
    (one row, two counts off the cached teacher index) so the score
    projection is a literal add. Overflow bound: (ck+1)·(Td+B) ≤
    (T+B)² — int64-safe below ~3e9 corpus tokens, past which the ratio
    splits into two quantized terms exactly like the bigram LM's
    divisor note.

    Inverts at scale: 0.30x at sf1 (BASELINE_ratio_sf1_r13.json) vs
    2.3x at sf0.1 — the sf0.1 reading is stage floor, graded
    floor-class per the README scale rule."""
    lf = _labeled_features(spark, sf_dir)
    labels = _unigram_scores(spark, sf_dir).select("doc_id", "keep")

    # closed-form fit: class-conditional bucket counts in one pass over
    # the labeled index; ≤ DSIR_BUCKETS rows — collect, total, rebuild
    # as literals (the bucket-subtotal precedent). The doc-level class
    # counts ride the SAME collect as a sentinel f = -1 row (two
    # subtrees, one action — one scheduling round instead of two).
    fit = lf.groupBy("f").agg(
        F.sum(F.when(F.col("keep"), F.col("n_f")).otherwise(0)).alias("ck"),
        F.sum(F.when(F.col("keep"), 0).otherwise(F.col("n_f"))).alias("cd"),
    )
    doc_counts = labels.agg(
        F.lit(-1).alias("f"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("ck"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("cd"),
    )
    rows = fit.unionByName(doc_counts).collect()
    cls_rows = [r for r in rows if r["f"] != -1]
    nk, nd = next((r["ck"], r["cd"]) for r in rows if r["f"] == -1)
    if not nk or not nd:
        # single-class teacher: the NB prior (and any classifier) is
        # undefined — fail loudly instead of int(None) at plan build
        raise ValueError(
            f"teacher labels are single-class (keep={nk}, drop={nd}); "
            "the NB prior log-odds is undefined"
        )
    tk = sum(r["ck"] for r in cls_rows)  # exact ints — no float drift
    td = sum(r["cd"] for r in cls_rows)
    cls_lit = rows_frame(
        spark,
        [(int(r["f"]), int(r["ck"]), int(r["cd"])) for r in cls_rows],
        "f int, ck bigint, cd bigint",
    )
    w = cls_lit.select(
        "f",
        F.floor(
            F.log(
                ((F.col("ck") + 1) * F.lit(td + DSIR_BUCKETS))
                / ((F.col("cd") + 1) * F.lit(tk + DSIR_BUCKETS))
            )
            * 1e6
        ).alias("w_micro"),
    )
    # the prior's ln stays ENGINE-side over the same integer inputs the
    # fused agg produced (float discipline unchanged) — as a literal
    # expression INSIDE the scoring plan: Catalyst's ConstantFolding
    # evaluates it once at plan time through the same expression-eval
    # path the former spark.range(1) job used (bit-identical value),
    # dropping one scheduler round per run (guide §1.2/§5 — no driver
    # round-trip for a scalar the plan can fold itself)
    prior_micro = F.floor(F.log(F.lit(nk) / F.lit(nd)) * 1e6).cast("bigint")
    score = F.col("dot") + prior_micro
    out = (
        lf.join(F.broadcast(w), "f")
        .groupBy("doc_id", "keep")
        .agg(F.sum(F.col("n_f") * F.col("w_micro")).alias("dot"))
        .select(
            "doc_id",
            F.col("keep").cast("int").alias("label"),
            score.alias("score_micro"),
            (score >= 0).alias("predicted"),
        )
        .withColumn("agrees", F.col("predicted") == (F.col("label") == 1))
    )
    return report_sort(out, "doc_id")


# --- stratified train/val/test split ------------------------------------
# Deterministic hash-based assignment (the txt_hash_sample discipline:
# reproducible across engines, runs, and partition retries — RNG
# splits are none of those) with per-language stratification, the
# split a pretraining pipeline freezes before any model sees the data.
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # test = the remaining 5
_SPLIT_SEED = "split-"


def split_expr(doc_id: F.Column) -> F.Column:
    """THE frozen split assignment — one definition for every consumer
    (txt_stratified_split, dd_split_leakage's audit tags); a second
    copy of the seed/width/threshold formula would let an audit drift
    off the split it claims to audit."""
    bucket = portable_hash32(doc_id.cast("string"), seed=_SPLIT_SEED) % 100
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def split_case_sql(col: str) -> str:
    """DuckDB mirror of split_expr — same single-definition contract
    for the oracle side."""
    h = (
        f"CAST(concat('0x', substr(md5('{_SPLIT_SEED}' || CAST({col} AS VARCHAR)),"
        f" 1, 8)) AS BIGINT) % 100"
    )
    return (
        f"CASE WHEN {h} < {SPLIT_TRAIN_PCT} THEN 'train'"
        f" WHEN {h} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'"
        f" ELSE 'test' END"
    )


def txt_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split) accounting of the deterministic 90/5/5 split:
    doc and token counts plus a membership checksum (sum of doc_ids) so
    the oracle gate checks WHICH docs landed where, not just how many.
    The split decision is a map-stage expression — no shuffle beyond
    the final (|langs|·3)-group aggregation."""
    d = load_table(spark, sf_dir, "documents")
    return report_sort(
        d.groupBy("lang", split_expr(F.col("doc_id")).alias("split"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(ws_token_count(F.col("text")).cast("long")).alias("n_tokens"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        ),
        "lang",
        "split",
    )


def txt_tokenized_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed pretraining dataset: quality/dedup/LM gates →
    trained-BPE tokenization → fixed-SEQ_LEN sequence bins, composed
    end-to-end. This closes the loop the individual operators leave
    open — txt_filter_pipeline emits a keep roster, txt_bpe_tokenize
    per-doc token counts, txt_sequence_pack whitespace-token bins; a
    training run needs the three composed: the SURVIVING docs laid out
    in TOKENIZER units. Output per bin: doc count, BPE-token total, and
    the doc_id span. (The full clean-corpus materializer's span
    excision + temperature stages — operators/pipeline.py — change doc
    text/set the same way and would compose here by swapping the input
    frame; the gate stack is kept as the input so the oracle re-pays
    the already-proven pipeline chain once, not twice.)

    Scale shape: every stage reuses a session-materialized input (gate
    signals ride doc_stats/token_index; the tokenizer is the cached
    word-frequency-table trainer), the vocab→subtoken-count map is a
    broadcast join onto the doc_id-partitioned token stream, and the
    corpus-wide token offset is the distributed two-pass prefix sum
    (functions/prefix.py) — never a single-partition window."""
    kept = txt_filter_pipeline(spark, sf_dir).where("keep").select("doc_id")
    _m, v = _learn_merges(spark, sf_dir)  # session-cached trained vocab
    seg = v.select("w", F.size("syms").cast("long").alias("n_subtok"))
    toks = token_index(spark, sf_dir).select("doc_id", F.explode("toks").alias("w"))
    per_doc = (
        toks.join(kept, "doc_id", "left_semi")
        .join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_subtok").alias("n_bpe"))
    )
    b, off, total = bucketed_prefix(
        per_doc,
        "doc_id",
        weight=F.col("n_bpe"),
        n_buckets=int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    if total == 0:
        return rows_frame(
            spark, [], "bin_id bigint, n_docs bigint, n_bpe_tokens bigint,"
            " first_doc_id bigint, last_doc_id bigint"
        )
    run = F.sum("n_bpe").over(W.partitionBy("_bkt").orderBy("doc_id"))
    doc_offset = off + run - F.col("n_bpe")  # exclusive prefix sum
    out = (
        b.withColumn("bin_id", F.floor(doc_offset / F.lit(SEQ_LEN)).cast("bigint"))
        .groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )
    return report_sort(out, "bin_id")


def materialize_tokenized_dataset(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> list[dict]:
    """WRITE the loader-boundary artifact: the packed-bin manifest as
    parquet (bucketed-by-nothing, bin_id-sorted — the index a training
    loader reads to schedule sequence fetches) plus the learned merge
    table and a run summary JSON (bins, docs, BPE tokens, SEQ_LEN).
    Returns the summary. The companion of
    pipeline.materialize_clean_corpus one stage further down the
    pipeline: corpus → clean corpus → packed token bins."""
    import json as _json
    import os as _os

    txt_tokenized_dataset(spark, sf_dir).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "bins")
    )
    txt_bpe_merges(spark, sf_dir).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "merges")
    )
    # summarize the PARQUET just written, not the logical plans — the
    # plans would re-run the whole gates→tokenize→pack chain (and the
    # trainer) a second time, and reading back guarantees the summary
    # describes the artifact actually on disk
    agg = (
        spark.read.parquet(_os.path.join(out_dir, "bins"))
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .collect()[0]
    )
    summary = [
        {
            "n_bins": agg["n_bins"],
            "n_docs": agg["n_docs"],
            "n_bpe_tokens": agg["n_bpe_tokens"],
            "seq_len": SEQ_LEN,
            # actual learned count — the trainer stops early if the
            # pair supply exhausts below BPE_MERGES on a tiny corpus
            "bpe_merges": spark.read.parquet(
                _os.path.join(out_dir, "merges")
            ).count(),
        }
    ]
    with open(_os.path.join(out_dir, "summary.json"), "w") as f:
        _json.dump(summary, f, indent=2)
    return summary


QUERIES = {
    "txt_token_stats": txt_token_stats,
    "txt_quality_scores": txt_quality_scores,
    "txt_language_id": txt_language_id,
    "txt_fingerprints": txt_fingerprints,
    "txt_corpus_profile": txt_corpus_profile,
    "txt_chunks": txt_chunks,
    "txt_training_mix": txt_training_mix,
    "txt_hash_sample": txt_hash_sample,
    "txt_repetition_filter": txt_repetition_filter,
    "txt_decontaminate": txt_decontaminate,
    "txt_pii_scrub": txt_pii_scrub,
    "txt_length_histogram": txt_length_histogram,
    "txt_filter_pipeline": txt_filter_pipeline,
    "txt_sequence_pack": txt_sequence_pack,
    "txt_bm25_topk": txt_bm25_topk,
    "txt_bpe_merges": txt_bpe_merges,
    "txt_bpe_tokenize": txt_bpe_tokenize,
    "txt_importance_sample": txt_importance_sample,
    "txt_sentiment": txt_sentiment,
    "txt_unigram_logprob": txt_unigram_logprob,
    "txt_mix_rebalance": txt_mix_rebalance,
    "txt_temperature_mix": txt_temperature_mix,
    "txt_tfidf_topterms": txt_tfidf_topterms,
    "txt_bigram_lm_score": txt_bigram_lm_score,
    "txt_dsir_sample": txt_dsir_sample,
    "txt_quality_classifier": txt_quality_classifier,
    "txt_stratified_split": txt_stratified_split,
    "txt_tokenized_dataset": txt_tokenized_dataset,
}

# --- shared SQL fragments (mirror functions/text.py formulas) -----------

_WS_TOKENS = "len(regexp_split_to_array(trim(text), '\\s+'))"
_WS_TOKENS_SAFE = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE {_WS_TOKENS} END"
_BPE_TOKENS = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
_PUNCT_RATIO = "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / GREATEST(length(text), 1)"
_QUALITY = f"""
ROUND((
  LEAST({_WS_TOKENS_SAFE} / 50.0, 1.0)
  + CASE WHEN length(text) * 1.0 / GREATEST({_WS_TOKENS_SAFE}, 1) BETWEEN 3 AND 12
         THEN 1.0 ELSE 0.5 END
  + (1.0 - LEAST(({_PUNCT_RATIO}) * 5, 1.0))
) / 3, 6)
"""


def _hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" t -> list_contains([{words}], t)))"
    )


_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"

ORACLES = {
    "txt_token_stats": f"""
        SELECT doc_id, lang,
               CAST({_WS_TOKENS_SAFE} AS INT) AS ws_tokens,
               CAST({_BPE_TOKENS} AS INT) AS bpe_tokens,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents ORDER BY doc_id
        """,
    "txt_quality_scores": f"""
        SELECT doc_id,
               CAST({_WS_TOKENS_SAFE} AS INT) AS n_tokens,
               ROUND({_PUNCT_RATIO}, 6) AS punct_ratio,
               {_QUALITY} AS quality
        FROM documents ORDER BY doc_id
        """,
    "txt_language_id": f"""
        SELECT doc_id, lang AS labeled_lang,
               CAST(hits_en AS INT) AS hits_en, CAST(hits_de AS INT) AS hits_de,
               CAST(hits_fr AS INT) AS hits_fr, CAST(hits_es AS INT) AS hits_es,
               CASE WHEN GREATEST(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
                    WHEN hits_en = GREATEST(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
                    WHEN hits_de = GREATEST(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
                    WHEN hits_fr = GREATEST(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
                    ELSE 'es' END AS predicted_lang
        FROM (
          SELECT doc_id, lang,
                 {_hits('en')} AS hits_en, {_hits('de')} AS hits_de,
                 {_hits('fr')} AS hits_fr, {_hits('es')} AS hits_es
          FROM documents
        ) s ORDER BY doc_id
        """,
    "txt_fingerprints": f"""
        SELECT doc_id, {_FP} AS fingerprint,
               CAST(concat('0x', substr({_FP}, 1, 15)) AS BIGINT) AS fp64
        FROM documents ORDER BY doc_id
        """,
    # exact-integer aggregates mirroring the Spark side: long token sum,
    # quality in 1e-6 units (order-independent — see txt_corpus_profile)
    "txt_corpus_profile": f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               ROUND(CAST(SUM({_WS_TOKENS_SAFE}) AS DOUBLE), 2) AS total_tokens,
               ROUND(SUM(CAST(ROUND(({_QUALITY}) * 1000000) AS BIGINT))
                     / (1000000.0 * COUNT(*)), 6) AS avg_quality
        FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
    # chunk i covers tokens [i·stride, i·stride + window); DuckDB list
    # slicing is 1-based INCLUSIVE, Spark's slice takes (start, length)
    "txt_chunks": f"""
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               CAST(LEAST(n - i * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS INT) AS n_tokens,
               array_to_string(
                 toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                 ' ') AS chunk_text
        FROM (
          SELECT doc_id,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 {_WS_TOKENS_SAFE} AS n
          FROM documents WHERE length(trim(text)) > 0
        ) d,
        LATERAL (
          SELECT unnest(generate_series(
            0, CAST(CEIL(GREATEST(n - {CHUNK_TOKENS}, 0) * 1.0 / {CHUNK_STRIDE}) AS INT)
          )) AS i
        ) s
        ORDER BY doc_id, chunk_idx
        """,
    "txt_training_mix": f"""
        WITH scored AS (
          SELECT doc_id, lang, {_FP} AS fp,
                 CAST({_WS_TOKENS_SAFE} AS BIGINT) AS n_tokens,
                 {_QUALITY} AS quality
          FROM documents
        ),
        canon AS (SELECT fp, MIN(doc_id) AS canonical_doc_id FROM scored GROUP BY fp),
        flagged AS (
          SELECT lang, n_tokens, quality,
                 s.doc_id = canonical_doc_id AS is_canonical,
                 quality >= {MIX_QUALITY_MIN} AS passes_quality
          FROM scored s JOIN canon USING (fp)
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN is_canonical AND passes_quality THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_dropped,
               CAST(SUM(CASE WHEN is_canonical AND NOT passes_quality THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quality_dropped,
               CAST(SUM(CASE WHEN is_canonical AND passes_quality THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS kept_tokens,
               CASE WHEN SUM(CASE WHEN is_canonical AND passes_quality THEN 1 ELSE 0 END) > 0
                    THEN ROUND(
                      SUM(CASE WHEN is_canonical AND passes_quality
                               THEN CAST(ROUND(quality * 1000000) AS BIGINT) ELSE 0 END)
                      / (1000000.0 *
                         SUM(CASE WHEN is_canonical AND passes_quality THEN 1 ELSE 0 END)),
                      6)
               END AS kept_avg_quality
        FROM flagged GROUP BY lang ORDER BY lang
        """,
    "txt_hash_sample": f"""
        SELECT doc_id, lang,
               CAST(b AS INT) AS bucket,
               CAST(r AS INT) AS rate_bp,
               b < r AS kept
        FROM (
          SELECT doc_id, lang,
                 CAST(concat('0x', substr(md5('samp-' || CAST(doc_id AS STRING)), 1, 8))
                      AS BIGINT) % 10000 AS b,
                 CASE {' '.join(f"WHEN lang = '{lg}' THEN {bp}" for lg, bp in SAMPLE_BP.items())}
                      ELSE {SAMPLE_BP_DEFAULT} END AS r
          FROM documents
        ) s ORDER BY doc_id
        """,
    "txt_repetition_filter": f"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        g2 AS (
          SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS gram
          FROM toks,
          LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t) - 1, 1))) AS i) s
        ),
        cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        rep AS (
          SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top2_frac_raw FROM cnt GROUP BY 1
        ),
        ratio AS (
          SELECT doc_id, len(t) AS n_tokens,
                 len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio_raw
          FROM toks
        )
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               ROUND(distinct_ratio_raw, 6) AS distinct_ratio,
               ROUND(top2_frac_raw, 6) AS top2_frac,
               top2_frac_raw <= {REP_TOP2_MAX} AND distinct_ratio_raw >= {REP_DISTINCT_MIN}
                 AS keep
        FROM ratio JOIN rep USING (doc_id) ORDER BY doc_id
        """,
    "txt_decontaminate": f"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        g AS (
          SELECT DISTINCT doc_id, array_to_string(t[i : i + {DECON_NGRAM - 1}], ' ') AS gram
          FROM toks,
          LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t) - {DECON_NGRAM - 1}, 1))) AS i) s
        ),
        ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_EVAL_MOD} = 0),
        hits AS (
          SELECT g.doc_id, COUNT(*) AS n_shared
          FROM g JOIN ev USING (gram)
          WHERE doc_id % {DECON_EVAL_MOD} != 0 GROUP BY 1
        )
        SELECT t.doc_id,
               CAST(COALESCE(n_shared, 0) AS INT) AS n_shared_ngrams,
               COALESCE(n_shared, 0) > 0 AS contaminated
        FROM toks t LEFT JOIN hits ON t.doc_id = hits.doc_id
        WHERE t.doc_id % {DECON_EVAL_MOD} != 0
        ORDER BY t.doc_id
        """,
    "txt_pii_scrub": f"""
        WITH pii AS ({PII_CORPUS_SQL})
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
               CAST(length(text) - length(
                 regexp_replace(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                                '{PHONE_RE}', '[PHONE]', 'g')
               ) AS INT) AS chars_redacted
        FROM pii ORDER BY doc_id
        """,
    "txt_length_histogram": """
        SELECT lang,
               CAST(CASE WHEN length(text) < 64 THEN 0
                         WHEN length(text) < 128 THEN 1
                         WHEN length(text) < 256 THEN 2
                         WHEN length(text) < 512 THEN 3
                         ELSE 4 END AS INT) AS len_bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                    AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1, 2 ORDER BY lang, len_bucket
        """,
    "txt_filter_pipeline": f"""
        WITH scored AS (
          SELECT doc_id, lang, {_FP} AS fp,
                 CAST({_WS_TOKENS_SAFE} AS INT) AS n_tokens,
                 {_QUALITY} AS quality
          FROM documents
        ),
        flagged AS (
          SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_doc_id
          FROM scored
        ),
        toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        g2 AS (
          SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS gram
          FROM toks,
          LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t) - 1, 1))) AS i) s
        ),
        cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        rep AS (
          SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top2_frac_raw FROM cnt GROUP BY 1
        ),
        ratio AS (
          SELECT doc_id, len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio_raw
          FROM toks
        ),
        {{LM_CTES}},
        j AS (
          SELECT f.*, rep.top2_frac_raw, ratio.distinct_ratio_raw,
                 lm.avg_p_micro
          FROM flagged f
          LEFT JOIN rep USING (doc_id)
          LEFT JOIN ratio USING (doc_id)
          LEFT JOIN lm_scored lm USING (doc_id)
        ),
        reasons AS (
          SELECT doc_id, lang, n_tokens,
                 CASE WHEN n_tokens < {FILTER_MIN_TOKENS} THEN 'too_short'
                      WHEN doc_id != canonical_doc_id THEN 'duplicate'
                      WHEN quality < {MIX_QUALITY_MIN} THEN 'low_quality'
                      WHEN COALESCE(top2_frac_raw > {REP_TOP2_MAX}
                                    OR distinct_ratio_raw < {REP_DISTINCT_MIN},
                                    FALSE) THEN 'repetitive'
                      WHEN COALESCE(avg_p_micro < {LM_KEEP_MIN}, FALSE)
                           THEN 'low_likelihood'
                      ELSE 'kept' END AS reason
          FROM j
        )
        SELECT doc_id, lang, n_tokens, reason, reason = 'kept' AS keep
        FROM reasons ORDER BY doc_id
        """,
    "txt_mix_rebalance": f"""
        WITH prof AS (
          SELECT lang,
                 CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT) AS actual_tokens,
                 CAST(CASE {' '.join(f"WHEN lang = '{lg}' THEN {sh}" for lg, sh in sorted(MIX_TARGETS.items()))}
                 END AS DOUBLE) AS target_share
          FROM documents GROUP BY lang
        ),
        m AS (SELECT MIN(actual_tokens / target_share) AS m_total FROM prof)
        SELECT lang, actual_tokens,
               ROUND(target_share, 6) AS target_share,
               CAST(FLOOR(target_share * m_total) AS BIGINT) AS sampled_tokens,
               ROUND(LEAST(target_share * m_total / actual_tokens, 1.0), 6)
                 AS sample_rate
        FROM prof, m ORDER BY lang
        """,
    # α = 0.375 is exactly representable in double, so power(share, α)
    # evaluates the same (share, exponent) pair in both engines; the
    # round-6 boundary margins are pinned in tests/test_textops_lm.py
    "txt_temperature_mix": f"""
        WITH prof AS (
          SELECT lang, CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT) AS actual_tokens
          FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(SUM(actual_tokens) AS BIGINT) AS t_all FROM prof),
        s AS (
          SELECT lang, actual_tokens, actual_tokens / t_all AS share_raw
          FROM prof, tot
        ),
        p AS (
          SELECT lang, actual_tokens, share_raw,
                 power(share_raw, {MIX_ALPHA}) AS pow_raw
          FROM s
        ),
        z AS (SELECT SUM(pow_raw) AS z FROM p)
        SELECT lang, actual_tokens,
               ROUND(share_raw, 6) AS natural_share,
               ROUND(pow_raw / z, 6) AS temp_share,
               ROUND((pow_raw / z) / share_raw, 6) AS oversample_factor
        FROM p, z ORDER BY lang
        """,
    "txt_unigram_logprob": f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT SUM(cnt) AS n_total FROM vocab)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_tokens,
               ROUND(AVG(-ln(cnt * 1.0 / n_total)), 6) AS avg_nll,
               ROUND(AVG(-ln(cnt * 1.0 / n_total)), 6) <= {NLL_KEEP_MAX} AS keep
        FROM toks JOIN vocab USING (tok), tot
        GROUP BY doc_id ORDER BY doc_id
        """,
    # the oracle's whole-corpus window IS the naive single-partition
    # prefix sum the Spark side deliberately decomposes
    "txt_sequence_pack": f"""
        WITH t AS (
          SELECT doc_id, CAST({_WS_TOKENS_SAFE} AS BIGINT) AS n
          FROM documents WHERE length(trim(text)) > 0
        ),
        c AS (
          SELECT doc_id, n,
                 SUM(n) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off
          FROM t
        )
        SELECT CAST(FLOOR(off / {SEQ_LEN}.0) AS BIGINT) AS bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc_id,
               MAX(doc_id) AS last_doc_id
        FROM c GROUP BY 1 ORDER BY 1
        """,
    "txt_bm25_topk": f"""
        WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
                 len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS ntok
          FROM documents WHERE length(trim(text)) > 0
        ),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                         AVG(ntok) AS avgdl FROM t),
        tf AS (
          SELECT doc_id, ntok, tok, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, ntok, unnest(toks) AS tok FROM t)
          WHERE tok IN ({", ".join(f"'{w}'" for w in BM25_TERMS)})
          GROUP BY 1, 2, 3
        ),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
        SELECT doc_id,
               ROUND(SUM(
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * ({BM25_K1} + 1.0)
                 / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * ntok / avgdl))
               ), 6) AS bm25
        FROM tf JOIN df USING (tok), stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP}
        """,
    # single whole-stratum window here IS the naive plan the Spark side
    # deliberately decomposes into the two-level reservoir
    "txt_importance_sample": f"""
        WITH keyed AS (
          SELECT lang, doc_id,
                 ({_QUALITY}) + 0.01 AS weight,
                 ROUND(pow(
                   (CAST(concat('0x', substr(md5('ares-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0,
                   1.0 / (({_QUALITY}) + 0.01)
                 ), 6) AS samp_key
          FROM documents
        )
        SELECT lang, rank, doc_id, ROUND(weight, 6) AS weight, samp_key
        FROM (
          SELECT lang, doc_id, weight, samp_key,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY samp_key DESC, doc_id) AS rank
          FROM keyed
        )
        WHERE rank <= {ARES_K}
        ORDER BY lang, rank
        """,
    "txt_sentiment": f"""
        WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
                 len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS ntok
          FROM documents WHERE length(trim(text)) > 0
        ),
        h AS (
          SELECT doc_id, ntok,
                 len(list_filter(toks, tok -> list_contains(
                   [{", ".join(f"'{w}'" for w in SENT_POS)}], tok))) AS n_pos,
                 len(list_filter(toks, tok -> list_contains(
                   [{", ".join(f"'{w}'" for w in SENT_NEG)}], tok))) AS n_neg
          FROM t
        )
        SELECT doc_id, CAST(n_pos AS INT) AS n_pos, CAST(n_neg AS INT) AS n_neg,
               ROUND((n_pos - n_neg) * 1.0 / ntok, 6) AS score,
               CASE WHEN ROUND((n_pos - n_neg) * 1.0 / ntok, 6) > {SENT_EPS} THEN 'pos'
                    WHEN ROUND((n_pos - n_neg) * 1.0 / ntok, 6) < -{SENT_EPS} THEN 'neg'
                    ELSE 'neutral' END AS label
        FROM h ORDER BY doc_id
        """,
}

ORACLES["txt_bpe_merges"] = _bpe_oracle_sql()
ORACLES["txt_bpe_tokenize"] = _bpe_tokenize_oracle_sql()

ORACLES["txt_tfidf_topterms"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
s AS (
  SELECT doc_id, tok, tf, df,
         tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS score
  FROM tf JOIN dfreq USING (tok), nd
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
  FROM s
)
SELECT doc_id, CAST(rnk AS INT) AS rank, tok AS term,
       CAST(tf AS INT) AS tf, CAST(df AS INT) AS df,
       ROUND(score, 6) AS tfidf
FROM r WHERE rnk <= {TFIDF_TOP} ORDER BY doc_id, rnk
"""

# exact-integer mirror: every division is a positive-operand integer
# division (`//` here, `div` on the Spark side), so the score carries no
# float at all; the hugeint SUM is cast back to BIGINT before dividing
# to keep the output schema at int64. lm_-prefixed CTE names so the
# fragment composes into oracles that already define their own `toks`
# (the filter pipeline's) — composed hosts pass their tokenized CTE as
# {src} so the documents regexp scan isn't paid twice in one query.
_BIGRAM_SCORE_CTES_TMPL = """
lm_toks AS ({src}),
lm_pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM lm_toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
  WHERE len(t) >= 2
),
lm_big AS (SELECT w1, w2, COUNT(*) AS c12 FROM lm_pairs GROUP BY 1, 2),
lm_uni AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest(t) AS tok FROM lm_toks) u GROUP BY 1
),
lm_tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM lm_uni),
lm_scored AS (
  SELECT doc_id, COUNT(*) AS n_pairs,
         CAST(CAST(SUM((9000000 * c12) // (10 * c1)
                       + (1000000 * c2) // (10 * t_total)) AS BIGINT)
              // COUNT(*) AS BIGINT) AS avg_p_micro
  FROM lm_pairs
  JOIN lm_big USING (w1, w2)
  JOIN (SELECT tok AS w1, cnt AS c1 FROM lm_uni) u1 USING (w1)
  JOIN (SELECT tok AS w2, cnt AS c2 FROM lm_uni) u2 USING (w2)
  , lm_tot
  GROUP BY doc_id
)
"""

# standalone form: the fragment tokenizes documents itself
_LM_TOKS_SRC = (
    "SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t "
    "FROM documents WHERE length(trim(text)) > 0"
)
_BIGRAM_SCORE_CTES = _BIGRAM_SCORE_CTES_TMPL.format(src=_LM_TOKS_SRC)

ORACLES["txt_bigram_lm_score"] = f"""
WITH {_BIGRAM_SCORE_CTES.strip()}
SELECT doc_id, CAST(n_pairs AS INT) AS n_pairs, avg_p_micro,
       avg_p_micro >= {LM_KEEP_MIN} AS keep
FROM lm_scored ORDER BY doc_id
"""

# the pipeline oracle composes the same LM-score CTEs (defined above,
# after the dict literal — hence the placeholder substitution), with
# lm_toks riding the host's identical `toks` CTE so the documents
# regexp scan runs once per gate run, not twice
ORACLES["txt_filter_pipeline"] = ORACLES["txt_filter_pipeline"].replace(
    "{LM_CTES}",
    _BIGRAM_SCORE_CTES_TMPL.format(src="SELECT doc_id, t FROM toks").strip(),
)

# shared by the DSIR and quality-classifier oracles: the hashed-bigram
# feature table (mirrors hashed_gram_features)
_HASHED_FEATS_CTES = f"""
toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
g AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5('dsir' ||
                array_to_string(t[i : i + 1], ' ')), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS f
  FROM toks,
  LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t) - 1, 1))) AS i) s
),
feats AS (
  SELECT doc_id, lang, f, COUNT(*) AS n_f FROM g GROUP BY 1, 2, 3
)
"""


def _qc_oracle_sql() -> str:
    """NB-distillation mirror: teacher labels come from the unigram-NLL
    oracle (inlined as a scoped subquery — its own WITH chain is legal
    inside the parenthesized FROM), the student's class counts / log
    ratios / prior repeat the Spark expressions term-for-term, and the
    per-doc score is an exact integer dot product."""
    b = DSIR_BUCKETS
    return f"""
WITH lab AS (
  SELECT doc_id, keep FROM ( {ORACLES['txt_unigram_logprob']} ) t
),
{_HASHED_FEATS_CTES.strip()},
lf AS (
  SELECT f.doc_id, f.f, f.n_f, l.keep FROM feats f JOIN lab l USING (doc_id)
),
cls AS (
  SELECT f,
         CAST(SUM(CASE WHEN keep THEN n_f ELSE 0 END) AS BIGINT) AS ck,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE n_f END) AS BIGINT) AS cd
  FROM lf GROUP BY f
),
tot AS (
  SELECT CAST(SUM(ck) AS BIGINT) AS tk, CAST(SUM(cd) AS BIGINT) AS td FROM cls
),
w AS (
  SELECT f,
         CAST(FLOOR(ln(((ck + 1) * (td + {b}))
                       / ((cd + 1) * (tk + {b}))) * 1e6) AS BIGINT) AS w_micro
  FROM cls, tot
),
prior AS (
  SELECT CAST(FLOOR(ln(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                       / CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT))
                    * 1e6) AS BIGINT) AS prior_micro
  FROM lab
),
scored AS (
  SELECT lf.doc_id, lf.keep,
         CAST(SUM(lf.n_f * w.w_micro) AS BIGINT) AS dot
  FROM lf JOIN w USING (f)
  GROUP BY 1, 2
)
SELECT doc_id, CAST(keep AS INT) AS label,
       dot + prior_micro AS score_micro,
       (dot + prior_micro) >= 0 AS predicted,
       ((dot + prior_micro) >= 0) = keep AS agrees
FROM scored, prior ORDER BY doc_id
"""


ORACLES["txt_quality_classifier"] = _qc_oracle_sql()

ORACLES["txt_dsir_sample"] = f"""
WITH {_HASHED_FEATS_CTES.strip()},
dist AS (
  SELECT f, SUM(n_f) AS cr,
         SUM(CASE WHEN lang = 'en' THEN n_f ELSE 0 END) AS ct
  FROM feats GROUP BY f
),
tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
  FROM dist
),
lr AS (
  SELECT f,
         CAST(FLOOR(ln(((ct + 1) * (tr + {DSIR_BUCKETS}))
                       / ((cr + 1) * (tt + {DSIR_BUCKETS}))) * 1e6)
              AS BIGINT) AS lr_micro
  FROM dist, tot
),
wts AS (
  SELECT doc_id, lang,
         CAST(SUM(n_f) AS INT) AS n_grams,
         CAST(SUM(n_f * lr_micro) AS BIGINT) AS weight_micro
  FROM feats JOIN lr USING (f)
  GROUP BY 1, 2
),
sel AS (SELECT * FROM wts ORDER BY weight_micro DESC, doc_id LIMIT {DSIR_K})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id) AS INT)
         AS rank,
       doc_id, lang, n_grams, weight_micro
FROM sel ORDER BY rank
"""



# --- stratified split oracle ---------------------------------------------
ORACLES["txt_stratified_split"] = f"""
WITH tagged AS (
  SELECT lang, doc_id, {_WS_TOKENS_SAFE} AS n_tokens,
         {split_case_sql("doc_id")} AS split
  FROM documents
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM tagged GROUP BY 1, 2 ORDER BY lang, split
"""

# --- tokenized-dataset oracle --------------------------------------------
# Composes the (LM-substituted) filter-pipeline CTE chain with the BPE
# trainer's unrolled chain and the prefix-sum binning. The filter body
# is extracted from its finished oracle string (anchored on the roster
# SELECT — rindex fails loudly if that select is ever reworded); the
# BPE chain's one colliding CTE name (`toks`) is word-boundary-renamed.
_FILTER_ROSTER_SELECT = (
    "SELECT doc_id, lang, n_tokens, reason, reason = 'kept' AS keep"
)
_filter_ctes = ORACLES["txt_filter_pipeline"][
    : ORACLES["txt_filter_pipeline"].rindex(_FILTER_ROSTER_SELECT)
].rstrip().rstrip(",")


def _tokenized_dataset_oracle() -> str:
    chain, final_vocab, _merges = _bpe_chain_sql()
    chain = re.sub(r"^\s*WITH\s+", "", chain)  # body only — one WITH total
    chain = re.sub(r"(?<![a-z0-9_])toks(?![a-z0-9_])", "bpe_toks", chain)
    return f"""
{_filter_ctes},
{chain},
kept AS (SELECT doc_id FROM reasons WHERE reason = 'kept'),
dsub AS (
  SELECT t.doc_id,
         CAST(SUM(len(string_split(v.sym, ' '))) AS BIGINT) AS n_bpe
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) t
  JOIN {final_vocab} v USING (w)
  JOIN kept k ON k.doc_id = t.doc_id
  GROUP BY t.doc_id
),
offs AS (
  SELECT doc_id, n_bpe,
         COALESCE(SUM(n_bpe) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM dsub
)
SELECT CAST(FLOOR(o / {SEQ_LEN}) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM offs GROUP BY 1 ORDER BY bin_id
"""


ORACLES["txt_tokenized_dataset"] = _tokenized_dataset_oracle()
