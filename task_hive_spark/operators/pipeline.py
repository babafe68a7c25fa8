"""The end-to-end cleaned-corpus materializer: the training-data
pipeline's actual DELIVERABLE. Every detector in the engine emits a
roster (dedup keep-lists, duplicate spans, filter reasons, mix
targets); this module APPLIES them — one composed operator that takes
the raw (augmented) corpus through the RefinedWeb/DCLM stage stack and
emits the final cleaned, deduplicated, span-excised,
temperature-resampled corpus plus per-stage accounting:

  stage 0  corpus              the augmented dedup corpus (dedup.py)
  stage 1  gates               too_short / low_quality / repetitive /
                               low_likelihood (the txt_filter_pipeline
                               gate stack minus its exact-dedup gate,
                               which is stage 2 here)
  stage 2  exact_dedup         keep the min-doc_id per fingerprint
  stage 3  near_dedup          MinHash-LSH pairs at est_jaccard ≥ 0.5 →
                               connected components → keep component min
  stage 4  span_excision       Lee et al. 2022 apply-step: every
                               duplicated SPAN_L-token window keeps its
                               first occurrence (min doc_id, pos); all
                               other occurrences are cut from the text;
                               docs under FILTER_MIN_TOKENS after the
                               cut are dropped
  stage 5  temperature_sample  per-language n_copies from the XLM-R
                               α-mix factor (floor-quantized to 1e-6),
                               fractional part resolved by a
                               deterministic per-doc hash draw

Scale shape: stages 1–2 are the filter pipeline's budget (three narrow
doc_id shuffles + one fingerprint shuffle); stage 3 reuses the
session-materialized MinHash signature index (restricting the banded
self-join to survivors — signatures and buckets are per-doc, so
pairs(survivors) ≡ pairs(corpus) ∩ survivors², no recompute) and the
shared min-label CC fixpoint; stage 4 is the dd_duplicate_spans window
fingerprint pass (one fingerprint-count shuffle, rank-1 occurrence
kept) plus a token-position anti-join; stage 5 is a 5-row broadcast.
At 100 TB a pipeline materializes each stage's survivor frame to
storage between stages (materialize_clean_corpus writes the final
one); the lazy composition here recomputes nothing heavy thanks to the
session indexes.

Float discipline: the only non-integer surface is the α-power mix
factor, quantized ONCE to integer micro-units (f_micro); the
fractional-part draw compares integer hash_micro < f_micro % 1e6.
tests/test_pipeline_clean.py pins the distance of f·1e6 from integer
boundaries and of every doc's hash draw from its threshold (the
derived-margin method of tests/test_textops_lm.py).

Reference parity: composes the same gate semantics the reference's
processors apply per-task (/root/reference/tasks/processor.go) into
the corpus-curation shape the brief's LLM-pipeline surface demands;
stage algorithms cite their papers in the respective modules
(dedup.py, textops.py).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.functions.components import min_label_components
from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.functions.text import (
    fingerprint,
    portable_hash32,
    quality_score,
    ws_token_count,
    ws_tokens,
)
from task_hive_spark.materialize import session_index
from task_hive_spark.operators.dedup import (
    _BAND_EXPRS,
    _GRAMS_CTE,
    _SIGS_CTE,
    band_buckets_of,
    CORPUS_SQL,
    DUP_OFFSET,
    est_jaccard_col,
    JACCARD_THRESHOLD,
    LSH_BANDS,
    MINHASH_K,
    SPAN_L,
)
from task_hive_spark.operators.textops import (
    _BIGRAM_SCORE_CTES_TMPL,
    _FP,
    _QUALITY,
    _WS_TOKENS_SAFE,
    bigram_scores_of,
    FILTER_MIN_TOKENS,
    gopher_signals_of,
    LM_KEEP_MIN,
    MIX_ALPHA,
    MIX_QUALITY_MIN,
    pair_freq_of,
    REP_DISTINCT_MIN,
    REP_TOP2_MAX,
)


# The dedup corpus (base + exact-dup + near-dup copies) carries no
# REPEATED PASSAGES between docs that survive the gate stack — probed
# at sf0.001 and sf0.01: zero duplicated ≥5-token windows among
# stage-3 survivors — so the span-excision stage would be a no-op the
# oracle cannot certify. Same cure as dedup.CORPUS_SQL itself applies
# for whole-doc dups: augment deterministically, with the SQL shared
# verbatim by Spark and the oracle. Every 5th base doc contributes a
# BOILERPLATE HOST (offset +3e9): one fixed 19-token passage (web
# boilerplate / license-header shaped, the Lee et al. 2022 motivating
# case) followed by 16 filler tokens: a 'u<doc_id>' marker then 15
# 2-char hash tokens. The marker makes every window that crosses the
# passage/filler boundary doc-unique BY CONSTRUCTION (2-char hash
# tokens alone collide across ~100 hosts, which extended shared
# windows one token into the filler), so the duplicated windows are
# exactly the all-passage ones. Hosts pass every gate (high quality
# score, no repetition, high self-LM likelihood), are near-dup of
# NOTHING (passage-vs-filler Jaccard ≈ 0.33 < 0.5), and share exactly
# the passage windows — the span stage must keep the first occurrence
# and cut the rest, leaving each host's 16 filler tokens.
BOILER_OFFSET = 3_000_000_000
BOILER_EVERY = 5
_BOILER_PASSAGE = (
    "this document is provided for general information purposes only and"
    " may be reproduced with attribution to the original source"
)
_FILLER = (
    "CONCAT('u', CAST(doc_id AS STRING), ' ', CONCAT_WS(' ', "
    + ", ".join(f"substr(h, {1 + 2 * j}, 2)" for j in range(15))
    + "))"
)
PIPE_CORPUS_SQL = f"""{CORPUS_SQL}
UNION ALL
SELECT doc_id + {BOILER_OFFSET} AS doc_id,
       CONCAT('{_BOILER_PASSAGE}', ' ', {_FILLER}) AS text
FROM (
  SELECT doc_id, md5(CONCAT('bp-', CAST(doc_id AS STRING))) AS h
  FROM documents WHERE doc_id % {BOILER_EVERY} = 0
) b
"""


def pipe_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from task_hive_spark.sources.fixtures import register_fixture_views

    register_fixture_views(spark, sf_dir)
    return spark.sql(PIPE_CORPUS_SQL)


def _pipe_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline corpus rows as a session index: five consumers
    (gate scoring, token index, signature index, language map, and four
    accounting branches) each re-paid the four-way union scan +
    boilerplate synthesis otherwise; doc_id partitioning feeds every
    downstream per-doc join exchange-free."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint=True (not persist): the four pipe indexes are the
    # branches of txt_clean_corpus_stats' six-way union, and Spark 4.1's
    # CacheManager misses persisted plans referenced under a Union —
    # measured as the stats query re-planning EVERY stage pipeline from
    # raw parquet (866 scans, 14.5 s vs ~0.4 s over checkpoint leaves).
    return session_index(
        spark, sf_dir, "pipe_corpus",
        lambda: pipe_corpus_df(spark, sf_dir).repartition(n, "doc_id"),
        checkpoint=True,
    )


def _corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_index's shape over the pipeline corpus: (doc_id, toks,
    ntok), non-empty docs, doc_id-partitioned (inherited from the
    corpus index), one per session."""

    def build() -> DataFrame:
        d = _pipe_corpus(spark, sf_dir).where(F.length(F.trim("text")) > 0)
        return (
            d.select("doc_id", ws_tokens(F.lower("text")).alias("toks"))
            .withColumn("ntok", F.size("toks"))
        )

    return session_index(spark, sf_dir, "corpus_token_index", build)


def _pipe_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over the pipeline corpus (its own session
    index — the dedup family's `minhash_sig` index covers the dedup
    corpus, which lacks the boilerplate hosts). Same arithmetic:
    minhash_sigs_of is the one shared implementation."""

    def build() -> DataFrame:
        from task_hive_spark.operators.dedup import minhash_sigs_of

        return minhash_sigs_of(_pipe_corpus(spark, sf_dir))

    return session_index(spark, sf_dir, "pipe_minhash_sig", build)


def _gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 survivors (doc_id, text, n_tokens): the filter-pipeline
    gate stack evaluated on the corpus's own text (LM self-trained on
    the corpus, the same inlined-training shape as _bigram_scores)."""
    t = _corpus_tokens(spark, sf_dir)
    pf = session_index(spark, sf_dir, "corpus_pair_freq", lambda: pair_freq_of(t))
    big = session_index(
        spark,
        sf_dir,
        "corpus_bigram_counts",
        lambda: pf.groupBy("w1", "w2").agg(F.sum("n").alias("c12")),
    )
    vocab = session_index(
        spark,
        sf_dir,
        "corpus_unigram_vocab",
        lambda: t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt")),
    )
    lm = bigram_scores_of(pf, big, vocab).select("doc_id", "avg_p_micro")
    scored = _pipe_corpus(spark, sf_dir).select(
        "doc_id",
        "text",
        ws_token_count(F.col("text")).cast("int").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    j = scored.join(gopher_signals_of(t).drop("ntok"), "doc_id", "left").join(
        lm, "doc_id", "left"
    )
    repetitive = F.coalesce(
        (F.col("top2_frac_raw") > REP_TOP2_MAX)
        | (F.col("distinct_ratio_raw") < REP_DISTINCT_MIN),
        F.lit(False),
    )
    low_likelihood = F.coalesce(F.col("avg_p_micro") < LM_KEEP_MIN, F.lit(False))
    keep = (
        (F.col("n_tokens") >= FILTER_MIN_TOKENS)
        & (F.col("quality") >= MIX_QUALITY_MIN)
        & ~repetitive
        & ~low_likelihood
    )
    return j.where(keep).select("doc_id", "text", "n_tokens")


def _exact_surviving(gated: DataFrame) -> DataFrame:
    """Stage-2 survivors: min doc_id per normalized-text fingerprint."""
    exf = gated.withColumn("fp", fingerprint(F.col("text")))
    canon = exf.groupBy("fp").agg(F.min("doc_id").alias("canonical_doc_id"))
    return (
        exf.join(canon, "fp")
        .where(F.col("doc_id") == F.col("canonical_doc_id"))
        .select("doc_id", "text", "n_tokens")
    )


def _near_surviving(spark: SparkSession, sf_dir: str, exact: DataFrame) -> DataFrame:
    """Stage-3 survivors: MinHash-LSH candidate pairs among the exact
    survivors at est_jaccard ≥ JACCARD_THRESHOLD, connected components,
    keep the component min. Signatures and band buckets are PER-DOC, so
    restricting the materialized signature index to survivors before
    the banded self-join yields exactly pairs(corpus) ∩ survivors² —
    the full-corpus index is reused, nothing re-hashed."""
    sigs = _pipe_sigs(spark, sf_dir)
    ssig = sigs.join(exact.select("doc_id"), "doc_id")
    stacked = band_buckets_of(ssig)
    a, b = stacked.alias("a"), stacked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = ssig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = ssig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(est_jaccard_col() >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    labels = min_label_components(pairs)
    drop = labels.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return exact.join(drop, "doc_id", "left_anti")


def _span_cleaned(spark: SparkSession, sf_dir: str, near: DataFrame) -> DataFrame:
    """Stage-4 output (doc_id, n_tokens_clean, text_clean): duplicated
    SPAN_L-token windows among the survivors keep their FIRST occurrence
    (min doc_id, then min position — Lee et al.'s remove-all-but-one);
    every other occurrence's covered token positions are cut, the text
    is rebuilt from the remaining original-case tokens, and docs that
    fall under FILTER_MIN_TOKENS are dropped. Window fingerprints are
    engine-internal (xxhash64 here, md5 in the oracle) — only positions
    flow downstream, the same freedom dd_duplicate_spans documents."""
    t = _corpus_tokens(spark, sf_dir).join(near.select("doc_id"), "doc_id")
    tt = t.where(F.col("ntok") >= SPAN_L)
    w = tt.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, ntok - {SPAN_L}),"
                f" i -> struct(CAST(i AS INT) AS p,"
                f" xxhash64(slice(toks, i + 1, {SPAN_L})) AS fp))"
            )
        ).alias("x"),
    ).select("doc_id", "x.p", "x.fp")
    occw = W.partitionBy("fp")
    ranked = w.select(
        "doc_id",
        "p",
        F.row_number().over(occw.orderBy("doc_id", "p")).alias("rn"),
        F.count("*").over(occw).alias("nocc"),
    )
    flagged = ranked.where((F.col("nocc") > 1) & (F.col("rn") > 1))
    cover = flagged.select(
        "doc_id",
        F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(SPAN_L - 1))).alias(
            "tokpos"
        ),
    ).distinct()
    otoks = near.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("tokpos", "tok")
    )
    kept = otoks.join(cover, ["doc_id", "tokpos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens_clean"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    return clean.where(F.col("n_tokens_clean") >= FILTER_MIN_TOKENS)


def _sampled(spark: SparkSession, sf_dir: str, clean: DataFrame) -> DataFrame:
    """Stage-5 output (doc_id, lang, n_copies, n_tokens_clean,
    text_clean), n_copies ≥ 0: XLM-R α-mix factor per language derived
    from the CLEANED token counts, floor-quantized to micro-units;
    n_copies = ⌊f⌋ plus a deterministic hash draw on the fractional
    part (docs of over-represented languages downsample to 0 copies,
    rare languages replicate — the one-epoch materialization of the
    temperature mix)."""
    import math

    from task_hive_spark.sources.fixtures import load_table

    langmap = (
        _pipe_corpus(spark, sf_dir)
        .select("doc_id", (F.col("doc_id") % DUP_OFFSET).alias("base_id"))
        .join(
            load_table(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("base_id"), "lang"
            ),
            "base_id",
        )
        .select("doc_id", "lang")
    )
    cl = clean.join(langmap, "doc_id")
    # the per-language factor table is a ≤|langs|-row scalar: collect it
    # once and quantize driver-side (the bounded-scalar pattern) — the
    # earlier all-DataFrame chain re-derived the profile aggregation for
    # every downstream crossJoin (measured 13.7s for a 5-row result at
    # sf0.01). Arithmetic is expression-identical to the oracle
    # (FLOOR(pw / z / share * 1e6)); cross-engine pow/sum ulp drift is
    # covered by the derived-margin test, same as the ln quantizations.
    prof = sorted(
        (r["lang"], int(r["tok"]))
        for r in cl.groupBy("lang")
        .agg(F.sum("n_tokens_clean").cast("bigint").alias("tok"))
        .collect()
    )
    t_all = sum(tok for _, tok in prof)
    pw = {lang: (tok / t_all) ** MIX_ALPHA for lang, tok in prof}
    z = sum(pw[lang] for lang, _ in prof)
    fac = rows_frame(
        spark,
        [
            (lang, math.floor(pw[lang] / z / (tok / t_all) * 1000000.0))
            for lang, tok in prof
        ],
        "lang string, f_micro bigint",
    )
    return (
        cl.join(F.broadcast(fac), "lang")
        .withColumn(
            "hash_micro",
            portable_hash32(F.col("doc_id").cast("string"), seed="tmix-")
            % F.lit(1000000),
        )
        .withColumn(
            "n_copies",
            (
                F.expr("f_micro div 1000000")
                + F.when(F.col("hash_micro") < F.col("f_micro") % 1000000, 1).otherwise(
                    0
                )
            ).cast("int"),
        )
        .select("doc_id", "lang", "n_copies", "n_tokens_clean", "text_clean")
    )


def _stage_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The stage outputs, with the expensive survivor frames
    session-indexed: a 100 TB pipeline MATERIALIZES each stage between
    passes (the downstream stage re-reads the survivor set, the
    accounting query reads every stage) — the session index is the
    local-mode form of that, and makes the corpus query and the stats
    query share one computation of the gate/CC/excision work."""
    corpus = _pipe_corpus(spark, sf_dir)
    # checkpoint=True on all of them: every one is referenced under the
    # stats query's union (see _pipe_corpus for the cache-miss evidence)
    gated = session_index(
        spark, sf_dir, "pipe_gated", lambda: _gated(spark, sf_dir),
        checkpoint=True,
    )
    exact = _exact_surviving(gated)
    near = session_index(
        spark, sf_dir, "pipe_near_survivors",
        lambda: _near_surviving(spark, sf_dir, exact),
        checkpoint=True,
    )
    clean = session_index(
        spark, sf_dir, "pipe_clean",
        lambda: _span_cleaned(spark, sf_dir, near),
        checkpoint=True,
    )
    final = _sampled(spark, sf_dir, clean)
    return {
        "corpus": corpus,
        "gated": gated,
        "exact": exact,
        "near": near,
        "clean": clean,
        "final": final,
    }


def txt_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized training corpus: every surviving document with
    its cleaned text, language, clean token count and replication count
    (n_copies ≥ 1). See the module docstring for the stage stack."""
    final = _stage_frames(spark, sf_dir)["final"]
    return final.where(F.col("n_copies") >= 1).orderBy("doc_id")


def _checksum(text_col: str) -> F.Column:
    return portable_hash32(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col(text_col))
    )


def txt_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage accounting: (stage_no, stage, n_docs, n_tokens,
    checksum) — docs and ws-tokens surviving each stage plus a
    content checksum (sum of 32-bit doc hashes; stage-5 rows weight the
    hash and the token count by n_copies — the actual training budget).
    The checksum makes the accounting value-bearing: a stage that
    keeps the right COUNT of docs but the wrong docs, or mutates text
    it shouldn't, still hash-mismatches."""
    fr = _stage_frames(spark, sf_dir)

    # r14 shape (guide §2.4 — one exchange, not six): r13 planned six
    # independent two-phase aggregates (one Exchange + AQE stage each)
    # and unioned the six result rows. The per-row terms are identical,
    # so project every stage frame to a common (stage_no, stage,
    # tokens, cks) shape FIRST, union the row streams, and aggregate
    # once by stage — map-side partial aggregation reduces each
    # partition to ≤6 rows before the single exchange. Probe: 20 → 9
    # jobs, 24 → ~4 exchanges, same rows.
    def terms(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.select(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            ws_token_count(F.col("text")).cast("long").alias("tokens"),
            _checksum("text").cast("long").alias("cks"),
        )

    def terms_clean(df: DataFrame, no: int, name: str, mult: bool) -> DataFrame:
        m = F.col("n_copies") if mult else F.lit(1)
        return df.select(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            (m.cast("long") * F.col("n_tokens_clean")).alias("tokens"),
            (m.cast("long") * _checksum("text_clean")).alias("cks"),
        )

    rows = [
        terms(fr["corpus"], 0, "corpus"),
        terms(fr["gated"], 1, "gates"),
        terms(fr["exact"], 2, "exact_dedup"),
        terms(fr["near"], 3, "near_dedup"),
        terms_clean(fr["clean"], 4, "span_excision", mult=False),
        terms_clean(
            fr["final"].where(F.col("n_copies") >= 1),
            5,
            "temperature_sample",
            mult=True,
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    grouped = out.groupBy("stage_no", "stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("n_tokens"),
        F.sum("cks").alias("checksum"),
    )
    # LEFT JOIN back onto the literal stage dim: a groupBy emits NO row
    # for an empty stage, while the old per-stage total aggregate
    # emitted (0, NULL, NULL) — preserve that contract exactly so a
    # degenerate corpus cannot change the output schema/rows.
    dim = spark.sql(
        "SELECT * FROM (VALUES "
        "(CAST(0 AS INT), 'corpus'), (1, 'gates'), (2, 'exact_dedup'), "
        "(3, 'near_dedup'), (4, 'span_excision'), (5, 'temperature_sample')"
        ") AS t(stage_no, stage)"
    )
    final = (
        dim.join(grouped, ["stage_no", "stage"], "left")
        .select(
            "stage_no",
            "stage",
            F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
            "n_tokens",
            "checksum",
        )
    )
    from task_hive_spark.functions.report import report_sort

    # report_sort, not orderBy: six rows — the global sort paid a
    # range-sampling job + a second exchange (guide §2.4)
    return report_sort(final, "stage_no")


def materialize_clean_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> list[dict]:
    """WRITE the deliverable: the final corpus as parquet partitioned by
    language (the layout a pretraining data loader shards by) plus the
    per-stage accounting as JSON. Returns the accounting rows."""
    txt_clean_corpus(spark, sf_dir).write.mode("overwrite").partitionBy(
        "lang"
    ).parquet(os.path.join(out_dir, "corpus"))
    stats = [r.asDict() for r in txt_clean_corpus_stats(spark, sf_dir).collect()]
    with open(os.path.join(out_dir, "accounting.json"), "w") as f:
        json.dump(stats, f, indent=2)
    return stats


QUERIES = {
    "txt_clean_corpus": txt_clean_corpus,
    "txt_clean_corpus_stats": txt_clean_corpus_stats,
}


# --- oracle SQL ----------------------------------------------------------

# The shared stage chain. Engine-internal window fingerprints use md5
# here vs xxhash64 in Spark (positions, not fingerprints, flow out);
# everything value-bearing mirrors exactly: gate thresholds, the
# MinHash/LSH lattice (dedup.py's CTEs verbatim), the recursive
# min-label closure, first-occurrence span retention, and the
# micro-quantized mix factor.
_H32 = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"
_EST_J = (
    "ROUND(list_sum(["
    + ", ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))
    + f"]) / {float(MINHASH_K)}, 6)"
)

_CHAIN = f"""corpus AS ({PIPE_CORPUS_SQL}),
ctoks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM corpus WHERE length(trim(text)) > 0
),
g2 AS (
  SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS gram
  FROM ctoks,
  LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t) - 1, 1))) AS i) s
),
g2cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
rep AS (
  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top2_frac_raw FROM g2cnt GROUP BY 1
),
ratio AS (
  SELECT doc_id, len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio_raw
  FROM ctoks
),
{_BIGRAM_SCORE_CTES_TMPL.format(src="SELECT doc_id, t FROM ctoks").strip()},
scored AS (
  SELECT doc_id, CAST({_WS_TOKENS_SAFE} AS INT) AS n_tokens, {_QUALITY} AS quality
  FROM corpus
),
gated AS (
  SELECT s.doc_id FROM scored s
  LEFT JOIN rep USING (doc_id)
  LEFT JOIN ratio USING (doc_id)
  LEFT JOIN lm_scored USING (doc_id)
  WHERE n_tokens >= {FILTER_MIN_TOKENS}
    AND quality >= {MIX_QUALITY_MIN}
    AND NOT COALESCE(top2_frac_raw > {REP_TOP2_MAX}
                     OR distinct_ratio_raw < {REP_DISTINCT_MIN}, FALSE)
    AND NOT COALESCE(avg_p_micro < {LM_KEEP_MIN}, FALSE)
),
exf AS (SELECT c.doc_id, {_FP} AS fp FROM corpus c JOIN gated USING (doc_id)),
excanon AS (SELECT fp, MIN(doc_id) AS m FROM exf GROUP BY fp),
ex AS (SELECT doc_id FROM exf JOIN excanon USING (fp) WHERE doc_id = m),
{_GRAMS_CTE.strip()},
{_SIGS_CTE.strip()},
bands AS (SELECT doc_id, {_BAND_EXPRS} FROM sigs JOIN ex USING (doc_id)),
stacked AS (
  SELECT doc_id, unnest([{', '.join(f'band{bi}' for bi in range(LSH_BANDS))}]) AS bucket
  FROM bands
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM stacked a JOIN stacked b
    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
np AS (
  SELECT doc_a, doc_b FROM cands
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b
  WHERE {_EST_J} >= {JACCARD_THRESHOLD}
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM np
          UNION ALL SELECT doc_b, doc_a FROM np),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach AS (
  SELECT doc_id AS doc, doc_id AS lbl FROM nodes
  UNION
  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc
),
cc AS (SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
nd AS (
  SELECT doc_id FROM ex
  WHERE doc_id NOT IN (SELECT doc FROM cc WHERE doc != cluster_id)
),
tt AS (SELECT doc_id, t, len(t) AS n FROM ctoks JOIN nd USING (doc_id)
       WHERE len(t) >= {SPAN_L}),
w AS (
  SELECT doc_id, CAST(i AS INT) AS p,
         md5(array_to_string(t[CAST(i AS INT) + 1 : CAST(i AS INT) + {SPAN_L}], ' ')) AS fp
  FROM tt, LATERAL (SELECT unnest(generate_series(0, n - {SPAN_L})) AS i) s
),
occ AS (
  SELECT doc_id, p,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, p) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS nocc
  FROM w
),
cover AS (
  SELECT DISTINCT doc_id, CAST(p + j AS INT) AS tokpos
  FROM occ, LATERAL (SELECT unnest(generate_series(0, {SPAN_L - 1})) AS j) s
  WHERE nocc > 1 AND rn > 1
),
otoks AS (
  SELECT c.doc_id, regexp_split_to_array(trim(text), '\\s+') AS ot
  FROM corpus c JOIN nd USING (doc_id)
),
texpl AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS tokpos, ot[i] AS tok
  FROM otoks, LATERAL (SELECT unnest(generate_series(1, len(ot))) AS i) s
),
keptt AS (SELECT doc_id, tokpos, tok FROM texpl ANTI JOIN cover USING (doc_id, tokpos)),
clean AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens_clean,
         string_agg(tok, ' ' ORDER BY tokpos) AS text_clean
  FROM keptt GROUP BY doc_id
  HAVING COUNT(*) >= {FILTER_MIN_TOKENS}
),
langmap AS (
  SELECT c.doc_id, d.lang
  FROM corpus c JOIN documents d ON c.doc_id % {DUP_OFFSET} = d.doc_id
),
cl AS (SELECT clean.*, lang FROM clean JOIN langmap USING (doc_id)),
prof AS (SELECT lang, CAST(SUM(n_tokens_clean) AS BIGINT) AS tok FROM cl GROUP BY lang),
tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS t_all FROM prof),
pw AS (
  SELECT lang, tok / t_all AS share, POWER(tok / t_all, {MIX_ALPHA}) AS pw_raw
  FROM prof, tot
),
zc AS (SELECT SUM(pw_raw) AS z FROM pw),
fac AS (
  SELECT lang, CAST(FLOOR(pw_raw / z / share * 1000000.0) AS BIGINT) AS f_micro
  FROM pw, zc
),
final AS (
  SELECT cl.doc_id, cl.lang, cl.n_tokens_clean, cl.text_clean,
         CAST(f_micro // 1000000
              + CASE WHEN {_H32.format(x="'tmix-' || CAST(cl.doc_id AS VARCHAR)")} % 1000000
                          < f_micro % 1000000
                     THEN 1 ELSE 0 END AS INT) AS n_copies
  FROM cl JOIN fac USING (lang)
)"""

# DuckDB (1.0) inlines every CTE reference, so the multi-referenced
# stage CTEs would re-evaluate their entire upstream chain per
# reference — measured in MINUTES even at sf0.001. MATERIALIZED pins
# each stage to one evaluation: the oracle-side analogue of the
# Spark session indexes.
for _name in (
    "ctoks", "lm_scored", "gated", "ex", "sigs", "nd",
    "occ", "cover", "clean", "cl", "final",
):
    _CHAIN = re.sub(
        rf"(?<![a-z0-9_]){_name} AS \(", f"{_name} AS MATERIALIZED (", _CHAIN
    )

_CHECK = _H32.format(x="CAST(doc_id AS VARCHAR) || ':' || {t}")

ORACLES = {
    "txt_clean_corpus": f"""WITH RECURSIVE {_CHAIN}
SELECT doc_id, lang, n_copies, n_tokens_clean, text_clean
FROM final WHERE n_copies >= 1 ORDER BY doc_id
""",
    "txt_clean_corpus_stats": f"""WITH RECURSIVE {_CHAIN}
SELECT 0 AS stage_no, 'corpus' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT) AS n_tokens,
       CAST(SUM({_CHECK.format(t='text')}) AS BIGINT) AS checksum
FROM corpus
UNION ALL
SELECT 1, 'gates', CAST(COUNT(*) AS BIGINT),
       CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT),
       CAST(SUM({_CHECK.format(t='text')}) AS BIGINT)
FROM corpus JOIN gated USING (doc_id)
UNION ALL
SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT),
       CAST(SUM({_CHECK.format(t='text')}) AS BIGINT)
FROM corpus JOIN ex USING (doc_id)
UNION ALL
SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(SUM({_WS_TOKENS_SAFE}) AS BIGINT),
       CAST(SUM({_CHECK.format(t='text')}) AS BIGINT)
FROM corpus JOIN nd USING (doc_id)
UNION ALL
SELECT 4, 'span_excision', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_tokens_clean) AS BIGINT),
       CAST(SUM({_CHECK.format(t='text_clean')}) AS BIGINT)
FROM clean
UNION ALL
SELECT 5, 'temperature_sample', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(n_copies AS BIGINT) * n_tokens_clean) AS BIGINT),
       CAST(SUM(CAST(n_copies AS BIGINT) * {_CHECK.format(t='text_clean')}) AS BIGINT)
FROM final WHERE n_copies >= 1
ORDER BY stage_no
""",
}
