"""Headline-query benchmark (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (all columns computed,
nothing collected to the driver) so timings measure the full plan, not a
count-only pruned variant.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational suite
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_regional_revenue",
    "rel_lag_lead_delta",
    "rel_window_frames",
    # task-hive parity
    "th_spider_ingest",
    "th_assign_strategies",
    # text / dedup / similarity pipeline
    "txt_corpus_profile",
    "txt_training_mix",
    "txt_repetition_filter",
    "txt_decontaminate",
    "dd_ngram_jaccard_pairs",
    "dd_minhash_lsh_pairs",
    "dd_simhash",
    "dd_chunk_dedup",
    "sim_topk_lsh",
    # round-6 additions (r6 verdict task 3: the newest, heaviest code
    # needs committed wall-time evidence). Note: txt_bpe_merges' DuckDB
    # mirror is the unrolled splice-chain correctness artifact, not a
    # tuned DuckDB implementation — its ratio reads in Spark's favor.
    "dd_semdedup",
    "dd_duplicate_spans",
    "txt_bigram_lm_score",
    "txt_dsir_sample",
    "txt_quality_classifier",
    "txt_bpe_merges",
    # round-8 additions: the sketch family and the composed dataset
    # surface. txt_tokenized_dataset is timed on a warm trainer (the
    # txt_bpe_merges entry above re-learns and re-caches each measured
    # run), so its number is the MARGINAL gates→tokenize→pack cost; its
    # DuckDB mirror re-pays the unrolled BPE correctness chain, so —
    # like txt_bpe_merges — its ratio reads in Spark's favor.
    # The three st_*_incremental streaming sketches are excluded: their
    # cost is the checkpointed feed drain (chunk writes + micro-batch
    # replay), not a query plan — the batch queries above time the
    # identical sketch arithmetic.
    "sk_kmv_distinct",
    "sk_hll_distinct",
    "sk_hll_daily",
    "sk_hll_union",
    "sk_theta_intersect",
    "sk_cms_heavy_hitters",
    "sk_bloom_semi_join",
    # round-9 additions: the quantile members completing the sketch tier
    "sk_quantiles",
    "sk_quantiles_merged",
    "txt_stratified_split",
    "txt_tokenized_dataset",
    "dd_split_leakage",
    # round-10 additions. dd_dedup_served is timed as the SERVE: the
    # on-disk index is built once per session (the production build-
    # once/serve-forever split) and each measured run pays the full
    # new-batch signature + probe + score — the per-crawl marginal cost.
    # dd_max_dup_spans has no index. cat_compaction_stats stays out like
    # the cleaned-corpus materializer: its cost is a one-time table
    # rewrite, not a query plan.
    "dd_dedup_served",
    "dd_max_dup_spans",
    # round-11 addition, timed as the SERVE like dd_dedup_served: the
    # clustered rewrite + footer manifest are built once per session
    # (table maintenance); each measured run pays the per-query
    # marginal cost — manifest intersect, pruned scan, aggregate. The
    # DuckDB oracle full-scans and filters, so the ratio directly
    # prices file skipping against a scan at this (tiny) sf; the win
    # grows with table size while the pruned side stays window-sized.
    "cat_clustered_prune",
    # round-12 additions, both timed as the SERVE against session-built
    # clustered indexes (build amortized like dd_dedup_served's): each
    # measured run pays the probe's marginal cost — signature/route,
    # manifest intersect, pruned scan of ≤ LSH_BANDS / ≤ NPROBE files,
    # score. The DuckDB oracle recomputes the full pipeline, so the
    # ratio prices index serving against recompute; the Spark side's
    # read is O(probe) at any index size (commit 85eee34 recorded kept
    # files at sf0.01/sf0.1/sf1; tests/test_dedup_quality.py pins it).
    "dd_dedup_served_pruned",
    "sim_topk_pq_served_pruned",
    # round-12: the honest-decode step past the container probes — the
    # full baseline-JPEG entropy layer (Huffman DC+AC) via mapInPandas.
    "mm_decode_jpeg_coeffs",
    # round-13: the HEADLINE serve is the batched pruned form (16
    # probes through one routing collect + LUT broadcast + pruned ADC
    # pass — the production request shape, amortizing the three
    # scheduler rounds the single-probe serve pays per probe).
    # sim_topk_pq_served_pruned above stays benched as the LATENCY
    # witness: its number prices one cold probe, not the serve design.
    "sim_topk_pq_served_batch",
    # round-13: the MP3 side-info twin of the JPEG entropy decode.
    "mm_decode_mp3_sideinfo",
    # round-14 additions (r13 verdict task 3): bench witnesses for the
    # round-13 non-benched pathology fixes, so those wins — and any
    # future regression of them — are driver-visible. Additions only;
    # nothing removed, renamed, or re-timed.
    # rel_approx_distinct: the exact/approx aggregate split (13.1→2.0 s
    # in r13); sim_topk_ivf_pq: the PQ codebook memo-key fix
    # (12.1→1.3 s); txt_clean_corpus_stats: the CacheManager-union miss
    # fix via checkpointed pipe indexes (15.7→1.6 s).
    "rel_approx_distinct",
    "sim_topk_ivf_pq",
    "txt_clean_corpus_stats",
]


def _sf_of(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from task_hive_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    warm_up(spark, qs, sf_dir, names)

    # Best-of-3 per query: a single local-mode run is hostage to GC /
    # broadcast-cleanup timing noise (measured swings up to 2x on the
    # CPU-dense dedup queries) plus host-tenancy contention; the min of
    # three warm runs is the plan's actual cost — the same N the DuckDB
    # baseline (scripts/duckdb_baseline.py N_RUNS=3) is timed under.
    timings = {
        name: round(min(timed_run(spark, qs, sf_dir, name) for _ in range(3)), 4)
        for name in names
    }

    # Scheduling-sim throughput (BASELINE.md contract: the reference's
    # implied ceiling is 5 tasks/s/worker): tasks dispatched through the
    # full registry-executor path (xp_dispatch_results) per second of
    # engine wall time.
    t0 = time.perf_counter()
    n_tasks = qs["xp_dispatch_results"](spark, sf_dir).count()
    dispatch_s = time.perf_counter() - t0

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_of(sf_dir),
                "sim_dispatch_tasks_per_s": round(n_tasks / dispatch_s, 1),
                "calibration_s": _calibrate(spark),
            }
        )
    )
    return 0


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def pre_run(spark, sf_dir: str, name: str) -> None:
    """Drop the session memos that would let a measured run of ``name``
    time a cached answer instead of the query."""
    from task_hive_spark.materialize import drop_memo

    # txt_bpe_merges memoizes its ENTIRE learned result per session
    # (the trainer/tokenizer share one learning run); timing the
    # cached list would be fake. Clear it so every measured run
    # re-learns — the word-frequency session index stays warm, the
    # same index-amortized footing as every other headline query.
    if name == "txt_bpe_merges":
        drop_memo(spark, ("bpe_merges", sf_dir))
    # the LSH pair frame is a shared session index (dd_split_leakage
    # reads it warm — its bench number is the marginal audit cost,
    # like txt_tokenized_dataset's warm-trainer precedent); timing
    # the index build itself on the cache would be fake, so rebuild it
    # every measured run
    if name == "dd_minhash_lsh_pairs":
        drop_memo(spark, ("index", sf_dir, "lsh_pairs"))


def warm_up(spark, qs: dict, sf_dir: str, names: list[str]) -> None:
    """Warm the JVM, fixture views and parquet footers once, then run
    two unmeasured passes per query at the TARGET sf_dir, so a timed
    run measures warm steady-state throughput — codegen classes
    compiled AND C2-JITed (the md5-dense dedup queries need several
    thousand invocations before HotSpot promotes the generated code;
    measured 9s -> 1.5s over six runs), parquet footers read, AQE
    runtime statistics planned — the same warm-session methodology the
    DuckDB baseline is timed under. Cold-start cost is a per-session
    constant, not a per-query property of the plan."""
    noop(qs["th_stats"](spark, sf_dir))
    for _ in range(2):
        for name in names:
            try:
                pre_run(spark, sf_dir, name)
                noop(qs[name](spark, sf_dir))
            except Exception:
                pass  # warm-up is best-effort; the timed run surfaces real errors


def timed_run(spark, qs: dict, sf_dir: str, name: str) -> float:
    """Seconds of one measured run: plan construction (serve and fit
    queries do eager driver work there) plus the noop write."""
    pre_run(spark, sf_dir, name)
    t0 = time.perf_counter()
    noop(qs[name](spark, sf_dir))
    return time.perf_counter() - t0


def _calibrate(spark) -> float:
    """Fixed-work box-speed probe: best-of-3 warm sum over a 100M-int
    range — pure codegen arithmetic, zero I/O, identical work every
    round, so cross-round query-time comparisons can be normalized by
    it (r10's uniform ~1.32x drift vs r9 across untouched modules was
    otherwise uninterpretable box tenancy). Divide a query's seconds by
    (calibration_s of its round / reference calibration) before calling
    a cross-round delta a regression; same-round Spark-vs-DuckDB ratios
    need no normalization (paired on one box)."""
    # md5 over 6M ids: hash-dominated like the engine's dedup/sketch
    # hot loops, ~0.4 s warm — large enough that the job-launch floor
    # is noise, small enough to stay a probe. A FRESH plan per run is
    # load-bearing: re-collecting one DataFrame object reuses the
    # partial-agg stage's shuffle files (measured 2.6 s → 0.07 s), so a
    # shared plan would calibrate the scheduler, not the box.
    def probe():
        return spark.range(6_000_000).selectExpr(
            "sum(CAST(conv(substr(md5(CAST(id AS STRING)), 1, 8), 16, 10) "
            "AS BIGINT)) AS s"
        )

    probe().collect()  # compile + JIT outside the timed runs
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        probe().collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


if __name__ == "__main__":
    raise SystemExit(main())
