"""Scale probe: wall time + output cardinality of representative
operators across the 100x fixture span (sf0.001 → sf0.1).

Usage: python scripts/scale_probe.py [query ...]

Prints one JSON line per query with per-sf seconds and row counts, plus
a growth factor over the 10x step sf0.01 → sf0.1 (the step where data
cost starts beating Spark's fixed per-job overhead). The interesting
signal is the ROW growth of pair-producing operators: candidate-pair
counts growing ~quadratically would mean a bucketing scheme has
degenerated (the failure mode this probe exists to catch — a correlated
MinHash family did exactly that in round 2 before being fixed).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

DEFAULT = [
    "dd_minhash_lsh_pairs",
    "dd_ngram_jaccard_pairs",
    "dd_simhash_near_pairs",
    "dd_embedding_cosine_pairs",
    "dd_duplicate_clusters",  # iterative: round count must stay flat (diameter, not size)
    "dd_chunk_dedup",  # chunk-fp groups: linear in corpus, one shuffle
    "dd_max_dup_spans",  # pairwise maximal spans: in-list emission capped by MAX_WINDOW_DF — pair rows must track true dup mass, not corpus²
    "sim_topk_lsh",
    "txt_chunks",
    "txt_repetition_filter",  # 2-gram explode co-partitioned by doc — linear
    "txt_decontaminate",  # broadcast benchmark grams — hit count sub-linear
    "txt_sequence_pack",  # distributed prefix sum — bins linear in tokens
    "txt_filter_pipeline",  # three narrow shuffles — rows linear
    "txt_unigram_logprob",  # broadcast vocab probe — rows linear
    "sim_pq_codes",  # K-way codebook fan-out per vector — rows linear
    "th_assign_strategies",
    "rel_q1_pricing_summary",
    "txt_bm25_topk",  # postings ride token_index partitioning — matching rows linear
    "th_snapshot_merge",  # one full-outer id SMJ — rows linear in snapshot+changes
    "gr_pagerank",  # fixed iterations x |E| — linear per round, rounds flat
    "txt_tfidf_topterms",  # per-doc top-3 — rows exactly 3x docs, vocab df broadcast
    "txt_bigram_lm_score",  # pair explosion co-partitioned by doc — rows = docs
    "txt_dsir_sample",  # fit+score two corpus passes — rows fixed at DSIR_K
]


def ivf_recall() -> int:
    """--ivf-recall: recall of sim_topk_ivf vs the exact brute-force
    top-k, swept over nprobe, per scale factor. Pins the knob's
    recall/cost curve so a quantizer or centroid change that craters it
    is visible immediately (the fixture floor for nprobe=3 is asserted
    in tests/test_dedup_quality.py)."""
    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.similarity import sim_topk_brute, sim_topk_ivf

    spark = get_spark("scale_probe")
    for sf_dir in SF_DIRS:
        tag = os.path.basename(sf_dir)
        exact = {
            (r["probe_id"], r["neighbor_id"])
            for r in sim_topk_brute(spark, sf_dir).collect()
        }
        recalls: dict[str, float] = {}
        secs: dict[str, float] = {}
        for nprobe in (1, 2, 3, 4, 5):
            t0 = time.perf_counter()
            got = {
                (r["probe_id"], r["neighbor_id"])
                for r in sim_topk_ivf(spark, sf_dir, nprobe=nprobe).collect()
            }
            secs[str(nprobe)] = round(time.perf_counter() - t0, 3)
            recalls[str(nprobe)] = round(len(exact & got) / max(len(exact), 1), 3)
        print(
            json.dumps(
                {"probe": "ivf_recall", "sf": tag, "recall_by_nprobe": recalls,
                 "seconds_by_nprobe": secs, "n_exact_pairs": len(exact)}
            )
        )
    return 0


def _gen_sf1_dir() -> str:
    """Generate (idempotently) and return the synthetic sf1 fixture dir
    — ONE invocation/parse recipe shared by every probe that needs it.
    Failures surface the generator's own stderr (check=True alone would
    report only 'returned non-zero' with the cause swallowed)."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "gen_scale_fixture.py")],
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"gen_scale_fixture failed:\n{proc.stderr.strip()}")
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError("gen_scale_fixture printed no output dir")
    return lines[-1]


def sf1_probe() -> int:
    """--sf1: candidate-pair growth + IVF recall at a synthetic sf1
    (10x sf0.1, statistics-matched — scripts/gen_scale_fixture.py).
    The point is the BOUNDS: candidate pairs from the capped postings /
    LSH banding / simhash quarters must grow sub-quadratically in the
    corpus (10x docs → far less than 100x pairs), and the trained IVF
    quantizer's nprobe=3 recall must hold up at 10x the vectors.
    Exits non-zero if candidate growth exceeds the sub-quadratic gate."""
    sf1_dir = _gen_sf1_dir()

    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.similarity import sim_topk_brute, sim_topk_ivf

    import __spark_entry__ as entrymod

    spark = get_spark("scale_probe_sf1")
    qs = entrymod.queries()
    dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]
    tags = ["sf0.01", "sf0.1", "sf1"]
    bad = 0
    for name in [
        "dd_ngram_jaccard_pairs",
        "dd_minhash_lsh_pairs",
        "dd_simhash_near_pairs",
        "dd_chunk_dedup",
        "dd_duplicate_spans",
        "sim_topk_lsh",
    ]:
        secs: dict[str, float] = {}
        rows: dict[str, int] = {}
        for tag, d in zip(tags, dirs):
            t0 = time.perf_counter()
            rows[tag] = qs[name](spark, d).count()
            secs[tag] = round(time.perf_counter() - t0, 3)
        growth = round(rows["sf1"] / max(rows["sf0.1"], 1), 2)
        # sub-quadratic gate: 10x docs, quadratic would be ~100x pairs;
        # 30x leaves room for the super-linear-but-bounded regimes
        # (duplicate families scale linearly; gram collisions rise)
        ok = growth <= 30.0
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "sf1_growth", "query": name, "rows": rows,
            "seconds": secs, "x10_row_growth": growth, "sub_quadratic": ok,
        }))
    # IVF recall at sf1 (nprobe=3, the pinned operating point)
    exact = {(r["probe_id"], r["neighbor_id"]) for r in sim_topk_brute(spark, sf1_dir).collect()}
    got = {(r["probe_id"], r["neighbor_id"]) for r in sim_topk_ivf(spark, sf1_dir, nprobe=3).collect()}
    recall = round(len(exact & got) / max(len(exact), 1), 3)
    print(json.dumps({"probe": "sf1_ivf_recall", "nprobe": 3, "recall": recall,
                      "n_exact_pairs": len(exact)}))
    return 1 if bad else 0


def semdedup_probe() -> int:
    """--semdedup: quantizer cell balance + in-cell pair bound per sf.
    dd_semdedup's quadratic term is max-cell-bounded (pairs within a
    cell of size s are s·(s-1)/2), so the scale signal is the BALANCE
    of the trained quantizer: a degenerate quantizer that dumps the
    corpus into one cell re-creates the all-pairs blowup cluster
    scoping exists to prevent. Reports max/mean cell size, the balance
    factor (max/mean — 1.0 is perfectly even), the worst-case candidate
    pair count vs the corpus all-pairs count, and the realized
    dup-graph size."""
    from pyspark.sql import functions as F

    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.similarity import _ivf_assignment, dd_semdedup

    spark = get_spark("scale_probe_semdedup")
    for sf_dir in SF_DIRS:
        tag = os.path.basename(sf_dir)
        sizes = [
            r["n"]
            for r in _ivf_assignment(spark, sf_dir)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        n = sum(sizes)
        max_cell, mean_cell = max(sizes), n / len(sizes)
        in_cell_pairs = sum(s * (s - 1) // 2 for s in sizes)
        all_pairs = n * (n - 1) // 2
        out = dd_semdedup(spark, sf_dir).collect()
        print(json.dumps({
            "probe": "semdedup_balance", "sf": tag, "n_vecs": n,
            "n_cells": len(sizes), "max_cell": max_cell,
            "mean_cell": round(mean_cell, 1),
            "balance_factor": round(max_cell / mean_cell, 2),
            "in_cell_pairs": in_cell_pairs, "all_pairs": all_pairs,
            "pair_fraction": round(in_cell_pairs / max(all_pairs, 1), 4),
            "dup_rows": len(out),
            "dup_groups": len({r["rep_id"] for r in out}),
        }))
    return 0


def lm_probe() -> int:
    """--lm: the LM-family operators (TF-IDF, bigram gate, DSIR,
    distilled classifier) at sf0.01 / sf0.1 / synthetic sf1. Scale
    signals: per-query seconds and row counts must grow ~linearly in
    the corpus (all four are index-scan + vocab-broadcast shapes), and
    the NB student's teacher agreement must HOLD UP at 10× the docs —
    a distillation whose accuracy collapses with corpus growth would
    mean the hashed feature space, not the data, was doing the work.
    Exits non-zero if agreement falls below base rate + 0.1 at ANY
    scale (sf1 is the interesting one; the small scales are regression
    canaries)."""
    sf1_dir = _gen_sf1_dir()

    from task_hive_spark.session import get_spark

    import __spark_entry__ as entrymod

    from pyspark.sql import functions as F

    spark = get_spark("scale_probe_lm")
    qs = entrymod.queries()
    dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]
    tags = ["sf0.01", "sf0.1", "sf1"]
    # gate stats collected DURING the classifier's timed run (three
    # scalars per scale, not full row sets — driver residency must not
    # grow with the corpus) and consumed by the agreement loop below
    cls_stats: dict[str, tuple[int, int, int]] = {}
    for name in [
        "txt_tfidf_topterms",
        "txt_bigram_lm_score",
        "txt_dsir_sample",
        "txt_quality_classifier",
    ]:
        secs: dict[str, float] = {}
        rows: dict[str, int] = {}
        for tag, d in zip(tags, dirs):
            t0 = time.perf_counter()
            if name == "txt_quality_classifier":
                agg = (
                    qs[name](spark, d)
                    .agg(
                        F.sum(F.col("agrees").cast("int")).alias("a"),
                        F.sum("label").alias("p"),
                        F.count("*").alias("n"),
                    )
                    .collect()[0]
                )
                cls_stats[tag] = (int(agg["a"]), int(agg["p"]), int(agg["n"]))
                rows[tag] = cls_stats[tag][2]
            else:
                rows[tag] = qs[name](spark, d).count()
            secs[tag] = round(time.perf_counter() - t0, 3)
        print(json.dumps({
            "probe": "lm_scale", "query": name, "rows": rows, "seconds": secs,
            "x10_time_growth": round(secs["sf1"] / max(secs["sf0.1"], 1e-9), 2),
        }))
    assert set(cls_stats) == set(tags), (
        "agreement gate needs txt_quality_classifier in the timing list"
    )
    bad = 0
    for tag in tags:
        agrees, pos, n = cls_stats[tag]
        agree = agrees / n
        base = max(pos, n - pos) / n
        ok = agree >= base + 0.1
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "lm_classifier_agreement", "sf": tag, "n_docs": n,
            "agreement": round(agree, 3), "base_rate": round(base, 3), "ok": ok,
        }))
    return 1 if bad else 0


def pipeline_probe() -> int:
    """--pipeline: the cleaned-corpus materializer's stage funnel and
    wall time at sf0.01 / sf0.1 / synthetic sf1. Scale signals: wall
    time must grow sub-linearly vs the 10× doc step (every stage is an
    index build + narrow shuffles; the only quadratic term — in-cell
    LSH candidates — is band-bounded), and the stage funnel must stay
    value-bearing. Caveat found by this probe's first run: the sf1
    synthetic corpus is unigram-sampled text, which the quality/LM
    gates correctly REJECT wholesale — and identical text gates
    identically, so every (base, exact-copy) pair drops TOGETHER and
    exact-dedup legitimately has nothing left to cut. The probe
    therefore asserts the INVARIANT rather than a blanket cut: when
    exact-dedup cuts zero docs, NO both-surviving (base, base+1e9)
    pair may exist among the gate survivors (exact-dedup's sf1
    value-bearing evidence is the separate dd-family hash gate,
    VERIFY_sf1_dd_r7.txt). Gates, near dedup and span excision must
    cut at every scale. Exits non-zero on any violation."""
    sf1_dir = _gen_sf1_dir()

    from task_hive_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("scale_probe_pipeline")
    qs = entrymod.queries()
    dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]
    tags = ["sf0.01", "sf0.1", "sf1"]
    bad = 0
    secs: dict[str, float] = {}
    for tag, d in zip(tags, dirs):
        t0 = time.perf_counter()
        rows = {r["stage"]: r for r in qs["txt_clean_corpus_stats"](spark, d).collect()}
        secs[tag] = round(time.perf_counter() - t0, 3)
        docs = [rows[s]["n_docs"] for s in
                ["corpus", "gates", "exact_dedup", "near_dedup",
                 "span_excision", "temperature_sample"]]
        toks = [rows[s]["n_tokens"] for s in
                ["corpus", "gates", "exact_dedup", "near_dedup",
                 "span_excision", "temperature_sample"]]
        exact_ok = docs[1] > docs[2]
        if not exact_ok:
            # zero exact cut is legitimate ONLY if no (base, base+1e9)
            # pair both survived the gates — verify, don't assume
            from task_hive_spark.operators.dedup import DUP_OFFSET
            from task_hive_spark.operators.pipeline import BOILER_OFFSET, _stage_frames
            from pyspark.sql import functions as F

            assert BOILER_OFFSET > 2 * DUP_OFFSET  # offsets keep id families disjoint

            # the stats collect above already materialized the
            # pipe_gated session index — reuse it, don't re-run gates
            g = _stage_frames(spark, d)["gated"].select("doc_id")
            both = (
                g.alias("a")
                .where(F.col("a.doc_id") < DUP_OFFSET)  # true bases only:
                # nearcopy(2e9+x)+1e9 would spuriously match host(3e9+x)
                .join(
                    g.alias("b"),
                    F.col("b.doc_id") == F.col("a.doc_id") + DUP_OFFSET,
                )
                .count()
            )
            exact_ok = both == 0
        cuts_ok = bool(
            docs[0] > docs[1] and exact_ok and docs[2] > docs[3]
            and toks[4] < toks[3]
        )
        bad += 0 if cuts_ok else 1
        print(json.dumps({
            "probe": "pipeline_scale", "sf": tag, "seconds": secs[tag],
            "stage_docs": docs, "stage_tokens": toks, "cuts_ok": cuts_ok,
        }))
    growth = round(secs["sf1"] / max(secs["sf0.1"], 1e-9), 2)
    growth_ok = growth <= 8.0  # 10x docs must cost well under 10x wall
    bad += 0 if growth_ok else 1
    print(json.dumps({
        "probe": "pipeline_scale_growth",
        "x10_time_growth": growth, "sub_linear_ok": growth_ok,
    }))
    return 1 if bad else 0


def sketch_probe() -> int:
    """--sketch: the sketches' scale CLAIM is that state size is a
    function of the sketch parameters, not the data — verify it
    numerically across the 100× fixture span (plus synthetic sf1
    documents for CMS). Checks per sf: KMV rows ≤ K·|groups|, HLL
    register rows ≤ m·|groups|, CMS grid rows ≤ D·W, Bloom bits ≤
    min(M, K·|build|), quantile-histogram buckets ≤ the log-linear
    grid bound (octaves × sub-buckets) per group. Exits non-zero if any state grows past its
    parameter bound — the signal that an estimator silently
    degenerated into an exact structure. (Streaming-state ≡ batch
    convergence is pytest's job — tests/test_sketches.py — not this
    probe's.)"""
    from task_hive_spark.session import get_spark
    from task_hive_spark.functions.text import ws_tokens
    from task_hive_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        CMS_D,
        CMS_W,
        HLL_M,
        KMV_K,
        cms_grid,
        hll_registers,
    )
    from task_hive_spark.operators.sketches import (
        sk_bloom_semi_join,
        sk_kmv_distinct,
    )
    from task_hive_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    sf1_dir = _gen_sf1_dir()
    spark = get_spark("scale_probe_sketch")
    bad = 0
    for d in SF_DIRS:
        ev = load_table(spark, d, "events")
        n_groups = ev.select("event_type").distinct().count()
        n_build = (
            load_table(spark, d, "customer").where(F.col("c_acctbal") < 0).count()
        )
        from task_hive_spark.operators.sketches import (
            QSK_SUB_BITS,
            qsk_lineitem_vals,
            qsk_state,
        )

        li = load_table(spark, d, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
        li_groups = li.select("l_returnflag").distinct().count()
        li_rows = li.count()
        t0 = time.perf_counter()
        kmv = sk_kmv_distinct(spark, d)
        kmv_rows = kmv.agg(F.sum("n_sketch")).collect()[0][0]
        hll_rows = hll_registers(ev).count()
        bloom_bits = sk_bloom_semi_join(spark, d).collect()[0]["n_bits_set"]
        qsk_rows = qsk_state(qsk_lineitem_vals(li)).count()
        secs = round(time.perf_counter() - t0, 3)
        bloom_bound = min(BLOOM_M, BLOOM_K * n_build)
        # log-linear grid per group: the exp=0 region holds every value
        # below 2^(S+1) exactly (2^(S+1) single-value buckets), plus
        # (62 − S) higher octaves of 2^S sub-buckets each
        qsk_bound = (
            (1 << (QSK_SUB_BITS + 1))
            + (62 - QSK_SUB_BITS) * (1 << QSK_SUB_BITS)
        ) * li_groups
        ok = (
            kmv_rows <= KMV_K * n_groups
            and hll_rows <= HLL_M * n_groups
            and bloom_bits <= bloom_bound
            and qsk_rows <= qsk_bound
        )
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "sketch_state", "sf_dir": d, "seconds": secs,
            "kmv_sketch_rows": int(kmv_rows), "kmv_bound": KMV_K * n_groups,
            "hll_register_rows": hll_rows, "hll_bound": HLL_M * n_groups,
            "bloom_bits_set": int(bloom_bits), "bloom_bound": bloom_bound,
            "qsk_stream_rows": li_rows, "qsk_bucket_rows": qsk_rows,
            "qsk_bound": qsk_bound,
            "bounds_ok": ok,
        }))
    # CMS over documents (real 10x growth through synthetic sf1)
    for d in SF_DIRS[1:] + [sf1_dir]:
        doc = load_table(spark, d, "documents").where(
            F.length(F.trim("text")) > 0
        )
        occ = doc.select(F.explode(ws_tokens(F.lower("text"))).alias("tok"))
        t0 = time.perf_counter()
        n_stream = occ.count()
        grid_rows = cms_grid(occ).count()
        secs = round(time.perf_counter() - t0, 3)
        ok = grid_rows <= CMS_D * CMS_W
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "sketch_state_cms", "sf_dir": d, "seconds": secs,
            "stream_tokens": n_stream, "cms_grid_rows": grid_rows,
            "cms_bound": CMS_D * CMS_W, "bounds_ok": ok,
        }))
    return 1 if bad else 0


def served_probe() -> int:
    """--served: the cross-snapshot served dedup's scale CLAIM is that
    candidates (and therefore the scoring work) grow with the BATCH and
    its true duplicate partners — never with |batch|·|history| — and
    the serve pass never re-reads historical text. Verified across the
    100x fixture span plus synthetic sf1: per sf, build the on-disk
    index once, then time the warm SERVE (new-batch signatures + banded
    probe + score) and bound candidates at a small multiple of the
    batch size. Exits non-zero if the candidate bound breaks — the
    banding-degeneration signal (round 2's correlated family would have
    tripped this)."""
    import tempfile

    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.dedup import (
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
    )
    from task_hive_spark.plans.catalog import file_column_stats
    from task_hive_spark.streaming.lifecycle import _scratch_root

    sf1_dir = _gen_sf1_dir()
    spark = get_spark("scale_probe_served")
    bad = 0
    for d in ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]:
        out = tempfile.mkdtemp(prefix="servedidx_", dir=_scratch_root())
        t0 = time.perf_counter()
        summary = materialize_dedup_index_clustered(spark, d, out)
        build_s = round(time.perf_counter() - t0, 3)
        stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
        batch = new_batch_df(spark, d)
        n_batch = batch.count()
        served = lambda: dedup_served_pruned_of(spark, out, stats, batch)[0]  # noqa: E731
        served().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        n_cands = served().count()
        serve_s = round(time.perf_counter() - t0, 3)
        # every re-crawled doc meets its base + the base's augmented
        # copies (≤ 3 true partners at any sf) plus banding noise; 8x
        # batch is the generous ceiling under which growth is linear-
        # in-batch, nowhere near |batch|·|history|
        ok = n_cands <= 8 * n_batch
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "dedup_served", "sf_dir": d,
            "index_docs": summary["signatures"],
            "batch_docs": n_batch, "candidates": n_cands,
            "cand_bound": 8 * n_batch,
            "build_seconds": build_s, "serve_seconds": serve_s,
            "bounds_ok": ok,
        }))
    return 1 if bad else 0


def prune_probe() -> int:
    """--prune: the clustered-compaction data-skipping CLAIM is that a
    range query's file count tracks the WINDOW's share of the key
    range, not the table size — at 100 TB the scan reads the same
    ~14% (one year of ~7) of files whether the table has 12 files or
    12 million, while the unclustered layout always reads 100%.
    Verified across the 100x fixture span: cluster-compact the tasks
    table per sf, prune the fixed one-year window against the footer
    manifest, and bound kept files at the window share plus boundary
    slack. Exits non-zero if the bound breaks (a rewrite that stopped
    sorting, or a manifest with loose min/max, trips this)."""
    import datetime as dt
    import tempfile

    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.taskmodel import tasks_df
    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        CLUSTER_TARGET_BYTES,
        FRAGMENT_PARTS,
        PRUNE_HI,
        PRUNE_LO,
        compact_table,
        file_column_stats,
        prune_files,
    )
    from task_hive_spark.streaming.lifecycle import _scratch_root

    spark = get_spark("scale_probe_prune")
    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    # o_orderdate spans 1992-01-01..1998-08-02 (~6.97 years); the demo
    # window is one year ≈ 14.4% of the key range
    window_share = (hi - lo).days / ((dt.datetime(1998, 8, 2) - dt.datetime(1992, 1, 1)).days)
    bad = 0
    for d in ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
        root = tempfile.mkdtemp(prefix="pruneprobe_", dir=_scratch_root())
        frag, clus = os.path.join(root, "frag"), os.path.join(root, "clus")
        tasks_df(spark, d).repartition(FRAGMENT_PARTS).write.parquet(frag)
        t0 = time.perf_counter()
        compact_table(
            spark, frag, clus,
            target_bytes=CLUSTER_TARGET_BYTES, cluster_by=[CLUSTER_COL],
        )
        cluster_s = round(time.perf_counter() - t0, 3)
        stats = file_column_stats(clus, CLUSTER_COL)
        kept, total = prune_files(stats, lo, hi)
        # window share of files + 2 boundary files (a kept file may
        # straddle each window edge); degenerate single-file tables
        # trivially keep their one file
        bound = max(1, int(window_share * total + 0.5) + 2)
        fkept, ftotal = prune_files(file_column_stats(frag, CLUSTER_COL), lo, hi)
        ok = len(kept) <= bound and len(fkept) == ftotal
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "clustered_prune", "sf_dir": d,
            "files_total": total, "files_kept": len(kept),
            "kept_bound": bound,
            "window_share": round(window_share, 3),
            "fragmented_kept": f"{len(fkept)}/{ftotal}",
            "cluster_seconds": cluster_s,
            "bounds_ok": ok,
        }))
    # Z-order member: the conjunctive 2D window must beat BOTH
    # single-column kept sets once the table has enough files for the
    # curve to matter — the multiplicative-pruning signature
    from task_hive_spark.plans.catalog import (
        ZPRUNE_PRI_HI,
        ZPRUNE_PRI_LO,
        zordered_tasks_dir,
    )

    for d in ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
        _out, tstats, pstats = zordered_tasks_dir(spark, d)
        kt, ztotal = prune_files(tstats, lo, hi)
        kp, _ = prune_files(pstats, ZPRUNE_PRI_LO, ZPRUNE_PRI_HI)
        both = set(kt) & set(kp)
        ok = (
            len(kt) < ztotal
            and len(kp) < ztotal
            and len(both) < min(len(kt), len(kp))
        )
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "zorder_prune", "sf_dir": d,
            "files_total": ztotal,
            "time_kept": len(kt), "priority_kept": len(kp),
            "kept_2d": len(both),
            "bounds_ok": ok,
        }))
    return 1 if bad else 0


def served_pruned_probe() -> int:
    """--served-pruned: the clustered serving-index CLAIM is that a
    probe's KEPT-FILE count is bounded by the probe's own key count
    (LSH_BANDS band buckets per doc; NPROBE cells per vector) at EVERY
    scale — the index grows 100x in docs and files, the serve scan does
    not. Verified across sf0.01/sf0.1/sf1 with the file count scaled to
    the corpus (so a flat-total fixture artifact can't fake the bound).
    Exits non-zero if kept exceeds the probe bound or the answer
    diverges from the unpruned serve."""
    import tempfile

    from task_hive_spark.session import get_spark
    from task_hive_spark.operators.dedup import (
        LSH_BANDS,
        NEW_OFFSET,
        PROBE_DOC_BASE,
        dedup_served_pruned_of,
        materialize_dedup_index_clustered,
        new_batch_df,
    )
    from task_hive_spark.operators.similarity import (
        NPROBE,
        ann_served_pruned_of,
        materialize_ann_index_clustered,
    )
    from task_hive_spark.plans.catalog import file_column_stats
    from task_hive_spark.streaming.lifecycle import _scratch_root

    def unpruned(index_dir, stats, batch):
        # the same manifest with no footer ranges: every file is kept
        everything = [{**s, "min": None, "max": None} for s in stats]
        return dedup_served_pruned_of(spark, index_dir, everything, batch)[0]

    sf1_dir = _gen_sf1_dir()
    spark = get_spark("scale_probe_served_pruned")
    bad = 0
    for d in ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]:
        out = tempfile.mkdtemp(prefix="ddcidx_probe_", dir=_scratch_root())
        # grow the file count with the corpus (~50 docs' band rows per
        # file) so a flat-total artifact can't fake the kept bound
        from task_hive_spark.operators.dedup import corpus_df

        n_files = max(64, corpus_df(spark, d).count() // 50)
        summary = materialize_dedup_index_clustered(spark, d, out, n_files=n_files)
        stats = file_column_stats(os.path.join(out, "buckets"), "bucket")
        probe = new_batch_df(spark, d).where(
            f"doc_id = {NEW_OFFSET + PROBE_DOC_BASE}"
        )
        t0 = time.perf_counter()
        served, kept, total = dedup_served_pruned_of(spark, out, stats, probe)
        rows = served.collect()
        serve_s = round(time.perf_counter() - t0, 3)
        ok = (
            0 < len(kept) <= LSH_BANDS < total
            and rows == unpruned(out, stats, probe).collect()
        )
        bad += 0 if ok else 1
        print(json.dumps({
            "probe": "dedup_served_pruned", "sf_dir": d,
            "index_docs": summary["signatures"],
            "files_total": total, "files_kept": len(kept),
            "kept_bound": LSH_BANDS, "serve_seconds": serve_s,
            "bounds_ok": ok,
        }))
        # a BATCHED serve at this scale (every 104th re-crawled doc):
        # kept is bounded by |batch| x bands — O(batch), still never
        # O(index) — and the answer matches the unpruned serve for the
        # same batch
        bprobe = new_batch_df(spark, d).where(
            f"(doc_id - {NEW_OFFSET}) % 104 = 0"
        )
        n_bprobe = bprobe.count()
        t0 = time.perf_counter()
        bserved, bkept, btotal = dedup_served_pruned_of(spark, out, stats, bprobe)
        brows = sorted(map(tuple, bserved.collect()))
        bserve_s = round(time.perf_counter() - t0, 3)
        bok = (
            0 < len(bkept) <= min(n_bprobe * LSH_BANDS, btotal)
            and brows == sorted(map(tuple, unpruned(out, stats, bprobe).collect()))
        )
        bad += 0 if bok else 1
        print(json.dumps({
            "probe": "dedup_served_batch", "sf_dir": d,
            "batch_docs": n_bprobe, "files_total": btotal,
            "files_kept": len(bkept),
            "kept_bound": min(n_bprobe * LSH_BANDS, btotal),
            "serve_seconds": bserve_s, "bounds_ok": bok,
        }))
        # the LSM loop at this scale: append two loose waves, serve
        # (kept absorbs the delta files, answer invariant), then fold
        # and pin pruning back under the band bound
        from pyspark.sql import functions as _F

        from task_hive_spark.operators.dedup import (
            corpus_df as _corpus,
            update_dedup_index_clustered,
        )
        from task_hive_spark.plans.catalog import level_debt, recluster_level

        for wave in (1, 2):
            batch = _corpus(spark, d).where(
                (_F.col("doc_id") % 23 == wave)
                & (_F.col("doc_id") < 1_000_000_000)
            ).select((_F.col("doc_id") + 6_000_000_000 + wave).alias("doc_id"), "text")
            update_dedup_index_clustered(spark, out, batch)
        astats = file_column_stats(os.path.join(out, "buckets"), "bucket")
        n_delta = len(astats) - total
        aserved, akept, atotal = dedup_served_pruned_of(spark, out, astats, probe)
        append_ok = (
            n_delta >= 2
            and len(akept) <= LSH_BANDS + n_delta
            and aserved.collect() == unpruned(out, astats, probe).collect()
        )
        mstats = recluster_level(spark, os.path.join(out, "buckets"), n_files, "bucket")
        _m, mkept, mtotal = dedup_served_pruned_of(spark, out, mstats, probe)
        fold_ok = 0 < len(mkept) <= LSH_BANDS < mtotal
        bad += 0 if (append_ok and fold_ok) else 1
        print(json.dumps({
            "probe": "dedup_index_lsm", "sf_dir": d,
            "delta_files": n_delta, "kept_after_append": len(akept),
            "debt_after_append": round(level_debt(astats), 3),
            "kept_after_fold": len(mkept), "files_after_fold": mtotal,
            "bounds_ok": append_ok and fold_ok,
        }))
        aout = tempfile.mkdtemp(prefix="anncidx_probe_", dir=_scratch_root())
        asummary = materialize_ann_index_clustered(spark, d, aout)
        astats = file_column_stats(os.path.join(aout, "cellcodes"), "cell")
        t0 = time.perf_counter()
        aserved, akept, atotal = ann_served_pruned_of(spark, aout, astats, n_probes=1)
        n_ann = aserved.count()
        aserve_s = round(time.perf_counter() - t0, 3)
        aok = 0 < len(akept) <= NPROBE < atotal and n_ann > 0
        bad += 0 if aok else 1
        print(json.dumps({
            "probe": "ann_served_pruned", "sf_dir": d,
            "index_vectors": asummary["vectors"],
            "files_total": atotal, "files_kept": len(akept),
            "kept_bound": NPROBE, "serve_seconds": aserve_s,
            "bounds_ok": aok,
        }))
        # the BATCHED ANN serve: kept <= n_probes x NPROBE (the probes'
        # routed-cell union), answers identical to the same serve run
        # with a stat-less manifest (= no pruning, every file kept)
        from task_hive_spark.operators.similarity import BATCH_PROBES

        t0 = time.perf_counter()
        bserved, bkept, btotal = ann_served_pruned_of(
            spark, aout, astats, n_probes=BATCH_PROBES
        )
        brows = sorted(map(tuple, bserved.collect()))
        bserve_s = round(time.perf_counter() - t0, 3)
        nostats = [dict(s, min=None, max=None) for s in astats]
        unpruned, ukept, _ut = ann_served_pruned_of(
            spark, aout, nostats, n_probes=BATCH_PROBES
        )
        bok = (
            0 < len(bkept) <= min(BATCH_PROBES * NPROBE, btotal) <= len(ukept)
            and brows == sorted(map(tuple, unpruned.collect()))
        )
        bad += 0 if bok else 1
        print(json.dumps({
            "probe": "ann_served_batch", "sf_dir": d,
            "n_probes": BATCH_PROBES, "files_total": btotal,
            "files_kept": len(bkept),
            "kept_bound": min(BATCH_PROBES * NPROBE, btotal),
            "serve_seconds": bserve_s, "bounds_ok": bok,
        }))
    return 1 if bad else 0


def main() -> int:
    from task_hive_spark.session import get_spark

    import __spark_entry__ as entrymod

    if sys.argv[1:2] == ["--ivf-recall"]:
        return ivf_recall()
    if sys.argv[1:2] == ["--served-pruned"]:
        return served_pruned_probe()
    if sys.argv[1:2] == ["--prune"]:
        return prune_probe()
    if sys.argv[1:2] == ["--sketch"]:
        return sketch_probe()
    if sys.argv[1:2] == ["--sf1"]:
        return sf1_probe()
    if sys.argv[1:2] == ["--served"]:
        return served_probe()
    if sys.argv[1:2] == ["--semdedup"]:
        return semdedup_probe()
    if sys.argv[1:2] == ["--lm"]:
        return lm_probe()
    if sys.argv[1:2] == ["--pipeline"]:
        return pipeline_probe()

    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale_probe")
    qs = entrymod.queries()

    for name in names:
        if name not in qs:
            print(json.dumps({"query": name, "error": "unknown query"}))
            continue
        secs: dict[str, float] = {}
        rows: dict[str, int] = {}
        for sf_dir in SF_DIRS:
            tag = os.path.basename(sf_dir)
            # warm run compiles codegen; the timed run is bench's (memo
            # reset, then plan construction plus the noop write); rows
            # are counted in a separate, untimed run
            bench.noop(qs[name](spark, sf_dir))
            secs[tag] = round(bench.timed_run(spark, qs, sf_dir, name), 3)
            rows[tag] = qs[name](spark, sf_dir).count()
        growth_time = round(secs["sf0.1"] / max(secs["sf0.01"], 1e-9), 2)
        growth_rows = round(rows["sf0.1"] / max(rows["sf0.01"], 1), 2)
        print(
            json.dumps(
                {
                    "query": name,
                    "seconds": secs,
                    "rows": rows,
                    "x10_time_growth": growth_time,
                    "x10_row_growth": growth_rows,
                }
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
