"""Sketch-operator invariants the oracle hash gate cannot express:
KMV estimation accuracy vs the exact distinct count, CMS one-sided
error, the Bloom filter's zero-false-negative guarantee, and state
sizes bounded by the sketch parameters, not the data (checked on
inputs wide enough to fill every sketch; the fixtures' 15 users per
event type and 31-token vocabulary fill none)."""

from __future__ import annotations

from pyspark.sql import functions as F

from task_hive_spark.operators.sketches import (
    BLOOM_K,
    CMS_D,
    CMS_W,
    HLL_M,
    KMV_K,
    THETA_SIDE_A,
    THETA_SIDE_B,
    bloom_positions,
    cms_cells,
    hll_registers,
    kmv_hashes,
    kmv_sketch,
    sk_bloom_semi_join,
    sk_cms_heavy_hitters,
    sk_hll_distinct,
    sk_kmv_distinct,
    sk_theta_intersect,
)
from task_hive_spark.sources.fixtures import load_table


def _wide_events(spark):
    """(event_type, user_id) rows with 10,000 distinct users in each of
    two groups: enough to fill every KMV slot and HLL register."""
    return spark.range(20_000).select(
        (F.col("id") % 2).cast("string").alias("event_type"), F.col("id").alias("user_id")
    )


def test_kmv_estimate_tracks_exact(spark, sf_dir):
    # sketch state rows <= K per group, however many users a group has
    assert kmv_sketch(kmv_hashes(_wide_events(spark))).count() <= KMV_K * 2
    est = {
        r["event_type"]: r
        for r in sk_kmv_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, row in est.items():
        if row["n_sketch"] < KMV_K:
            # under-full sketch IS the value set — exact by construction
            assert row["est_distinct"] == exact[et]
            assert row["kth_min_hash"] is None
        else:
            # KMV stderr ≈ 1/sqrt(K-2) ≈ 12.7% at K=64; 3σ bound
            assert abs(row["est_distinct"] - exact[et]) <= 0.4 * exact[et], (
                et,
                row["est_distinct"],
                exact[et],
            )


def test_hll_estimate_tracks_exact(spark, sf_dir):
    # register rows <= m per group, however many users a group has
    assert hll_registers(_wide_events(spark)).count() <= HLL_M * 2
    est = {r["event_type"]: r for r in sk_hll_distinct(spark, sf_dir).collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, row in est.items():
        # HLL stderr ≈ 1.04/sqrt(m) ≈ 6.5% at m=256; generous 3σ bound
        # (linear counting governs the small-sf fixtures)
        assert abs(row["est_distinct"] - exact[et]) <= max(0.2 * exact[et], 3), (
            et,
            row["est_distinct"],
            exact[et],
        )
        assert 0 <= row["v_zero"] <= HLL_M


def test_hll_daily_tracks_exact_per_group(spark, sf_dir):
    from task_hive_spark.operators.sketches import sk_hll_daily

    est = {
        (r["day"], r["event_type"]): r["est_distinct"]
        for r in sk_hll_daily(spark, sf_dir).collect()
    }
    exact = {
        (r["day"], r["event_type"]): r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for g, n in exact.items():
        # daily groups sit in the linear-counting regime at fixture
        # scale — tight relative bound with a small absolute floor
        assert abs(est[g] - n) <= max(0.25 * n, 3), (g, est[g], n)


def test_theta_intersect_consistent(spark, sf_dir):
    row = sk_theta_intersect(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == THETA_SIDE_A).select("user_id").distinct()
    b = ev.where(F.col("event_type") == THETA_SIDE_B).select("user_id").distinct()
    exact_common = a.join(b, "user_id").count()
    exact_union = a.union(b).distinct().count()
    # sketch-algebra sanity
    assert 0 <= row["n_common"] <= row["n_union"]
    assert row["est_intersect"] <= row["est_union"]
    # 3σ-ish accuracy on both set estimates
    assert abs(row["est_intersect"] - exact_common) <= max(0.4 * exact_common, 3)
    assert abs(row["est_union"] - exact_union) <= max(0.4 * exact_union, 3)
    # under-full sketches must be EXACT (θ = full domain)
    if row["n_sketch_a"] < 64 and row["n_sketch_b"] < 64:
        assert row["est_intersect"] == exact_common
        assert row["est_union"] == exact_union


def test_cms_estimates_never_undercount(spark, sf_dir):
    from task_hive_spark.operators.textops import token_index

    hh = {r["tok"]: r["est_count"] for r in sk_cms_heavy_hitters(spark, sf_dir).collect()}
    assert hh, "fixture corpus has heavy hitters at every sf"
    truth = {
        r["tok"]: r["c"]
        for r in token_index(spark, sf_dir)
        .select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    for tok, est in hh.items():
        # CMS error is one-sided: collisions only ever ADD counts
        assert est >= truth[tok], (tok, est, truth[tok])
    # every true heavy hitter is reported (est >= true ≥ threshold)
    total = sum(truth.values())
    for tok, c in truth.items():
        if c * 50 >= total:
            assert tok in hh, f"true heavy hitter {tok} missing"


def test_bloom_no_false_negatives(spark, sf_dir):
    row = sk_bloom_semi_join(spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer")
    bad = cust.where(F.col("c_acctbal") < 0).select("c_custkey")
    true_orders = (
        load_table(spark, sf_dir, "orders")
        .join(bad, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .count()
    )
    # a Bloom filter may pass extra rows, never drop a true match
    assert row["n_true_match"] == true_orders
    assert row["n_false_pos"] == row["n_pass"] - row["n_true_match"]
    assert row["n_false_pos"] >= 0
    assert row["n_bits_set"] <= BLOOM_K * bad.count()


def test_incremental_hll_converges_to_batch_and_is_chunk_invariant(
    spark, sf_dir, tmp_path
):
    from task_hive_spark.streaming.feed import read_state
    from task_hive_spark.streaming.sketchstream import run_once
    from task_hive_spark.operators.sketches import hll_estimate

    batch = sk_hll_distinct(spark, sf_dir).collect()
    outs = []
    for n_chunks in (2, 4):
        root = run_once(spark, "hll", sf_dir, str(tmp_path / f"c{n_chunks}"), n_chunks)
        # state is day-grained (the store's grain); coarsen by max —
        # idempotent, so this IS the per-type register state
        regs = (
            read_state(spark, root)["registers"]
            .groupBy("event_type", "j")
            .agg(F.max("m").alias("m"))
        )
        outs.append(hll_estimate(spark, regs).collect())
    # max-monoid state: ANY batching folds to the whole-corpus sketch
    assert outs[0] == outs[1] == batch


def test_hll_union_is_register_merge_not_sum(spark, sf_dir):
    from task_hive_spark.operators.sketches import sk_hll_union

    row = sk_hll_union(spark, sf_dir).collect()[0]
    exact_union = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(row["est_union"] - exact_union) <= max(0.2 * exact_union, 3)
    # the fixture's groups share users, so the naive sum over groups
    # must overcount what the merged sketch reports
    assert row["sum_group_ests"] > row["est_union"]


def test_split_leakage_exact_pairs_reconcile(spark, sf_dir):
    from task_hive_spark.operators.dedup import corpus_df, dd_split_leakage
    from task_hive_spark.operators.textops import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        txt_stratified_split,  # noqa: F401  (same formula, imported not copied)
    )
    from task_hive_spark.functions.text import fingerprint, portable_hash32

    rows = dd_split_leakage(spark, sf_dir).collect()
    got_exact = sum(r["n_pairs"] for r in rows if r["kind"] == "exact")
    # independent reconstruction: every exact-duplicate pair whose two
    # hash buckets fall in different split ranges
    bucket = portable_hash32(F.col("doc_id").cast("string"), seed="split-") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    fp = corpus_df(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), split.alias("split")
    )
    expect = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert got_exact == expect
    assert expect > 0, "fixture must make the audit value-bearing"
    # split labels never repeat inside a row (cross-split by definition)
    assert all(r["split_a"] != r["split_b"] for r in rows)


def test_incremental_kmv_converges_to_batch_and_is_chunk_invariant(
    spark, sf_dir, tmp_path
):
    from task_hive_spark.operators.sketches import kmv_estimate
    from task_hive_spark.streaming.feed import read_state
    from task_hive_spark.streaming.sketchstream import run_once

    batch = sk_kmv_distinct(spark, sf_dir).collect()
    outs = []
    for n_chunks in (2, 4):
        root = run_once(spark, "kmv", sf_dir, str(tmp_path / f"k{n_chunks}"), n_chunks)
        outs.append(kmv_estimate(read_state(spark, root)["sketch"]).collect())
    # bottom-K is a mergeable order statistic: any chunking folds to
    # the whole-corpus sketch
    assert outs[0] == outs[1] == batch


def test_incremental_cms_converges_and_never_double_counts(
    spark, sf_dir, tmp_path
):
    """Additive (non-idempotent) sketch state: chunking must not change
    the converged grid, and draining an already-drained feed must not
    re-add any batch (the checkpoint + batch-scoped state contract)."""
    import os

    from task_hive_spark.operators.textops import token_index
    from task_hive_spark.operators.sketches import cms_grid
    from task_hive_spark.streaming.feed import read_state
    from task_hive_spark.streaming.sketchstream import run_once, run_stream

    occ = token_index(spark, sf_dir).select(F.explode("toks").alias("tok"))
    batch_grid = {
        (r["d"], r["col"]): r["c"] for r in cms_grid(occ).collect()
    }
    def grid(root):
        return {
            (r["d"], r["col"]): r["c"]
            for r in read_state(spark, root)["grid"].collect()
        }

    states = []
    for n_chunks in (2, 4):
        work = str(tmp_path / f"c{n_chunks}")
        root = run_once(spark, "cms", sf_dir, work, n_chunks)
        got = grid(root)
        states.append(got)
        # re-drain the same exhausted feed: the additive state must not
        # grow (a double-applied batch would inflate every counter)
        run_stream(spark, "cms", work, os.path.join(work, "feed"))
        assert grid(root) == got
    assert states[0] == states[1] == batch_grid


def test_quantile_sketch_brackets_exact_percentiles(spark, sf_dir):
    """The reported bucket lower bound must bracket the true rank-q
    value within one bucket width (relative error ≤ 2^-QSK_SUB_BITS)."""
    from pyspark.sql.window import Window as W

    from task_hive_spark.operators.sketches import (
        QSK_QS,
        QSK_SUB_BITS,
        qsk_lineitem_vals,
        qsk_state,
        sk_quantiles,
    )

    # buckets per group <= the log-linear grid: every value below
    # 2^(S+1) exactly, then (62 - S) octaves of 2^S sub-buckets; the
    # log-uniform values reach every octave of a non-negative BIGINT
    wide = spark.range(100_000).select(
        F.lit("g").alias("g"), F.floor(F.pow(F.lit(2.0), F.rand(7) * 62)).alias("v")
    )
    grid = (1 << (QSK_SUB_BITS + 1)) + (62 - QSK_SUB_BITS) * (1 << QSK_SUB_BITS)
    assert qsk_state(wide).count() <= grid

    got = {r["l_returnflag"]: r for r in sk_quantiles(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    vals = qsk_lineitem_vals(li)
    ranked = vals.withColumn(
        "rn", F.row_number().over(W.partitionBy("g").orderBy("v"))
    )
    totals = {r["g"]: r["n"] for r in vals.groupBy("g").agg(F.count("*").alias("n")).collect()}
    for g, row in got.items():
        assert row["n_rows"] == totals[g]
        for q in QSK_QS:
            rank = -(-totals[g] * q // 100)  # ceil
            exact = ranked.where(
                (F.col("g") == g) & (F.col("rn") == rank)
            ).collect()[0]["v"]
            lb = row[f"p{q}_cents"]
            assert lb <= exact, (g, q, lb, exact)
            # bucket width ≤ lb·2^-S once lb ≥ 2^S (cents are ≥ 9e4 here)
            assert exact <= lb + max(lb >> QSK_SUB_BITS, 1), (g, q, lb, exact)


def test_incremental_qsk_converges_and_never_double_counts(
    spark, sf_dir, tmp_path
):
    """Quantile histogram state is additive like CMS: chunking must not
    change the converged grid, and re-draining an exhausted feed must
    not re-add any batch."""
    import os

    from task_hive_spark.operators.sketches import qsk_lineitem_vals, qsk_state
    from task_hive_spark.streaming.feed import read_state
    from task_hive_spark.streaming.sketchstream import run_once, run_stream

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    batch_grid = {
        (r["g"], r["lb"]): r["cnt"]
        for r in qsk_state(qsk_lineitem_vals(li)).collect()
    }
    def coarse_grid(root):
        # state is (g, m, lb, cnt) — the store's monthly grain; the
        # additive merge is exact at any grouping, so summing over m
        # reproduces the per-flag grid
        out: dict = {}
        for r in read_state(spark, root)["histogram"].collect():
            k = (r["g"], r["lb"])
            out[k] = out.get(k, 0) + r["cnt"]
        return out

    states = []
    for n_chunks in (2, 4):
        work = str(tmp_path / f"q{n_chunks}")
        root = run_once(spark, "qsk", sf_dir, work, n_chunks)
        got = coarse_grid(root)
        states.append(got)
        run_stream(spark, "qsk", work, os.path.join(work, "feed"))
        assert coarse_grid(root) == got
    assert states[0] == states[1] == batch_grid


def test_shared_cell_helpers_are_single_source(spark):
    # build and probe must use the same cell/position derivations;
    # the helpers are that single source — pin their shape
    assert len(cms_cells(F.lit("x"))) == CMS_D
    assert len(bloom_positions(F.lit("x"))) == BLOOM_K


def test_incremental_sketch_checkpoint_resumes_across_jvms(
    spark, sf_dir, tmp_path
):
    """TRUE checkpoint RESUME — the complement of the lifecycle's
    redo-from-feed takeover (tests/test_lifecycle.py): the sketchstream
    drain keeps its checkpoint across runs and its batch-scoped state
    is replay-idempotent, so after the driving JVM is SIGKILLed
    mid-drain a SECOND JVM opening the same work dir must CONTINUE from
    the last committed offset (replaying at most the in-flight batch,
    which overwrites rather than adds) and converge to exactly the
    whole-corpus sketch."""
    import os

    from tests.conftest import VictimJVM
    from task_hive_spark.materialize import latest_committed_version
    from task_hive_spark.operators.sketches import qsk_lineitem_vals, qsk_state
    from task_hive_spark.streaming.feed import (
        STATE,
        read_state,
        with_range_chunk,
        write_chunks,
    )
    from task_hive_spark.streaming.sketchstream import run_stream

    work = str(tmp_path / "qsk_failover")
    feed = os.path.join(work, "feed")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    os.makedirs(work, exist_ok=True)
    write_chunks(with_range_chunk(li, "l_orderkey", 4), feed, 4)

    victim = VictimJVM(
        "from task_hive_spark.session import get_spark\n"
        "from task_hive_spark.streaming.sketchstream import run_stream\n"
        "spark = get_spark('qsk_victim')\n"
        f"run_stream(spark, 'qsk', {work!r}, {feed!r})\n",
        os.path.join(work, "victim.log"),
    )
    state_root = os.path.join(work, "qsk_state")

    def _latest() -> int:
        # version 0 is the seed; version n holds batches 0..n-1
        v = latest_committed_version(state_root, STATE)
        return -1 if v is None else v

    try:
        # ≥2 of 4 batches committed, the next in flight
        victim.poll_until(lambda: _latest() >= 2, "a second committed batch")
    finally:
        victim.kill()
    at_kill = _latest()
    assert at_kill < 4, (
        f"victim had already drained every batch ({at_kill}) — the kill "
        "was not mid-drain; widen the feed or tighten the poll"
    )

    # a second driver (this JVM) RESUMES the same checkpoint + feed
    run_stream(spark, "qsk", work, feed)
    assert _latest() == 4, "resume did not process the remaining batches"
    got = {
        (r["g"], r["lb"]): r["cnt"]
        for r in read_state(spark, state_root)["histogram"].collect()
    }
    want = {
        (r["g"], r["lb"]): r["cnt"]
        for r in qsk_state(qsk_lineitem_vals(li)).collect()
    }
    assert got == want, "resumed fold diverged from the whole-corpus sketch"


def test_quantile_merge_of_monthly_sketches_is_exact(spark, sf_dir):
    """Additive-histogram mergeability: the union of per-month partial
    sketches must reproduce the whole-corpus percentile report EXACTLY
    (the property sk_hll_union can only approximate — register max is
    lossy, counter addition is not)."""
    from task_hive_spark.operators.sketches import (
        sk_quantiles,
        sk_quantiles_merged,
    )

    direct = {r["l_returnflag"]: r for r in sk_quantiles(spark, sf_dir).collect()}
    merged = {
        r["l_returnflag"]: r for r in sk_quantiles_merged(spark, sf_dir).collect()
    }
    assert set(direct) == set(merged)
    for g, d in direct.items():
        m = merged[g]
        assert m["n_parts"] >= 2, "fixture must span several months"
        for col in ("n_rows", "n_buckets", "p50_cents", "p90_cents", "p99_cents"):
            assert m[col] == d[col], (g, col, m[col], d[col])


def test_sketch_store_serves_percentiles_without_the_fact_table(spark, sf_dir, tmp_path):
    """The persisted monthly sketch store must answer percentiles
    byte-identically to the scan-built rollup while planning ONLY over
    the store artifacts — lineitem is absent from the served query's
    scan set (the retention-tier pattern: raw rows discarded, sketches
    kept, answers exact)."""
    import os

    from task_hive_spark.operators.sketches import (
        materialize_sketch_store,
        sk_quantiles_merged,
        sk_quantiles_served,
    )

    out = str(tmp_path / "skstore")
    summary = materialize_sketch_store(spark, sf_dir, out)
    assert summary["quantiles_monthly"] > 0
    assert summary["hll_daily_registers"] > 0
    assert os.path.isfile(os.path.join(out, "summary.json"))

    served = sk_quantiles_served(spark, sf_dir, store_dir=out)
    assert served.collect() == sk_quantiles_merged(spark, sf_dir).collect()
    scans = served.inputFiles()
    assert scans and all(out in f for f in scans), scans

    # HLL member: register state is idempotent-max, so the stored
    # sketch IS the computed sketch — served daily estimates equal the
    # scan-built query's exactly, with events absent from the plan
    from task_hive_spark.operators.sketches import sk_hll_daily, sk_hll_daily_served

    hserved = sk_hll_daily_served(spark, sf_dir, store_dir=out)
    assert hserved.collect() == sk_hll_daily(spark, sf_dir).collect()
    hscans = hserved.inputFiles()
    assert hscans and all(out in f for f in hscans), hscans


def test_stream_built_store_serves_bit_identical_to_batch(spark, sf_dir):
    """The r11 closure: a store assembled purely from the incremental
    runs' converged state files must serve the SAME answers as the
    batch-built store, row for row — additive histogram merge and
    idempotent register max make the two stores equal by construction,
    and this pins it. Both serves must also read only their store
    (no fact table in the scan set)."""
    from task_hive_spark.operators.sketches import (
        sk_hll_daily_served,
        sk_quantiles_served,
    )
    from task_hive_spark.streaming.sketchstream import (
        sk_hll_daily_stream_served,
        sk_quantiles_stream_served,
        stream_store_dir,
    )

    store = stream_store_dir(spark, sf_dir)
    q_stream = sk_quantiles_stream_served(spark, sf_dir)
    assert q_stream.collect() == sk_quantiles_served(spark, sf_dir).collect()
    h_stream = sk_hll_daily_stream_served(spark, sf_dir)
    assert h_stream.collect() == sk_hll_daily_served(spark, sf_dir).collect()
    for df in (q_stream, h_stream):
        scans = df.inputFiles()
        assert scans and all(store in f for f in scans), scans


def test_weighted_cms_grid_equals_occurrence_stream_grid(spark, sf_dir):
    """sk_cms_heavy_hitters builds its grid as the count-weighted fold
    of the dictionary; the additive fold must commute — the weighted
    grid is bit-identical to cms_grid over the raw occurrence stream
    (the streaming form), or the batch and incremental answers drift."""
    from pyspark.sql import functions as F

    from task_hive_spark.operators.sketches import cms_grid, cms_grid_weighted
    from task_hive_spark.operators.textops import token_index, unigram_vocab

    occ = token_index(spark, sf_dir).select(F.explode("toks").alias("tok"))
    a = {(r["d"], r["col"]): r["c"] for r in cms_grid(occ).collect()}
    b = {
        (r["d"], r["col"]): r["c"]
        for r in cms_grid_weighted(unigram_vocab(spark, sf_dir)).collect()
    }
    assert a == b and a
    # the grid holds at most D x W counters, however many tokens stream in
    wide = spark.range(20_000).select(F.col("id").cast("string").alias("tok"))
    assert cms_grid(wide).count() <= CMS_D * CMS_W
