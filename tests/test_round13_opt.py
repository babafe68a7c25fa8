"""Round-13 OPTIMIZATION plan-shape pins.

Each optimization this round restructured an operator's internals
while keeping its answer oracle-hash-identical; these tests pin the
STRUCTURAL property each one bought, so a refactor that silently
regresses the plan (re-duplicating a build subtree, re-introducing a
Python-RDD scan) fails here instead of only showing up as bench drift.
Value equality stays covered by the oracle gate (verify_local / the
driver's correctness run) — these assertions are about plan shape
only.
"""

from __future__ import annotations


def _plan(df) -> str:
    """Analyzed + physical plan text of an UNEXECUTED frame."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )


def test_theta_intersect_serves_from_held_sketches(spark, sf_dir):
    """46a0f4d: the merged bottom-K pair is materialized once — the
    final theta plan must contain NO events scan (all data passes ran
    inside the checkpoint build; the before-plan held six copies of
    the events -> distinct -> bottom-K chain)."""
    from task_hive_spark.operators.sketches import sk_theta_intersect

    plan = _plan(sk_theta_intersect(spark, sf_dir))
    assert "events.parquet" not in plan, (
        "sk_theta_intersect's final plan re-reads the events table - "
        "the held-sketch fold regressed"
    )


def test_hll_union_serves_from_held_registers(spark, sf_dir):
    """46a0f4d: both union-merge and per-group estimates derive from
    the checkpointed register state — no events scan in the final
    plan."""
    from task_hive_spark.operators.sketches import sk_hll_union

    plan = _plan(sk_hll_union(spark, sf_dir))
    assert "events.parquet" not in plan


def test_cms_probe_reads_held_grid(spark, sf_dir):
    """46a0f4d: the CMS stream-length row-sum and the probe join read
    the checkpointed grid, not a per-consumer rebuild — the dictionary
    (vocab index) may appear once for the candidate side, but the
    GRID subtree (explode of cms cells -> groupBy) must not be planned
    twice. The grid build contains the cell-explode marker 'cms-';
    after the fold the final plan holds at most one such subtree
    (the candidate probe's own cell expansion)."""
    from task_hive_spark.operators.sketches import sk_cms_heavy_hitters

    plan = _plan(sk_cms_heavy_hitters(spark, sf_dir))
    # one cell-expansion (D=4 'cms-' digest slices) for the PROBE side
    # only; the grid side is a checkpointed scan. 8+ occurrences in the
    # physical plan = the D-cell explode over the vocab is planned for
    # the grid again (per consumer), i.e. the fold regressed.
    phys = plan.split("== Physical Plan ==")[1]
    assert phys.count("cms-") <= 4, (
        "the CMS grid subtree appears duplicated in the final plan"
    )


def test_bpe_merges_output_is_local_table(spark, sf_dir):
    """f3e5f2c: the learned-merge table is a VALUES literal
    (LocalTableScan / LocalRelation), never a Python-RDD scan."""
    from task_hive_spark.operators.textops import txt_bpe_merges

    plan = _plan(txt_bpe_merges(spark, sf_dir))
    assert "Scan ExistingRDD" not in plan, (
        "txt_bpe_merges regressed to a pickled Python-RDD output frame"
    )


def test_quality_classifier_single_fit_round(spark, sf_dir):
    """fe0d29d + 92458a2: the NB weight table is an all-integer VALUES
    literal and the prior is constant-folded into the scoring plan —
    no Python-RDD scan, no spark.range(1) subtree."""
    from task_hive_spark.operators.textops import txt_quality_classifier

    plan = _plan(txt_quality_classifier(spark, sf_dir))
    assert "Scan ExistingRDD" not in plan, (
        "the NB weight table regressed to a pickled Python-RDD frame"
    )
    assert "Range (0, 1" not in plan, (
        "the prior log-odds regressed to a separate range(1) job"
    )


def test_bucketed_prefix_materializes_input_once(spark):
    """44df6f9: bucketed_prefix checkpoints its input, so the returned
    frame scans materialized rows (LogicalRDD) instead of re-planning
    the caller's upstream subtree a third time."""
    from pyspark.sql import functions as F

    from task_hive_spark.functions.prefix import bucketed_prefix

    src = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("w"))
        .groupBy("k")
        .agg(F.sum("w").alias("w"))
    )
    b, off, total = bucketed_prefix(src, "k", weight=F.col("w"), n_buckets=4)
    assert total == sum(i % 7 for i in range(100))
    plan = _plan(b)
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan, (
        "bucketed_prefix no longer materializes its input - every "
        "consumer pays the upstream subtree three times again"
    )
    assert "Aggregate" not in plan.split("== Optimized Logical Plan ==")[0] or (
        "LogicalRDD" in plan
    )


def test_components_labeling_is_materialized(spark):
    """fe0d29d / r14: the driver-local union-find labeling must never
    plan a re-pickled Python-RDD scan under its consumers. r14 shape:
    labelings within rows.LITERAL_MAX_BYTES come back as a VALUES
    literal (LocalRelation — no job at all); bigger ones keep the r13
    eager localCheckpoint (LogicalRDD)."""
    from task_hive_spark.functions.components import min_label_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    comps = min_label_components(pairs)
    rows = {(r["node"], r["component"]) for r in comps.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    plan = _plan(comps)
    assert "Scan ExistingRDD" not in plan, (
        "labeling re-pickles a Python RDD under every consumer again"
    )
    assert "LocalRelation" in plan or "LogicalRDD" in plan, plan


def test_components_labeling_over_literal_cap_checkpoints(spark, monkeypatch):
    """The over-cap fallback stays the one-conversion checkpoint
    (LogicalRDD leaf), and agrees with the literal path row-for-row."""
    from task_hive_spark.functions import components as C, rows as R

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    lit_rows = {(r["node"], r["component"])
                for r in C.min_label_components(pairs).collect()}
    monkeypatch.setattr(R, "LITERAL_MAX_BYTES", 50)
    comps = C.min_label_components(pairs)
    assert {(r["node"], r["component"]) for r in comps.collect()} == lit_rows
    assert "LogicalRDD" in _plan(comps)


def test_bpe_local_and_distributed_trainers_agree(spark, sf_dir):
    """Session-3 BPE restructure: the driver-local trainer (the
    under-BPE_LOCAL_VOCAB_LIMIT path every fixture takes) must agree
    bit-for-bit with the distributed per-round loop — same merge list
    (order, counts), same final (w, freq, syms) vocab state, same
    frame schema — so the dispatch threshold can never change what
    txt_bpe_merges / txt_bpe_tokenize / txt_tokenized_dataset compute."""
    from task_hive_spark.materialize import _unpersist_value
    from task_hive_spark.operators.textops import (
        _bpe_vocab,
        _learn_merges_distributed,
        _learn_merges_local,
    )

    vocab_tbl = _bpe_vocab(spark, sf_dir)
    merges_l, out_l = _learn_merges_local(vocab_tbl.collect())
    # the trainers are unmemoized; free this test's checkpoint after
    merges_d, v_d = _learn_merges_distributed(spark, vocab_tbl)
    try:
        assert merges_l == merges_d
        # rebuild the local frame exactly as _learn_merges does, to pin
        # the schema equality (nullability included) alongside the rows
        from task_hive_spark.operators.textops import _BPE_VOCAB_SCHEMA

        v_l = spark.createDataFrame(
            [(w, f, s) for w, f, s in out_l], _BPE_VOCAB_SCHEMA
        )
        assert v_l.schema == v_d.schema, (v_l.schema, v_d.schema)
        rows_l = sorted((r["w"], r["freq"], tuple(r["syms"])) for r in v_l.collect())
        rows_d = sorted((r["w"], r["freq"], tuple(r["syms"])) for r in v_d.collect())
        assert rows_l == rows_d
    finally:
        _unpersist_value(v_d)


def test_clean_corpus_stats_reads_checkpointed_stages(spark, sf_dir):
    """Session-3 pipe-index checkpointing: Spark 4.1's CacheManager
    misses persisted plans referenced under a Union, so the six-way
    stats union silently re-planned every stage pipeline from raw
    parquet (866 scans in the executed plan, 14.5 s at sf0.1 for a
    query whose branches run sub-second). With the four pipe indexes
    checkpoint-backed the union's branches scan LogicalRDD leaves; the
    only parquet relation left in the whole plan is the language-map
    side of the temperature stage. A regression re-introduces dozens
    of parquet scans."""
    from task_hive_spark.operators.pipeline import txt_clean_corpus_stats

    df = txt_clean_corpus_stats(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    n_parquet = plan.count("Scan parquet")
    assert n_parquet <= 4, (
        f"stats union re-scans parquet {n_parquet} times - the pipe "
        "session indexes are no longer checkpoint leaves under the union"
    )


def test_aux_cache_keys_honor_eviction_contract(spark, sf_dir):
    """Session-3 codebook-memo fix: dead-session eviction checks key[0]
    against the live applicationId, so every memo key must be a TUPLE
    whose first element is the appId — a bare-string key's [0] is its
    first character, which made _evict_dead_sessions silently drop the
    PQ codebook frame on every session_index call (each ADC LUT
    construction re-built and re-checkpointed it: ~5-8 s of driver
    overhead per sim_topk_ivf_pq/_pq_refined call). session_memo
    builds every key itself, so the contract now holds by
    construction."""
    from task_hive_spark import materialize as M
    from task_hive_spark.operators import similarity as S

    b1 = S._pq_book_df(spark)
    S._ivf_assignment(spark, sf_dir)  # triggers _evict_dead_sessions
    assert S._pq_book_df(spark) is b1, (
        "the PQ codebook memo was evicted by a live-session sweep - "
        "its cache key no longer honors the tuple contract"
    )
    app = spark.sparkContext.applicationId
    for key in M._MEMO:
        assert isinstance(key, tuple) and key and key[0] == app, (
            f"memo key {key!r} violates the (applicationId, ...) "
            "tuple contract - _evict_dead_sessions will drop it live"
        )
