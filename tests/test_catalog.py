"""The persistent catalog table must serve status filters via partition
pruning — the Spark equivalent of the reference's etcd prefix scan
(common/constants.go:5-15): a pending read never touches the other four
status partitions."""

from __future__ import annotations

from task_hive_spark.plans.catalog import cat_pending_by_type, pruned_status_scan

SF_DIR = "/root/testdata/sf0.001"


def test_partition_pruning_in_plan(spark):
    scan = pruned_status_scan(spark, SF_DIR, "pending")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the status predicate must be a partition filter, not a data filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("pending" in ln for ln in pf), pf


def test_bucketed_join_has_no_exchange(spark):
    """Matching bucketBy specs on both sides must make the sort-merge
    join shuffle-free: zero Exchange nodes in the join plan."""
    from task_hive_spark.plans.catalog import bucketed_join

    j = bucketed_join(spark, SF_DIR)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan, plan


def test_catalog_matches_view(spark):
    from task_hive_spark.operators.taskmodel import tasks_df

    got = {
        (r["type"], r["n_tasks"], r["sum_priority"])
        for r in cat_pending_by_type(spark, SF_DIR).collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r["type"], r["n_tasks"], r["sum_priority"])
        for r in (
            tasks_df(spark, SF_DIR)
            .where("status = 'pending'")
            .groupBy("type")
            .agg(
                F.count("*").alias("n_tasks"),
                F.sum("priority").cast("long").alias("sum_priority"),
            )
            .collect()
        )
    }
    assert got == want and got


def test_concurrent_process_catalog_isolated(spark, sf_dir):
    """A SECOND concurrent process must run catalog queries green while
    this session holds its own embedded-Derby connection (round-6 wart:
    a shared derby.system.home made the second process fail every cat_*
    query with HiveException — gate runs had to be solo). get_spark now
    keys the metastore and warehouse per pid (session._isolated_store_dirs)."""
    import subprocess
    import sys

    from task_hive_spark.plans.catalog import cat_pending_by_type

    # hold a live Derby connection in THIS process
    assert cat_pending_by_type(spark, sf_dir).count() > 0
    code = (
        "from task_hive_spark.session import get_spark\n"
        "from task_hive_spark.plans.catalog import cat_pending_by_type\n"
        f"rows = cat_pending_by_type(get_spark('derby-iso'), {sf_dir!r}).collect()\n"
        "assert rows, 'no rows'\n"
        "print('CONCURRENT-OK', len(rows))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "CONCURRENT-OK" in r.stdout


def test_compaction_bounds_files_and_preserves_content(spark, sf_dir):
    """compact_table must (a) cut the per-partition file count to the
    byte-derived bin count, (b) never move a row across partitions or
    shuffle (plan is scan→coalesce→write), and (c) preserve the exact
    row multiset — checked with a full-width order-independent hash of
    every column, not just the aggregate the oracle gate covers."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.plans.catalog import (
        FRAGMENT_PARTS,
        compacted_tasks_dir,
    )

    comp, plan = compacted_tasks_dir(spark, sf_dir)
    assert plan, "no partitions compacted"
    for part, p in plan.items():
        assert p["files_before"] > p["n_bins"], (part, p)  # fragmented input
        assert p["files_after"] <= p["n_bins"], (part, p)  # bound holds
        assert p["files_before"] <= FRAGMENT_PARTS
    frag = os.path.join(os.path.dirname(comp), "fragmented")

    def content_hash(path: str) -> int:
        df = spark.read.parquet(path)
        cols = sorted(df.columns)
        row_h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
        # sum of per-row hashes: order-independent, duplicate-sensitive
        # (a dropped + doubled row pair would need a hash collision);
        # decimal accumulator — a bigint SUM of 64-bit hashes overflows
        # under ANSI mode
        return df.select(
            F.sum(row_h.cast("decimal(38,0)")).alias("h")
        ).collect()[0]["h"]

    assert content_hash(frag) == content_hash(comp)


def test_pack_bins_and_exact_compaction_mode(spark, tmp_path):
    """pack_bins: name-order first-fit, threshold semantics, oversize
    file isolated, total preserved. exact_bins mode: one file per bin,
    deterministic plan, content preserved."""
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.plans.catalog import compact_table, pack_bins

    # unit: first-fit semantics — earliest bin with room wins, an
    # over-target file sits alone, and an alternating big/small listing
    # still packs the smalls together (the next-fit pathology)
    assert pack_bins([10, 10, 10], 25) == [[0, 1], [2]]
    assert pack_bins([30, 10, 10], 25) == [[0], [1, 2]]
    assert pack_bins([10, 30, 10], 25) == [[0, 2], [1]]
    assert pack_bins([60, 5, 60, 5], 64) == [[0], [1, 3], [2]]
    assert pack_bins([], 25) == []
    bins = pack_bins([7] * 10, 21)
    assert [len(b) for b in bins] == [3, 3, 3, 1]
    assert sorted(i for b in bins for i in b) == list(range(10))

    # end-to-end exact mode over a deliberately fragmented table
    frag = str(tmp_path / "frag")
    comp = str(tmp_path / "comp")
    df = spark.range(2000).select(
        "id",
        (F.col("id") % 3).cast("string").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(16).write.partitionBy("part").parquet(frag)
    plan = compact_table(spark, frag, comp, target_bytes=64 * 1024, exact_bins=True)
    for part, p in plan.items():
        assert p["files_after"] == p["n_bins"], (part, p)  # one file per bin
        assert p["files_after"] < p["files_before"], (part, p)
    # determinism of the plan: recompacting the same input reproduces it
    comp2 = str(tmp_path / "comp2")
    assert compact_table(spark, frag, comp2, 64 * 1024, exact_bins=True) == plan
    # content invariance
    a = sorted(r["id"] for r in spark.read.parquet(frag).collect())
    b = sorted(r["id"] for r in spark.read.parquet(comp).collect())
    assert a == b == list(range(2000))

def test_clustered_prune_reads_fewer_files(spark, sf_dir):
    """The data-skipping contract: (a) the clustered layout's manifest
    prunes the demo window to a strict minority of files and the
    executed scan reads exactly those; (b) the UNclustered fragmented
    layout prunes nothing (every file spans the full key range); (c)
    pruning is lossless — the pruned scan's rows equal a full-scan
    filter's, row for row."""
    import datetime as dt

    from pyspark.sql import functions as F

    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        PRUNE_HI,
        PRUNE_LO,
        clustered_tasks_dir,
        file_column_stats,
        prune_files,
        pruned_range_scan,
    )

    frag, clus, stats = clustered_tasks_dir(spark, sf_dir)
    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    kept, total = prune_files(stats, lo, hi)
    assert total > 1, "clustered rewrite produced a single file — no demo"
    assert len(kept) < total, (len(kept), total)  # pruning actually prunes
    assert len(kept) <= -(-total // 2), (len(kept), total)  # strict minority

    scan = pruned_range_scan(spark, sf_dir)
    assert sorted(scan.inputFiles()) == sorted(
        f"file://{p}" if not p.startswith("file:") else p for p in kept
    )

    # the fragmented layout cannot prune: every file overlaps the window
    fstats = file_column_stats(frag, CLUSTER_COL)
    fkept, ftotal = prune_files(fstats, lo, hi)
    assert len(fkept) == ftotal > 1

    # losslessness beyond the aggregate oracle: full row-set equality
    want = (
        spark.read.parquet(clus)
        .where(F.col(CLUSTER_COL).between(F.lit(PRUNE_LO), F.lit(PRUNE_HI)))
    )
    assert scan.count() == want.count() > 0
    assert scan.exceptAll(want).count() == 0
    assert want.exceptAll(scan).count() == 0


def test_compact_table_unpartitioned_and_mode_guard(spark, tmp_path):
    """Flat (non-hive) input dirs compact as a single root partition;
    exact_bins + cluster_by is rejected."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from task_hive_spark.plans.catalog import compact_table

    frag = str(tmp_path / "flat_frag")
    comp = str(tmp_path / "flat_comp")
    spark.range(5000).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload")
    ).repartition(12).write.parquet(frag)
    plan = compact_table(spark, frag, comp, target_bytes=1 << 20)
    assert list(plan) == [""]
    assert plan[""]["files_before"] == 12
    assert plan[""]["files_after"] <= plan[""]["n_bins"] < 12
    a = sorted(r["id"] for r in spark.read.parquet(comp).collect())
    assert a == list(range(5000))

    with _pytest.raises(ValueError):
        compact_table(spark, frag, str(tmp_path / "x"), exact_bins=True,
                      cluster_by=["id"])
    # in-place compaction (out_dir == in_dir) would rmtree the source on
    # the skip path before copying — must be rejected, source untouched
    with _pytest.raises(ValueError):
        compact_table(spark, frag, frag, target_bytes=1 << 30)
    with _pytest.raises(ValueError):
        compact_table(spark, frag, str(tmp_path) + "/./flat_frag",
                      target_bytes=1 << 30)
    assert spark.read.parquet(frag).count() == 5000


def test_prune_files_timezone_aware_stats(tmp_path):
    """prune_files compares in UTC: tz-aware footer stats against naive
    (UTC wall-clock) window bounds must not shift — a +14h-zone stat
    that lies inside the UTC window keeps its file."""
    from datetime import datetime, timedelta, timezone

    from task_hive_spark.plans.catalog import prune_files

    lo = datetime(2024, 6, 1)
    hi = datetime(2024, 6, 30, 23, 59)
    kiri = timezone(timedelta(hours=14))
    stats = [
        # naive-UTC stats inside the window
        {"path": "a", "min": datetime(2024, 6, 10), "max": datetime(2024, 6, 11)},
        # aware stats: 2024-06-15T02:00+14:00 == 2024-06-14T12:00 UTC (inside);
        # naive comparison after tz-strip would still keep it, but the
        # boundary case below is where stripping goes wrong:
        {"path": "b",
         "min": datetime(2024, 6, 15, 2, tzinfo=kiri),
         "max": datetime(2024, 6, 15, 3, tzinfo=kiri)},
        # 2024-07-01T10:00+14:00 == 2024-06-30T20:00 UTC — INSIDE the
        # window in UTC; naive tz-strip (July 1) would wrongly prune it
        {"path": "c",
         "min": datetime(2024, 7, 1, 9, tzinfo=kiri),
         "max": datetime(2024, 7, 1, 10, tzinfo=kiri)},
        # genuinely outside in UTC
        {"path": "d",
         "min": datetime(2024, 7, 2, 9, tzinfo=kiri),
         "max": datetime(2024, 7, 2, 10, tzinfo=kiri)},
    ]
    kept, total = prune_files(stats, lo, hi)
    assert total == 4
    assert kept == ["a", "b", "c"]


def test_delta_append_serves_correct_then_recluster_restores_pruning(spark, sf_dir):
    """The LSM loop: (a) the two-level manifest keeps ALL delta files
    (loose ranges) plus only a base minority; (b) the two-level answer
    equals the single-table window aggregate row for row (correct the
    moment the append lands); (c) recluster_table folds the delta in,
    the answer is unchanged, and pruning tightens back to a strict
    minority of the merged files."""
    import datetime as dt
    import os

    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        PRUNE_HI,
        PRUNE_LO,
        _delta_window_agg,
        cat_delta_prune,
        delta_table_dirs,
        prune_files,
        recluster_table,
    )

    base, delta, stats = delta_table_dirs(spark, sf_dir)
    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    kept, total = prune_files(stats, lo, hi)
    delta_files = {
        os.path.join(delta, f) for f in os.listdir(delta) if f.endswith(".parquet")
    }
    base_files = {
        os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")
    }
    kept_set = set(kept)
    # every delta file is kept (conservative), base prunes to a minority
    assert delta_files <= kept_set
    kept_base = kept_set & base_files
    assert len(kept_base) < len(base_files) / 2, (len(kept_base), len(base_files))

    # answer == the full-table window aggregate (nothing dropped)
    want = _delta_window_agg(
        spark.read.parquet(base).unionByName(spark.read.parquet(delta))
    ).collect()
    got = cat_delta_prune(spark, sf_dir).collect()
    assert got == want and got

    # recluster: same answer, pruning tight again
    merged, mstats = recluster_table(spark, sf_dir)
    mkept, mtotal = prune_files(mstats, lo, hi)
    assert mtotal > 1 and len(mkept) <= -(-mtotal // 2)
    after = _delta_window_agg(spark.read.parquet(*mkept)).collect()
    assert after == want


def test_recluster_debt_policy_triggers_and_is_answer_invariant(spark, sf_dir, tmp_path):
    """The LSM maintenance trigger: appends accumulate read debt (every
    loose file joins every window's kept set); serve_window_with_policy
    must (a) serve the two-level read below threshold, (b) FIRE the
    fold once loose appends dominate the window's read set, (c) return
    the identical window answer before and after, and (d) tighten
    pruning back to a base-minority share. cat_delta_prune stays green
    throughout (its session dirs are untouched by the policy fold)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from task_hive_spark.operators.taskmodel import tasks_df
    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        CLUSTER_TARGET_BYTES,
        DEBT_THRESHOLD,
        FRAGMENT_PARTS,
        PRUNE_HI,
        PRUNE_LO,
        _delta_window_agg,
        cat_delta_prune,
        compact_table,
        file_column_stats,
        recluster_debt,
        serve_window_with_policy,
    )
    from task_hive_spark.functions.text import portable_hash32

    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    t = tasks_df(spark, sf_dir)
    wave = portable_hash32(F.col("id"), seed="debt-") % 8  # base + 7 appends
    # a target small enough that the 1/8-of-tasks sf0.001 levels still
    # fan out into multiple clustered files (pruning needs >1 file)
    target = CLUSTER_TARGET_BYTES // 16
    base_frag = str(tmp_path / "base_frag")
    base = str(tmp_path / "base")
    t.where(wave == 0).repartition(FRAGMENT_PARTS).write.parquet(base_frag)
    compact_table(spark, base_frag, base,
                  target_bytes=target, cluster_by=[CLUSTER_COL])

    def manifest(levels):
        out = []
        for d in levels:
            out += file_column_stats(d, CLUSTER_COL)
        return out

    want = _delta_window_agg(
        t.where(F.col(CLUSTER_COL).isNotNull())
    ).collect()  # placeholder replaced per-wave below

    levels = [base]
    fired_at = None
    served_before = None
    for w in range(1, 8):
        d = str(tmp_path / f"delta{w}")
        t.where(wave == w).repartition(2).write.parquet(d)
        levels = levels + [d]
        stats = manifest(levels)
        visible = t.where(wave <= w)
        want = _delta_window_agg(visible).collect()
        df, info = serve_window_with_policy(
            spark, levels, stats, lo, hi, target_bytes=target
        )
        got = _delta_window_agg(df).collect()
        assert got == want and got, f"wave {w} answer drift"
        if info["folded"]:
            fired_at = w
            # pruning tight again: kept is a strict minority of merged
            assert len(info["levels"]) == 1
            assert len(info["kept"]) < info["total"] / 2
            # debt measured on the FRESH manifest is paid down
            assert recluster_debt(info["stats"], lo, hi) <= DEBT_THRESHOLD
            break
        served_before = info
        # below threshold the two-level read keeps every loose append
        assert len(info["levels"]) == len(levels)
    assert fired_at is not None, "append stream never crossed the debt threshold"
    assert served_before is not None and served_before["debt"] <= DEBT_THRESHOLD
    # the registered delta query is untouched by the policy fold
    assert cat_delta_prune(spark, sf_dir).count() > 0


def test_policy_fold_writes_beside_its_levels(spark, sf_dir, tmp_path):
    """The merged level a policy fold writes is the next committed
    version in the directory that holds the levels, so it goes away
    with that directory: nothing lands in the scratch root, and the
    staging copy is gone once the rewrite is done."""
    import datetime as dt
    import os

    from task_hive_spark.materialize import _scratch_root
    from task_hive_spark.operators.taskmodel import tasks_df
    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        PRUNE_HI,
        PRUNE_LO,
        _delta_window_agg,
        file_column_stats,
        serve_window_with_policy,
    )

    t = tasks_df(spark, sf_dir)
    levels = [str(tmp_path / "base"), str(tmp_path / "delta")]
    t.repartition(2).write.parquet(levels[0])
    t.limit(20).write.parquet(levels[1])
    stats = file_column_stats(levels[0], CLUSTER_COL) + file_column_stats(levels[1], CLUSTER_COL)
    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    before = set(os.listdir(_scratch_root()))
    df, info = serve_window_with_policy(spark, levels, stats, lo, hi, threshold=-1.0)
    both = spark.read.parquet(levels[0]).unionByName(spark.read.parquet(levels[1]))
    assert info["folded"]
    assert _delta_window_agg(df).collect() == _delta_window_agg(both).collect()
    new = {e for e in set(os.listdir(_scratch_root())) - before if e.startswith("reclus_")}
    assert not new, new
    assert info["levels"] == [str(tmp_path / "merged_v0")]
    assert sorted(os.listdir(tmp_path)) == ["base", "delta", "merged_v0"]


def test_zorder_prunes_both_dimensions_multiplicatively(spark, sf_dir):
    """Z-order contract: (a) EACH column's manifest prunes to a strict
    minority on its own — the property the naive day-major interleave
    lacked (priority kept 100%); (b) the conjunctive window's kept set
    (the intersection) is no larger than either single-column set and
    strictly smaller than the smaller of them at any multi-file scale;
    (c) the pruned read is lossless vs a full-scan filter."""
    import datetime as dt

    from pyspark.sql import functions as F

    from task_hive_spark.plans.catalog import (
        CLUSTER_COL,
        PRUNE_HI,
        PRUNE_LO,
        ZPRUNE_PRI_HI,
        ZPRUNE_PRI_LO,
        cat_zorder_prune,
        prune_files,
        zordered_tasks_dir,
    )

    out, tstats, pstats = zordered_tasks_dir(spark, sf_dir)
    lo = dt.datetime.fromisoformat(PRUNE_LO)
    hi = dt.datetime.fromisoformat(PRUNE_HI)
    kept_t, total = prune_files(tstats, lo, hi)
    kept_p, _ = prune_files(pstats, ZPRUNE_PRI_LO, ZPRUNE_PRI_HI)
    both = set(kept_t) & set(kept_p)
    assert total >= 4
    assert len(kept_t) < total and len(kept_p) < total  # each dim prunes
    assert len(both) < min(len(kept_t), len(kept_p))  # conjunction wins

    want = (
        spark.read.parquet(out)
        .where(
            F.col(CLUSTER_COL).between(F.lit(PRUNE_LO), F.lit(PRUNE_HI))
            & F.col("priority").between(ZPRUNE_PRI_LO, ZPRUNE_PRI_HI)
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("priority").cast("long").alias("sum_priority"),
        )
        .orderBy("status")
        .collect()
    )
    assert cat_zorder_prune(spark, sf_dir).collect() == want and want
