"""Persistent catalog: the status-partitioned tasks table.

BASELINE.json's spark_approach is "Spark SQL + Hive metastore
integration": the reference's etcd keyspace is five status prefixes
(``/tasks/pending/`` … ``/tasks/delayed/``, common/constants.go:5-15),
and a prefix scan reads exactly one of them. The Spark-native
equivalent is a catalog table **partitioned by status**: a
``WHERE status = 'pending'`` is served by partition pruning — the scan
never opens the other four directories, exactly like the reference
never reads the other prefixes.

``session.get_spark`` enables Hive support when the Hive classes are on
the classpath (they ship with pyspark); if not, ``saveAsTable`` still
lands in the session catalog + warehouse dir with identical partition
pruning, so catalog queries work against any driver-provided session.

At 100 TB: partitioning by a 5-value status column keeps partitions
coarse (good — no small-file explosion); finer organization within a
partition comes from bucketing on ``id`` — ``write_bucketed`` +
``cat_bucketed_join_stats`` demonstrate the shuffle-free co-located
join that buys (plan asserted Exchange-free in tests/test_catalog.py).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.materialize import (
    SNAPSHOT,
    commit_version,
    latest_committed_version,
    memoized_run,
    session_memo,
)
from task_hive_spark.operators.taskmodel import oracle_cte, tasks_df

DB = "task_hive"


def _sf_tag(sf_dir: str) -> str:
    # basename for readability + a short full-path digest so two
    # sf_dirs that share a basename (e.g. /a/sf0.1 and /b/sf0.1) can
    # never resolve to — and silently cross-serve — one catalog table
    # (the ready-cache keys on the full path; the table name must too)
    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    digest = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:6]
    return f"{base}_{digest}"


def tasks_table_name(sf_dir: str) -> str:
    return f"{DB}.tasks_{_sf_tag(sf_dir)}"


def ensure_tasks_table(spark: SparkSession, sf_dir: str) -> str:
    """Create (once per session × sf_dir) the persistent tasks table,
    partitioned by status. Returns the qualified table name."""
    name = tasks_table_name(sf_dir)

    def build() -> str:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        (
            tasks_df(spark, sf_dir)
            .write.mode("overwrite")
            .partitionBy("status")
            .format("parquet")
            .saveAsTable(name)
        )
        return name

    return session_memo(spark, ("tasks_table", sf_dir), build)


def pruned_status_scan(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    """The reference's prefix scan as a partition-pruned catalog read:
    the plan's PartitionFilters carries ``status = <s>`` and the other
    four partition directories are never listed."""
    name = ensure_tasks_table(spark, sf_dir)
    return spark.table(name).where(f"status = '{status}'")


def cat_pending_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-served pending profile: partition-pruned scan (only the
    status=pending directory) → small groupBy. The pruning is asserted
    in tests/test_catalog.py against the physical plan."""
    from pyspark.sql import functions as F

    pending = pruned_status_scan(spark, sf_dir, "pending")
    return (
        pending.groupBy("type")
        .agg(
            F.count("*").alias("n_tasks"),
            F.sum("priority").cast("long").alias("sum_priority"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("type")
    )


N_BUCKETS = 16


def meta_table_name(sf_dir: str) -> str:
    return f"{DB}.task_meta_{_sf_tag(sf_dir)}"


def bucketed_tasks_name(sf_dir: str) -> str:
    return f"{DB}.tasks_bucketed_{_sf_tag(sf_dir)}"


def write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucketed fact/companion pair: tasks and a per-task metadata table,
    both ``bucketBy(N_BUCKETS, id).sortBy(id)``. Matching bucket specs
    co-locate equal join keys at WRITE time, so the join below runs with
    zero Exchange — the 100 TB shape for any repeatedly-joined pair
    (shuffle cost paid once at ingest, every downstream join free)."""
    t_name, m_name = bucketed_tasks_name(sf_dir), meta_table_name(sf_dir)

    def build() -> tuple[str, str]:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        t = tasks_df(spark, sf_dir)
        (
            t.write.mode("overwrite")
            .bucketBy(N_BUCKETS, "id")
            .sortBy("id")
            .format("parquet")
            .saveAsTable(t_name)
        )
        from pyspark.sql import functions as F

        meta = t.select("id", F.length("payload").cast("long").alias("payload_len"))
        (
            meta.write.mode("overwrite")
            .bucketBy(N_BUCKETS, "id")
            .sortBy("id")
            .format("parquet")
            .saveAsTable(m_name)
        )
        return t_name, m_name

    return session_memo(spark, ("bucketed_tables", sf_dir), build)


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located join itself (exposed for the plan test): merge-hint
    forces sort-merge so the broadcast path can't mask the bucketing;
    with matching bucket specs the plan has NO Exchange before the join."""
    t_name, m_name = write_bucketed(spark, sf_dir)
    return spark.table(t_name).hint("merge").join(spark.table(m_name), "id")


def cat_bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status payload profile through the shuffle-free bucketed
    join (the only Exchange in the whole plan is the final small-key
    groupBy — asserted in tests/test_catalog.py)."""
    from pyspark.sql import functions as F

    j = bucketed_join(spark, sf_dir)
    return (
        j.groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.sum("payload_len").cast("long").alias("total_payload_bytes"),
        )
        .orderBy("status")
    )


# --- table maintenance: small-file compaction ------------------------------
# A 100 TB status-partitioned tasks table accretes small files from
# streaming appends (every micro-batch writes ≥1 file per touched
# partition); scan cost then degrades to file-open overhead. compact_table
# is the maintenance pass: per partition, bin-pack the small files into
# TARGET_FILE_BYTES outputs and rewrite — shuffle-FREE (coalesce merges
# whole input files; rows never leave their partition), deterministic
# (name-sorted file list → size-threshold bins), and content-invariant
# (the oracle + test pin it). A production variant additionally skips
# partitions already at target (n_files ≤ n_bins short-circuits here).

TARGET_FILE_BYTES = 1 << 20  # 1 MiB target per output file at fixture scale
FRAGMENT_PARTS = 48  # small-file fan-out simulating streaming appends


def pack_bins(sizes: list[int], target_bytes: int) -> list[list[int]]:
    """Deterministic FIRST-FIT bin-packing of file indexes in name
    order: each file goes into the earliest existing bin it fits
    (load + size ≤ target_bytes), else opens a new bin — so an
    over-target file sits alone, and an alternating big/small listing
    cannot degenerate into one bin per file the way a never-revisit
    next-fit would. Pure arithmetic over the (name-sorted) size list:
    the file→bin mapping is reproducible from the directory listing
    alone; unit-pinned in tests/test_catalog.py."""
    bins: list[list[int]] = []
    loads: list[int] = []
    for i, sz in enumerate(sizes):
        for b in range(len(bins)):
            if loads[b] + sz <= target_bytes:
                bins[b].append(i)
                loads[b] += sz
                break
        else:
            bins.append([i])
            loads.append(sz)
    return bins


def compact_table(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = TARGET_FILE_BYTES,
    exact_bins: bool = False,
    cluster_by: list[str] | None = None,
) -> dict:
    """Compaction of a hive-partitioned parquet directory: for each
    partition, derive the bin count ceil(partition_bytes / target_bytes)
    from the measured file bytes and rewrite the partition — no shuffle
    anywhere (whole input files merge; rows never cross partitions).

    Two packing modes:
    - default: ONE coalesce(n_bins) job per partition. The
      DETERMINISTIC contract is the bin COUNT (pure byte arithmetic),
      the file-count bound (files_after ≤ n_bins) and content
      invariance (oracle + multiset-hash tested); which file lands in
      which bin is delegated to Spark's scan packing + coalesce index
      ranges, so per-file sizes are approximate.
    - exact_bins=True: name-sorted first-fit byte-threshold bins
      (pack_bins) with one coalesce(1) write per bin — the file→bin
      mapping itself is deterministic and each output file holds
      exactly its bin's rows, at the cost of one job per bin (use when
      reproducible file layouts matter more than job count).
    - cluster_by=[cols]: sort-CLUSTERED rewrite (Delta ``OPTIMIZE ...
      ZORDER``'s single-dimension analogue): each partition is
      ``repartitionByRange(n_bins, cols)`` + ``sortWithinPartitions``
      so every output file holds a contiguous, disjoint range of the
      cluster key and its parquet footer min/max is TIGHT. This is the
      one mode that shuffles (one range exchange per partition) —
      deliberately: at 100 TB you pay the shuffle once at maintenance
      time to let every future range scan prune files via
      ``file_column_stats`` + ``prune_files`` below. The skip path is
      disabled (files at target size may still be unclustered).

    Unpartitioned inputs (no ``k=v`` subdirectories) are treated as a
    single root partition keyed ``""``.

    Returns the per-partition plan
    {partition: {files_before, bytes, n_bins, files_after}}."""
    import math

    if exact_bins and cluster_by:
        raise ValueError("exact_bins and cluster_by are mutually exclusive")
    if os.path.realpath(out_dir) == os.path.realpath(in_dir):
        # In-place compaction would rmtree the destination (== source)
        # on the skip path before copying — data loss. Require a
        # separate out_dir; callers swap directories atomically after.
        raise ValueError("in-place compaction is not supported: out_dir == in_dir")
    plan: dict[str, dict] = {}
    parts = sorted(
        d for d in os.listdir(in_dir)
        if "=" in d and os.path.isdir(os.path.join(in_dir, d))
    ) or [""]
    for part in parts:
        src = os.path.join(in_dir, part) if part else in_dir
        files = sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
        )
        total = sum(os.path.getsize(f) for f in files)
        n_bins = max(1, math.ceil(total / target_bytes))
        dst = os.path.join(out_dir, part) if part else out_dir
        if cluster_by:
            (
                spark.read.parquet(*files)
                .repartitionByRange(n_bins, *cluster_by)
                .sortWithinPartitions(*cluster_by)
                .write.mode("overwrite")
                .parquet(dst)
            )
        elif len(files) <= n_bins:
            # already compact: pass the files through untouched (the
            # production skip path — no rewrite amplification). Clear
            # dst first so this branch shares the overwrite semantics of
            # the rewrite branches — a rerun into a non-empty out_dir
            # must not leave stale files beside the copies.
            import shutil

            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.makedirs(dst, exist_ok=True)
            for f in files:
                shutil.copy2(f, dst)
        elif exact_bins:
            bins = pack_bins([os.path.getsize(f) for f in files], target_bytes)
            for bi, idxs in enumerate(bins):
                (
                    spark.read.parquet(*[files[i] for i in idxs])
                    .coalesce(1)
                    .write.mode("append" if bi else "overwrite")
                    .parquet(dst)
                )
            n_bins = len(bins)
        else:
            (
                spark.read.parquet(*files)
                .coalesce(n_bins)
                .write.mode("overwrite")
                .parquet(dst)
            )
        plan[part] = {
            "files_before": len(files),
            "bytes": total,
            "n_bins": n_bins,
            "files_after": sum(
                1 for f in os.listdir(dst) if f.endswith(".parquet")
            ),
        }
    return plan


def compacted_tasks_dir(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Once per (session, sf_dir): write the tasks table FRAGMENTED
    (FRAGMENT_PARTS files per status partition — the streaming-append
    pathology), compact it, and return (compacted_dir, plan)."""

    def build(root: str) -> tuple[str, dict]:
        frag, comp = os.path.join(root, "fragmented"), os.path.join(root, "compacted")
        (
            tasks_df(spark, sf_dir)
            .repartition(FRAGMENT_PARTS)
            .write.partitionBy("status")
            .parquet(frag)
        )
        plan = compact_table(spark, frag, comp)
        return comp, plan

    return memoized_run(spark, ("compacted_tasks", sf_dir), build)


def cat_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog maintenance report read FROM THE COMPACTED table: per
    status, row count, id range, and payload byte total. Matching the
    DuckDB oracle (which reads the original tasks) IS the
    content-invariance proof — a compaction that dropped, duplicated, or
    mangled any row hash-fails; the file-count bound (files_after ≤
    n_bins ≪ files_before) is asserted in tests/test_catalog.py."""
    from pyspark.sql import functions as F

    comp, _ = compacted_tasks_dir(spark, sf_dir)
    return (
        spark.read.parquet(comp)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum(F.length("payload")).cast("long").alias("total_payload_bytes"),
        )
        .orderBy("status")
    )


# --- data-skipping: per-file min/max manifest + pruned range scan ----------
# The 100 TB payoff of clustered compaction. A lakehouse table keeps
# per-file column min/max in its manifest (Delta checkpoint / Iceberg
# manifest files); the planner intersects a range predicate with those
# stats and hands the engine only the overlapping files — the direct
# heir of the reference's prefix scan (common/constants.go:7-12: read
# only the keyspace you need), generalized from a 5-value enum prefix
# to any sort-clustered column. Here the manifest is built from parquet
# FOOTERS alone (no data read) and consulted driver-side before the
# scan; at cluster scale the manifest itself is a parquet table and the
# intersect is a metadata-only Spark job.


def file_column_stats(table_dir: str, col: str) -> list[dict]:
    """Per-file (path, num_rows, min, max) for ``col``, read from
    parquet footer statistics only. Files whose footer lacks min/max
    for the column get ``None`` bounds — ``prune_files`` keeps them
    conservatively (a manifest may never cause a false negative)."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    for root, _dirs, fnames in os.walk(table_dir):
        for fname in sorted(fnames):
            if not fname.endswith(".parquet"):
                continue
            path = os.path.join(root, fname)
            md = pq.ParquetFile(path).metadata
            lo = hi = None
            seen = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    cm = md.row_group(rg).column(ci)
                    if cm.path_in_schema != col:
                        continue
                    st = cm.statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        seen = False
                        break
                    lo = st.min if not seen else min(lo, st.min)
                    hi = st.max if not seen else max(hi, st.max)
                    seen = True
                else:
                    continue
                break
            out.append(
                {
                    "path": path,
                    "num_rows": md.num_rows,
                    "min": lo if seen else None,
                    "max": hi if seen else None,
                }
            )
    return out


def recover_staged_swap(live_dir: str) -> None:
    """Crash recovery for the staged-rewrite directory swap the
    recluster paths use (write ``<live>_reclustering``, rename live
    aside to ``<live>_retired``, rename staged in, drop retired). The
    only unsafe window is between the two renames — the live directory
    is briefly absent. Calling this at the head of every swap and serve
    entry makes that window self-healing: if the live dir is missing,
    promote the staged level when its write completed (Spark's
    ``_SUCCESS`` marker), else restore the retired level — either way a
    complete, internally-consistent level is live again with no manual
    surgery (both candidates are full rewrites of the same rows)."""
    import os as _os
    import shutil as _shutil

    if _os.path.isdir(live_dir):
        return
    staged = live_dir + "_reclustering"
    retired = live_dir + "_retired"
    if _os.path.isdir(staged) and _os.path.exists(
        _os.path.join(staged, "_SUCCESS")
    ):
        _os.rename(staged, live_dir)
        if _os.path.isdir(retired):
            _shutil.rmtree(retired)
    elif _os.path.isdir(retired):
        _os.rename(retired, live_dir)


def recluster_level(
    spark: SparkSession, live_dir: str, n_files: int, *sort_cols: str
) -> list[dict]:
    """Pay a serve index level's append debt down: rewrite ``live_dir``
    as ``n_files`` files range-clustered on ``sort_cols[0]`` and sorted
    by ``sort_cols`` (tight footer ranges again) through the staged
    swap ``recover_staged_swap`` repairs, and return the new manifest
    over ``sort_cols[0]``."""
    import shutil

    recover_staged_swap(live_dir)
    staged = live_dir + "_reclustering"
    (
        spark.read.parquet(live_dir)
        .repartitionByRange(n_files, sort_cols[0])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(staged)
    )
    retired = live_dir + "_retired"
    if os.path.isdir(retired):  # leftover from a crash between the renames
        shutil.rmtree(retired)
    os.rename(live_dir, retired)
    os.rename(staged, live_dir)
    shutil.rmtree(retired)
    return file_column_stats(live_dir, sort_cols[0])


def _utc(v):
    """Normalize a manifest stat / window bound for comparison.

    Parquet footer timestamp stats are UTC instants; naive window
    bounds are interpreted as UTC wall-clock (session.py pins
    spark.sql.session.timeZone=UTC). Normalize BOTH sides to
    naive-UTC explicitly so a non-UTC process timezone can never
    shift stats against the window and silently prune a boundary
    file (a manifest false negative = dropped rows). Every consumer
    of footer min/max (prune_files, recluster_debt) must route
    comparisons through this — mixing tz-aware stats with naive
    bounds raises TypeError before any row is served."""
    from datetime import datetime, timezone

    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def prune_files(stats: list[dict], lo, hi) -> tuple[list[str], int]:
    """Intersect ``[lo, hi]`` with the manifest: keep files whose
    [min, max] overlaps the window (or whose stats are missing —
    conservative). Returns (kept paths, total files)."""

    lo, hi = _utc(lo), _utc(hi)
    kept = [
        s["path"]
        for s in stats
        if s["min"] is None
        or not (_utc(s["max"]) < lo or _utc(s["min"]) > hi)
    ]
    return kept, len(stats)


def prune_files_any(stats: list[dict], values) -> tuple[list[str], int]:
    """Multi-point companion of ``prune_files`` for serve paths that
    probe a key SET rather than a range (LSH band buckets, IVF cells):
    keep files whose [min, max] contains ANY probe value (bisect per
    file over the sorted probe set), plus stat-less files conservatively
    — a manifest may never cause a false negative. The probe set is
    bounded by the request (|batch| x bands, n_probe cells), never by
    the table, so the kept-file count scales with the PROBE, not the
    index — the property the serve-path scale probes pin."""
    import bisect

    vals = sorted(values)
    kept = []
    for s in stats:
        if s["min"] is None:
            kept.append(s["path"])
            continue
        i = bisect.bisect_left(vals, s["min"])
        if i < len(vals) and vals[i] <= s["max"]:
            kept.append(s["path"])
    return kept, len(stats)


CLUSTER_TARGET_BYTES = 64 << 10  # force multi-file clustering at fixture scale
CLUSTER_COL = "create_time"


def clustered_tasks_dir(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, list[dict]]:
    """Once per (session, sf_dir): write the tasks table FRAGMENTED and
    unclustered (every file spans the full create_time range — nothing
    prunable), rewrite it sort-clustered on create_time, and build the
    footer manifest. Returns (fragmented_dir, clustered_dir, stats)."""

    def build(root: str) -> tuple[str, str, list[dict]]:
        frag = os.path.join(root, "fragmented")
        clus = os.path.join(root, "clustered")
        # round-robin repartition scatters rows across files — the
        # streaming-append pathology where every file's [min, max] covers
        # the whole key range and no manifest can prune anything
        tasks_df(spark, sf_dir).repartition(FRAGMENT_PARTS).write.parquet(frag)
        compact_table(
            spark,
            frag,
            clus,
            target_bytes=CLUSTER_TARGET_BYTES,
            cluster_by=[CLUSTER_COL],
        )
        stats = file_column_stats(clus, CLUSTER_COL)
        return frag, clus, stats

    return memoized_run(spark, ("clustered_tasks", sf_dir), build)


# the demo range window: one year out of the ~7 the fixture spans, so a
# clustered layout should skip the large majority of files
PRUNE_LO = "1995-01-01 00:00:00"
PRUNE_HI = "1995-12-31 23:59:59"


def pruned_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned read of the clustered tasks table for the demo
    window: only files whose footer [min, max] overlaps are handed to
    Spark (tests pin inputFiles() ⊂ the table's files), then the exact
    predicate runs as the residual filter — pruning can drop whole
    files, never rows."""
    import datetime as _dt

    _, clus, stats = clustered_tasks_dir(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(PRUNE_LO)
    hi = _dt.datetime.fromisoformat(PRUNE_HI)
    kept, _total = prune_files(stats, lo, hi)
    from pyspark.sql import functions as F

    return spark.read.parquet(*kept).where(
        F.col(CLUSTER_COL).between(F.lit(PRUNE_LO), F.lit(PRUNE_HI))
    )


def cat_clustered_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-window task profile served by the manifest-pruned scan.
    Matching the DuckDB oracle (which reads ALL tasks and filters) is
    the no-false-negative proof: if pruning dropped a file containing
    any in-window row, the hash fails. The pruning RATIO (files read <
    total files, and the fragmented layout pruning nothing) is pinned
    in tests/test_catalog.py."""
    from pyspark.sql import functions as F

    from task_hive_spark.functions.report import report_sort

    # report_sort, not orderBy: the per-status profile is a handful of
    # rows and the global sort paid a range-sampling job + a second
    # exchange per run (guide §2.4; identical total order)
    return report_sort(
        pruned_range_scan(spark, sf_dir)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("priority").cast("long").alias("sum_priority"),
        ),
        "status",
    )


# --- delta appends: serve-correct now, recluster later --------------------
# The write half of a clustered table's life: daily appends must not
# rewrite the table (re-clustering 100 TB per batch is absurd), so new
# data lands as an unclustered DELTA level beside the clustered BASE —
# the LSM / Delta-Lake compaction-debt pattern. The manifest covers
# both levels: base files carry tight ranges (pruned hard), delta files
# carry loose ranges (their footer min/max spans most of the key space,
# so they are kept conservatively — correct immediately, just not yet
# cheap). `recluster_table` folds the delta into a fresh clustered base
# when the debt is worth paying; answers are pinned identical before
# and after, and pruning tightens back to the window share.

DELTA_MOD = 10  # every DELTA_MOD-th task (by id hash) arrives late


def _delta_split(spark: SparkSession, sf_dir: str):
    """Deterministic base/delta split of the tasks table: ~1/DELTA_MOD
    of rows (hash-chosen) are the late-arriving append."""
    from pyspark.sql import functions as F

    from task_hive_spark.functions.text import portable_hash32

    t = tasks_df(spark, sf_dir)
    is_delta = portable_hash32(F.col("id"), seed="delta-") % DELTA_MOD == 0
    return t.where(~is_delta), t.where(is_delta)


def delta_table_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str, list[dict]]:
    """Once per (session, sf_dir): clustered BASE + raw 2-file DELTA,
    with the manifest built over BOTH levels. Returns
    (base_dir, delta_dir, stats)."""

    def build(root: str) -> tuple[str, str, list[dict]]:
        base_frag = os.path.join(root, "base_frag")
        base = os.path.join(root, "base")
        delta = os.path.join(root, "delta")
        base_df, delta_df = _delta_split(spark, sf_dir)
        base_df.repartition(FRAGMENT_PARTS).write.parquet(base_frag)
        compact_table(
            spark, base_frag, base,
            target_bytes=CLUSTER_TARGET_BYTES, cluster_by=[CLUSTER_COL],
        )
        # the append path: tiny unclustered files, no rewrite of base
        delta_df.repartition(2).write.parquet(delta)
        stats = file_column_stats(base, CLUSTER_COL) + file_column_stats(
            delta, CLUSTER_COL
        )
        return base, delta, stats

    return memoized_run(spark, ("delta_tables", sf_dir), build)


def recluster_dirs(
    spark: SparkSession, dirs: list[str], target_bytes: int = CLUSTER_TARGET_BYTES
) -> tuple[str, list[dict]]:
    """Fold any set of table levels into a fresh clustered level and
    rebuild the manifest — the generic debt-paydown core shared by the
    fixture wrapper and the threshold policy. The merged level is the
    next ``merged_v`` version beside the first input level
    (materialize.commit_version, snapshot retention), so it goes away
    with the directory that holds the levels. Returns (merged, stats)."""
    import shutil
    import tempfile

    root = os.path.dirname(dirs[0])

    def write(merged: str) -> None:
        # stage all levels as one input dir (file moves would do at
        # scale; a copy keeps the input levels immutable for the
        # session cache), dropped once the clustered rewrite is done
        staged = tempfile.mkdtemp(prefix="staged_", dir=root)
        try:
            for src in dirs:
                for f in os.listdir(src):
                    if f.endswith(".parquet"):
                        shutil.copy2(
                            os.path.join(src, f),
                            os.path.join(staged, f"{os.path.basename(src)}_{f}"),
                        )
            compact_table(
                spark, staged, merged,
                target_bytes=target_bytes, cluster_by=[CLUSTER_COL],
            )
        finally:
            shutil.rmtree(staged)

    latest = latest_committed_version(root, "merged_v")
    n = 0 if latest is None else latest + 1
    merged = commit_version(root, "merged_v", n, write, SNAPSHOT)
    return merged, file_column_stats(merged, CLUSTER_COL)


def recluster_table(spark: SparkSession, sf_dir: str) -> tuple[str, list[dict]]:
    """Pay down the compaction debt: fold base + delta into a fresh
    clustered level and rebuild the manifest. Returns
    (merged_dir, stats)."""
    base, delta, _stats = delta_table_dirs(spark, sf_dir)
    return recluster_dirs(spark, [base, delta])


# --- recluster-debt policy -------------------------------------------------
# Appends are free until reads pay for them: every loose delta file is
# kept by EVERY window scan. The debt metric makes that read tax
# visible from the manifest alone, and the serving path pays it down
# once it crosses a threshold — the LSM compaction trigger, driven by
# the same footer stats the pruning already uses (no data read).

DEBT_THRESHOLD = 0.5  # recluster when loose appends are half a window's read set
LOOSE_SPAN_SHARE = 0.5  # a file spanning > half the key domain is an append


def recluster_debt(stats: list[dict], lo, hi) -> float:
    """Fraction of the files a window scan must read that are kept only
    CONSERVATIVELY — footer span wider than LOOSE_SPAN_SHARE of the
    table's whole key domain (unclustered appends span ~all of it;
    clustered files span ~1/n_files), or no stats at all. Computed from
    the manifest alone. 0.0 for a window no file serves or a
    single-file table (nothing to recluster). Stats and bounds are
    normalized through ``_utc`` like ``prune_files`` — tz-aware footer
    timestamps against naive window bounds must measure debt, not
    raise, in exactly the environments the prune-path fix targets."""
    stats = [
        dict(s, min=_utc(s["min"]), max=_utc(s["max"]))
        if s["min"] is not None else s
        for s in stats
    ]
    lo, hi = _utc(lo), _utc(hi)
    sized = [s for s in stats if s["min"] is not None]
    if not sized:
        return 1.0 if stats else 0.0
    dlo = min(s["min"] for s in sized)
    dhi = max(s["max"] for s in sized)
    if dhi <= dlo:
        return 0.0
    kept = [
        s for s in stats
        if s["min"] is None or not (s["max"] < lo or s["min"] > hi)
    ]
    if len(kept) <= 1:
        return 0.0
    loose = [
        s for s in kept
        if s["min"] is None
        or (s["max"] - s["min"]) > (dhi - dlo) * LOOSE_SPAN_SHARE
    ]
    return len(loose) / len(kept)


def level_debt(stats: list[dict]) -> float:
    """Loose-append share of a whole serve index level's file set, from
    the manifest alone — recluster_debt evaluated over the level's full
    key domain (every file overlaps it, so the metric reduces to: what
    fraction of ALL files does a probe keep conservatively)."""
    sized = [s for s in stats if s["min"] is not None]
    if not sized:
        return 1.0 if stats else 0.0
    lo = min(s["min"] for s in sized)
    hi = max(s["max"] for s in sized)
    return recluster_debt(stats, lo, hi)


def serve_window_with_policy(
    spark: SparkSession,
    levels: list[str],
    stats: list[dict],
    lo,
    hi,
    threshold: float = DEBT_THRESHOLD,
    target_bytes: int = CLUSTER_TARGET_BYTES,
) -> tuple[DataFrame, dict]:
    """The LSM window read with the maintenance trigger attached:
    measure the window's manifest debt; above ``threshold``, fold the
    levels (recluster_dirs) and serve from the fresh manifest —
    answer-invariant by construction, pinned by test. Returns
    (window scan, info) where info records debt, whether the fold
    fired, kept/total, and the (possibly new) levels + stats so callers
    keep serving from the paid-down table."""
    from pyspark.sql import functions as F

    debt = recluster_debt(stats, lo, hi)
    folded = debt > threshold
    if folded:
        merged, stats = recluster_dirs(spark, levels, target_bytes=target_bytes)
        levels = [merged]
    kept, total = prune_files(stats, lo, hi)
    if kept:
        df = spark.read.parquet(*kept).where(
            F.col(CLUSTER_COL).between(F.lit(str(lo)), F.lit(str(hi)))
        )
    else:
        # Window overlaps no file: serve an empty scan with the table's
        # schema (footer-only read of the levels, folded away by the
        # false predicate) instead of raising on a zero-path read —
        # mirrors dedup_served_pruned_of's empty-kept fallback.
        df = spark.read.parquet(*levels).where(F.lit(False))
    info = {
        "debt": debt, "folded": folded, "kept": kept, "total": total,
        "levels": levels, "stats": stats,
    }
    return df, info


def _delta_window_agg(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        df.where(F.col(CLUSTER_COL).between(F.lit(PRUNE_LO), F.lit(PRUNE_HI)))
        .groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("priority").cast("long").alias("sum_priority"),
        )
        .orderBy("status")
    )


def cat_delta_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demo window answered over BASE + DELTA through one manifest:
    base files prune to the window share, delta files are kept
    conservatively (loose footer ranges) — so the answer is correct the
    moment an append lands, before any recluster. Matching the DuckDB
    oracle (ALL tasks, filtered) proves the two-level read drops
    nothing; tests pin that the kept set is all-delta + a base minority,
    and that recluster_table restores single-level pruning with an
    identical answer."""
    import datetime as _dt

    base, delta, stats = delta_table_dirs(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(PRUNE_LO)
    hi = _dt.datetime.fromisoformat(PRUNE_HI)
    kept, _total = prune_files(stats, lo, hi)
    return _delta_window_agg(spark.read.parquet(*kept))


# --- Z-order clustering: multi-dimensional data skipping ------------------
# Linear clustering serves ONE predicate column; a table queried by
# both time AND priority needs locality in both. The Z-order curve
# (Delta's OPTIMIZE ZORDER BY, Morton order) interleaves the two keys'
# bits so file-contiguous z-ranges are small rectangles in (time,
# priority) space — per-file min/max stays usefully tight on BOTH
# columns, and a conjunctive range predicate prunes multiplicatively
# (≈ share_time × share_priority of files, vs share_time at best for
# linear clustering and 100% for the second column).

Z_DAY_BITS = 12  # o_orderdate spans ~2,405 days from 1992-01-01
Z_PRI_BITS = 4  # priority ∈ [1, 10]
Z_EPOCH = "1992-01-01"


def _zvalue(day, pri):
    """Morton interleave, MSB-ALIGNED for unequal widths: day's top
    Z_PRI_BITS bits pair with priority's bits at the top of the z-value
    (d11 p3 d10 p2 d9 p1 d8 p0), then day's remaining low bits stack
    below. Alignment is load-bearing: pairing priority with day's LOW
    bits (the naive i↔i interleave) makes every file's sort order
    day-major, so per-file priority ranges span the whole domain and
    the second dimension prunes nothing — measured 120/120 files kept
    before this fix, 19→5 of 120 with it."""
    from pyspark.sql import functions as F

    def bit(col, i):
        return F.shiftright(col, i).bitwiseAND(F.lit(1))

    z = F.lit(0)
    top = Z_PRI_BITS  # how many leading day bits interleave
    width = 2 * top + (Z_DAY_BITS - top)
    for i in range(top):  # i = 0 is the most significant pair
        z = z.bitwiseOR(
            F.shiftleft(bit(day, Z_DAY_BITS - 1 - i), width - 1 - 2 * i)
        )
        z = z.bitwiseOR(
            F.shiftleft(bit(pri, Z_PRI_BITS - 1 - i), width - 2 - 2 * i)
        )
    for i in range(Z_DAY_BITS - top):  # day's low bits, in place
        z = z.bitwiseOR(F.shiftleft(bit(day, i), i))
    return z


def zordered_tasks_dir(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[dict], list[dict]]:
    """Once per (session, sf_dir): rewrite the tasks table in Z-order
    on (create_time, priority) and build per-file manifests for BOTH
    columns from the footers. Returns (dir, time_stats, pri_stats)."""
    import math

    from pyspark.sql import functions as F

    def build(root: str) -> tuple[str, list[dict], list[dict]]:
        out = os.path.join(root, "zordered")
        t = tasks_df(spark, sf_dir)
        zval = _zvalue(
            F.datediff(F.col(CLUSTER_COL), F.lit(Z_EPOCH)), F.col("priority")
        )
        n_rows = t.count()
        # ~same file count the linear demo produces at this sf
        n_bins = max(4, math.ceil(n_rows / 1250))
        (
            t.withColumn("_z", zval)
            .repartitionByRange(n_bins, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.parquet(out)
        )
        return (
            out,
            file_column_stats(out, CLUSTER_COL),
            file_column_stats(out, "priority"),
        )

    return memoized_run(spark, ("zordered_tasks", sf_dir), build)


ZPRUNE_PRI_LO, ZPRUNE_PRI_HI = 8, 10  # the priority slice of the 2D window


def cat_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A conjunctive 2D window (one year × priority ≥ 8) answered from
    the Z-ordered table: the kept set is the INTERSECTION of each
    column's manifest overlap, so both dimensions prune
    multiplicatively. Matching the full-scan DuckDB oracle proves no
    false negative; the test pins that the 2D kept set is strictly
    smaller than either single-column kept set."""
    import datetime as _dt

    from pyspark.sql import functions as F

    out, tstats, pstats = zordered_tasks_dir(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(PRUNE_LO)
    hi = _dt.datetime.fromisoformat(PRUNE_HI)
    kept_t, _ = prune_files(tstats, lo, hi)
    kept_p, _ = prune_files(pstats, ZPRUNE_PRI_LO, ZPRUNE_PRI_HI)
    kept = sorted(set(kept_t) & set(kept_p))
    return (
        spark.read.parquet(*kept)
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
    )


QUERIES = {
    "cat_pending_by_type": cat_pending_by_type,
    "cat_bucketed_join_stats": cat_bucketed_join_stats,
    "cat_compaction_stats": cat_compaction_stats,
    "cat_clustered_prune": cat_clustered_prune,
    "cat_delta_prune": cat_delta_prune,
    "cat_zorder_prune": cat_zorder_prune,
}

ORACLES = {
    "cat_pending_by_type": oracle_cte(
        """
        SELECT type, COUNT(*) AS n_tasks,
               CAST(SUM(priority) AS BIGINT) AS sum_priority,
               MIN(id) AS min_id, MAX(id) AS max_id
        FROM tasks WHERE status = 'pending'
        GROUP BY type ORDER BY type
        """
    ),
    "cat_bucketed_join_stats": oracle_cte(
        """
        SELECT status, COUNT(*) AS n_tasks,
               CAST(SUM(LENGTH(payload)) AS BIGINT) AS total_payload_bytes
        FROM tasks
        GROUP BY status ORDER BY status
        """
    ),
    # reads the ORIGINAL tasks — equality with the Spark side (which
    # reads the compacted rewrite) is the content-invariance gate
    "cat_compaction_stats": oracle_cte(
        """
        SELECT status, COUNT(*) AS n_tasks,
               MIN(id) AS min_id, MAX(id) AS max_id,
               CAST(SUM(LENGTH(payload)) AS BIGINT) AS total_payload_bytes
        FROM tasks
        GROUP BY status ORDER BY status
        """
    ),
    # reads ALL tasks and filters the 2D window — equality with the
    # Spark side (which reads only files overlapping BOTH manifests)
    # proves the multiplicative prune drops nothing
    "cat_zorder_prune": oracle_cte(
        f"""
        SELECT status, COUNT(*) AS n_tasks,
               MIN(id) AS min_id, MAX(id) AS max_id,
               CAST(SUM(priority) AS BIGINT) AS sum_priority
        FROM tasks
        WHERE create_time BETWEEN TIMESTAMP '{PRUNE_LO}'
                              AND TIMESTAMP '{PRUNE_HI}'
          AND priority BETWEEN {ZPRUNE_PRI_LO} AND {ZPRUNE_PRI_HI}
        GROUP BY status ORDER BY status
        """
    ),
    # reads ALL tasks and filters — equality with the Spark side (which
    # reads manifest-overlapping base files + every delta file) proves
    # the two-level read drops nothing
    "cat_delta_prune": oracle_cte(
        f"""
        SELECT status, COUNT(*) AS n_tasks,
               MIN(id) AS min_id, MAX(id) AS max_id,
               CAST(SUM(priority) AS BIGINT) AS sum_priority
        FROM tasks
        WHERE create_time BETWEEN TIMESTAMP '{PRUNE_LO}'
                              AND TIMESTAMP '{PRUNE_HI}'
        GROUP BY status ORDER BY status
        """
    ),
    # reads ALL tasks and filters — equality with the Spark side (which
    # reads only manifest-overlapping files) proves pruning dropped no
    # in-window row
    "cat_clustered_prune": oracle_cte(
        f"""
        SELECT status, COUNT(*) AS n_tasks,
               MIN(id) AS min_id, MAX(id) AS max_id,
               CAST(SUM(priority) AS BIGINT) AS sum_priority
        FROM tasks
        WHERE create_time BETWEEN TIMESTAMP '{PRUNE_LO}'
                              AND TIMESTAMP '{PRUNE_HI}'
        GROUP BY status ORDER BY status
        """
    ),
}
