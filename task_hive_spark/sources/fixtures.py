"""Fixture loaders for the driver-generated parquet tables (TESTDATA.md).

Parquet is the scan path: Catalyst pushes filters and prunes columns at
the source (`PushedFilters` / `ReadSchema` in .explain), so queries here
never read more than they project. At 100 TB the same `spark.read.parquet`
call fans out across executors partition-by-partition; nothing below
collects to the driver.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The fixtures at sf0.001–sf0.1 store these columns as timestamp[us],
# which Spark reads as TIMESTAMP directly. The bigint branch in
# load_table serves TIMESTAMP(NANOS) files from other writers: Spark
# reads those as long via spark.sql.legacy.parquet.nanosAsLong (set in
# session.get_spark), and the ns-long columns are converted back to
# real timestamps (micros, matching what DuckDB yields when reading the
# same files).
_NANOS_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


# session object → {(sf_dir, name): scan DataFrame}. A fresh
# spark.read.parquet per query re-lists the directory and re-analyzes
# the scan relation on the driver — measured ~0.1-0.25 s of pure
# planning per multi-table query at sf0.1 (the execution was identical).
# Returning the memoized Dataset reuses its analyzed plan, the way a
# metastore-backed catalog serves cached table metadata. DataFrames are
# immutable, so sharing one scan node across queries is safe; the weak
# session key dies with its session (same rationale as _REGISTERED).
_TABLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (memoized per session). Filters/projections
    applied by callers are pushed down into this scan by Catalyst; the
    ns→timestamp conversion below is a cheap projection that doesn't
    block pushdown on other columns."""
    per = _TABLES.setdefault(spark, {})
    df = per.get((sf_dir, name))
    if df is not None:
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer div keeps full precision (ns since epoch overflows
            # a double's 53-bit mantissa)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    per[(sf_dir, name)] = df
    return df


# session id → sf_dir currently registered. Re-running registration
# re-reads 10 parquet schemas per query; across a 60+ query suite that
# fixed cost is what got round 1's correctness run truncated. Keyed by
# CURRENT dir (not a seen-set) so a session that switches sf_dirs —
# e.g. bench.py's small-fixture codegen warm-up — re-registers instead
# of silently serving the previous dir's views.
# WeakKeyDictionary keyed by the session OBJECT: temp views are
# session-scoped, and a weak key dies with its session, so a new
# session allocated at a dead one's CPython address can never inherit a
# stale "already registered" hit (the id(spark)-keyed form could).
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (cached per session
    while sf_dir is unchanged), matching the view names the DuckDB
    oracle pre-registers."""
    if _REGISTERED.get(spark) == sf_dir:
        return
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = sf_dir
