"""SparkSession factory.

Local testing runs on local[N]; the configs below are chosen so the same
code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone so results are
comparable against the DuckDB oracle, Arrow for the Python boundary.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Confs the engine relies on that stay modifiable at runtime: get_spark
# builds with them, and __spark_entry__ re-applies them before every
# query, since a caller may hand over a session built without them.
RUNTIME_CONF = {
    # results are compared against the DuckDB oracle in UTC
    "spark.sql.session.timeZone": "UTC",
    # CPU-dense stages (md5 hashing, vector math) carry few bytes per
    # row; the 1m default lets AQE coalesce them onto 1-2 cores
    # (measured 3-4x slowdown on the dedup suite). 64k keeps those
    # stages cluster-wide; at real data sizes blocks are >>1m and
    # coalescing behaves identically either way.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # the K=128 MinHash signature aggregate carries 128 buffer fields;
    # the default maxFields=100 silently drops such plans out of
    # whole-stage codegen into interpreted aggregation (measured 13.6s
    # vs 2.0s on the signature build at sf0.1)
    "spark.sql.codegen.maxFields": "256",
    # Parquet TIMESTAMP(NANOS) from other writers reads as long and is
    # converted to micros in sources.fixtures.load_table (the fixtures
    # themselves store timestamp[us]).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def _isolated_store_dirs() -> tuple[str, str]:
    """Per-PROCESS Derby metastore + warehouse directories.

    Embedded Derby is single-connection: two concurrent processes
    sharing one ``derby.system.home`` make the second one fail every
    catalog query with a HiveException (hit in round 6 when pytest and
    verify_local ran together). Catalog tables are (re)created inside
    their own session (plans/catalog.py's ready-caches key on
    applicationId), so nothing needs to survive the process — key both
    stores by pid, and sweep stale pid dirs whose owner is gone so
    repeated runs don't accumulate metastores."""
    pid = os.getpid()
    out = []
    for base in ("/root/repo/.derby", "/root/repo/.warehouse"):
        os.makedirs(base, exist_ok=True)
        for d in os.listdir(base):
            if d.startswith("pid-"):
                try:
                    owner = int(d[4:])
                except ValueError:
                    continue
                if owner != pid and not _pid_alive(owner):
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        mine = os.path.join(base, f"pid-{pid}")
        # PID-reuse guard (review finding r7): a dir left by a SIGKILLed
        # earlier process that HAD this pid would otherwise be adopted —
        # possibly with a dirty Derby log. Before the first session of
        # this process exists, any dir under our own pid is stale by
        # definition; once a session is live, leave it alone.
        from pyspark import SparkContext

        if SparkContext._active_spark_context is None and os.path.isdir(mine):
            shutil.rmtree(mine, ignore_errors=True)
        out.append(mine)
    return out[0], out[1]


def get_spark(app_name: str = "task_hive_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    At 100 TB scale the same settings apply, except shuffle partitions
    should track total cluster cores (AQE coalesces the excess) and
    ``spark.sql.files.maxPartitionBytes`` bounds scan-task size.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_SHUFFLE_PARTITIONS)
    derby_home, warehouse = _isolated_store_dirs()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # a 90-query session compiles far more than 100 distinct codegen
        # classes; the default cache evicts and hot queries silently
        # recompile (measured: same query 1.5s isolated vs 3.5s at the
        # tail of a long suite)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Persistent catalog (plans/catalog.py): warehouse + derby
        # metastore under the repo (so saveAsTable works from any cwd),
        # keyed per PROCESS — see _isolated_store_dirs.
        # enableHiveSupport uses pyspark's builtin Hive classes.
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={derby_home}")
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    try:
        spark = builder.enableHiveSupport().getOrCreate()
    except Exception:
        # Hive classes unavailable: the in-memory session catalog still
        # serves partitioned saveAsTable with identical pruning.
        spark = builder.config("spark.sql.catalogImplementation", "in-memory").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
