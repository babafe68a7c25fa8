"""Process environment for a benchmark run: the work directory, the
Spark session, memory and box-speed probes.

Every file a run writes lands under ``perfbench/.work/`` of the
checkout: the generated fixtures, Spark's local dirs, the metastore,
the facade's snapshots, the engine's scratch root (stream feeds and
checkpoints, index builds) and the trace files.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_work_dir() -> str:
    """A fresh per-process work dir; stale ones of dead processes go."""
    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):
        if d.startswith("pid-"):
            try:
                os.kill(int(d[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            except PermissionError:
                pass
    mine = os.path.join(WORK, f"pid-{os.getpid()}")
    shutil.rmtree(mine, ignore_errors=True)
    os.makedirs(os.path.join(mine, "tmp"))
    os.environ["TMPDIR"] = os.path.join(mine, "tmp")
    return mine


def start_spark(work: str):
    """The engine's own session factory (``session.get_spark``) at
    local[<cpus>], with its metastore, warehouse, local and temp dirs
    moved into the work dir so nothing is written outside the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers import the engine's UDF modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from task_hive_spark import session

    derby, warehouse = os.path.join(work, "derby"), os.path.join(work, "warehouse")
    session._isolated_store_dirs = lambda: (derby, warehouse)
    redirect_scratch_root(os.path.join(work, "scratch"))
    tmp = os.environ["TMPDIR"]
    return session.get_spark(
        "perfbench",
        {
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={derby} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and execution of a run readable by
            # the tracer (the defaults retain 1000)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def redirect_scratch_root(root: str) -> None:
    """Point the engine's scratch root (stream feeds and checkpoints,
    index builds, catalog rewrites; by default ``<repo>/.scratch``) at
    ``root``. The streaming modules bind the function by name at import,
    so every binding is replaced, and the modules are imported first so
    that none binds it later."""
    import importlib
    import pkgutil

    from task_hive_spark import streaming
    from task_hive_spark.streaming import lifecycle

    for m in pkgutil.iter_modules(streaming.__path__):
        importlib.import_module(f"task_hive_spark.streaming.{m.name}")
    os.makedirs(root, exist_ok=True)
    original = lifecycle._scratch_root
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("task_hive_spark") and (
            getattr(mod, "_scratch_root", None) is original
        ):
            mod._scratch_root = lambda: root


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker it forked) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def retained_mb(spark) -> float:
    """Memory the run still holds, in MiB: the JVM heap after a full GC
    (session memos, cached frames, broadcast blocks, the status store),
    the JVM's non-heap (metaspace, code cache) and this process's
    resident set. A high-water mark would instead follow the garbage
    collector's heap sizing, which varies by a fifth between equal runs."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return jvm_bytes / 2**20 + py_kb / 1024.0


def calibration_s(spark) -> float:
    """``bench.py``'s fixed-work box-speed probe (md5 over 6M ids,
    best of three warm runs), so figures from different machines can be
    normalized by it."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import bench

    return bench._calibrate(spark)
