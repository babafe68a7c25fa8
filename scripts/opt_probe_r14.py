"""Round-14 optimization probe: per-headline-query cost anatomy.

For every bench.py headline query (or the names given on argv) this
records, in one warm session at $SPARK_GRAFT_SF_DIR:

- warm best-of-N wall seconds to the noop sink (bench methodology),
- the number of Spark JOBS the measured call fires (scheduler rounds —
  the fixed floor a query pays regardless of data volume; counted via a
  per-run job group + statusTracker),
- the number of stages across those jobs,
- Exchange / BroadcastExchange / *EvalPython node counts in the
  EXECUTED plan (AQE final),
- and optionally dumps `explain("formatted")` to plans/r14/<q>_<tag>.txt
  when --dump-plans <tag> is given.

Usage:
    python scripts/opt_probe_r14.py [--dump-plans before] [query ...]

Prints one JSON line per query plus a trailing summary line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14")


def _executed_plan(df) -> str:
    """The AQE-final formatted plan of an ALREADY EXECUTED DataFrame."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _pre_run(spark, name: str) -> None:
    """bench.py's per-run cache resets (its _pre_run is main()-local)."""
    if name == "txt_bpe_merges":
        from task_hive_spark.materialize import drop_memo

        drop_memo(spark, ("bpe_merges", SF_DIR))
    if name == "dd_minhash_lsh_pairs":
        from task_hive_spark.materialize import drop_memo

        drop_memo(spark, ("index", SF_DIR, "lsh_pairs"))


def probe(spark, name: str, fn, n_runs: int, dump_tag: str | None) -> dict:
    sc = spark.sparkContext

    best = float("inf")
    jobs = stages = -1
    df = None
    build_best = float("inf")
    for i in range(n_runs):
        _pre_run(spark, name)
        group = f"probe-{name}-{uuid.uuid4().hex[:8]}"
        # BENCH PARITY (guide §1.1): the job group and the clock start
        # BEFORE fn() — serve/fit queries run eager driver work (collects,
        # checkpoints) during plan construction, which bench.py's timed
        # region includes; timing only the noop write undercounts them
        # (this probe's original form did, and mis-ranked the targets).
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if dt < best:
            best = dt
            build_best = t1 - t0
        # job/stage counts from the LAST run (steady state)
        tracker = sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        jobs = len(ids)
        stages = sum(
            len(tracker.getJobInfo(j).stageIds) for j in ids if tracker.getJobInfo(j)
        )
    plan = _executed_plan(df)
    counts = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bcast": len(re.findall(r"BroadcastExchange", plan)),
        "py_eval": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
    }
    if dump_tag:
        os.makedirs(PLANS_DIR, exist_ok=True)
        with open(os.path.join(PLANS_DIR, f"{name}_{dump_tag}.txt"), "w") as f:
            f.write(plan)
    return {
        "q": name,
        "s": round(best, 4),
        "build_s": round(build_best, 4),
        "jobs": jobs,
        "stages": stages,
        **counts,
    }


def main() -> int:
    args = sys.argv[1:]
    dump_tag = None
    if args and args[0] == "--dump-plans":
        dump_tag = args[1]
        args = args[2:]

    from task_hive_spark.session import get_spark
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    spark = get_spark("opt_probe_r14")
    qs = entrymod.queries()
    names = args or [n for n in HEADLINE if n in qs]

    # warm like bench.py: session fixtures + two untimed passes
    qs["th_stats"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    for _ in range(2):
        for name in names:
            try:
                _pre_run(spark, name)
                qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    rows = []
    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        r = probe(spark, name, qs[name], n_runs=3, dump_tag=dump_tag)
        spark.sparkContext.setJobDescription(None)
        rows.append(r)
        print(json.dumps(r), flush=True)

    total = round(sum(r["s"] for r in rows), 3)
    print(json.dumps({"total_s": total, "n": len(rows), "sf_dir": SF_DIR}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
