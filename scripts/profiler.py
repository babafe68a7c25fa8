"""Per-query and per-drain cost profile, read from Spark's own record
through the benchmark's tracer (perfbench/spans.py).

    SPARK_GRAFT_SF_DIR=<fixture dir> python scripts/profiler.py [name ...]
    python scripts/profiler.py --compare A.jsonl B.jsonl

Run it from the repo root, as bench.py is; SPARK_GRAFT_SF_DIR is
required. A name is a registered query or one of the drains below. With
no names it profiles bench.py's HEADLINE queries, then every drain. It
prints a header line ``{"calibration_s", "sf_dir"}`` (bench._calibrate's
box-speed probe), then one JSON line per query, then one per drain;
perfbench/spans.py says what each Tracer figure means.

Query line — bench.py's warm-up, then N_RUNS measured runs, each a
tracer span with a child ``build`` span around plan construction; the
line is the fastest run's:

    q            the query
    wall_s plan_ms jobs exec_cpu_s shuffle_bytes spill_bytes skew driver_s
                 spans.FIELDS of the run span
    build_s      plan construction, including the eager driver work
                 (collects, checkpoints) serve and fit queries do there
    py4j_calls   Python->JVM round trips the query's thread makes from
                 plan construction to the end of the noop write
    stages       stage ids of the run's jobs, skipped stages included
    exchanges bcast py_eval smj bhj
                 operator counts in the frame's physical plan (AQE's
                 initial plan: the noop write re-plans a copy)
    rows         output rows, one untimed count after the measured runs

Drain line — the feed is built untimed, then the drain runs from a
fresh work dir inside one span; the work dirs and feeds are removed
afterwards:

    drain        the drain
    drain_s      the span's wall seconds
    batches jobs_per_batch add_batch_ms query_planning_ms wal_commit_ms
    state_commit_ms state_rows state_bytes
                 Tracer.stream_figures of the span

--compare reads two such outputs (say, parent and change, or one
fixture dir and the next one up) and starts no Spark. Per query or
drain in both it prints the wall ratio B/A (``wall_s``, or ``drain_s``
for a drain), that ratio divided by B's calibration_s over A's, the
B − A deltas of jobs, stages and shuffle_bytes, and the rows ratio
B/A; a name found in one file only is reported with that file.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from perfbench.spans import FIELDS, Tracer  # noqa: E402

N_RUNS = 3
# physical operators counted in the frame's formatted plan, which heads
# each node's detail block, subqueries' nodes included, with "(id) Name"
PLAN_NODES = {
    "exchanges": "Exchange",
    "bcast": "BroadcastExchange",
    "py_eval": "BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas",
    "smj": "SortMergeJoin",
    "bhj": "BroadcastHashJoin",
}


def py4j_calls() -> int:
    """Python->JVM round trips the main thread has made since the first
    call, counted by wrapping py4j's send_command (the engine is not
    touched). The tracer's listener callbacks call the JVM from py4j's
    callback threads at times of their own, so they are not counted."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    if hasattr(send, "calls"):
        return send.calls

    def counted(self, *args, **kwargs):
        if threading.current_thread() is threading.main_thread():
            counted.calls += 1
        return send(self, *args, **kwargs)

    counted.calls = 0
    ClientServerConnection.send_command = counted
    return 0


def timed_runs(spark, tracer: Tracer, qs: dict, sf_dir: str, name: str) -> list:
    """N_RUNS measured runs of ``name``, resolved: (run span, build span,
    frame) for each; the run span's attrs carry its ``py4j_calls``."""
    runs = []
    for _ in range(N_RUNS):
        bench.pre_run(spark, sf_dir, name)
        with tracer.span(name) as run:
            calls = py4j_calls()
            with tracer.span("build") as build:
                df = qs[name](spark, sf_dir)
            bench.noop(df)
            run.attrs["py4j_calls"] = py4j_calls() - calls
        runs.append((run, build, df))
    # read Spark's figures while its status store still holds these jobs
    # (it keeps the last 1000), then drop the spans: resolve() rereads
    # every span it holds and would zero the figures of evicted jobs
    tracer.resolve()
    tracer.spans.clear()
    return runs


def query_record(spark, runs: list) -> dict:
    """The query line of the fastest of ``runs``."""
    run, build, df = min(runs, key=lambda r: r[0].wall_s)
    tracker = spark.sparkContext.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in range(run.job_lo, run.job_hi)]
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return {
        "q": run.name,
        "wall_s": run.wall_s,
        **{f: run.attrs[f] for f in FIELDS if f != "wall_s"},
        "build_s": build.wall_s,
        "py4j_calls": run.attrs["py4j_calls"],
        "stages": sum(len(j.stageIds) for j in jobs if j is not None),
        **{k: len(re.findall(rf"^\(\d+\) (?:{p})\b", plan, re.M)) for k, p in PLAN_NODES.items()},
        # the last run's frame: a memo a later run's pre_run dropped may
        # have taken an earlier frame's checkpoint files with it
        "rows": runs[-1][2].count(),
    }


def profile_queries(spark, tracer: Tracer, qs: dict, sf_dir: str, names: list[str]):
    """Yield the query line of each of ``names`` after bench's warm-up."""
    bench.warm_up(spark, qs, sf_dir, names)
    for name in names:
        yield query_record(spark, timed_runs(spark, tracer, qs, sf_dir, name))


def drain_table(spark, sf_dir: str) -> tuple[dict, dict]:
    """(feed -> its builder, called as builder(spark, sf_dir, feed_dir);
    drain -> (feed, drain(work, feed_dir)))."""
    from task_hive_spark.streaming import (
        cdcmerge,
        dedupstream,
        lifecycle,
        minhashstream,
        sketchstream,
        stateful,
        timers,
    )

    n = lifecycle.N_CHUNKS
    feeds = {
        "events": lifecycle.event_feed,
        "replay": dedupstream.replay_feed,
        "changes": cdcmerge.change_feed,
        "docs": minhashstream.doc_feed,
        **{f"sketch_{b.__name__}": b for b, *_ in sketchstream.SKETCHES.values()},
    }
    drains = {
        "lifecycle": ("events", lambda w, f: lifecycle.run_lifecycle(spark, sf_dir, w, feed_dir=f)),
        "stateful": ("events", lambda w, f: stateful.run_once(spark, sf_dir, w, n, feed=f)),
        "timers": ("events", lambda w, f: timers.run_once(spark, sf_dir, w, n, feed=f)),
        "dedupstream": ("replay", lambda w, f: dedupstream.run_once(spark, sf_dir, w, n, feed=f)),
        "cdcmerge": ("changes", lambda w, f: cdcmerge.run_stream(spark, sf_dir, w, f)),
        "minhashstream": ("docs", lambda w, f: minhashstream.run_stream(spark, w, f)),
        **{
            f"sketch_{sk}": (
                f"sketch_{b.__name__}",
                lambda w, f, sk=sk: sketchstream.run_stream(spark, sk, w, f),
            )
            for sk, (b, *_) in sketchstream.SKETCHES.items()
        },
    }
    return feeds, drains


def profile_drains(spark, tracer: Tracer, sf_dir: str, names: list[str]):
    """Yield the drain line of each of ``names``; every feed and work
    dir made here is removed, also when a drain fails."""
    from task_hive_spark.streaming.lifecycle import _scratch_root

    feeds, drains = drain_table(spark, sf_dir)
    built: dict[str, str] = {}  # feed -> the scratch dir holding it
    try:
        for name in names:
            feed, drain = drains[name]
            if feed not in built:
                built[feed] = tempfile.mkdtemp(prefix=f"profile_feed_{feed}_", dir=_scratch_root())
                feeds[feed](spark, sf_dir, os.path.join(built[feed], "feed"))
            work = tempfile.mkdtemp(prefix=f"profile_drain_{name}_", dir=_scratch_root())
            try:
                with tracer.span(f"streaming.{name}") as span:
                    drain(work, os.path.join(built[feed], "feed"))
                tracer.resolve()
                figures = tracer.stream_figures(name)
                tracer.spans.clear()  # as in timed_runs
            finally:
                shutil.rmtree(work, ignore_errors=True)
            yield {"drain": name, "drain_s": span.wall_s, **figures}
    finally:
        for d in built.values():
            shutil.rmtree(d, ignore_errors=True)


def read_profile(path: str) -> tuple[float, dict]:
    """(calibration_s, name -> line) of one profiler output."""
    with open(path, encoding="utf-8") as f:
        lines = [json.loads(line) for line in f if line.strip()]
    header, *records = lines
    return header["calibration_s"], {r.get("q", r.get("drain")): r for r in records}


def compare(path_a: str, path_b: str):
    """Yield one line per query or drain of the two profiler outputs."""
    cal_a, a = read_profile(path_a)
    cal_b, b = read_profile(path_b)
    for name in {**a, **b}:
        ra, rb = a.get(name), b.get(name)
        key, wall = ("q", "wall_s") if "q" in (ra or rb) else ("drain", "drain_s")
        if ra is None or rb is None:
            yield {key: name, "only_in": path_a if ra else path_b}
            continue
        ratio = rb[wall] / ra[wall]
        rec = {key: name, "wall_ratio": ratio, "norm_wall_ratio": ratio / (cal_b / cal_a)}
        rec.update({f"{f}_delta": rb[f] - ra[f] for f in ("jobs", "stages", "shuffle_bytes") if f in ra})
        if "rows" in ra:
            rec["rows_ratio"] = rb["rows"] / ra["rows"] if ra["rows"] else None
        yield rec


def emit(rec: dict) -> None:
    rec = {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}
    print(json.dumps(rec), flush=True)


def main() -> int:
    if sys.argv[1:2] == ["--compare"]:
        if len(sys.argv) != 4:
            print("usage: profiler.py --compare A.jsonl B.jsonl", file=sys.stderr)
            return 2
        for rec in compare(sys.argv[2], sys.argv[3]):
            emit(rec)
        return 0

    from task_hive_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to a fixture dir", file=sys.stderr)
        return 2
    spark = get_spark("profile")
    qs = entrymod.queries()
    _, drains = drain_table(spark, sf_dir)
    names = sys.argv[1:]
    unknown = [n for n in names if n not in qs and n not in drains]
    if unknown:
        print(f"not a query or drain: {' '.join(unknown)}", file=sys.stderr)
        return 2
    query_names = [n for n in names if n in qs] if names else [n for n in bench.HEADLINE if n in qs]
    drain_names = [n for n in names if n in drains] if names else list(drains)

    emit({"calibration_s": bench._calibrate(spark), "sf_dir": sf_dir})
    tracer = Tracer(spark, True)
    for rec in itertools.chain(
        profile_queries(spark, tracer, qs, sf_dir, query_names),
        profile_drains(spark, tracer, sf_dir, drain_names),
    ):
        emit(rec)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
