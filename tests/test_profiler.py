"""scripts/profiler.py's record schema, measurement discipline and
compare mode, and two lints over scripts/: cited scripts exist, and
none shadows a standard-library module."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_module():
    spec = importlib.util.spec_from_file_location(
        "profiler", os.path.join(REPO, "scripts", "profiler.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def tracer(spark):
    from perfbench.spans import Tracer

    yield Tracer(spark, True)
    # detach the tracer's two listeners from the shared session; the
    # engine registers no listener of its own, so clearing is exact
    spark._jsparkSession.listenerManager().clear()
    jsqm = spark.streams._jsqm
    for listener in jsqm.listListeners():
        jsqm.removeListener(listener)


def test_profile_records(spark, sf_dir, tracer):
    """A query line has the documented keys and sane figures; every
    measured txt_bpe_merges run re-learns its merges (bench's memo
    reset), which fires more jobs than a rerun that reads the memo; a
    drain line counts one batch per feed chunk and removes every dir it
    made."""
    import __spark_entry__ as entrymod

    import bench
    from task_hive_spark.streaming import sketchstream
    from task_hive_spark.streaming.lifecycle import _scratch_root

    prof = _profile_module()
    qs = entrymod.queries()

    [rec] = prof.profile_queries(spark, tracer, qs, sf_dir, ["rel_q1_pricing_summary"])
    assert list(rec) == [
        "q", "wall_s", "plan_ms", "jobs", "exec_cpu_s", "shuffle_bytes",
        "spill_bytes", "skew", "driver_s", "build_s", "py4j_calls", "stages",
        "exchanges", "bcast", "py_eval", "smj", "bhj", "rows",
    ]
    assert rec["q"] == "rel_q1_pricing_summary"
    assert rec["rows"] == qs["rel_q1_pricing_summary"](spark, sf_dir).count() > 0
    assert rec["jobs"] > 0
    assert rec["py4j_calls"] > 0
    assert 0 <= rec["driver_s"] <= rec["wall_s"]

    runs = prof.timed_runs(spark, tracer, qs, sf_dir, "txt_bpe_merges")
    with tracer.span("rerun") as rerun:
        bench.noop(qs["txt_bpe_merges"](spark, sf_dir))
    tracer.resolve()
    assert len(runs) == prof.N_RUNS
    assert all(run.attrs["jobs"] > rerun.attrs["jobs"] for run, _build, _df in runs), (
        [run.attrs["jobs"] for run, _build, _df in runs],
        rerun.attrs["jobs"],
    )

    before = set(os.listdir(_scratch_root()))
    [drain] = prof.profile_drains(spark, tracer, sf_dir, ["sketch_hll"])
    assert list(drain) == [
        "drain", "drain_s", "batches", "jobs_per_batch", "add_batch_ms",
        "query_planning_ms", "wal_commit_ms", "state_commit_ms",
        "state_rows", "state_bytes",
    ]
    assert drain["batches"] == sketchstream.N_CHUNKS
    assert set(os.listdir(_scratch_root())) - before == set()


def test_compare_reports_ratios_deltas_and_one_sided_names(tmp_path):
    """--compare on two small outputs: per shared query the raw and
    calibration-normalized wall ratios, the job/stage/shuffle deltas
    and the rows ratio; per shared drain the drain_s ratios; a name in
    one file only is reported with that file. It starts no JVM:
    SPARK_HOME points nowhere, so launching Spark would fail the run."""
    a = [
        {"calibration_s": 0.5, "sf_dir": "small"},
        {"q": "q1", "wall_s": 1.0, "jobs": 4, "stages": 6, "shuffle_bytes": 1000, "rows": 10},
        {"q": "q2", "wall_s": 2.0, "jobs": 2, "stages": 2, "shuffle_bytes": 0, "rows": 0},
        {"q": "only_a", "wall_s": 1.0, "jobs": 1, "stages": 1, "shuffle_bytes": 0, "rows": 1},
        {"drain": "stateful", "drain_s": 4.0, "batches": 4},
    ]
    b = [
        {"calibration_s": 1.0, "sf_dir": "large"},
        {"q": "q2", "wall_s": 3.0, "jobs": 2, "stages": 3, "shuffle_bytes": 64, "rows": 0},
        {"q": "q1", "wall_s": 3.0, "jobs": 5, "stages": 8, "shuffle_bytes": 4000, "rows": 100},
        {"drain": "stateful", "drain_s": 2.0, "batches": 4},
        {"drain": "only_b", "drain_s": 1.0, "batches": 1},
    ]
    paths = []
    for name, lines in (("a.jsonl", a), ("b.jsonl", b)):
        paths.append(str(tmp_path / name))
        with open(paths[-1], "w") as f:
            f.writelines(json.dumps(line) + "\n" for line in lines)
    env = {**os.environ, "SPARK_HOME": str(tmp_path / "no-spark")}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "profiler.py"), "--compare", *paths],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = [json.loads(line) for line in proc.stdout.splitlines()]
    assert got == [
        {"q": "q1", "wall_ratio": 3.0, "norm_wall_ratio": 1.5, "jobs_delta": 1,
         "stages_delta": 2, "shuffle_bytes_delta": 3000, "rows_ratio": 10.0},
        {"q": "q2", "wall_ratio": 1.5, "norm_wall_ratio": 0.75, "jobs_delta": 0,
         "stages_delta": 1, "shuffle_bytes_delta": 64, "rows_ratio": None},
        {"q": "only_a", "only_in": paths[0]},
        {"drain": "stateful", "wall_ratio": 0.5, "norm_wall_ratio": 0.25},
        {"drain": "only_b", "only_in": paths[1]},
    ]


def test_cited_scripts_exist():
    """Every scripts/<name>.py that the engine, the bench, the scripts,
    the tests, README.md, COVERAGE.md or the verify skill cites
    exists."""
    paths = [os.path.join(REPO, f) for f in ("bench.py", "README.md", "COVERAGE.md")]
    skill = os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")
    if os.path.exists(skill):
        paths.append(skill)
    for top in ("task_hive_spark", "scripts", "tests"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith((".py", ".md"))]
    stale = set()
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for m in re.finditer(r"scripts/(\w+)\.py", f.read()):
                if not os.path.exists(os.path.join(REPO, "scripts", m.group(1) + ".py")):
                    stale.add((os.path.relpath(path, REPO), m.group(0)))
    assert not stale, sorted(stale)


def test_no_script_shadows_a_stdlib_module():
    """A script's directory leads sys.path when it runs, so a sibling
    named like a standard-library module replaces that module for it:
    a profile.py there is what pyspark's ``import cProfile`` loads,
    and breaks every script that imports pyspark."""
    names = {f[:-3] for f in os.listdir(os.path.join(REPO, "scripts")) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names, sorted(names & sys.stdlib_module_names)
