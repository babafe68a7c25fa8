"""Tests of the benchmark itself (not of the engine)::

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts a Spark session and runs the curation pass three
times (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_are_the_printed_metrics():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == spans.per_layer_units()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert b["paths"] == ["perfbench"]


def test_report_prints_every_end_to_end_metric_with_unit_and_samples():
    res = {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {k: {"value": 1.5, "unit": u} for k, u in workloads.E2E.items()},
    }
    info = {
        "e2e": dict.fromkeys(workloads.E2E, 1.75),
        "samples": dict.fromkeys(workloads.E2E, 7),
        "aliases": {"serve_p50_ms": 2.0},
        "coverage": 0.95,
        "uncovered_s": 0.1,
        "calibration_s": 0.3,
    }
    lines = run.report_lines("w", (res, info), (res, info))
    for m in _benchmark_json()["end_to_end"]:
        row = next(ln.split() for ln in lines if ln.split()[:1] == [m["name"]])
        assert row[1:5] == ["1.5000", m["unit"], "7", "+0.2500"]
    assert any("serve_p50_ms=2.0000" in ln for ln in lines)


def test_inputs_follow_the_seed():
    a, b, c = gen.fixture_tables(3), gen.fixture_tables(3), gen.fixture_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    r1, r2 = gen.rng_for(3, "backlog"), gen.rng_for(3, "backlog")
    assert gen.task_batch(r1, 50, "bk") == gen.task_batch(r2, 50, "bk")
    ids = [f"t-{i}" for i in range(20)]
    mix = gen.route_mix(gen.rng_for(3, "r"), ids, ["w0"])
    assert mix == gen.route_mix(gen.rng_for(3, "r"), ids, ["w0"])
    assert sorted(r for r, _ in mix) == sorted(
        ["task"] * 3 + ["tasks"] * 3 + ["stats", "workers", "worker_tasks"]
    )


def test_fixture_timestamps_are_stored_as_the_engines_fixtures_store_them(tmp_path):
    """The engine's fixture files hold o_orderdate, l_shipdate and ts as
    parquet TIMESTAMP(MICROS), not adjusted to UTC, which Spark reads as
    timestamps; its loader converts only nanosecond columns (read as
    bigint). The generated files match, so the date filters plan as they
    do on the engine's own inputs."""
    import pyarrow.parquet as pq

    gen.write_fixtures(2, str(tmp_path))
    for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")):
        schema = pq.ParquetFile(tmp_path / f"{table}.parquet").schema
        c = schema.column(schema.names.index(col))
        assert c.physical_type == "INT64"
        assert c.logical_type.type == "TIMESTAMP"
        assert "timeUnit=microseconds" in str(c.logical_type)
        assert "isAdjustedToUTC=false" in str(c.logical_type)


def test_pass_shard_cuts_only_the_embeddings(tmp_path):
    sf = gen.write_fixtures(2, str(tmp_path / "data"))
    shard = gen.pass_shard(sf, str(tmp_path / "shard"))
    assert sorted(os.listdir(shard)) == sorted(os.listdir(sf))
    for f in os.listdir(sf):
        same = os.path.samefile(os.path.join(sf, f), os.path.join(shard, f))
        assert same == (f != "embeddings.parquet"), f
    import pyarrow.parquet as pq

    assert pq.read_metadata(os.path.join(shard, "embeddings.parquet")).num_rows == gen.N_PASS_VECS
    # the batched ANN serve has BATCH_PROBES probe candidates
    from task_hive_spark.operators import similarity

    candidates = len(range(0, gen.N_VECS, similarity.PROBE_MOD))
    assert candidates >= similarity.BATCH_PROBES


def test_backlog_mix_and_documented_outcomes():
    backlog = gen.task_batch(gen.rng_for(5, "backlog"), 2000, "bk")
    outcomes = [gen.expected_status(t) for t in backlog]
    timed_out = [
        t for t in backlog if t["type"] != "unknown" and int(t["id"].rsplit("-", 1)[1]) % 400 > 298
    ]
    assert 0.05 < len(timed_out) / len(backlog) < 0.2
    assert 0.05 < sum(t["type"] == "unknown" for t in backlog) / len(backlog) < 0.2
    assert outcomes.count("failed") == len(timed_out) + sum(t["type"] == "unknown" for t in backlog)
    assert gen.expected_status({"id": "x-custom-699", "type": "custom"}) == "failed"
    assert gen.expected_status({"id": "x-spider-698", "type": "spider"}) == "completed"
    assert gen.expected_status({"id": "x-unknown-5", "type": "unknown"}) == "failed"
    healthy = gen.healthy_batch(gen.rng_for(5, "rounds"), 200, "r0-")
    assert {gen.expected_status(t) for t in healthy} == {"completed"}


def test_quantile_needs_ten_samples_beyond_it():
    assert workloads.quantile(list(range(99)), 0.9) == 0.0
    assert workloads.quantile(list(range(100)), 0.9) == pytest.approx(89.1)
    assert workloads.quantile(list(range(40)), 0.75) == pytest.approx(29.25)


def test_curation_passes_run_the_same_jobs():
    """Memo hygiene: each curation query runs as many Spark jobs on its
    third pass as on its first, so no timed pass is answered from an
    earlier pass's session memo."""
    import env

    pytest.importorskip("pyspark")
    work = env.prepare_work_dir()
    sf = gen.write_fixtures(9, os.path.join(work, "data"))
    spark = env.start_spark(work)
    w = None
    try:
        ctx = run.Context(spark, spans.Tracer(spark, True), sf, 9, work)
        w = workloads.Workload(ctx)
        modules = workloads.query_modules()
        for k in (1, 2, 3):
            shard = gen.pass_shard(sf, f"{sf}_pass{k}")
            answers = workloads.pass_answers(shard)
            workloads.curation_pass(w, modules, shard, answers, f"pass{k}")
        assert w.failed == 0, w.notes
        jobs = {
            (s.request_id, s.group): s.job_hi - s.job_lo
            for s in ctx.tracer.spans
            if s.name.startswith("operators.")
        }
        for q in workloads.CURATION:
            assert jobs[(q, "pass1")] == jobs[(q, "pass3")] > 0, q
    finally:
        if w is not None:
            w.close()
        env.stop_spark(spark)
        env.remove_work_dir(work)
