"""End-to-end facade test — the reference's own harness scenario
(test/main_test.go: build instance → register processors → submit a
task batch incl. an Excel-derived fan-out → start → assert converged
stats and per-task results), re-run against the Spark facade."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from task_hive_spark.api import TaskHive, TaskHiveConfig
from task_hive_spark.operators.processors import (
    process_custom_task,
    process_spider_task,
)


@pytest.fixture(scope="module")
def hive(spark):
    th = TaskHive(spark, TaskHiveConfig(worker_count=3, strategy="round_robin"))
    th.register_task_processor("spider", process_spider_task)
    th.register_task_processor("custom", process_custom_task)

    # generator (X4): five custom tasks, the startTasks run-once path
    def gen(s):
        return s.range(5).select(
            F.concat(F.lit("gen-"), F.col("id").cast("string")).alias("id"),
            F.lit("{}").alias("payload"),
            (F.col("id") % 3 + 1).cast("int").alias("priority"),
            F.lit("custom").alias("type"),
        )

    th.register_task_generator(gen)

    th.submit_task(
        # spider task with a real WechatTask payload (main_test.go:58-77)
        {
            "id": "sp-1",
            "payload": json.dumps({"row_id": 1, "row_data": ["a", "b"]}),
            "priority": 7,
            "type": "spider",
        },
        # priority 0 → defaulted to 5 (dispatcher.go:176-178)
        {"id": "p0-7", "payload": "{}", "priority": 0, "type": "custom"},
        # unknown type → failed, no retry value in completing it (worker.go:242-249)
        {"id": "my-3", "payload": "{}", "priority": 2, "type": "mystery"},
        # simulated duration 2 + (399 % 400) = 401s > 300s timeout →
        # fails, retried up to max_retries, terminal failed (worker.go:63-135)
        {"id": "to-399", "payload": "{}", "priority": 9, "type": "custom"},
    )
    th.start()
    yield th
    th.close()


def test_stats_converged(hive):
    stats = hive.get_task_stats()
    # 5 generated + sp-1 + p0-7 complete; my-3 (unknown) + to-399 (timeout) fail
    assert stats["completed"] == 7
    assert stats["failed"] == 2
    assert stats["pending"] == 0 and stats["processing"] == 0
    assert stats["total"] == 9


def test_spider_result_format(hive):
    row = hive.get_task_by_id("sp-1")
    assert row is not None
    assert row.status == "completed"
    # worker.go:251 wrapping of spider.go:77-90's return
    assert row.result == "任务 sp-1 执行结果: Row 1 processed successfully"


def test_priority_defaulting(hive):
    row = hive.get_task_by_id("p0-7")
    assert row.priority == 5 and row.status == "completed"


def test_unknown_type_fails_without_retry(hive):
    row = hive.get_task_by_id("my-3")
    assert row.status == "failed"
    assert row.error.startswith("未知的任务类型")
    assert row.retry_count == 3  # exhausted: unknown type fails every attempt


def test_timeout_retries_exhausted(hive):
    row = hive.get_task_by_id("to-399")
    assert row.status == "failed"
    assert row.error == "任务执行超时"
    assert row.retry_count == 3
    # F7: last re-pend recorded backoff 2s * 2^(3-1) = 8s
    assert row.retry_delay_ns == 8_000_000_000


def test_query_layer(hive):
    workers = hive.list_workers().collect()
    assert [w.id for w in workers] == ["worker-0", "worker-1", "worker-2"]
    # liveness VALUE depends on wall-clock elapsed since start();
    # the threshold semantics are oracle-pinned by th_workers_liveness
    assert all(isinstance(w.is_active, bool) for w in workers)
    completed = hive.list_tasks("completed").collect()
    assert len(completed) == 7
    assert hive.list_tasks(limit=4).count() == 4  # O3/O4 truncation
    assert hive.get_worker_tasks("worker-0").count() == 0  # drained inbox
    assert hive.get_task_by_id("nope-404") is None


def test_empty_instance_queries(spark):
    th = TaskHive(spark)
    try:
        assert th.get_task_stats()["total"] == 0
        assert th.list_tasks().count() == 0
    finally:
        th.close()


def test_arbitrary_task_id_executes(spark):
    """Facade-submitted ids without a numeric suffix execute via the
    deterministic hash fallback instead of raising ValueError."""
    import hashlib

    th = TaskHive(spark, TaskHiveConfig(worker_count=1))
    th.register_task_processor("custom", process_custom_task)
    try:
        th.submit_task({"id": "no numeric suffix!", "type": "custom", "payload": "{}"})
        th.start()
        row = th.get_task_by_id("no numeric suffix!")
        num = int(hashlib.md5(b"no numeric suffix!").hexdigest()[:8], 16)
        expected = "failed" if 2 + (num % 400) > 300 else "completed"
        assert row is not None and row.status == expected
    finally:
        th.close()


def test_worker_inbox_midflight(spark):
    """get_worker_tasks mirrors the reference's ProcessingKey+worker
    prefix scan: a snapshot holding an in-flight processing row IS
    returned for its bound worker, and only for that worker."""
    th = TaskHive(spark)
    try:
        th.submit_task({"id": "mf-1", "type": "custom", "payload": "{}"})
        midflight = (
            th._tasks()
            .withColumn("status", F.lit("processing"))
            .withColumn("worker_id", F.lit("worker-9"))
        )
        th._write_tasks(midflight)
        assert [r.id for r in th.get_worker_tasks("worker-9").collect()] == ["mf-1"]
        assert th.get_worker_tasks("worker-0").count() == 0
    finally:
        th.close()


def test_snapshot_gc(spark):
    """_write_tasks keeps only the current and previous snapshot —
    disk must not grow with drain/submit rounds."""
    import os

    th = TaskHive(spark)
    try:
        for i in range(4):
            th.submit_task({"id": f"gc-{i}", "type": "custom", "payload": "{}"})
        vers = sorted(d for d in os.listdir(th.work_dir) if d.startswith("tasks_v"))
        assert vers == sorted([f"tasks_v{th._version - 1}", f"tasks_v{th._version}"])
    finally:
        th.close()


def test_sql_view_surface_matches_dataframe_queries(spark):
    """SURVEY §7's contract that the batch surface is usable as BOTH
    DataFrame functions and plain Spark SQL over the registered views:
    a user typing SQL against `tasks`/`workers` must get byte-identical
    answers to the DataFrame query layer."""
    from task_hive_spark.operators.queries import th_stats, th_pending_count
    from task_hive_spark.operators.taskmodel import register_task_views

    sf = "/root/testdata/sf0.001"
    register_task_views(spark, sf)
    sql_stats = spark.sql(
        """SELECT CAST(SUM(CASE WHEN status='pending' THEN 1 ELSE 0 END) AS BIGINT) AS pending,
                  CAST(SUM(CASE WHEN status='processing' THEN 1 ELSE 0 END) AS BIGINT) AS processing,
                  CAST(SUM(CASE WHEN status='completed' THEN 1 ELSE 0 END) AS BIGINT) AS completed,
                  CAST(SUM(CASE WHEN status='failed' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
                  CAST(SUM(CASE WHEN status='delayed' THEN 1 ELSE 0 END) AS BIGINT) AS delayed,
                  COUNT(*) AS total
           FROM tasks"""
    ).collect()
    assert sql_stats == th_stats(spark, sf).collect()
    sql_pending = spark.sql(
        "SELECT COUNT(*) AS n_pending FROM tasks WHERE status = 'pending'"
    ).collect()
    df_pending = th_pending_count(spark, sf).collect()
    assert [tuple(r) for r in sql_pending] == [tuple(r) for r in df_pending]


def test_submit_after_start_dispatches(spark):
    """The reference's watch loop executes tasks submitted after Start;
    the batch facade must too (submission auto-drains once started)."""
    th = TaskHive(spark, TaskHiveConfig(worker_count=1))
    th.register_task_processor("custom", process_custom_task)
    try:
        th.start()
        th.submit_task({"id": "late-1", "type": "custom", "payload": "{}"})
        row = th.get_task_by_id("late-1")
        assert row is not None and row.status == "completed"
    finally:
        th.close()


def test_resubmit_upserts_by_id(spark):
    """etcd Put overwrites the key: resubmitting an id must replace the
    row (and its outcome reflects the LAST submission), never duplicate
    it or multiply through the drain joins."""
    th = TaskHive(spark, TaskHiveConfig(worker_count=1))
    th.register_task_processor("custom", process_custom_task)
    try:
        th.submit_task({"id": "up-1", "type": "mystery", "payload": "{}"})
        th.submit_task(
            {"id": "up-1", "type": "custom", "payload": "{}", "priority": 3},
            {"id": "up-1", "type": "custom", "payload": "{}", "priority": 8},
        )
        th.start()
        rows = th.list_tasks().where(F.col("id") == "up-1").collect()
        assert len(rows) == 1
        assert rows[0].status == "completed" and rows[0].priority == 8
        assert th.get_task_stats()["total"] == 1
    finally:
        th.close()


def test_submit_task_keeps_hostile_text(spark):
    """A submitted batch enters the plan as a VALUES literal, so its
    text must survive SQL quoting and spark.sql's ${...} variable
    substitution: a quote, a backslash, a newline, non-ASCII text and
    ${env:HOME} / ${x} read back byte-for-byte, and a value of the
    wrong type is refused."""
    th = TaskHive(spark, TaskHiveConfig(worker_count=1))
    try:
        task_id = "it's\\new\nline-é-${x}"
        payload = json.dumps(
            {"q": "'", "b": "\\", "n": "\n", "u": "héllo ✓", "e": "${env:HOME}", "x": "${x}"},
            ensure_ascii=False,
        )
        th.submit_task({"id": task_id, "type": "cus'tom\\$", "payload": payload, "priority": 4})
        row = th.get_task_by_id(task_id)
        assert (row.id, row.type, row.payload, row.priority) == (
            task_id, "cus'tom\\$", payload, 4
        )
        with pytest.raises(ValueError):
            th.submit_task({"id": "bad-1", "type": "custom", "payload": {"not": "a string"}})
    finally:
        th.close()


def test_capacity_bounds_per_round_dispatch(spark):
    """worker_capacity is a real throttle: one worker with capacity 2
    drains 5 tasks over ceil(5/2)=3 rounds, and a hard round lid of 1
    leaves the overflow pending instead of over-dispatching."""
    th = TaskHive(
        spark,
        TaskHiveConfig(worker_count=1, worker_capacity=2, max_drain_rounds=1),
    )
    th.register_task_processor("custom", process_custom_task)
    try:
        th.submit_task(
            *[{"id": f"cap-{i}", "type": "custom", "payload": "{}"} for i in range(5)]
        )
        th.start()  # one round only: exactly 2 dispatched
        stats = th.get_task_stats()
        assert stats["completed"] + stats["failed"] == 2, stats
        assert stats["pending"] == 3, stats
    finally:
        th.close()


def test_existing_work_dir_resumes(spark, tmp_path):
    """Reopening a work_dir must adopt the highest COMMITTED snapshot
    version, not reset to an empty v0 (etcd state outlives the
    process), and not a newer snapshot whose write was cut short (no
    _SUCCESS marker), which would report an empty table and let the
    next write's GC delete the last complete one."""
    p = str(tmp_path / "hive_state")
    import os

    os.makedirs(p)
    th1 = TaskHive(spark, TaskHiveConfig(worker_count=1, work_dir=p))
    th1.register_task_processor("custom", process_custom_task)
    th1.submit_task({"id": "pers-1", "type": "custom", "payload": "{}"})
    th1.start()
    v1 = th1._version
    # a crash mid-write of the next snapshot leaves only the committer's
    # staging dir behind
    os.makedirs(os.path.join(p, f"tasks_v{v1 + 1}", "_temporary", "0"))
    th2 = TaskHive(spark, TaskHiveConfig(worker_count=1, work_dir=p))
    assert th2._version == v1
    row = th2.get_task_by_id("pers-1")
    assert row is not None and row.status == "completed"
    assert th2.get_task_stats()["total"] == 1


def test_vectorized_executor_matches_execute_one_on_huge_ids():
    """The Arrow-batch dispatch path must agree with the single-task
    executor for every id shape, including digit suffixes past int64
    (a 19+-digit suffix used to raise OverflowError in astype('int64')
    and kill the whole batch) and non-digit suffixes (md5 fallback)."""
    import pandas as pd

    from task_hive_spark.operators.processors import _dispatch_group, _execute_one

    ids = [
        "custom-1",
        "custom-299",  # timeout boundary: 2 + 299 > 300
        "custom-12345678901234567890123456789",  # > int64
        "custom-9223372036854775807",  # int64 max, 19 digits → big path
        "custom-abcdef",  # md5 fallback
    ]
    pdf = pd.DataFrame(
        {
            "id": ids,
            "type": ["custom"] * len(ids),
            "payload": ["{}"] * len(ids),
            "priority": [1] * len(ids),
            "retry_count": [0] * len(ids),
        }
    )
    out = _dispatch_group(("custom", 0), pdf).set_index("id")
    for i in ids:
        status, result, error = _execute_one(
            {"id": i, "type": "custom", "payload": "{}", "priority": 1}
        )
        row = out.loc[i]

        def norm(v):  # pandas renders absent object cells as NaN
            return v if isinstance(v, str) else None

        assert row["final_status"] == status, i
        assert norm(row["result"]) == result, i
        assert norm(row["error"]) == error, i
