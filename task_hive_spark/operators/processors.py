"""UDF surface X1-X4: the task-processor registry and task generators.

The reference executes tasks by looking up a per-type Go function in a
global registry (``taskProcessors``, tasks/worker.go:16-18; registered
via RegisterTaskProcessor worker.go:30-32; dispatched worker.go:241-251)
inside an executor with a fixed 2s work delay and a 5-minute context
timeout (worker.go:229-253, common/constants.go:21 TaskTimeout). The
example processor is ProcessSpiderTask (tasks/spider.go:77-90): it
unmarshals the WechatTask payload and returns
"Row {row_id} processed successfully"; the worker wraps every processor
result as "任务 {id} 执行结果: {result}" (worker.go:251). Unknown task
types fail with "未知的任务类型: {type}" (worker.go:242-249).

Spark-first design: the registry stays a plain Python dict, but
execution is ``groupBy(type, bucket).applyInPandas`` — Arrow-batched,
one vectorized Python call per (type, bucket) group, never a
row-at-a-time UDF. The extra ``bucket`` key (hash of the task id) keeps
group sizes bounded: with only ~3 task types, grouping on type alone
would give 3 giant groups at 100 TB; (type, 64 buckets) fans the same
work across the cluster while each group still has exactly one task
type, so the processor lookup happens once per group.

Determinism (oracle parity): the reference's wall-clock work
(2s delay + sleep) is replaced by a *simulated* duration derived from
the numeric task id — ``2 + (task_num % 400)`` seconds against the 300s
TaskTimeout — so the timeout path is exercised deterministically and
the DuckDB oracle can mirror the whole dispatch in SQL.

TaskGenerators (X4, taskhive/taskhive.go:30-35 interface; registration
:93-96; run-once startTasks :99-113) become callables producing a
DataFrame of task rows appended to the task stream — the 1-row-in /
N-rows-out source-UDTF pattern.
"""

from __future__ import annotations

import hashlib as _hashlib
import json
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from task_hive_spark.operators.taskmodel import oracle_cte, tasks_df

# --- X1: processor registry ------------------------------------------------

# worker.go:16-18 — global type → processor map. A processor takes the
# task as a dict and returns the result string (or raises).
TASK_PROCESSORS: dict[str, Callable[[dict], str]] = {}

MAX_RETRIES = 3  # common/constants.go:20
# the retry backoff 2s·2^(n−1) (worker.go:73-79)
BACKOFF_BASE_S = 2
BACKOFF_BASE_NS = BACKOFF_BASE_S * 1_000_000_000
TASK_TIMEOUT_S = 300  # common/constants.go:21 (5 minutes)
BASE_WORK_S = 2  # worker.go:231 fixed delay
N_BUCKETS = 64  # dispatch fan-out; bounded group size at any scale


def backoff_ns(n: Column) -> Column:
    """The delay before retry ``n`` (n ≥ 1), in nanoseconds."""
    return (F.lit(BACKOFF_BASE_NS) * F.pow(F.lit(2.0), n - 1)).cast("long")


def backoff_s(n: Column) -> Column:
    """The delay before retry ``n`` (n ≥ 1), in whole seconds."""
    return (F.lit(BACKOFF_BASE_S) * F.pow(F.lit(2.0), n - 1)).cast("long")


def register_task_processor(task_type: str, processor: Callable[[dict], str]) -> None:
    """RegisterTaskProcessor (worker.go:30-32; facade taskhive.go:253-255)."""
    TASK_PROCESSORS[task_type] = processor


# --- X2: example processor -------------------------------------------------


def process_spider_task(task: dict) -> str:
    """ProcessSpiderTask (tasks/spider.go:77-90): unmarshal the
    WechatTask payload, return the success string. The reference's
    2s sleep (spider.go:87) is simulated by the executor's duration
    model, not a real sleep."""
    doc = json.loads(task["payload"])
    return f"Row {doc['row_id']} processed successfully"


def process_custom_task(task: dict) -> str:
    """Second registered type: deterministic echo of the task priority
    (stands in for any user-registered processor)."""
    return f"ok(priority={task['priority']})"


register_task_processor("spider", process_spider_task)
register_task_processor("custom", process_custom_task)


# --- X3: simulated executor ------------------------------------------------


def _simulated_duration_s(task_num: int) -> int:
    """Deterministic stand-in for the executor's wall-clock work
    (worker.go:231 2s delay + processor time): 2 + (n % 400) seconds,
    so ids with n % 400 > 298 exceed the 300s TaskTimeout."""
    return BASE_WORK_S + (task_num % 400)


def _execute_one(task: dict) -> tuple[str, str | None, str | None]:
    """executeTask (worker.go:229-253): unknown type → failed (checked
    at the 2s mark, before any long work, worker.go:241-249); known
    type with duration > timeout → 任务执行超时 (worker.go:234-238);
    else the wrapped result string (worker.go:251).

    Returns (final_status, result, error)."""
    processor = TASK_PROCESSORS.get(task["type"])
    if processor is None:
        return "failed", None, f"未知的任务类型: {task['type']}"
    # ids are usually "<type>-<n>" (fixtures, TaskGenerator), but the
    # facade accepts arbitrary ids — fall back to a deterministic hash
    # of the id so any task gets a stable simulated duration
    suffix = task["id"].rsplit("-", 1)[-1]
    task_num = (
        int(suffix)
        if suffix.isdigit()
        else int(_hashlib.md5(task["id"].encode()).hexdigest()[:8], 16)
    )
    if _simulated_duration_s(task_num) > TASK_TIMEOUT_S:
        return "failed", None, "任务执行超时"
    result = processor(task)
    return "completed", f"任务 {task['id']} 执行结果: {result}", None


def _dispatch_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """One (type, bucket) group (worker.go:241-251 dispatch loop). The
    registry lookup happens ONCE per group (every row shares the
    group's type) and the wrapper arithmetic — suffix parse, simulated
    duration, timeout gate, message format — is vectorized over pandas
    Series; the only per-row Python is the registered processor call
    itself on non-timed-out rows, which IS the user-defined surface.
    (_execute_one keeps the identical single-task semantics for the
    facade's point-execution path and the tests.)"""
    idx = pdf.index
    ttype = str(key[0])
    processor = TASK_PROCESSORS.get(ttype)
    if processor is None:
        status = pd.Series("failed", index=idx, dtype=object)
        result = pd.Series(None, index=idx, dtype=object)
        error = pd.Series(f"未知的任务类型: {ttype}", index=idx, dtype=object)
    else:
        ids = pdf["id"].astype(str)
        suffix = ids.str.rsplit("-", n=1).str[-1]
        isd = suffix.str.isdigit()
        # ≤18 digits fits int64; longer digit suffixes go through Python's
        # arbitrary-precision int like _execute_one (stored mod 400 — the
        # only use is the duration model — so the Series never overflows;
        # the earlier astype('int64') raised OverflowError and killed the
        # whole Arrow batch for a single 19+-digit id)
        small = isd & (suffix.str.len() <= 18)
        task_num = pd.Series(0, index=idx, dtype="int64")
        task_num[small] = suffix[small].astype("int64")
        big = isd & ~small
        if big.any():
            task_num[big] = suffix[big].map(lambda s: int(s) % 400)
        if (~isd).any():  # md5 fallback only for the rare non "-<n>" ids
            task_num[~isd] = ids[~isd].map(
                lambda s: int(_hashlib.md5(s.encode()).hexdigest()[:8], 16)
            )
        timed_out = (BASE_WORK_S + (task_num % 400)) > TASK_TIMEOUT_S
        status = pd.Series("completed", index=idx, dtype=object).mask(
            timed_out, "failed"
        )
        error = pd.Series(None, index=idx, dtype=object).mask(timed_out, "任务执行超时")
        result = pd.Series(None, index=idx, dtype=object)
        ok = ~timed_out
        if ok.any():
            rows = pdf.loc[ok]
            result[ok] = [
                f"任务 {i} 执行结果: "
                + processor({"id": i, "type": t, "payload": p, "priority": pr})
                for i, t, p, pr in zip(
                    rows["id"], rows["type"], rows["payload"], rows["priority"]
                )
            ]
    return pd.DataFrame(
        {
            "id": pdf["id"],
            "type": pdf["type"],
            "retry_count": pdf["retry_count"],
            "final_status": status,
            "result": result,
            "error": error,
        }
    )


_DISPATCH_SCHEMA = (
    "id string, type string, retry_count int, final_status string, result string, error string"
)


def xp_dispatch_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2+X3: run every task through the registry-dispatch executor
    and report the outcome, plus the worker's would-retry decision
    (worker.go:66: failed AND retry_count < MaxRetries → re-pend).

    Plan shape: one shuffle on (type, bucket), Arrow-batched Python
    stage, then a narrow projection. Group count = |types| × 64, each
    group O(rows/levels) — no giant single-type group at scale."""
    t = tasks_df(spark, sf_dir).select("id", "type", "payload", "priority", "retry_count")
    bucketed = t.withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(N_BUCKETS)))
    dispatched = bucketed.groupBy("type", "bucket").applyInPandas(
        _dispatch_group, schema=_DISPATCH_SCHEMA
    )
    return dispatched.select(
        "id",
        "type",
        "final_status",
        "result",
        "error",
        (
            (F.col("final_status") == "failed") & (F.col("retry_count") < MAX_RETRIES)
        ).alias("would_retry"),
    ).orderBy("id")


# --- X4: task generators ---------------------------------------------------

# taskhive.go:30-35 TaskGenerator interface: Name() + GenerateTasks().
# Spark form: a named callable producing a DataFrame of task rows.
TASK_GENERATORS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def register_task_generator(name: str, gen: Callable[[SparkSession, str], DataFrame]) -> None:
    """RegisterTaskGenerator (taskhive.go:93-96)."""
    TASK_GENERATORS[name] = gen


def _gen_spider_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spider sheet source as a generator (taskhive.go:161-164 wires
    StartSpiderTask; the sheet fan-out itself is th_spider_ingest)."""
    from task_hive_spark.operators.queries import th_spider_ingest

    return th_spider_ingest(spark, sf_dir).select("id", "type", "priority", "status")


def _gen_synthetic_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pure source generator: N rows from range() — the 0-input /
    N-output UDTF shape (reference example test/main_test.go:24-95
    generates a fixed batch the same way)."""
    n = 100
    return spark.range(n).select(
        F.concat(F.lit("gen-"), F.col("id").cast("string")).alias("id"),
        F.lit("custom").alias("type"),
        (F.col("id") % 10 + 1).cast("int").alias("priority"),
        F.lit("pending").alias("status"),
    )


register_task_generator("spider_sheet", _gen_spider_sheet)
register_task_generator("synthetic_range", _gen_synthetic_range)


def run_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """startTasks (taskhive.go:99-113): run every registered generator
    once; the union of their outputs is the appended task stream."""
    out: DataFrame | None = None
    for name, gen in TASK_GENERATORS.items():
        part = gen(spark, sf_dir).withColumn("generator", F.lit(name))
        out = part if out is None else out.unionByName(part)
    assert out is not None, "no generators registered"
    return out


def xp_taskgen_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-generator production profile of one startTasks run."""
    g = run_generators(spark, sf_dir)
    return (
        g.groupBy("generator", "type", "status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("priority").cast("long").alias("sum_priority"),
        )
        .orderBy("generator")
    )


QUERIES = {
    "xp_dispatch_results": xp_dispatch_results,
    "xp_taskgen_summary": xp_taskgen_summary,
}

# --- oracle SQL ----------------------------------------------------------

# Mirrors _execute_one: the simulated duration formula, the unknown-type
# precedence, the timeout message, and the result wrapper are all
# replicated in SQL over the same derived tasks view.
ORACLES = {
    "xp_dispatch_results": oracle_cte(
        f"""
        SELECT id, type, final_status, result, error,
               final_status = 'failed' AND retry_count < {MAX_RETRIES} AS would_retry
        FROM (
          SELECT id, type, retry_count,
            CASE WHEN type NOT IN ('spider', 'custom') THEN 'failed'
                 WHEN {BASE_WORK_S} + (task_num % 400) > {TASK_TIMEOUT_S} THEN 'failed'
                 ELSE 'completed' END AS final_status,
            CASE WHEN type NOT IN ('spider', 'custom') THEN NULL
                 WHEN {BASE_WORK_S} + (task_num % 400) > {TASK_TIMEOUT_S} THEN NULL
                 WHEN type = 'spider' THEN
                   '任务 ' || id || ' 执行结果: Row ' || CAST(row_id AS STRING)
                   || ' processed successfully'
                 ELSE '任务 ' || id || ' 执行结果: ok(priority='
                   || CAST(priority AS STRING) || ')' END AS result,
            CASE WHEN type NOT IN ('spider', 'custom') THEN '未知的任务类型: ' || type
                 WHEN {BASE_WORK_S} + (task_num % 400) > {TASK_TIMEOUT_S} THEN '任务执行超时'
                 ELSE NULL END AS error
          FROM (
            SELECT id, type, priority, retry_count,
                   CAST(substr(id, 6) AS BIGINT) AS task_num,
                   CAST(payload->>'row_id' AS BIGINT) AS row_id
            FROM tasks
          ) x
        ) d ORDER BY id
        """
    ),
    "xp_taskgen_summary": oracle_cte(
        """
        SELECT generator, type, status, COUNT(*) AS n_tasks,
               MIN(id) AS min_id, MAX(id) AS max_id,
               CAST(SUM(priority) AS BIGINT) AS sum_priority
        FROM (
          SELECT 'spider_sheet' AS generator,
                 'spider' AS type,
                 CASE WHEN p_size % 10 = 0 THEN 5 ELSE p_size % 10 END AS priority,
                 'pending' AS status,
                 'wechat-task-1700000000000000000-' || CAST(CAST(p_partkey AS INT) AS STRING) AS id
          FROM part
          UNION ALL
          SELECT 'synthetic_range', 'custom',
                 CAST(n % 10 + 1 AS INT), 'pending',
                 'gen-' || CAST(n AS STRING)
          FROM (SELECT unnest(generate_series(0, 99)) AS n)
        ) g GROUP BY generator, type, status ORDER BY generator
        """
    ),
}
