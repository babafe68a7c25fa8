"""Task-lifecycle state machine as one Structured Streaming job
(SURVEY §2.9: T1-T12 + S6).

The scripted change-feed (events.py) is written as time-ordered parquet
chunks and consumed one chunk per micro-batch (feed.py) — a file
change-feed standing in for the etcd watch (S6, dispatcher.go:305-309).
Each micro-batch folds its events into two state tables via
MERGE-style DataFrame joins (``foreachBatch``):

- T1  pending-dispatch stream: every submit is bound to a worker by the
  seeded-hash strategy inside the batch (dispatcher.go:312-328; the
  hash form of J1 keeps the decision independent of batch boundaries).
- T2  delayed-task timer: a failed task carries ``ready_s = fail_s +
  2·2^(rc−1)`` (backoff F7, worker.go:73-79); any batch whose clock
  passes ready_s re-emits it as pending (dispatcher.go:330-385) — the
  engine computes re-entry, the log does NOT contain fire events.
- T4  anti-entropy: the micro-batch trigger IS the periodic sweep
  (dispatcher.go:430-443) — each batch re-evaluates all armed timers.
- T5  worker-failure re-queue: a worker_dead event re-pends that
  worker's in-flight tasks (dispatcher.go:657-708).
- T6  registration + heartbeat upkeep of the workers table
  (dispatcher.go:28-172).
- T7/T9  per-worker execution outcomes (complete/fail) commit terminal
  state + counter decrements (worker.go:136-160).
- T8  retry state machine: retry_count caps at MaxRetries=3
  (constants.go:20); the 4th failure is terminal (worker.go:63-135).
- T10 exactly-once: each batch's fold commits tasks + workers as ONE
  state version (materialize.commit_version), an atomic,
  all-or-nothing transition WITHIN a run, and the recovery unit
  is the whole run (the checkpoint is cleared with the state, so a
  restart redoes the deterministic feed rather than resuming a fold the
  counters can't replay idempotently). Checkpoint RESUME semantics are
  exercised where they are sound: the stream-dedup contract
  (dedupstream.py) and the CDC merge's absolute-value upserts
  (cdcmerge.py, restart test in tests/test_cdcmerge.py).
- T11 graceful drain: Trigger.AvailableNow processes the full feed then
  stops (taskhive.go:214-245).
- T12 startup gate: worker registrations are the first events in the
  log, so dispatch never precedes registry presence
  (dispatcher.go:482-512).
- A5  running per-worker counter: task_count folds ±1 per
  assign/complete/fail (worker.go:168-226).

State is persisted as one versioned parquet snapshot per batch (tiny
state, lineage truncated every batch). On a production cluster the same
foreachBatch body targets a Delta/Iceberg table MERGE — the state-fold
logic is identical; only the sink swaps.

Determinism: all within-batch folds use (event_s-ordered) aggregation,
re-entry times are arithmetic (never wall clock), and the converged
state is invariant to how the feed is chunked into batches — asserted
by tests/test_lifecycle.py which re-runs the pipeline with 1, 3 and 5
chunks.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.materialize import (
    LOG,
    SNAPSHOT,
    _scratch_root,  # lazy importers and scratch-root redirects read it here
    commit_version,
    committed_versions,
    memoized_run,
)
from task_hive_spark.operators.processors import (
    BACKOFF_BASE_NS,
    BACKOFF_BASE_S,
    MAX_RETRIES,
    backoff_ns,
    backoff_s,
)
from task_hive_spark.streaming.events import events_df, oracle_events_cte
from task_hive_spark.streaming.feed import (
    AVAILABLE_NOW,
    EVENT_SCHEMA,
    read_feed,
    start_fold,
    with_chunk,
    write_chunks,
)

WORKER_CAPACITY = 10  # taskhive.go:53
N_CHUNKS = 5

_TASK_STATE_COLS = [
    "task_id",
    "priority",
    "status",
    "retry_count",
    "retry_delay_ns",
    "worker_id",
    "ready_s",
    "create_s",
    "update_s",
    "result",
    "error",
]


def _as_task_state(df: DataFrame) -> DataFrame:
    """Plan-time guard wiring _TASK_STATE_COLS to every site that
    hand-writes the state projection: a column added to the schema but
    missed in one of the per-column WHEN transforms fails loudly here
    instead of silently dropping from state after the first affected
    batch."""
    assert df.columns == _TASK_STATE_COLS, (
        f"task-state projection drifted: {df.columns} != {_TASK_STATE_COLS}"
    )
    return df


def _empty_task_state(spark: SparkSession) -> DataFrame:
    return rows_frame(
        spark,
        [],
        "task_id STRING, priority INT, status STRING, retry_count INT,"
        " retry_delay_ns BIGINT, worker_id STRING, ready_s BIGINT,"
        " create_s BIGINT, update_s BIGINT, result STRING, error STRING",
    )


def _empty_worker_state(spark: SparkSession) -> DataFrame:
    return rows_frame(
        spark, [], "worker_id STRING, task_count INT, last_heartbeat_s BIGINT, capacity INT"
    )


def _apply_task_events(state: DataFrame, ev: DataFrame) -> DataFrame:
    """Fold one batch of task events into task state (MERGE semantics).

    Within a batch, per task: the latest event decides status/binding
    (event_s is unique per task), fail events increment retry_count up
    to the cap, the 4th failure is terminal. All joins are on task_id;
    the batch side is aggregated first so the merge is 1:1.
    """
    tev = ev.where(F.col("task_id").isNotNull())
    agg = tev.groupBy("task_id").agg(
        F.max(F.struct("event_s", "op", "worker_id")).alias("last"),
        F.sum(F.when(F.col("op") == "fail", 1).otherwise(0)).cast("int").alias("nf"),
        F.max(F.when(F.col("op") == "submit", F.col("event_s"))).alias("submit_s"),
        F.max(F.when(F.col("op") == "submit", F.col("task_json"))).alias("submit_json"),
    )
    j = state.alias("s").join(agg.alias("b"), "task_id", "full_outer")

    parsed = F.from_json(F.col("b.submit_json"), "priority INT, type STRING")
    rc_old = F.coalesce(F.col("s.retry_count"), F.lit(0))
    nf = F.coalesce(F.col("b.nf"), F.lit(0))
    rc_new = F.least(rc_old + nf, F.lit(MAX_RETRIES))
    last_op = F.col("b.last.op")

    status = (
        F.when(last_op.isNull(), F.col("s.status"))
        .when(last_op == "submit", F.lit("pending"))
        .when(last_op == "assign", F.lit("processing"))
        .when(last_op == "complete", F.lit("completed"))
        .when(
            last_op == "fail",
            F.when(rc_old + nf <= MAX_RETRIES, F.lit("delayed")).otherwise(F.lit("failed")),
        )
    )
    worker = (
        F.when(last_op.isNull(), F.col("s.worker_id"))
        .when(last_op == "assign", F.col("b.last.worker_id"))
        .otherwise(F.lit(None).cast("string"))
    )
    delay_ns = F.when(rc_new == 0, F.lit(0).cast("long")).otherwise(backoff_ns(rc_new))
    # timer armed only while delayed: ready = fail time + backoff
    # seconds. A carried task (no events this batch) KEEPS its armed
    # timer — recomputing from b.last here would null it out after one
    # batch and the timer could never fire in a later micro-batch
    # (status can only be 'delayed' via a fail event or a carry, so the
    # two arms below are exhaustive).
    ready = F.when(
        status == "delayed",
        F.when(last_op.isNull(), F.col("s.ready_s")).otherwise(
            F.col("b.last.event_s") + backoff_s(rc_new)
        ),
    ).otherwise(F.lit(None).cast("long"))

    return j.select(
        "task_id",
        F.coalesce(F.col("s.priority"), parsed["priority"]).alias("priority"),
        status.alias("status"),
        rc_new.alias("retry_count"),
        delay_ns.alias("retry_delay_ns"),
        worker.alias("worker_id"),
        ready.alias("ready_s"),
        F.coalesce(F.col("b.submit_s"), F.col("s.create_s")).alias("create_s"),
        # last.event_s IS max(event_s): the struct max orders on the
        # unique-per-task event_s first, so no separate aggregate
        F.greatest(
            F.coalesce(F.col("b.last.event_s"), F.lit(0)),
            F.coalesce(F.col("s.update_s"), F.lit(0)),
        ).alias("update_s"),
        F.when(
            status == "completed",
            F.concat(F.lit("任务 "), F.col("task_id"), F.lit(" 执行结果: ok")),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("result"),
        F.when(status.isin("delayed", "failed"), F.lit("simulated failure"))
        .otherwise(F.lit(None).cast("string"))
        .alias("error"),
    )


def _apply_worker_events(state: DataFrame, ev: DataFrame) -> DataFrame:
    """Fold worker registrations, heartbeats, counter deltas and deaths."""
    wev = ev.where(F.col("worker_id").isNotNull())
    agg = wev.groupBy("worker_id").agg(
        F.sum(
            F.when(F.col("op") == "assign", 1)
            .when(F.col("op").isin("complete", "fail"), -1)
            .otherwise(0)
        )
        .cast("int")
        .alias("delta"),
        F.max(
            F.when(F.col("op").isin("worker_register", "heartbeat"), F.col("event_s"))
        ).alias("hb_s"),
        F.max(F.when(F.col("op") == "worker_dead", 1).otherwise(0)).alias("died"),
    )
    j = state.alias("s").join(agg.alias("b"), "worker_id", "full_outer")
    merged = j.select(
        "worker_id",
        (
            F.coalesce(F.col("s.task_count"), F.lit(0)) + F.coalesce(F.col("b.delta"), F.lit(0))
        ).alias("task_count"),
        F.greatest(
            F.coalesce(F.col("b.hb_s"), F.lit(0)),
            F.coalesce(F.col("s.last_heartbeat_s"), F.lit(0)),
        ).alias("last_heartbeat_s"),
        F.lit(WORKER_CAPACITY).alias("capacity"),
        F.coalesce(F.col("b.died"), F.lit(0)).alias("died"),
    )
    # lease expiry: the dead worker leaves the registry (dispatcher.go:673)
    return merged.where(F.col("died") == 0).drop("died")


def _requeue_dead(tasks: DataFrame, ev: DataFrame) -> DataFrame:
    """T5: re-pend in-flight tasks of workers that died this batch
    (dispatcher.go:696-700). The death set is tiny → broadcast."""
    # ONE row per dead worker: a batch carrying duplicate worker_dead
    # events for the same worker (replayed feed, re-registered worker
    # dying twice) would otherwise fan every in-flight task row out per
    # death through the left join — duplicated task_ids in state
    dead = (
        ev.where(F.col("op") == "worker_dead")
        .groupBy(F.col("worker_id").alias("dead_worker"))
        .agg(F.max("event_s").alias("death_s"))
    )
    j = tasks.join(
        F.broadcast(dead), tasks["worker_id"] == dead["dead_worker"], "left"
    )
    hit = F.col("dead_worker").isNotNull() & (F.col("status") == "processing")
    return _as_task_state(j.select(
        "task_id",
        "priority",
        F.when(hit, F.lit("pending")).otherwise(F.col("status")).alias("status"),
        "retry_count",
        "retry_delay_ns",
        F.when(hit, F.lit(None).cast("string")).otherwise(F.col("worker_id")).alias("worker_id"),
        "ready_s",
        "create_s",
        F.when(hit, F.greatest("update_s", "death_s")).otherwise(F.col("update_s")).alias(
            "update_s"
        ),
        "result",
        "error",
    ))


def _fire_timers(tasks: DataFrame, clock_s: int) -> DataFrame:
    """T2: delayed tasks whose ready time the batch clock has passed
    re-enter pending (the TTL-lease expiry, dispatcher.go:330-385)."""
    fire = (F.col("status") == "delayed") & (F.col("ready_s") <= F.lit(clock_s))
    return _as_task_state(tasks.select(
        "task_id",
        "priority",
        F.when(fire, F.lit("pending")).otherwise(F.col("status")).alias("status"),
        "retry_count",
        "retry_delay_ns",
        "worker_id",
        F.when(fire, F.lit(None).cast("long")).otherwise(F.col("ready_s")).alias("ready_s"),
        "create_s",
        F.when(fire, F.greatest("update_s", "ready_s")).otherwise(F.col("update_s")).alias(
            "update_s"
        ),
        "result",
        F.when(fire, F.lit(None).cast("string")).otherwise(F.col("error")).alias("error"),
    ))


def _dispatch_assignments(ev: DataFrame) -> DataFrame:
    """T1: the streaming dispatcher binds each submitted task to a
    worker inside the batch that saw the submit. The seeded-hash
    strategy (the J1 'random' form, dispatcher.go:566) makes the
    decision a pure function of task_id — invariant to batching."""
    slot = F.conv(F.substring(F.md5(F.col("task_id")), 1, 2), 16, 10).cast("int") % 4
    return ev.where(F.col("op") == "submit").select(
        "task_id", F.concat(F.lit("lw"), slot.cast("string")).alias("assigned_worker")
    )


# --- runner ---------------------------------------------------------------


def shared_feed(spark: SparkSession, sf_dir: str, n_chunks: int = N_CHUNKS) -> str:
    """One chunked feed per (session, sf_dir, n_chunks) — the feed is a
    read-only input, so every streaming consumer (lifecycle, stateful)
    can share it instead of re-materializing the event log."""
    return memoized_run(
        spark,
        ("feed", sf_dir, n_chunks),
        lambda work: event_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks),
    )


def event_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_CHUNKS
) -> str:
    """The scripted change-feed as n_chunks time-ordered chunk files."""
    # cache BEFORE with_chunk: its two driver-folded aggregations (range
    # stats + per-bucket counts) are eager actions that would otherwise
    # re-derive the events SQL twice before the per-chunk writes
    ev = events_df(spark, sf_dir).cache()
    ranked = with_chunk(ev, n_chunks).cache()
    write_chunks(ranked, feed_dir, n_chunks)
    ranked.unpersist()
    ev.unpersist()
    return feed_dir


def start_lifecycle(
    spark: SparkSession,
    work_dir: str,
    feed_dir: str,
    trigger: dict | None = None,
):
    """Start the lifecycle stream against the file feed `feed_dir` —
    the file source picks up new chunk files in mtime order exactly as
    the etcd watch delivers new revisions. See start_lifecycle_stream
    for the returned (query, paths) contract; streaming/socketfeed.py
    plugs a push-based socket source into the same fold."""
    stream = read_feed(spark, feed_dir, EVENT_SCHEMA)
    return start_lifecycle_stream(spark, work_dir, stream, trigger)


def start_lifecycle_stream(
    spark: SparkSession,
    work_dir: str,
    stream: DataFrame,
    trigger: dict | None = None,
):
    """Start the lifecycle fold over ANY streaming DataFrame with the
    EVENT_SCHEMA columns and return (query, paths). `paths` is the LIVE
    pointer dict the fold advances per micro-batch — callers can read
    the current converged-so-far snapshot while the stream runs. Batch
    ``bid`` commits tasks and workers as one ``state_v`` version, bid+1
    (v0 is the empty seed), and then points ``paths`` into it, so one
    ``dict(paths)`` snapshot is always a matched pair; snapshot
    retention keeps the previous version readable for one more round.
    ``paths["assignments"]`` is the dispatch log, one committed version
    per batch. Default trigger drains what is already in the feed
    (AvailableNow); pass e.g. {"processingTime": "200 milliseconds"}
    for a LIVE feed a producer appends to while the query runs. The
    converged state is batch-boundary invariant (tests re-chunk the
    same feed), which is what makes the file feed and the socket feed
    interchangeable sources for one fold."""
    ckpt_dir = os.path.join(work_dir, "ckpt")
    state_dir = os.path.join(work_dir, "state")
    # the state resets to v0, so a leftover checkpoint or state version
    # must not survive: this runner's recovery unit is the whole run
    # (redo from the feed), not the micro-batch — the counter folds
    # can't replay a half-applied run idempotently, so a partial
    # checkpoint + reset state would silently drop every
    # already-committed chunk
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    shutil.rmtree(state_dir, ignore_errors=True)

    paths = {"assignments": os.path.join(state_dir, "assignments")}

    def commit_state(n: int, tasks: DataFrame, workers: DataFrame) -> None:
        def write(path: str) -> None:
            tasks.write.parquet(os.path.join(path, "tasks"))
            workers.write.parquet(os.path.join(path, "workers"))

        v = commit_version(state_dir, "state_v", n, write, SNAPSHOT)
        paths.update(tasks=os.path.join(v, "tasks"), workers=os.path.join(v, "workers"))

    commit_state(0, _empty_task_state(spark), _empty_worker_state(spark))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.cache()
        clock = ev.agg(F.max("event_s")).collect()[0][0]
        if clock is None:  # empty batch
            ev.unpersist()
            return
        prior = committed_versions(state_dir, "state_v", below=batch_id + 1)[-1]
        prev_tasks = spark.read.parquet(os.path.join(prior, "tasks"))
        prev_workers = spark.read.parquet(os.path.join(prior, "workers"))

        tasks = _apply_task_events(prev_tasks, ev)
        tasks = _requeue_dead(tasks, ev)
        tasks = _fire_timers(tasks, clock)
        workers = _apply_worker_events(prev_workers, ev)
        assigns = _dispatch_assignments(ev)

        # the log's rows for this batch land just before the state swap
        # — readers joining it must tolerate that, as with any log
        commit_version(paths["assignments"], "batch=", batch_id, assigns.write.parquet, LOG)
        commit_state(batch_id + 1, tasks, workers)
        ev.unpersist()

    return start_fold(stream, fold, ckpt_dir, trigger or AVAILABLE_NOW), paths


def run_lifecycle(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_chunks: int = N_CHUNKS,
    feed_dir: str | None = None,
) -> dict[str, str]:
    """Run the full streaming lifecycle to convergence; returns paths of
    the converged state tables."""
    if feed_dir is None:
        feed_dir = event_feed(spark, sf_dir, os.path.join(work_dir, "feed"), n_chunks)
    q, paths = start_lifecycle(spark, work_dir, feed_dir)
    q.awaitTermination()
    return dict(paths)


def converged_state(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Run (or reuse) the lifecycle pipeline for this session × sf_dir."""
    return memoized_run(
        spark,
        ("lifecycle_run", sf_dir),
        lambda work: run_lifecycle(spark, sf_dir, work, feed_dir=shared_feed(spark, sf_dir)),
    )


# --- converged end-state queries (driver-gradable) ------------------------


def st_final_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged per-task state after the full feed (T1-T10 composite)."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(s["tasks"])
        .select(
            "task_id",
            "priority",
            "status",
            "retry_count",
            "retry_delay_ns",
            "worker_id",
            "ready_s",
            "create_s",
            "update_s",
            "result",
            "error",
        )
        .orderBy("task_id")
    )


def st_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged status histogram — all five statuses reachable."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(s["tasks"])
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .orderBy("status")
    )


def st_worker_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged worker registry (T6 + A5): dead workers evicted,
    task_count = in-flight load, heartbeats folded."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(s["workers"])
        .select("worker_id", "task_count", "last_heartbeat_s", "capacity")
        .orderBy("worker_id")
    )


def st_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/F7: every task that retried, with its capped retry_count and
    the backoff the engine computed."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(s["tasks"])
        .where(F.col("retry_count") > 0)
        .select("task_id", "status", "retry_count", "retry_delay_ns", "ready_s")
        .orderBy("task_id")
    )


def st_requeued_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: tasks pending at convergence — exactly the dead worker's
    re-queued in-flight set (every other pending path re-assigns)."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(s["tasks"])
        .where(F.col("status") == "pending")
        .select("task_id", "retry_count", "update_s")
        .orderBy("task_id")
    )


def st_dispatch_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the streaming dispatcher's submit→worker bindings."""
    s = converged_state(spark, sf_dir)
    return (
        spark.read.parquet(*committed_versions(s["assignments"], "batch="))
        .where(F.col("task_id").isNotNull())
        .select("task_id", "assigned_worker")
        .orderBy("task_id")
    )


QUERIES = {
    "st_final_tasks": st_final_tasks,
    "st_status_counts": st_status_counts,
    "st_worker_state": st_worker_state,
    "st_retry_backoff": st_retry_backoff,
    "st_requeued_pending": st_requeued_pending,
    "st_dispatch_assignments": st_dispatch_assignments,
}

# --- oracles: re-derive the converged state declaratively -----------------
#
# The oracle folds the same log with window functions: last event per
# task decides status; fails_so_far caps retries; worker deaths inject
# synthetic re-pend rows; timer fires are arithmetic (ready = fail_s +
# 2·2^(rc-1), fired iff ready <= the global max clock).

_FINAL_TASKS_CTE = f"""
tev AS (SELECT * FROM events WHERE task_id IS NOT NULL),
clockmax AS (SELECT MAX(event_s) AS max_s FROM events),
deaths AS (SELECT worker_id AS dw, event_s AS death_s FROM events WHERE op = 'worker_dead'),
repends AS (
  SELECT e.task_id, d.death_s
  FROM deaths d JOIN tev e ON e.event_s < d.death_s
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.task_id, d.death_s ORDER BY e.event_s DESC) = 1
      AND e.op = 'assign' AND e.worker_id = d.dw
),
aug AS (
  SELECT task_id, event_s, op, worker_id, task_json FROM tev
  UNION ALL
  SELECT task_id, death_s, 'repend', NULL, NULL FROM repends
),
seq AS (
  SELECT *,
         COUNT(*) FILTER (WHERE op = 'fail')
           OVER (PARTITION BY task_id ORDER BY event_s) AS fails_so_far,
         ROW_NUMBER() OVER (PARTITION BY task_id ORDER BY event_s DESC) AS rnd
  FROM aug
),
per_task AS (
  SELECT task_id,
         MAX(CASE WHEN op = 'submit' THEN CAST(task_json->>'priority' AS INT) END) AS priority,
         CAST(LEAST(SUM(CASE WHEN op = 'fail' THEN 1 ELSE 0 END), {MAX_RETRIES}) AS INT) AS rc,
         SUM(CASE WHEN op = 'fail' THEN 1 ELSE 0 END) AS nfails,
         MAX(CASE WHEN op = 'submit' THEN event_s END) AS create_s,
         MAX(event_s) AS update_raw,
         MAX(CASE WHEN op = 'fail' THEN event_s END) AS last_fail_s
  FROM aug GROUP BY task_id
),
lastev AS (
  SELECT task_id, op AS last_op, worker_id AS last_worker, fails_so_far AS last_fails
  FROM seq WHERE rnd = 1
),
final AS (
  SELECT p.task_id, p.priority,
         CASE l.last_op
           WHEN 'submit' THEN 'pending'
           WHEN 'repend' THEN 'pending'
           WHEN 'assign' THEN 'processing'
           WHEN 'complete' THEN 'completed'
           WHEN 'fail' THEN CASE
             WHEN l.last_fails > {MAX_RETRIES} THEN 'failed'
             WHEN p.last_fail_s + CAST({BACKOFF_BASE_S} * POW(2, LEAST(p.nfails, {MAX_RETRIES}) - 1) AS BIGINT)
                  <= (SELECT max_s FROM clockmax) THEN 'pending'
             ELSE 'delayed' END
         END AS status,
         p.rc AS retry_count,
         CASE WHEN p.nfails = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST({BACKOFF_BASE_NS} * POW(2, p.rc - 1) AS BIGINT) END AS retry_delay_ns,
         CASE WHEN l.last_op = 'assign' THEN l.last_worker END AS worker_id,
         p.create_s, p.last_fail_s,
         GREATEST(p.update_raw,
           CASE WHEN l.last_op = 'fail' AND l.last_fails <= {MAX_RETRIES}
                 AND p.last_fail_s + CAST({BACKOFF_BASE_S} * POW(2, LEAST(p.nfails, {MAX_RETRIES}) - 1) AS BIGINT)
                     <= (SELECT max_s FROM clockmax)
                THEN p.last_fail_s + CAST({BACKOFF_BASE_S} * POW(2, LEAST(p.nfails, {MAX_RETRIES}) - 1) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END) AS update_s
  FROM per_task p JOIN lastev l ON p.task_id = l.task_id
),
final2 AS (
  SELECT *,
         CASE WHEN status = 'delayed'
              THEN last_fail_s + CAST({BACKOFF_BASE_S} * POW(2, retry_count - 1) AS BIGINT)
              END AS ready_s,
         CASE WHEN status = 'completed' THEN '任务 ' || task_id || ' 执行结果: ok' END AS result,
         CASE WHEN status IN ('delayed', 'failed') THEN 'simulated failure' END AS error
  FROM final
)
"""


def _final_sql(select_body: str) -> str:
    return oracle_events_cte(f"WITH {_FINAL_TASKS_CTE} {select_body}")


ORACLES = {
    "st_final_tasks": _final_sql(
        """
        SELECT task_id, priority, status, retry_count, retry_delay_ns, worker_id,
               ready_s, create_s, update_s, result, error
        FROM final2 ORDER BY task_id
        """
    ),
    "st_status_counts": _final_sql(
        "SELECT status, COUNT(*) AS n FROM final2 GROUP BY status ORDER BY status"
    ),
    "st_worker_state": oracle_events_cte(
        f"""
        SELECT worker_id,
               CAST(SUM(CASE WHEN op = 'assign' THEN 1
                             WHEN op IN ('complete', 'fail') THEN -1
                             ELSE 0 END) AS INT) AS task_count,
               MAX(CASE WHEN op IN ('worker_register', 'heartbeat') THEN event_s END)
                 AS last_heartbeat_s,
               {WORKER_CAPACITY} AS capacity
        FROM events
        WHERE worker_id IS NOT NULL
          AND worker_id NOT IN (SELECT worker_id FROM events WHERE op = 'worker_dead')
        GROUP BY worker_id ORDER BY worker_id
        """
    ),
    "st_retry_backoff": _final_sql(
        """
        SELECT task_id, status, retry_count, retry_delay_ns, ready_s
        FROM final2 WHERE retry_count > 0 ORDER BY task_id
        """
    ),
    "st_requeued_pending": _final_sql(
        """
        SELECT task_id, retry_count, update_s
        FROM final2 WHERE status = 'pending' ORDER BY task_id
        """
    ),
    "st_dispatch_assignments": oracle_events_cte(
        """
        SELECT task_id,
               'lw' || CAST(CAST(concat('0x', substr(md5(task_id), 1, 2)) AS INT) % 4 AS STRING)
                 AS assigned_worker
        FROM events WHERE op = 'submit' ORDER BY task_id
        """
    ),
}
