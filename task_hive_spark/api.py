"""User-facing facade with the reference's public API surface.

The reference exposes one entry type (``TaskHive``, taskhive/taskhive.go)
plus a query layer (tasks/api.go). A user drives it as: configure →
register processors/generators → ``Start`` → ``SubmitTask`` → query →
``Stop``. This module gives the same workflow over Spark:

| Reference                              | Here                         |
|----------------------------------------|------------------------------|
| ``DefaultConfig`` (taskhive.go:48-55)  | ``TaskHiveConfig``           |
| ``New`` (taskhive.go:58-90)            | ``TaskHive(spark, config)``  |
| ``RegisterTaskGenerator`` (:93-96)     | ``register_task_generator``  |
| ``RegisterTaskProcessor`` (:253-255)   | ``register_task_processor``  |
| ``Start`` (:149-211)                   | ``start()``                  |
| ``Stop`` (:213-245)                    | ``stop()``                   |
| ``SubmitTask`` (dispatcher.go:175-189) | ``submit_task``              |
| ``GetTaskByID`` (api.go:43-111)        | ``get_task_by_id``           |
| ``ListTasks`` (api.go:114-197)         | ``list_tasks``               |
| ``GetTaskStats`` (api.go:200-240)      | ``get_task_stats``           |
| ``ListWorkers`` (api.go:243-277)       | ``list_workers``             |
| ``GetWorkerTasks`` (api.go:280-310)    | ``get_worker_tasks``         |

State model: the task table is a status-partitioned parquet snapshot
(status ≡ the reference's etcd key prefix, common/constants.go:5-15), so
every status-filtered query is served by partition pruning — the same
I/O shape as the reference's prefix scan. Snapshots are versioned
directories and the facade swaps a pointer after each successful write:
readers never observe a half-written table (the etcd-txn atomicity
analogue, and the same pattern streaming/lifecycle.py uses for its
state store).

Execution model: ``start()`` registers the worker fleet, runs the
generators, then drains — each round binds pending tasks to eligible
workers with the deterministic banded join (operators/assign.bind, J1)
and executes them through the Arrow-batched processor registry
(operators/processors, X1–X3). Failed tasks with retries left re-enter
pending with retry_count+1 and the F7 backoff delay recorded
(worker.go:63-135); the drain converges when no dispatchable work
remains — the batch analogue of the reference's watch-driven loop (the
continuous form lives in streaming/lifecycle.py).

Scale posture: every step is a DataFrame program — no driver-side task
loops; the only ``collect`` is ``get_task_by_id``'s point lookup (which
collects ≤1 row by definition) and ``get_task_stats``'s 5-row
aggregate, both of which the reference also returns as scalars.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession, Window as W, functions as F

from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.materialize import (
    SNAPSHOT,
    commit_version,
    committed_versions,
    resume_or_seed,
)
from task_hive_spark.operators.assign import STRATEGIES, bind
from task_hive_spark.operators.processors import (
    MAX_RETRIES,
    N_BUCKETS,
    _DISPATCH_SCHEMA,
    _dispatch_group,
    backoff_ns,
    register_task_processor as _register_processor_global,
)
from task_hive_spark.schemas import TASK_STATUSES

DEFAULT_LIST_LIMIT = 100  # api/server.go:36-41
LIVENESS_THRESHOLD_S = 30  # tasks/api.go:263


def worker_is_active() -> F.Column:
    """The liveness rule (tasks/api.go:263): heartbeat within the
    threshold of NOW. One definition shared by the facade's
    list_workers and the HTTP /api/workers route, so the two surfaces
    cannot drift."""
    return (
        F.current_timestamp().cast("long") - F.col("last_heartbeat").cast("long")
        < LIVENESS_THRESHOLD_S
    ).alias("is_active")


_TASK_COLS = [
    "id",
    "payload",
    "priority",
    "status",
    "create_time",
    "retry_count",
    "retry_delay_ns",
    "result",
    "error",
    "type",
    "worker_id",
    "update_time",
]

_TASK_SCHEMA = (
    "id string, payload string, priority int, status string, "
    "create_time timestamp, retry_count int, retry_delay_ns long, "
    "result string, error string, type string, worker_id string, "
    "update_time timestamp"
)

_WORKER_SCHEMA = (
    "id string, lease_id long, task_count int, last_heartbeat timestamp, capacity int"
)


def _tasks_writer(df: DataFrame) -> Callable[[str], None]:
    """Write ``df`` as one status-partitioned task snapshot."""
    return lambda path: (
        df.select(*_TASK_COLS).repartition("status").write.partitionBy("status").parquet(path)
    )


@dataclass
class TaskHiveConfig:
    """DefaultConfig (taskhive.go:48-55)."""

    worker_count: int = 1
    worker_capacity: int = 10  # taskhive.go:53
    strategy: str = "least_tasks"  # common/constants.go LoadBalanceStrategy
    max_retries: int = MAX_RETRIES  # common/constants.go:20
    work_dir: str | None = None  # state root; tempdir when None
    max_drain_rounds: int = 16  # bound on the batch drain (retries ≤ 3 ⇒ ≤ 5 needed)
    # Reference Start() launches the HTTP API on :8088 alongside the
    # dispatcher (taskhive.go:167-173). Opt-in here (None = no server;
    # port 0 = pick a free port) so tests and embedded use stay silent.
    api_port: int | None = None


class TaskHive:
    """New (taskhive.go:58-90): one instance = one scheduling domain."""

    def __init__(self, spark: SparkSession, config: TaskHiveConfig | None = None):
        self.spark = spark
        self.config = config or TaskHiveConfig()
        if self.config.strategy not in STRATEGIES:
            raise ValueError(f"unknown strategy: {self.config.strategy}")
        self._own_dir = self.config.work_dir is None
        self.work_dir = self.config.work_dir or tempfile.mkdtemp(prefix="taskhive-")
        self._generators: list[Callable[[SparkSession], DataFrame]] = []
        self._started = False
        self._stopped = False
        self._server = None  # lazy HTTP layer (serve() / config.api_port)
        # a work_dir that already holds snapshots is RESUMED, not reset
        # (the reference's etcd state outlives the process); only a dir
        # without any gets the empty v0, so queries work pre-start
        empty = rows_frame(spark, [], _TASK_SCHEMA)
        self._version = resume_or_seed(self.work_dir, "tasks_v", _tasks_writer(empty))
        self._snapshot = committed_versions(self.work_dir, "tasks_v")[-1]

    # --- registries (taskhive.go:92-96, :252-255) -------------------------

    def register_task_generator(self, gen: Callable[[SparkSession], DataFrame]) -> None:
        """RegisterTaskGenerator: ``gen(spark)`` returns a DataFrame with
        (a subset of) task columns; run once by ``start()``
        (startTasks, taskhive.go:99-113)."""
        self._generators.append(gen)

    def register_task_processor(self, task_type: str, fn: Callable[[dict], str]) -> None:
        """RegisterTaskProcessor — delegates to the global registry the
        Arrow executor dispatches from (worker.go:16-32)."""
        _register_processor_global(task_type, fn)

    # --- state store ------------------------------------------------------

    def _write_tasks(self, df: DataFrame) -> None:
        """Commit the next snapshot version (materialize.commit_version)
        and swap the read pointer to it. Snapshot retention keeps the
        previous version too, so a DataFrame handed out just before the
        swap stays readable for one more round."""
        self._snapshot = commit_version(
            self.work_dir, "tasks_v", self._version + 1, _tasks_writer(df), SNAPSHOT
        )
        self._version += 1

    def _tasks(self) -> DataFrame:
        return self.spark.read.schema(_TASK_SCHEMA).parquet(self._snapshot)

    def _workers(self) -> DataFrame:
        return self.spark.read.schema(_WORKER_SCHEMA).parquet(
            os.path.join(self.work_dir, "workers")
        )

    # --- submit (dispatcher.go:175-189) -----------------------------------

    def submit_task(self, *tasks: dict) -> None:
        """SubmitTask (S3): accepts any batch size — the row-at-a-time
        reference call is the batch's degenerate case. Later duplicates
        of an id within one call win (each reference Put overwrites).
        Delegates to submit_frame for the defaulting/stamping so the
        two paths cannot drift."""
        if not tasks:
            return
        last: dict[str, tuple] = {}
        for t in tasks:
            last[str(t["id"])] = (
                str(t["id"]),
                t.get("payload", "{}"),
                int(t.get("priority", 0)),
                t.get("type", "unknown"),
            )
        self.submit_frame(
            rows_frame(
                self.spark,
                list(last.values()),
                "id string, payload string, priority int, type string",
            )
        )

    def submit_frame(self, df: DataFrame) -> None:
        """Submit a whole DataFrame of tasks (id, payload, priority,
        type) — the generator/ingest path (S2/S3): distributed, no
        driver round-trip. Defaulting/stamping: priority 0 → 5, status →
        pending, create_time stamped. Submission is an UPSERT by id
        (the reference's etcd Put overwrites the key): an existing row
        with the same id is replaced, never duplicated; duplicate ids
        WITHIN the frame are collapsed to one arbitrary-but-single row.
        After start(), new submissions dispatch immediately (the batch
        analogue of the reference's watch loop picking up a Put)."""
        incoming = (
            df.select(
                F.col("id").cast("string"),
                F.coalesce(F.col("payload"), F.lit("{}")).alias("payload"),
                F.coalesce(F.col("priority"), F.lit(0)).cast("int").alias("priority"),
                F.coalesce(F.col("type"), F.lit("unknown")).alias("type"),
            )
            .dropDuplicates(["id"])
            .withColumn(
                "priority",
                F.when(F.col("priority") == 0, 5).otherwise(F.col("priority")).cast("int"),
            )
            .withColumn("status", F.lit("pending"))
            .withColumn("create_time", F.current_timestamp())
            .withColumn("retry_count", F.lit(0).cast("int"))
            .withColumn("retry_delay_ns", F.lit(0).cast("long"))
            .withColumn("result", F.lit(None).cast("string"))
            .withColumn("error", F.lit(None).cast("string"))
            .withColumn("worker_id", F.lit(None).cast("string"))
            .withColumn("update_time", F.current_timestamp())
        )
        kept = self._tasks().join(incoming.select("id"), "id", "left_anti")
        self._write_tasks(kept.unionByName(incoming.select(*_TASK_COLS)))
        if self._started and not self._stopped:
            self._drain()

    # --- lifecycle (taskhive.go:149-245) ----------------------------------

    def start(self) -> None:
        """Start: register the worker fleet (dispatcher.go:28-60), run
        generators once (startTasks), then drain the backlog through
        assignment + execution rounds until converged."""
        if self._started:
            return
        workers = self.spark.range(self.config.worker_count).select(
            F.concat(F.lit("worker-"), F.col("id").cast("string")).alias("id"),
            (F.lit(7000) + F.col("id")).cast("long").alias("lease_id"),
            F.lit(0).cast("int").alias("task_count"),
            F.current_timestamp().alias("last_heartbeat"),
            F.lit(self.config.worker_capacity).cast("int").alias("capacity"),
        )
        workers.write.mode("overwrite").parquet(os.path.join(self.work_dir, "workers"))
        self._started = True
        if self.config.api_port is not None:  # taskhive.go:167-173
            self.serve(self.config.api_port)
        for gen in self._generators:
            self.submit_frame(gen(self.spark))
        self._drain()

    def serve(self, port: int = 8088) -> str:
        """Launch (or return) the HTTP API server over this instance —
        the reference's api.NewServer(...).Start(\":8088\") wired into
        Start(); returns the base URL. Stopped by stop()/close()."""
        if self._server is None:
            from task_hive_spark.server import TaskHiveServer

            self._server = TaskHiveServer(self, port=port)
            self._server.start()
        return self._server.address

    def _eligible(self) -> DataFrame:
        w = self._workers().withColumn("task_count", F.greatest("task_count", F.lit(0)))
        return w.where(~((F.col("capacity") > 0) & (F.col("task_count") >= F.col("capacity"))))

    def _drain(self) -> None:
        """Dispatch-execute rounds (the batch form of the reference's
        watch loop): bind pending → execute via the processor registry →
        fold outcomes; failed-with-retries-left re-pends with the F7
        backoff recorded. Each round is one distributed job; the round
        count is bounded by retries plus backlog/total-capacity (the
        per-worker cap below), with max_drain_rounds as the hard lid —
        leftover pending simply stays queued for the next submit/drain.
        ``bound`` is localCheckpoint'd: three consumers (emptiness
        probe, dispatch join, next-round state) must not re-run the
        banded-window bind plan."""
        for _ in range(self.config.max_drain_rounds):
            tasks = self._tasks()
            pending = tasks.where(F.col("status") == "pending")
            if pending.limit(1).count() == 0:
                break
            bound_all = bind(pending, self._eligible(), self.config.strategy).select(
                F.col("task_id").alias("id"), "worker_id"
            )
            # per-round per-worker capacity cap (dispatcher.go:542-544):
            # a worker accepts at most capacity - task_count tasks per
            # round (capacity 0 = unlimited); the remainder stays
            # pending and dispatches next round
            slots = self._eligible().select(
                F.col("id").alias("worker_id"),
                F.when(
                    F.col("capacity") > 0,
                    F.col("capacity") - F.greatest("task_count", F.lit(0)),
                ).alias("slots"),
            )
            rn = F.row_number().over(W.partitionBy("worker_id").orderBy("id"))
            bound = (
                bound_all.join(F.broadcast(slots), "worker_id")
                .withColumn("rn", rn)
                .where(F.col("slots").isNull() | (F.col("rn") <= F.col("slots")))
                .select("id", "worker_id")
                .localCheckpoint()
            )
            if bound.limit(1).count() == 0:
                break  # no eligible workers — nothing can dispatch
            to_run = (
                pending.drop("worker_id")
                .join(bound, "id")
                .withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(N_BUCKETS)))
            )
            outcomes = (
                to_run.select(
                    "id", "type", "payload", "priority", "retry_count", "bucket"
                )
                .groupBy("type", "bucket")
                .applyInPandas(_dispatch_group, schema=_DISPATCH_SCHEMA)
            )
            retry = (F.col("o_status") == "failed") & (
                F.col("retry_count") < self.config.max_retries
            )
            merged = (
                tasks.join(
                    outcomes.select(
                        "id",
                        F.col("final_status").alias("o_status"),
                        F.col("result").alias("o_result"),
                        F.col("error").alias("o_error"),
                    ),
                    "id",
                    "left",
                )
                .select(
                    "id",
                    "payload",
                    "priority",
                    F.when(F.col("o_status").isNull(), F.col("status"))
                    .when(retry, F.lit("pending"))
                    .otherwise(F.col("o_status"))
                    .alias("status"),
                    "create_time",
                    F.when(retry, F.col("retry_count") + 1)
                    .otherwise(F.col("retry_count"))
                    .alias("retry_count"),
                    F.when(retry, backoff_ns(F.col("retry_count") + 1))
                    .otherwise(F.col("retry_delay_ns"))
                    .alias("retry_delay_ns"),
                    F.coalesce(F.col("o_result"), F.col("result")).alias("result"),
                    F.when(retry, F.lit(None).cast("string"))
                    .otherwise(F.coalesce(F.col("o_error"), F.col("error")))
                    .alias("error"),
                    "type",
                    # terminal tasks carry no worker binding — the
                    # reference's completed/failed prefixes key by task
                    # id only; worker appears only in the processing
                    # composite key (constants.go:8-10)
                    F.when(F.col("o_status").isNull(), F.col("worker_id"))
                    .otherwise(F.lit(None).cast("string"))
                    .alias("worker_id"),
                    F.when(F.col("o_status").isNotNull(), F.current_timestamp())
                    .otherwise(F.col("update_time"))
                    .alias("update_time"),
                )
            )
            self._write_tasks(merged)

    def stop(self) -> None:
        """Stop (taskhive.go:213-245): the batch drain has already
        quiesced, so stop is a state flush + handle release (the API
        server included); idempotent."""
        self._stopped = True
        if self._server is not None:
            self._server.stop()
            self._server = None

    def close(self) -> None:
        """Release on-disk state (not part of the reference surface —
        etcd state outlives the process; parquet scratch should not)."""
        self.stop()
        if self._own_dir and os.path.isdir(self.work_dir):
            shutil.rmtree(self.work_dir, ignore_errors=True)

    # --- query layer (tasks/api.go) ---------------------------------------

    def get_task_by_id(self, task_id: str) -> Row | None:
        """GetTaskByID (api.go:43-111): point lookup; the normalized
        model makes the 5-prefix probe a single pruned read (U2)."""
        rows = self._tasks().where(F.col("id") == task_id).limit(1).collect()
        return rows[0] if rows else None

    def list_tasks(self, status: str = "", limit: int = DEFAULT_LIST_LIMIT) -> DataFrame:
        """ListTasks (api.go:114-197): '' = union of all statuses (U1);
        a named status is served by partition pruning (S4).

        Read-validity window: the returned DataFrame is lazy over the
        CURRENT snapshot; snapshot GC keeps only v and v-1, so collect
        it within one subsequent write round (a frame held across ≥2
        writes fails with FileNotFound at action time)."""
        t = self._tasks()
        if status:
            t = t.where(F.col("status") == status)
        return t.orderBy("id").limit(limit)

    def get_task_stats(self) -> dict[str, int]:
        """GetTaskStats (api.go:200-240): five per-status counts + total
        (A1/A2) as one grouped aggregate — Spark's partial/final split
        is the reference's count-then-sum."""
        counts = {
            r["status"]: r["n"]
            for r in self._tasks().groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        stats = {s: int(counts.get(s, 0)) for s in TASK_STATUSES}
        stats["total"] = sum(stats.values())
        return stats

    def list_workers(self) -> DataFrame:
        """ListWorkers (api.go:243-277) with the liveness-derived column
        (P3, api.go:263)."""
        return self._workers().select(
            "id",
            "task_count",
            "capacity",
            "last_heartbeat",
            worker_is_active(),
        ).orderBy("id")

    def get_worker_tasks(self, worker_id: str) -> DataFrame:
        """GetWorkerTasks (api.go:280-310): the per-worker inbox filter
        (P8). The reference scans the ``ProcessingKey + workerID``
        prefix — processing tasks ONLY; the worker binding exists
        nowhere else (model.Task has no worker field, and terminal
        writes key by task id alone, worker.go:143). Mirrored here as a
        (status, worker_id) filter. Because the batch drain executes
        bound tasks synchronously within a round, processing rows are
        transient: at rest this returns empty — exactly like the
        reference once its queue drains. Non-empty results are
        observable for any snapshot that holds in-flight rows (see
        test_api for the pinned mid-flight case).

        Read-validity window: lazy over the current snapshot; valid for
        one write round (snapshot GC retains v and v-1 only — see
        _write_tasks)."""
        return (
            self._tasks()
            .where((F.col("status") == "processing") & (F.col("worker_id") == worker_id))
            .orderBy("id")
        )
