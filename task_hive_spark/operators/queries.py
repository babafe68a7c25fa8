"""Batch query surface: task-hive parity operators (SURVEY §2, [B] set).

Each query has a DataFrame implementation (Spark-first: scans are
partition-pruned on ``status``, aggregates are partial+final
HashAggregates, limits push LocalLimit below the exchange) and a DuckDB
oracle in ``ORACLES``. Reference citations point into /root/reference.

Scale notes: everything here is a scan→filter→project/agg pipeline with
no driver-side iteration; the only shuffles are the groupBys, which are
partial-aggregated map-side first. All queries stay in whole-stage
codegen (built-in functions only, no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.functions.text import portable_hash32
from task_hive_spark.operators.processors import backoff_ns
from task_hive_spark.operators.taskmodel import (
    NOW_FIXTURE,
    oracle_cte,
    register_task_views,
    tasks_df,
    workers_df,
)
from task_hive_spark.schemas import TASK_STATUSES
from task_hive_spark.sources.fixtures import load_table

# TaskInfo projection columns (tasks/api.go:15-21)
_TASK_INFO_COLS = [
    "id",
    "payload",
    "priority",
    "status",
    "worker_id",
    "retry_count",
    "create_time",
    "update_time",
]


def status_count_aggs() -> list:
    """A1 conditional per-status counts with explicit BIGINT (DuckDB
    SUM(CASE..) yields HUGEINT, which diverges through the driver's
    canonicalizer — round-1 hash fail). ONE definition shared by
    th_stats and the /api/stats response body (th_api_json), so the
    two surfaces cannot drift when a status is added."""
    return [
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).cast("long").alias(s)
        for s in TASK_STATUSES
    ]


def fixture_is_active() -> F.Column:
    """P3 liveness against the fixture clock (tasks/api.go:263) —
    shared by th_workers_liveness and th_api_json's workers body (the
    facade's live-clock twin is api.worker_is_active)."""
    return (
        F.col("last_heartbeat") > F.expr(f"{NOW_FIXTURE} - INTERVAL 30 SECOND")
    ).alias("is_active")


def th_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 count-by-status + total (tasks/api.go:200-240).

    The reference does five count-only prefix reads; here one
    partition-pruned scan with conditional aggregation — a single
    partial+final HashAggregate, no join, one row out.
    """
    t = tasks_df(spark, sf_dir)
    return t.agg(*status_count_aggs(), F.count("*").alias("total"))


def th_list_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+S4+O3+O6+P5: status-filtered list scan with limit, TaskInfo
    projection (tasks/api.go:114-197). Filter prunes the status
    partition; LIMIT is pushed as LocalLimit. Deterministic id order
    mirrors etcd's lexicographic key order (SURVEY §2.6 O6)."""
    t = tasks_df(spark, sf_dir)
    return (
        t.where(F.col("status") == "processing")
        .select(*_TASK_INFO_COLS)
        .orderBy("id")
        .limit(100)
    )


def th_list_all_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+O4: ListTasks("") — union-all of the five status partitions,
    then truncate (tasks/api.go:139-159). Expressed honestly as a
    unionByName of five pruned scans (the reference's five prefix
    reads); Catalyst collapses it to one scan + filter."""
    t = tasks_df(spark, sf_dir)
    parts = [t.where(F.col("status") == s).select(*_TASK_INFO_COLS) for s in TASK_STATUSES]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("id").limit(100)


def th_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+U2: GetTaskByID probe (tasks/api.go:43-111). The reference
    checks four exact keys then prefix-scans processing; the normalized
    model is a single point lookup."""
    t = tasks_df(spark, sf_dir)
    return t.where(F.col("id") == "task-42").select(*_TASK_INFO_COLS).limit(1)


def th_workers_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+F8: ListWorkers with derived is_active = heartbeat age < 30s
    (tasks/api.go:243-277, threshold :263). NOW_FIXTURE replaces the
    wall clock (FIXTURES.md determinism rules)."""
    w = workers_df(spark, sf_dir)
    return w.select(
        "id",
        "lease_id",
        "task_count",
        "last_heartbeat",
        "capacity",
        fixture_is_active(),
    ).orderBy("id")


def th_worker_inbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: GetWorkerTasks — one worker's processing inbox
    (tasks/api.go:280-310; prefix processing/{workerID}/). Both
    predicates reach the scan (partition prune + pushed filter)."""
    t = tasks_df(spark, sf_dir)
    return (
        t.where((F.col("status") == "processing") & (F.col("worker_id") == "worker-3"))
        .select(*_TASK_INFO_COLS)
        .orderBy("id")
    )


def th_eligible_workers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P6: capacity gate (dispatcher.go:542-544) with the negative-
    count clamp (worker.go:190-192): capacity 0 means unlimited."""
    w = workers_df(spark, sf_dir)
    clamped = w.withColumn("task_count", F.greatest(F.col("task_count"), F.lit(0)))
    return clamped.where(
        ~((F.col("capacity") > 0) & (F.col("task_count") >= F.col("capacity")))
    ).orderBy("id")


def th_least_tasks_worker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: argmin-by-load worker selection (dispatcher.go:613-633),
    deterministic tie-break by id (reference is scan-order first-wins).
    min_by over a struct = single partial+final aggregate, no sort."""
    w = th_eligible_workers(spark, sf_dir)
    return w.agg(
        F.min_by("id", F.struct(F.col("task_count"), F.col("id"))).alias("worker_id"),
        F.min("task_count").alias("task_count"),
    ).where(
        # a global agg over an EMPTY eligible set emits one all-NULL
        # row; the oracle's ORDER BY..LIMIT 1 emits none — drop it so
        # both engines agree when every worker is at capacity
        F.col("worker_id").isNotNull()
    )


def th_pending_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count-only pending guard (dispatcher.go:394-401). On parquet
    this is served from footer metadata after partition pruning."""
    t = tasks_df(spark, sf_dir)
    return t.where(F.col("status") == "pending").agg(F.count("*").alias("pending_count"))


def th_top10_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5+O1+W2: re-dispatch batch cap — top-10 pending by priority
    (dispatcher.go:403-408, sort :221-223). TakeOrderedAndProject, not
    a full sort."""
    t = tasks_df(spark, sf_dir)
    return (
        t.where(F.col("status") == "pending")
        .select("id", "priority", "create_time", "type")
        .orderBy(F.desc("priority"), "id")
        .limit(10)
    )


def th_composite_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+F4: build the reference's composite processing key
    ``/tasks/processing/{worker}/{task}`` (common/constants.go:8) and
    decompose it back with TrimPrefix+Split (common/utils.go:25-31)."""
    t = tasks_df(spark, sf_dir)
    proc = t.where(F.col("status") == "processing")
    keyed = proc.select(
        F.concat(F.lit("/tasks/processing/"), "worker_id", F.lit("/"), "id").alias("etcd_key")
    )
    parts = F.split(F.regexp_replace("etcd_key", "^/tasks/processing/", ""), "/")
    return keyed.select(
        "etcd_key",
        parts.getItem(0).alias("worker_id"),
        parts.getItem(1).alias("task_id"),
    ).orderBy("etcd_key")


def th_status_enum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6: status string↔int with the reference's asymmetric defaults
    (common/constants.go:49-82): unknown int → 'unknown', unknown
    string → 0/pending (the lossy default, preserved for parity)."""
    t = tasks_df(spark, sf_dir)
    as_int = (
        F.when(F.col("status") == "pending", 0)
        .when(F.col("status") == "processing", 1)
        .when(F.col("status") == "completed", 2)
        .when(F.col("status") == "failed", 3)
        .when(F.col("status") == "delayed", 4)
        .otherwise(0)
    )
    back = (
        F.when(as_int == 0, "pending")
        .when(as_int == 1, "processing")
        .when(as_int == 2, "completed")
        .when(as_int == 3, "failed")
        .when(as_int == 4, "delayed")
        .otherwise("unknown")
    )
    return (
        t.select(F.col("status"), as_int.alias("status_int"), back.alias("status_back"))
        .groupBy("status", "status_int", "status_back")
        .agg(F.count("*").alias("cnt"))
        .orderBy("status_int")
    )


def th_backoff_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: exponential backoff 2s·2^(n-1) (tasks/worker.go:73-79),
    deterministic part (jitter is seeded separately in the streaming
    state machine; see streaming/lifecycle.py). Verifies the stored
    retry_delay_ns column against the recomputed formula."""
    t = tasks_df(spark, sf_dir)
    expected = F.when(F.col("retry_count") == 0, F.lit(0).cast("bigint")).otherwise(
        backoff_ns(F.col("retry_count"))
    )
    return (
        t.select(
            "retry_count",
            "retry_delay_ns",
            expected.alias("expected_ns"),
            (F.col("retry_delay_ns") == expected).alias("matches"),
        )
        .groupBy("retry_count", "retry_delay_ns", "expected_ns", "matches")
        .agg(F.count("*").alias("cnt"))
        .orderBy("retry_count")
    )


def th_payload_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11+S8: parse the nested WechatTask payload document
    (model/model.go:32-35) — schema-on-read with from_json, array
    element access (spider.go:79-81)."""
    t = tasks_df(spark, sf_dir)
    parsed = t.select(
        "id",
        F.from_json("payload", "row_id INT, row_data ARRAY<STRING>").alias("doc"),
    )
    return (
        parsed.select(
            "id",
            F.col("doc.row_id").alias("row_id"),
            F.col("doc.row_data").getItem(0).alias("cell0"),
            F.col("doc.row_data").getItem(1).alias("cell1"),
            F.size("doc.row_data").alias("n_cells"),
        )
        .where(F.col("row_id") % 100 == 0)
        .orderBy("row_id")
    )


def th_spider_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3+F3+F12: the spider source — sheet rows fan out into
    tasks (tasks/spider.go:21-74). The ``part`` fixture stands in for
    spider.xlsx; cells are coerced to string (spider.go:49), ids are
    ``wechat-task-{run_ts}-{row}`` with an injected run_ts (spider.go:59),
    priority defaults 0→5 at submit (dispatcher.go:176-178), payload is
    the nested JSON doc. Pure projection — distributes trivially."""
    run_ts = 1700000000000000000  # injected constant, not wall clock
    p = load_table(spark, sf_dir, "part")  # memoized scan (fixtures.py)
    row = p.select(
        F.col("p_partkey").cast("int").alias("row_id"),
        F.array(
            F.col("p_name"),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size").cast("string"),
            # decimal(12,2) first: double→string formatting is not
            # portable across engines, fixed-scale decimal is
            F.col("p_retailprice").cast("decimal(12,2)").cast("string"),
        ).alias("row_data"),
        # rows with p_size%10==0 submit priority 0 → defaulted to 5
        F.when(F.col("p_size") % 10 == 0, 0).otherwise(F.col("p_size") % 10).alias("raw_priority"),
    )
    from task_hive_spark.functions.report import report_sort

    return report_sort(
        row.select(
            F.concat(F.lit(f"wechat-task-{run_ts}-"), F.col("row_id").cast("string")).alias("id"),
            F.to_json(F.struct("row_id", "row_data")).alias("payload"),
            F.when(F.col("raw_priority") == 0, 5).otherwise(F.col("raw_priority")).alias("priority"),
            F.lit("pending").alias("status"),
            F.lit(0).alias("retry_count"),
            F.lit("spider").alias("type"),
        ),
        "id",
    )


def th_unknown_type_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 batch analogue: tasks whose type has no registered processor
    are failed with the reference's error message
    (tasks/worker.go:241-251)."""
    t = tasks_df(spark, sf_dir)
    known = ["spider", "custom"]
    return (
        t.select(
            "id",
            "type",
            F.when(F.col("type").isin(known), F.col("status"))
            .otherwise("failed")
            .alias("effective_status"),
            F.when(
                F.col("type").isin(known), F.lit(None).cast("string")
            )
            .otherwise(F.concat(F.lit("no processor registered for task type: "), "type"))
            .alias("effective_error"),
        )
        .groupBy("type", "effective_status", "effective_error")
        .agg(F.count("*").alias("cnt"))
        .orderBy("type", "effective_status")
    )


def th_id_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F10: the id-generation and duration helpers.

    - F1 GenerateRandomID (common/utils.go:9-22): 10 alpha chars. The
      reference seeds from the wall clock; here the entropy source is
      md5 of the task id (seeded, oracle-reproducible), mapped onto
      letters via hex→[a-p] translate.
    - F2 generateID (tasks/dispatcher.go:22-25): "{host}-{pid}-{rand%%
      1000}" with fixed host/pid fixtures and md5-derived rand.
    - F10 RetryDelay.Seconds() truncation (tasks/worker.go:89: the
      lease TTL is int64(seconds)).
    """
    t = tasks_df(spark, sf_dir)
    h = F.md5(F.concat(F.lit("idseed-"), F.col("id")))
    alpha_id = F.translate(
        F.substring(h, 1, 10), "0123456789abcdef", "abcdefghijklmnop"
    )
    rand_part = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 1000
    return t.select(
        "id",
        alpha_id.alias("alpha_id"),
        F.concat(
            F.lit("spark-node-4242-"), rand_part.cast("string")
        ).alias("gen_worker_id"),
        F.expr("retry_delay_ns div 1000000000").alias("delay_seconds"),
    ).orderBy("id")


def th_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: changelog compaction — last PUT wins per key (etcd overwrite
    semantics, dispatcher.go:107) as the canonical row_number()=1
    window over the events fixture. One shuffle on user_id."""

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


_RFC3339 = "yyyy-MM-dd'T'HH:mm:ss'Z'"  # Go time.Time JSON marshal shape


def th_api_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 HTTP JSON sink — the engine-side equivalent of the five REST
    routes (api/server.go:20-107): one row per endpoint with the
    ``Content-Type: application/json`` response body the handler would
    write, serialized with ``to_json`` over the same TaskInfo /
    WorkerInfo projections the list/get queries use (tasks/api.go:15-21;
    unassigned worker_id marshals as Go's zero-value "").

    Scale shape: each list body is bounded by the handler's own
    contract (limit=100 for /api/tasks, one worker's inbox, the 8-row
    registry), so the final array_join aggregations are single-row,
    HTTP-response-sized — never a corpus-wide collect. Sorting objects
    lexicographically equals sorting by id: the id is the first key of
    every object and a '"' terminator compares below any id character,
    so prefix ids order consistently."""
    t = tasks_df(spark, sf_dir)
    w = workers_df(spark, sf_dir)

    def task_objs(df: DataFrame) -> DataFrame:
        return df.select(
            F.to_json(
                F.struct(
                    F.col("id"),
                    F.col("payload"),
                    F.col("priority"),
                    F.col("status"),
                    F.coalesce(F.col("worker_id"), F.lit("")).alias("worker_id"),
                    F.col("retry_count"),
                    F.date_format("create_time", _RFC3339).alias("create_time"),
                    F.date_format("update_time", _RFC3339).alias("update_time"),
                )
            ).alias("obj")
        )

    def json_array() -> F.Column:
        return F.concat(
            F.lit("["),
            F.array_join(F.array_sort(F.collect_list("obj")), ","),
            F.lit("]"),
        ).alias("body")

    def route(name: str, body_df: DataFrame) -> DataFrame:
        return body_df.select(F.lit(name).alias("route"), "body")

    list_tasks = route(
        "/api/tasks?status=processing&limit=100",
        task_objs(
            t.where(F.col("status") == "processing").orderBy("id").limit(100)
        ).agg(json_array()),
    )
    point_get = route(
        "/api/tasks/task-42",
        task_objs(t.where(F.col("id") == "task-42")).agg(F.min("obj").alias("body")),
    )
    stats = route(
        "/api/stats",
        t.agg(
            *status_count_aggs(),
            F.count("*").alias("total"),
        ).select(
            F.to_json(F.struct(*TASK_STATUSES, "total")).alias("body")
        ),
    )
    workers = route(
        "/api/workers",
        w.select(
            F.to_json(
                F.struct(
                    "id",
                    "lease_id",
                    "task_count",
                    F.date_format("last_heartbeat", _RFC3339).alias("last_heartbeat"),
                    "capacity",
                    fixture_is_active(),
                )
            ).alias("obj")
        ).agg(json_array()),
    )
    worker_tasks = route(
        "/api/workers/worker-3",
        task_objs(
            t.where(
                (F.col("status") == "processing") & (F.col("worker_id") == "worker-3")
            )
        ).agg(json_array()),
    )
    out = list_tasks
    for part in (point_get, stats, workers, worker_tasks):
        out = out.unionByName(part)
    return out.orderBy("route")


# CDC change batch for the snapshot MERGE, derived deterministically
# from orders with SQL that parses identically in Spark SQL and DuckDB
# (same single-source-of-truth pattern as taskmodel.TASKS_SQL).
# Updates + deletes hit existing task ids; the 'task-n' branch inserts
# ids no snapshot row has.
CHANGES_SQL = """
SELECT 'task-' || CAST(o_orderkey AS STRING)                    AS id,
       CASE WHEN o_orderkey % 11 = 0 THEN 'delete'
            ELSE 'upsert' END                                   AS op,
       'completed'                                              AS new_status,
       CAST(o_orderkey % 5 + 1 AS INT)                          AS new_priority,
       CASE WHEN o_orderkey % 2 = 0
            THEN 'worker-' || CAST(o_orderkey % 8 AS STRING)
            END                                                 AS new_worker_id
FROM orders WHERE o_orderkey % 7 IN (0, 3)
UNION ALL
SELECT 'task-n' || CAST(o_orderkey AS STRING), 'upsert', 'pending',
       CAST(o_orderkey % 5 + 1 AS INT), NULL
FROM orders WHERE o_orderkey % 13 = 1
"""


def th_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE: apply an upsert/delete change batch onto the
    task snapshot — the maintenance pass that keeps a queryable task
    table current from a change feed (the batch analogue of the
    streaming latest-per-key compaction, dispatcher.go:107 overwrite
    semantics; MERGE INTO matched-update / matched-delete /
    not-matched-insert).

    Shape: ONE full-outer sort-merge join on id — matched 'upsert'
    rows take the change's columns, matched 'delete' rows (and
    unmatched deletes) drop, unmatched change rows insert, unmatched
    snapshot rows carry over. Result is the per-status profile of the
    merged snapshot with a content checksum over every surviving
    (id, status, priority, worker) tuple, so the hash gate proves the
    whole merged table, not just its counts.

    Scale: a CDC merge must touch every snapshot row that MIGHT match,
    so the id shuffle is the floor cost — Delta/Hudi pay the same or
    prune by partition. With the bucketed snapshot layout
    (plans/catalog.py) the snapshot side's Exchange disappears; an
    upsert-only batch (no deletes) can instead broadcast the changes
    into a left-anti + union plan with no snapshot shuffle at all."""
    t = tasks_df(spark, sf_dir).select("id", "status", "priority", "worker_id")
    c = spark.sql(CHANGES_SQL)
    return merge_profile(apply_merge(t, c))


def apply_merge(snapshot: DataFrame, changes: DataFrame) -> DataFrame:
    """The MERGE core (shared by the batch query and the streaming
    incremental form in streaming/cdcmerge.py): one full-outer join on
    id, upserts take the change's columns, deletes drop, unmatched
    rows carry over/insert. Each change id is unique and its values are
    ABSOLUTE (not increments), so applying a batch in chunks — or
    re-applying a chunk — converges to the same table."""
    j = snapshot.join(changes, "id", "full_outer")
    up = F.col("op") == "upsert"
    return j.where(F.col("op").isNull() | up).select(
        "id",
        F.when(up, F.col("new_status")).otherwise(F.col("status")).alias("status"),
        F.when(up, F.col("new_priority")).otherwise(F.col("priority")).alias("priority"),
        F.when(up, F.col("new_worker_id")).otherwise(F.col("worker_id")).alias("worker_id"),
    )


def merge_profile(merged: DataFrame) -> DataFrame:
    """Per-status profile with a content checksum over every surviving
    (id, status, priority, worker) tuple."""
    h32 = portable_hash32(
        F.concat_ws(
            "|",
            F.col("id"),
            F.col("status"),
            F.col("priority").cast("string"),
            F.coalesce(F.col("worker_id"), F.lit("-")),
        )
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count("*").alias("n_tasks"),
            F.sum("priority").cast("long").alias("sum_priority"),
            F.count("worker_id").alias("n_assigned"),
            F.sum(h32).alias("sum_h32"),
        )
        .orderBy("status")
    )


QUERIES = {
    "th_stats": th_stats,
    "th_api_json": th_api_json,
    "th_list_by_status": th_list_by_status,
    "th_list_all_union": th_list_all_union,
    "th_point_get": th_point_get,
    "th_workers_liveness": th_workers_liveness,
    "th_worker_inbox": th_worker_inbox,
    "th_eligible_workers": th_eligible_workers,
    "th_least_tasks_worker": th_least_tasks_worker,
    "th_pending_count": th_pending_count,
    "th_top10_pending": th_top10_pending,
    "th_composite_keys": th_composite_keys,
    "th_status_enum_roundtrip": th_status_enum_roundtrip,
    "th_backoff_schedule": th_backoff_schedule,
    "th_payload_parse": th_payload_parse,
    "th_spider_ingest": th_spider_ingest,
    "th_unknown_type_failed": th_unknown_type_failed,
    "th_id_functions": th_id_functions,
    "th_latest_event_per_user": th_latest_event_per_user,
    "th_snapshot_merge": th_snapshot_merge,
}

_TASK_INFO_SQL = "id, payload, priority, status, worker_id, retry_count, create_time, update_time"

ORACLES = {
    "th_api_json": oracle_cte(
        f"""
        WITH ti AS (
          SELECT id, status, worker_id,
                 CAST(to_json(struct_pack(
                   id := id,
                   payload := payload,
                   priority := priority,
                   status := status,
                   worker_id := COALESCE(worker_id, ''),
                   retry_count := retry_count,
                   create_time := strftime(create_time, '%Y-%m-%dT%H:%M:%SZ'),
                   update_time := strftime(update_time, '%Y-%m-%dT%H:%M:%SZ')
                 )) AS VARCHAR) AS obj
          FROM tasks
        )
        SELECT route, body FROM (
          SELECT '/api/tasks?status=processing&limit=100' AS route,
                 '[' || COALESCE(string_agg(obj, ',' ORDER BY obj), '') || ']' AS body
          FROM (SELECT obj FROM ti WHERE status = 'processing' ORDER BY id LIMIT 100)
          UNION ALL
          SELECT '/api/tasks/task-42', MIN(obj) FROM ti WHERE id = 'task-42'
          UNION ALL
          SELECT '/api/stats', CAST(to_json(struct_pack(
                   pending := CAST(SUM(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT),
                   processing := CAST(SUM(CASE WHEN status = 'processing' THEN 1 ELSE 0 END) AS BIGINT),
                   completed := CAST(SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT),
                   failed := CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT),
                   delayed := CAST(SUM(CASE WHEN status = 'delayed' THEN 1 ELSE 0 END) AS BIGINT),
                   total := COUNT(*))) AS VARCHAR)
          FROM tasks
          UNION ALL
          SELECT '/api/workers',
                 '[' || COALESCE(string_agg(obj, ',' ORDER BY obj), '') || ']'
          FROM (SELECT CAST(to_json(struct_pack(
                   id := id,
                   lease_id := lease_id,
                   task_count := task_count,
                   last_heartbeat := strftime(last_heartbeat, '%Y-%m-%dT%H:%M:%SZ'),
                   capacity := capacity,
                   is_active := last_heartbeat > {NOW_FIXTURE} - INTERVAL 30 SECOND
                 )) AS VARCHAR) AS obj FROM workers)
          UNION ALL
          SELECT '/api/workers/worker-3',
                 '[' || COALESCE(string_agg(obj, ',' ORDER BY obj), '') || ']'
          FROM ti WHERE status = 'processing' AND worker_id = 'worker-3'
        ) r ORDER BY route
        """
    ),
    "th_stats": oracle_cte(
        """
        SELECT
          CAST(SUM(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT)    AS pending,
          CAST(SUM(CASE WHEN status = 'processing' THEN 1 ELSE 0 END) AS BIGINT) AS processing,
          CAST(SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT)  AS completed,
          CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT)     AS failed,
          CAST(SUM(CASE WHEN status = 'delayed' THEN 1 ELSE 0 END) AS BIGINT)    AS delayed,
          COUNT(*) AS total
        FROM tasks
        """
    ),
    "th_list_by_status": oracle_cte(
        f"SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'processing' ORDER BY id LIMIT 100"
    ),
    "th_list_all_union": oracle_cte(
        f"""
        SELECT * FROM (
          SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'pending'
          UNION ALL SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'processing'
          UNION ALL SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'completed'
          UNION ALL SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'failed'
          UNION ALL SELECT {_TASK_INFO_SQL} FROM tasks WHERE status = 'delayed'
        ) u ORDER BY id LIMIT 100
        """
    ),
    "th_point_get": oracle_cte(
        f"SELECT {_TASK_INFO_SQL} FROM tasks WHERE id = 'task-42' LIMIT 1"
    ),
    "th_workers_liveness": oracle_cte(
        f"""
        SELECT id, lease_id, task_count, last_heartbeat, capacity,
               last_heartbeat > {NOW_FIXTURE} - INTERVAL 30 SECOND AS is_active
        FROM workers ORDER BY id
        """
    ),
    "th_worker_inbox": oracle_cte(
        f"""
        SELECT {_TASK_INFO_SQL} FROM tasks
        WHERE status = 'processing' AND worker_id = 'worker-3' ORDER BY id
        """
    ),
    "th_eligible_workers": oracle_cte(
        """
        SELECT id, lease_id, GREATEST(task_count, 0) AS task_count, last_heartbeat, capacity
        FROM workers
        WHERE NOT (capacity > 0 AND GREATEST(task_count, 0) >= capacity)
        ORDER BY id
        """
    ),
    "th_least_tasks_worker": oracle_cte(
        """
        SELECT id AS worker_id, task_count FROM (
          SELECT id, GREATEST(task_count, 0) AS task_count FROM workers
          WHERE NOT (capacity > 0 AND GREATEST(task_count, 0) >= capacity)
        ) e ORDER BY task_count, id LIMIT 1
        """
    ),
    "th_pending_count": oracle_cte(
        "SELECT COUNT(*) AS pending_count FROM tasks WHERE status = 'pending'"
    ),
    "th_top10_pending": oracle_cte(
        """
        SELECT id, priority, create_time, type FROM tasks
        WHERE status = 'pending' ORDER BY priority DESC, id LIMIT 10
        """
    ),
    "th_composite_keys": oracle_cte(
        """
        SELECT '/tasks/processing/' || worker_id || '/' || id AS etcd_key,
               worker_id, id AS task_id
        FROM tasks WHERE status = 'processing' ORDER BY etcd_key
        """
    ),
    "th_status_enum_roundtrip": oracle_cte(
        """
        SELECT status, status_int,
               CASE status_int WHEN 0 THEN 'pending' WHEN 1 THEN 'processing'
                    WHEN 2 THEN 'completed' WHEN 3 THEN 'failed'
                    WHEN 4 THEN 'delayed' ELSE 'unknown' END AS status_back,
               COUNT(*) AS cnt
        FROM (
          SELECT status,
                 CASE status WHEN 'pending' THEN 0 WHEN 'processing' THEN 1
                      WHEN 'completed' THEN 2 WHEN 'failed' THEN 3
                      WHEN 'delayed' THEN 4 ELSE 0 END AS status_int
          FROM tasks
        ) s GROUP BY status, status_int, status_back ORDER BY status_int
        """
    ),
    "th_backoff_schedule": oracle_cte(
        """
        SELECT retry_count, retry_delay_ns, expected_ns,
               retry_delay_ns = expected_ns AS matches, COUNT(*) AS cnt
        FROM (
          SELECT retry_count, retry_delay_ns,
                 CASE WHEN retry_count = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(2000000000 * POW(2, retry_count - 1) AS BIGINT)
                 END AS expected_ns
          FROM tasks
        ) b GROUP BY retry_count, retry_delay_ns, expected_ns, matches
        ORDER BY retry_count
        """
    ),
    "th_payload_parse": oracle_cte(
        """
        SELECT id,
               CAST(payload->>'row_id' AS INT) AS row_id,
               payload->>'$.row_data[0]' AS cell0,
               payload->>'$.row_data[1]' AS cell1,
               CAST(json_array_length(payload, '$.row_data') AS INT) AS n_cells
        FROM tasks
        WHERE CAST(payload->>'row_id' AS INT) % 100 = 0
        ORDER BY row_id
        """
    ),
    # payload built with DuckDB's real JSON encoder (to_json/struct_pack)
    # so both sides share JSON escaping — raw string concat would silently
    # diverge on any quote/backslash in p_name/p_brand/p_type
    "th_spider_ingest": """
        SELECT 'wechat-task-1700000000000000000-' || CAST(CAST(p_partkey AS INT) AS STRING) AS id,
               CAST(to_json(struct_pack(
                 row_id := CAST(p_partkey AS INT),
                 row_data := [p_name, p_brand, p_type,
                              CAST(p_size AS VARCHAR),
                              CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR)]
               )) AS VARCHAR) AS payload,
               CASE WHEN p_size % 10 = 0 THEN 5 ELSE p_size % 10 END AS priority,
               'pending' AS status, 0 AS retry_count, 'spider' AS type
        FROM part ORDER BY id
        """,
    "th_unknown_type_failed": oracle_cte(
        """
        SELECT type,
               CASE WHEN type IN ('spider','custom') THEN status ELSE 'failed' END AS effective_status,
               CASE WHEN type IN ('spider','custom') THEN NULL
                    ELSE 'no processor registered for task type: ' || type END AS effective_error,
               COUNT(*) AS cnt
        FROM tasks
        GROUP BY 1, 2, 3 ORDER BY type, effective_status
        """
    ),
    "th_id_functions": oracle_cte(
        """
        SELECT id,
               translate(substr(md5('idseed-' || id), 1, 10),
                         '0123456789abcdef', 'abcdefghijklmnop') AS alpha_id,
               'spark-node-4242-' || CAST(
                 (ascii(substr(md5('idseed-' || id), 1, 1)) * 256
                  + ascii(substr(md5('idseed-' || id), 2, 1))) % 1000 AS STRING)
                 AS gen_worker_id,
               retry_delay_ns // 1000000000 AS delay_seconds
        FROM tasks ORDER BY id
        """
    ),
    "th_latest_event_per_user": """
        SELECT user_id, event_id, ts, event_type, value FROM (
          SELECT user_id, event_id, ts, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) e WHERE rn = 1 ORDER BY user_id
        """,
    "th_snapshot_merge": oracle_cte(
        f"""
        WITH changes AS ({CHANGES_SQL}),
        m AS (
          SELECT COALESCE(t.id, c.id) AS id,
                 CASE WHEN c.op = 'upsert' THEN c.new_status
                      ELSE t.status END AS status,
                 CASE WHEN c.op = 'upsert' THEN c.new_priority
                      ELSE t.priority END AS priority,
                 CASE WHEN c.op = 'upsert' THEN c.new_worker_id
                      ELSE t.worker_id END AS worker_id
          FROM tasks t FULL OUTER JOIN changes c ON t.id = c.id
          WHERE c.op IS NULL OR c.op = 'upsert'
        )
        SELECT status, COUNT(*) AS n_tasks,
               CAST(SUM(priority) AS BIGINT) AS sum_priority,
               COUNT(worker_id) AS n_assigned,
               CAST(SUM(CAST(concat('0x', substr(md5(
                 id || '|' || status || '|' || CAST(priority AS VARCHAR)
                    || '|' || COALESCE(worker_id, '-')), 1, 8)) AS BIGINT))
                 AS BIGINT) AS sum_h32
        FROM m GROUP BY status ORDER BY status
        """
    ),
}
