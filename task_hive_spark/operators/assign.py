"""Task↔worker assignment — the reference's one join semantics (J1).

The reference greedily binds each pending task to a worker chosen by one
of three load-balancing strategies (dispatcher.go:515-610, strategies
:554-569: least-tasks, round-robin, random). The deterministic batch
form (SURVEY §2.3): rank pending tasks within each priority band (the
dispatch order W2, parallelized), rank eligible workers per strategy,
and equi-join on ``(band_rank + priority) % worker_count = slot``.

Scale shape: the task-side window partitions by ``priority`` so ranking
shuffles by band and parallelizes — no global single-partition window
(round 1's scale bottleneck). The workers side is a tiny registry: its
slot window is a few rows and the join is a **broadcast hash join** —
the task table is never shuffled beyond the band ranking. Worker count
enters the plan as a broadcast 1-row aggregate, not a driver action.
``th_assign_banded`` adds a second salt dimension to the band key — the
shape you'd use when one priority level dominates the backlog (skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.operators.taskmodel import oracle_cte, register_task_views

STRATEGIES = ("least_tasks", "round_robin", "random")

# The worker REGISTRY is control-plane sized (the reference's etcd
# /workers/ prefix — machines, not data rows); _worker_slots' global
# window is bounded by it. plan_audit.check_window_bounds asserts the
# actual registry count stays under this at audit scale, so a refactor
# that ever routed a data-plane table through the slot window fails the
# audit gate instead of silently unbounding the window.
WORKER_REGISTRY_MAX = 100_000


def _eligible_workers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity gate P2 (dispatcher.go:542-544) + clamp P6."""
    register_task_views(spark, sf_dir)
    w = spark.table("workers").withColumn("task_count", F.greatest("task_count", F.lit(0)))
    return w.where(~((F.col("capacity") > 0) & (F.col("task_count") >= F.col("capacity"))))


def _worker_slots(workers: DataFrame, strategy: str) -> DataFrame:
    """Number eligible workers 0..n-1 in strategy order. The window is
    single-partition but over the worker *registry* (tiny by
    construction) — never the task backlog.

    least_tasks: argmin-by-load order (A3, dispatcher.go:613-633).
    round_robin: id order — the cursor's stable cycle (dispatcher.go:636-644).
    random: portable seeded shuffle via md5(id) (the reference uses
    rand.Intn, dispatcher.go:566; seeded hash keeps the oracle exact).
    """
    if strategy == "least_tasks":
        order = [F.col("task_count").asc(), F.col("id").asc()]
    elif strategy == "round_robin":
        order = [F.col("id").asc()]
    elif strategy == "random":
        order = [F.md5(F.concat(F.lit("seed42-"), "id")).asc(), F.col("id").asc()]
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    w = W.orderBy(*order)
    return workers.select(
        F.col("id").alias("worker_id"),
        (F.row_number().over(w) - 1).alias("slot"),
    )


def _worker_slots_all(workers: DataFrame) -> DataFrame:
    """(strategy, worker_id, slot) for ALL THREE strategy orders in ONE
    single-partition pass over the registry: three row_numbers chained
    over the same Exchange SinglePartition (Spark stacks the three
    Window operators, re-sorting registry-sized rows in place), then
    ``stack`` unpivots to long form. One registry scan + one broadcast
    replaces the three per-strategy ``_worker_slots`` subtrees that
    each re-scanned the registry parquet and built their own broadcast
    (guide §2.4: shared exchange; §3.1: one build side)."""
    orders = {
        "least_tasks": [F.col("task_count").asc(), F.col("id").asc()],
        "round_robin": [F.col("id").asc()],
        "random": [F.md5(F.concat(F.lit("seed42-"), "id")).asc(), F.col("id").asc()],
    }
    wide = workers.select(
        F.col("id").alias("worker_id"),
        *[
            (F.row_number().over(W.orderBy(*o)) - 1).alias(s)
            for s, o in orders.items()
        ],
    )
    return wide.selectExpr(
        "worker_id",
        "stack(3, "
        + ", ".join(f"'{s}', {s}" for s in orders)
        + ") AS (strategy, slot)",
    ).select("strategy", "worker_id", "slot")


def bind(
    pending: DataFrame,
    eligible_workers: DataFrame,
    strategy: str,
    salt_buckets: int = 0,
) -> DataFrame:
    """J1 deterministic batch assignment over arbitrary frames, banded
    form: rank pending tasks within each priority band (shuffle keyed
    on priority — parallel), compute each task's slot as
    ``(band_rank + priority [+ salt]) % n``, and equi-join onto the
    strategy-ordered worker slots. Used by the fixture queries below
    and by the ``TaskHive`` facade's dispatch drain (api.py).

    ``salt_buckets > 0`` adds a deterministic md5-derived salt to the
    band key and the slot expression — the skew-resistant variant for a
    backlog one priority level dominates (each band splits
    ``salt_buckets`` ways, no window partition exceeds
    backlog/(bands·salt_buckets)).

    Join shape: the slot is computed ON THE TASK SIDE (n enters via a
    broadcast 1-row count, a with-predicate cross join Spark executes
    as a single-row stream-through), so the slots lookup is a true
    equi-key **BroadcastHashJoin** — one hash probe per task. Folding
    ``n_workers`` into the join predicate instead would reference both
    sides in one expression, leaving no equi key and degrading to a
    BroadcastNestedLoopJoin that evaluates the modulo against every
    slot row per task (|tasks|·n comparisons — the shape
    tests/test_pipeline_plans.py pins against)."""
    slots = _worker_slots(eligible_workers, strategy)
    n_row = slots.agg(F.count("*").cast("int").alias("n_workers"))

    band_keys = ["priority"]
    mod_expr = F.col("band_rank") + F.col("priority")
    cols = [F.col("id").alias("task_id"), F.col("priority")]
    out_cols = ["task_id", "priority", "band_rank", "worker_id"]
    order = [F.desc("priority"), F.asc("band_rank")]
    if salt_buckets > 0:
        cols.append(
            (F.conv(F.substring(F.md5("id"), 1, 2), 16, 10).cast("int") % salt_buckets)
            .alias("salt")
        )
        band_keys = ["priority", "salt"]
        mod_expr = mod_expr + F.col("salt")
        out_cols = ["task_id", "priority", "salt", "band_rank", "worker_id"]
        order = [F.desc("priority"), F.asc("salt"), F.asc("band_rank")]

    band_w = W.partitionBy(*band_keys).orderBy("task_id")
    # two selects: the salt alias can't be referenced by a window
    # partition key in the same projection (lateral alias restriction)
    ranked = pending.select(*cols).select(
        "*", (F.row_number().over(band_w) - 1).alias("band_rank")
    )
    # empty registry ⇒ NULL slot (inner join yields the old empty
    # result) rather than an ANSI divide-by-zero on the modulo
    slot = F.when(F.col("n_workers") > 0, mod_expr % F.col("n_workers")).cast("int")
    return (
        ranked.join(F.broadcast(n_row), F.lit(True))
        .withColumn("slot", slot)
        .join(F.broadcast(slots), "slot")
        .select(*out_cols)
        .orderBy(*order)
    )


def assign(spark: SparkSession, sf_dir: str, strategy: str = "least_tasks") -> DataFrame:
    """J1 over the fixture-derived tasks/workers model (see ``bind``)."""
    register_task_views(spark, sf_dir)
    return bind(
        spark.table("tasks").where(F.col("status") == "pending"),
        _eligible_workers(spark, sf_dir),
        strategy,
    )


def assign_salted(spark: SparkSession, sf_dir: str, strategy: str = "round_robin") -> DataFrame:
    """Skew-resistant variant: band key = (priority, salt16) where the
    salt is a deterministic md5-derived bucket of the task id. When one
    priority level dominates a 100 TB backlog, the plain priority band
    itself skews — salting splits each band 16 ways so no window
    partition exceeds backlog/160."""
    register_task_views(spark, sf_dir)
    return bind(
        spark.table("tasks").where(F.col("status") == "pending"),
        _eligible_workers(spark, sf_dir),
        strategy,
        salt_buckets=16,
    )


def th_assign_least_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign(spark, sf_dir, "least_tasks")


def th_assign_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign(spark, sf_dir, "round_robin")


def th_assign_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign(spark, sf_dir, "random")


def th_assign_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_salted(spark, sf_dir, "round_robin")


def th_assign_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL four J1 assignment variants as one parameterized surface —
    the three strategy orders (dispatcher.go:554-569) plus the salted
    banded form — unioned under a ``strategy`` column (salt NULL for
    the unsalted three). One registration checks all four variants'
    semantics against one oracle; the per-variant callables remain the
    engine API (the TaskHive facade dispatches through ``bind``).

    Plan shape (r13 optimization round): ONE backlog scan feeds BOTH
    rankings — the salted (priority, salt) window ranks first, then the
    same rows re-exchange by priority for the unsalted rank — so the
    task parquet is read once instead of twice (at scale the second
    scan, not the second exchange, is the cost). The three unsalted
    strategies share one slot value per task (the slot expression does
    not depend on the strategy — only WHICH worker owns the slot does),
    so one equi-join against the broadcast ``_worker_slots_all`` long
    frame fans each task out to its three (strategy, worker) rows,
    replacing three separate registry-window broadcasts + a 3-way
    union; the salted branch probes the SAME broadcast with
    strategy='round_robin' as part of its join key, so Spark reuses
    one build for all four variants. The per-variant `assign`/`bind`
    path (which would rank and scan the backlog per strategy) remains
    the engine API for single-strategy dispatch."""
    register_task_views(spark, sf_dir)
    pending = spark.table("tasks").where(F.col("status") == "pending")
    workers = _eligible_workers(spark, sf_dir)
    salt_col = (
        F.conv(F.substring(F.md5("id"), 1, 2), 16, 10).cast("int") % 16
    ).alias("salt")
    salted_w = W.partitionBy("priority", "salt").orderBy("task_id")
    band_w = W.partitionBy("priority").orderBy("task_id")
    ranked = (
        pending.select(F.col("id").alias("task_id"), "priority", salt_col)
        .select("*", (F.row_number().over(salted_w) - 1).alias("salted_rank"))
        .select("*", (F.row_number().over(band_w) - 1).alias("band_rank"))
    )
    n_row = workers.agg(F.count("*").cast("int").alias("n_workers"))
    slots_all = F.broadcast(_worker_slots_all(workers))

    def _slot(expr: F.Column) -> F.Column:
        return F.when(F.col("n_workers") > 0, expr % F.col("n_workers")).cast("int")

    ranked_n = ranked.join(F.broadcast(n_row), F.lit(True))
    unsalted = (
        ranked_n.withColumn("slot", _slot(F.col("band_rank") + F.col("priority")))
        .join(slots_all, "slot")
        .select(
            "strategy",
            "task_id",
            "priority",
            F.lit(None).cast("int").alias("salt"),
            "band_rank",
            "worker_id",
        )
    )
    banded = (
        ranked_n.withColumn(
            "slot", _slot(F.col("salted_rank") + F.col("priority") + F.col("salt"))
        )
        .withColumn("strategy", F.lit("round_robin"))
        .join(slots_all, ["strategy", "slot"])
        .select(
            F.lit("banded_round_robin").alias("strategy"),
            "task_id",
            "priority",
            F.col("salt").cast("int").alias("salt"),
            F.col("salted_rank").alias("band_rank"),
            "worker_id",
        )
    )
    from task_hive_spark.functions.report import report_sort

    return report_sort(
        unsalted.unionByName(banded),
        "strategy",
        F.desc("priority"),
        F.asc_nulls_first("salt"),
        F.asc("band_rank"),
    )


def th_assignment_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-assignment load distribution — workers' new task counts
    (the CAS counter A5 outcome, worker.go:168-226, as a batch agg)."""
    a = assign(spark, sf_dir, "round_robin")
    return a.groupBy("worker_id").agg(F.count("*").alias("assigned")).orderBy("worker_id")


QUERIES = {
    "th_assign_strategies": th_assign_strategies,
    "th_assignment_load": th_assignment_load,
}

_ELIGIBLE = """
  SELECT id, GREATEST(task_count, 0) AS task_count FROM workers
  WHERE NOT (capacity > 0 AND GREATEST(task_count, 0) >= capacity)
"""


_STRAT_ORDERS = {
    "least_tasks": "task_count ASC, id ASC",
    "round_robin": "id ASC",
    "random": "md5('seed42-' || id) ASC, id ASC",
}

_STRAT_SLOTS = ",\n".join(
    f"""slots_{s} AS (
          SELECT id AS worker_id, ROW_NUMBER() OVER (ORDER BY {o}) - 1 AS slot
          FROM eligible
        )"""
    for s, o in _STRAT_ORDERS.items()
)

_STRAT_BRANCHES = "\n        UNION ALL\n".join(
    f"""
        SELECT '{s}' AS strategy, task_id, priority,
               CAST(NULL AS INT) AS salt, band_rank, worker_id
        FROM ranked JOIN slots_{s}
          ON (ranked.band_rank + ranked.priority)
             % (SELECT COUNT(*) FROM eligible) = slots_{s}.slot"""
    for s in _STRAT_ORDERS
)

ORACLES = {
    "th_assign_strategies": oracle_cte(
        f"""
        WITH eligible AS ({_ELIGIBLE}),
        {_STRAT_SLOTS},
        ranked AS (
          SELECT id AS task_id, priority,
                 ROW_NUMBER() OVER (PARTITION BY priority ORDER BY id) - 1 AS band_rank
          FROM tasks WHERE status = 'pending'
        ),
        ranked_salted AS (
          SELECT id AS task_id, priority,
                 CAST(CAST(concat('0x', substr(md5(id), 1, 2)) AS INT) % 16 AS INT) AS salt,
                 ROW_NUMBER() OVER (
                   PARTITION BY priority, CAST(concat('0x', substr(md5(id), 1, 2)) AS INT) % 16
                   ORDER BY id) - 1 AS band_rank
          FROM tasks WHERE status = 'pending'
        )
        SELECT * FROM (
        {_STRAT_BRANCHES}
        UNION ALL
        SELECT 'banded_round_robin' AS strategy, task_id, priority,
               salt, band_rank, worker_id
        FROM ranked_salted JOIN slots_round_robin rr2
          ON (ranked_salted.band_rank + ranked_salted.priority + ranked_salted.salt)
             % (SELECT COUNT(*) FROM eligible) = rr2.slot
        ) u
        ORDER BY strategy, priority DESC, salt ASC NULLS FIRST, band_rank
        """
    ),
    "th_assignment_load": oracle_cte(
        f"""
        WITH eligible AS ({_ELIGIBLE}),
        slots AS (
          SELECT id AS worker_id, ROW_NUMBER() OVER (ORDER BY id ASC) - 1 AS slot
          FROM eligible
        ),
        ranked AS (
          SELECT id AS task_id, priority,
                 ROW_NUMBER() OVER (PARTITION BY priority ORDER BY id) - 1 AS band_rank
          FROM tasks WHERE status = 'pending'
        )
        SELECT worker_id, COUNT(*) AS assigned
        FROM ranked JOIN slots
          ON (ranked.band_rank + ranked.priority) % (SELECT COUNT(*) FROM eligible) = slots.slot
        GROUP BY worker_id ORDER BY worker_id
        """
    ),
}
