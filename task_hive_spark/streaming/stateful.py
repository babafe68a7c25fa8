"""Per-key stateful streaming + event-time windowing over the change-feed.

Four Structured Streaming patterns the foreachBatch lifecycle
(lifecycle.py) deliberately does not use — the stateful counter,
watermarked tumbling windows, dynamic-gap session windows, and the
bounded stream-stream interval join (``st_dispatch_latency``) —
exercised here over the SAME scripted feed (events.py) so the driver's
batch oracle can grade their converged output:

- ``st_worker_counter_stateful`` — A5, the running per-worker task
  counter (reference: CAS read-modify-write ±1 with clamp,
  tasks/worker.go:168-226, increments dispatcher.go:605-607), as an
  ``applyInPandasWithState`` operator: state = (task_count, n_events)
  per worker_id, folded per micro-batch with the negative clamp (P6,
  worker.go:190-192). The micro-batch serializes updates, so the
  reference's CAS retry loop has no analogue — state-store isolation
  gives it for free.
- ``st_windowed_throughput`` — event-time tumbling-window throughput
  with a watermark: 60 s windows of event counts per op, watermark 30 s
  (the late-data bound), append mode. Only windows the final watermark
  has closed are emitted — the oracle mirrors that cutoff
  arithmetically, so the result is deterministic and hash-checkable.
- ``st_session_windows`` — dynamic-gap session windows
  (``F.session_window``): one session per burst of a worker's activity,
  closed after SESSION_GAP_S idle; the state store merges windows as
  later chunks arrive and the oracle mirrors the merge with a
  gaps-and-islands window over the same feed.

Scale shape: both operators shuffle once on their grouping key
(worker_id / window+op) and keep per-key state O(1); at a real event
volume the state store partitions across executors — no driver state,
no per-key files.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from task_hive_spark.materialize import memoized_run
from task_hive_spark.streaming.events import oracle_events_cte
from task_hive_spark.streaming.feed import (
    AVAILABLE_NOW,
    EVENT_SCHEMA,
    append_to,
    read_appended,
    read_feed,
)
from task_hive_spark.streaming.lifecycle import N_CHUNKS, event_feed, shared_feed

WATERMARK_S = 30
WINDOW_S = 60
SESSION_GAP_S = 120  # worker-activity session: new session after 120 s idle
DISPATCH_BOUND_S = 60  # assign must land within 60 s of its submit
SLA_BOUND_S = 3  # fast-dispatch SLA: assign within 3 s of submit
_COUNTER_SCHEMA = "worker_id STRING, task_count BIGINT, n_events BIGINT"


def _update_counter(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State fold for one worker: ±1 per assign/complete/fail with the
    P6 clamp, emitting the running value once per micro-batch."""
    (worker_id,) = key
    task_count, n_events = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        delta = int((pdf["op"] == "assign").sum()) - int(
            pdf["op"].isin(("complete", "fail")).sum()
        )
        task_count = max(task_count + delta, 0)
        n_events += len(pdf)
    state.update((task_count, n_events))
    yield pd.DataFrame(
        {"worker_id": [worker_id], "task_count": [task_count], "n_events": [n_events]}
    )


def _run_streams(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Run every sink once per (session, sf_dir) over the shared feed."""
    return memoized_run(
        spark,
        ("stateful_run", sf_dir),
        lambda work: run_once(spark, sf_dir, work, N_CHUNKS, feed=shared_feed(spark, sf_dir)),
    )


def run_once(
    spark: SparkSession,
    sf_dir: str,
    work: str,
    n_chunks: int,
    feed: str | None = None,
    only: tuple[str, ...] | None = None,
) -> dict[str, str]:
    """Run the streaming jobs against a chunked feed (the test entry
    point — converged output must be invariant to n_chunks). ``only``
    starts just the named sinks (e.g. ("sla",)) — a semantics probe of
    one operator shouldn't pay four unrelated checkpointed queries'
    start/commit overhead."""
    if feed is None:
        feed = event_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)

    out = {
        "counter": os.path.join(work, "counter"),
        "windows": os.path.join(work, "windows"),
        "sessions": os.path.join(work, "sessions"),
        "latency": os.path.join(work, "latency"),
        "sla": os.path.join(work, "sla"),
    }
    # fail fast on a typoed selector — a silent zero-sink run would
    # surface later as an opaque path-does-not-exist at the reader
    if only is not None and not set(only) <= out.keys():
        raise ValueError(f"unknown sink(s) {set(only) - out.keys()}")

    def want(k: str) -> bool:
        return only is None or k in only

    started = []

    def start_sink(df: DataFrame, k: str) -> None:
        """The shared parquet-append sink recipe (path + checkpoint
        keyed by sink name, AvailableNow)."""
        started.append(
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out[k])
            .option("checkpointLocation", os.path.join(work, f"ckpt_{k}"))
            .trigger(**AVAILABLE_NOW)
            .start()
        )

    src = read_feed(spark, feed, EVENT_SCHEMA)

    counter = (
        src.where(F.col("worker_id").isNotNull() & F.col("op").isin("assign", "complete", "fail"))
        .groupBy("worker_id")
        .applyInPandasWithState(
            _update_counter,
            _COUNTER_SCHEMA,
            "task_count BIGINT, n_events BIGINT",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    if want("counter"):
        started.append(
            counter.writeStream.outputMode("update")
            .foreachBatch(append_to(out["counter"]))
            .option("checkpointLocation", os.path.join(work, "ckpt_counter"))
            .trigger(**AVAILABLE_NOW)
            .start()
        )

    windows = (
        src.withColumn("ts", F.timestamp_seconds("event_s"))
        .withWatermark("ts", f"{WATERMARK_S} seconds")
        .groupBy(F.window("ts", f"{WINDOW_S} seconds"), "op")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "op",
            "n",
        )
    )
    if want("windows"):
        start_sink(windows, "windows")
    # Session windows (dynamic-gap event-time windows): one session per
    # burst of a worker's activity, closed after SESSION_GAP_S idle.
    # The state store merges windows as later chunks arrive; append mode
    # emits a session once the watermark passes its end (last event +
    # gap), so the converged set is chunk-invariant and the oracle can
    # mirror it with a gaps-and-islands window.
    sessions = (
        src.where(F.col("worker_id").isNotNull())
        .withColumn("ts", F.timestamp_seconds("event_s"))
        .withWatermark("ts", f"{WATERMARK_S} seconds")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds"), "worker_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").cast("long").alias("session_start"),
            F.col("session_window.end").cast("long").alias("session_end"),
            "worker_id",
            "n_events",
        )
    )
    if want("sessions"):
        start_sink(sessions, "sessions")
    # Stream-stream interval join: every assign matched to its submit
    # within DISPATCH_BOUND_S of event time. The time bound + watermarks
    # are what make the join state FINITE — each side's rows are evicted
    # once the other side's watermark passes their join window, the
    # property that lets a submit/assign correlation run forever on an
    # unbounded feed. (+1 day shift: epoch-0 inclusive-late-filter, see
    # dedupstream.) Inner joins emit on match, so the converged output
    # is the plain bounded join the oracle computes.
    submits = (
        src.where(F.col("op") == "submit")
        .select(
            "task_id",
            F.col("event_s").alias("submit_s"),
            F.timestamp_seconds(F.col("event_s") + 86400).alias("s_ts"),
        )
        .withWatermark("s_ts", f"{WATERMARK_S} seconds")
    )
    assigns = (
        src.where(F.col("op") == "assign")
        .select(
            "task_id",
            "worker_id",
            F.col("event_s").alias("assign_s"),
            F.timestamp_seconds(F.col("event_s") + 86400).alias("a_ts"),
        )
        .withWatermark("a_ts", f"{WATERMARK_S} seconds")
    )
    latency = (
        assigns.alias("a")
        .join(
            submits.alias("s"),
            F.expr(
                "a.task_id = s.task_id AND "
                f"a.a_ts BETWEEN s.s_ts AND s.s_ts + INTERVAL {DISPATCH_BOUND_S} SECONDS"
            ),
        )
        .select(
            F.col("a.task_id").alias("task_id"),
            "worker_id",
            "assign_s",
            (F.col("a.a_ts").cast("long") - F.col("s.s_ts").cast("long")).alias(
                "latency_s"
            ),
        )
    )
    if want("latency"):
        start_sink(latency, "latency")
    # LEFT OUTER stream-stream interval join over the SAME watermarked
    # substreams as the inner latency join — the state-EVICTION
    # semantics that join never exercises: a submit with no assign
    # inside its SLA window emits a null-extended row only when the
    # join watermark passes submit + SLA_BOUND_S and its state is
    # evicted (inner matches still emit immediately). That makes the
    # null rows the interesting converged set: every SLA row is either
    # an on-time match or a PROVEN miss — a submit the stream can
    # certify no future assign can rescue. lt-stuck (submit 8900) pins
    # the retention side: its window end (8903+86400) is past the final
    # combined watermark (min of both sides' filtered maxima − 30 s),
    # so it must NOT emit — an oracle cutoff any plain SQL LEFT JOIN
    # would get wrong.
    sla = (
        submits.alias("s")
        .join(
            assigns.alias("a"),
            F.expr(
                "s.task_id = a.task_id AND "
                f"a.a_ts BETWEEN s.s_ts AND s.s_ts + INTERVAL {SLA_BOUND_S} SECONDS"
            ),
            "leftOuter",
        )
        .select(
            F.col("s.task_id").alias("task_id"),
            "submit_s",
            F.col("a.worker_id").alias("worker_id"),
            F.col("a.assign_s").alias("assign_s"),
            F.col("a.assign_s").isNotNull().alias("sla_met"),
        )
    )
    if want("sla"):
        start_sink(sla, "sla")
    for q in started:
        q.awaitTermination()
    return out


def st_worker_counter_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged per-worker running counter (A5 streaming form): the
    last state emitted for each worker across all micro-batches."""
    out = _run_streams(spark, sf_dir)
    w = W.partitionBy("worker_id").orderBy(F.desc("n_events"))
    return (
        read_appended(spark, out["counter"], _COUNTER_SCHEMA)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("worker_id", "task_count", "n_events")
        .orderBy("worker_id")
    )


def st_windowed_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed op throughput — every window the final
    watermark closed (append-mode emission)."""
    out = _run_streams(spark, sf_dir)
    return spark.read.parquet(out["windows"]).select(
        "window_start", "op", "n"
    ).orderBy("window_start", "op")


def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged worker-activity sessions (dynamic-gap session windows):
    every session the final watermark closed."""
    out = _run_streams(spark, sf_dir)
    return spark.read.parquet(out["sessions"]).select(
        "session_start", "session_end", "worker_id", "n_events"
    ).orderBy("worker_id", "session_start")


def st_dispatch_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged submit→assign correlation through the stream-stream
    interval join: one row per assign matched within DISPATCH_BOUND_S
    of its task's submit, with the dispatch latency."""
    out = _run_streams(spark, sf_dir)
    return spark.read.parquet(out["latency"]).select(
        "task_id", "worker_id", "assign_s", "latency_s"
    ).orderBy("task_id", "assign_s")


def st_unmatched_submits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged dispatch-SLA roster through the LEFT OUTER interval
    join: every submit either matched to its within-SLA assign, or
    null-extended once the watermark proved no assign can ever land in
    its window. Submits whose window the final watermark has not closed
    (lt-stuck) are withheld — still in join state, not yet decidable."""
    out = _run_streams(spark, sf_dir)
    return (
        spark.read.parquet(out["sla"])
        .select("task_id", "submit_s", "worker_id", "assign_s", "sla_met")
        .orderBy("task_id", "submit_s", "assign_s")
    )


QUERIES = {
    "st_worker_counter_stateful": st_worker_counter_stateful,
    "st_windowed_throughput": st_windowed_throughput,
    "st_session_windows": st_session_windows,
    "st_dispatch_latency": st_dispatch_latency,
    "st_unmatched_submits": st_unmatched_submits,
}

ORACLES = {
    # A5: the running ±1 fold reduces to a signed sum — the feed never
    # drives a counter negative (script invariant: a task's assign
    # precedes its complete/fail), so the per-batch clamp is the
    # identity and the converged value is order-independent.
    "st_worker_counter_stateful": oracle_events_cte(
        """
        SELECT worker_id,
               CAST(SUM(CASE WHEN op = 'assign' THEN 1 ELSE -1 END) AS BIGINT)
                 AS task_count,
               COUNT(*) AS n_events
        FROM events
        WHERE worker_id IS NOT NULL AND op IN ('assign', 'complete', 'fail')
        GROUP BY worker_id
        ORDER BY worker_id
        """
    ),
    # Append mode emits a window once the watermark (max event time −
    # 30 s) passes its end; with an AvailableNow run the final watermark
    # is global-max − 30 s, so the emitted set is exactly this filter.
    "st_windowed_throughput": oracle_events_cte(
        f"""
        WITH w AS (
          SELECT event_s - (event_s % {WINDOW_S}) AS window_start, op, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT window_start, op, n
        FROM w
        WHERE window_start + {WINDOW_S}
              <= (SELECT MAX(event_s) FROM events) - {WATERMARK_S}
        ORDER BY window_start, op
        """
    ),
    # Gaps-and-islands mirror of the session-window state machine: a new
    # island when the per-worker gap reaches SESSION_GAP_S (Spark's
    # session interval is half-open — an event exactly gap seconds later
    # opens a NEW session); session end = last event + gap; append mode
    # emits sessions the final watermark (max − WATERMARK_S) closed.
    "st_session_windows": oracle_events_cte(
        f"""
        WITH we AS (
          SELECT worker_id, event_s FROM events WHERE worker_id IS NOT NULL
        ),
        d AS (
          SELECT worker_id, event_s,
                 CASE WHEN event_s - LAG(event_s) OVER
                        (PARTITION BY worker_id ORDER BY event_s)
                      >= {SESSION_GAP_S}
                      OR LAG(event_s) OVER
                        (PARTITION BY worker_id ORDER BY event_s) IS NULL
                      THEN 1 ELSE 0 END AS brk
          FROM we
        ),
        s AS (
          SELECT worker_id, event_s,
                 SUM(brk) OVER (PARTITION BY worker_id ORDER BY event_s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d
        ),
        agg AS (
          SELECT MIN(event_s) AS session_start,
                 MAX(event_s) + {SESSION_GAP_S} AS session_end,
                 worker_id, COUNT(*) AS n_events
          FROM s GROUP BY worker_id, sid
        )
        SELECT session_start, session_end, worker_id, n_events
        FROM agg
        -- cutoff from the FILTERED stream's max: the Spark watermark is
        -- computed after the worker_id IS NOT NULL filter, so a feed
        -- ending in worker-less events must not advance the oracle's
        -- cutoff past the stream's
        WHERE session_end <= (SELECT MAX(event_s) FROM events
                              WHERE worker_id IS NOT NULL) - {WATERMARK_S}
        ORDER BY worker_id, session_start
        """
    ),
    # inner interval joins emit on match (no watermark hold), so the
    # converged output is the plain bounded join
    "st_dispatch_latency": oracle_events_cte(
        f"""
        SELECT a.task_id, a.worker_id, a.event_s AS assign_s,
               a.event_s - s.event_s AS latency_s
        FROM events a JOIN events s
          ON a.task_id = s.task_id
         AND a.op = 'assign' AND s.op = 'submit'
         AND a.event_s BETWEEN s.event_s AND s.event_s + {DISPATCH_BOUND_S}
        ORDER BY a.task_id, assign_s
        """
    ),
    # left-outer interval join: matches emit on sight; null-extended
    # rows emit only at state eviction, i.e. once the combined
    # watermark — min of the two FILTERED substreams' maxima minus the
    # delay — passes the submit's SLA window. A plain SQL LEFT JOIN has
    # no such cutoff, so the oracle applies it to the unmatched branch
    # explicitly (lt-stuck's submit at 8900 is the pin: undecidable at
    # the final watermark, it must appear in neither branch). STRICT <:
    # a window ending exactly ON the watermark is still in state — a
    # boundary assign would not be late — pinned empirically by
    # tests/test_stateful.py::test_unmatched_submits_watermark_boundary.
    "st_unmatched_submits": oracle_events_cte(
        f"""
        WITH s AS (
          SELECT task_id, event_s AS submit_s FROM events WHERE op = 'submit'
        ),
        a AS (
          SELECT task_id, worker_id, event_s FROM events WHERE op = 'assign'
        ),
        j AS (
          SELECT s.task_id, s.submit_s, a.worker_id, a.event_s AS assign_s
          FROM s LEFT JOIN a
            ON s.task_id = a.task_id
           AND a.event_s BETWEEN s.submit_s AND s.submit_s + {SLA_BOUND_S}
        )
        SELECT task_id, submit_s, worker_id, assign_s,
               assign_s IS NOT NULL AS sla_met
        FROM j
        WHERE assign_s IS NOT NULL
           OR submit_s + {SLA_BOUND_S}
              < LEAST((SELECT MAX(submit_s) FROM s),
                      (SELECT MAX(event_s) FROM a)) - {WATERMARK_S}
        ORDER BY task_id, submit_s, assign_s
        """
    ),
}
