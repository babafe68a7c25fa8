"""Delayed-task timers as REAL event-time timeouts (T2's timer form).

The reference arms a delayed-task trigger by writing the task id under
``/tasks/delayed_trigger/`` with a TTL lease equal to the backoff
(worker.go:84-103); when the lease expires, etcd deletes the key and
the dispatcher's watch on that prefix re-submits the task
(dispatcher.go:330-385). The foreachBatch lifecycle (lifecycle.py)
computes those re-entries arithmetically inside the fold; THIS module
expresses them with the engine's own timer machinery instead:

- ``applyInPandasWithState`` keyed by task_id with
  ``GroupStateTimeout.EventTimeTimeout``;
- a fail with retries left arms ``ready_s = fail_s + 2·2^(rc−1)`` (F7)
  in the group state — the lease write;
- the state's timeout timestamp is the earliest armed ready time; when
  the event-time watermark passes it with no newer input for the task,
  Spark invokes the function with ``state.hasTimedOut`` — the lease
  expiry callback — and the re-entry row is emitted;
- armed entries the watermark has already passed when the task's next
  events arrive are emitted in the fold itself (the watch would have
  fired them before those events, exactly as lifecycle.py's batch
  re-entry does);
- a timer the final watermark never reaches stays armed and unfired
  (the lt-stuck case → converged status 'delayed').

The emitted set is therefore exactly {re-entry | ready_s ≤ final
watermark}, invariant to how the feed is chunked into micro-batches
(tests/test_timers.py re-runs with 1/3/5 chunks), and the DuckDB oracle
re-derives it arithmetically — the timer MECHANISM is streaming-only,
the RESULT is batch-checkable. The final watermark is MAX(event_s)
over the FULL feed (all ops): the fail-only filter is deliberately
phrased so Catalyst cannot push it below the EventTimeWatermark node
(see run_once), keeping the event-time clock driven by every event the
way the etcd lease clock keeps ticking between failures.

Known boundary: Spark's event-time timeout fires strictly AFTER the
armed timestamp, while the oracle's cutoff is inclusive (≤). A lease
whose ready_s equals the feed's final watermark exactly — and whose
task receives no fail event at/after it — would be counted by the
oracle but never fired by the timeout callback. The scripted feed
cannot produce that alignment (every backoff lands ≥ 2 s off the feed
end by construction); a feed generator that could must either extend
the watermark one tick past its last event or arm timers at
ready_s − 1 ms.

Spark 4 note: ``transformWithStateInPandas`` (multiple named timers per
key) is the newer API for this operator; it requires the protobuf
state-server wire format, and ``google.protobuf`` is not installed in
this container, so the implementation uses the applyInPandasWithState
timeout (one armed timestamp per key + a min-heap in state), which this
environment fully supports. The semantics above are identical.

Scale shape: one shuffle on task_id; per-key state is O(armed retries)
≤ MaxRetries; the state store partitions across executors — no driver
state, no per-key files.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from task_hive_spark.materialize import memoized_run
from task_hive_spark.operators.processors import BACKOFF_BASE_S, MAX_RETRIES
from task_hive_spark.streaming.events import oracle_events_cte
from task_hive_spark.streaming.feed import (
    EVENT_SCHEMA,
    append_to,
    drain,
    read_appended,
    read_feed,
)
from task_hive_spark.streaming.lifecycle import N_CHUNKS, event_feed, shared_feed

# state: retry counter + the armed-but-unfired (ready_s, retry_n) entries
_STATE_SCHEMA = "rc INT, armed_ready ARRAY<BIGINT>, armed_rc ARRAY<INT>"
_OUT_SCHEMA = "task_id STRING, ready_s BIGINT, retry_n INT"


def _timer_fold(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One task's lease ledger: arm on fail, fire on watermark pass.

    Invoked either with input rows (new events for the task) or with
    ``hasTimedOut`` (the armed timeout's event-time passed with no
    newer input — the TTL-expiry callback)."""
    (task_id,) = key
    wm_s = state.getCurrentWatermarkMs() // 1000
    rc, armed_ready, armed_rc = state.get if state.exists else (0, [], [])
    armed = list(zip(armed_ready, armed_rc))

    if not state.hasTimedOut:
        ev = pd.concat(list(pdfs)).sort_values("event_s")
        for _, r in ev[ev["op"] == "fail"].iterrows():
            if rc < MAX_RETRIES:
                rc += 1
                armed.append((int(r["event_s"]) + BACKOFF_BASE_S * 2 ** (rc - 1), rc))
            # 4th+ failure: terminal, no lease (worker.go:113-135)

    fired = sorted((a, n) for a, n in armed if a <= wm_s)
    left = [(a, n) for a, n in armed if a > wm_s]
    state.update((rc, [a for a, _ in left], [n for _, n in left]))
    if left:
        # earliest armed lease is the key's single timeout slot
        state.setTimeoutTimestamp(min(a for a, _ in left) * 1000)
    if fired:
        yield pd.DataFrame(
            {
                "task_id": [task_id] * len(fired),
                "ready_s": [a for a, _ in fired],
                "retry_n": [n for _, n in fired],
            }
        )


def run_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int, feed: str | None = None
) -> str:
    """Run the timer stream to completion (AvailableNow) against a
    chunked feed; returns the fired-re-entries output dir."""
    if feed is None:
        feed = event_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    out = os.path.join(work, "fired")

    src = (
        read_feed(spark, feed, EVENT_SCHEMA)
        .withColumn("ts", F.timestamp_seconds("event_s"))
        .withWatermark("ts", "0 seconds")
        # Only fail events reach the fold — the state store then holds
        # exactly the failing tasks' lease ledgers, not an entry per
        # task_id ever seen (the unfiltered form grew state with every
        # submit/assign/complete key and paid a Python fold invocation
        # per key per batch). The predicate is phrased as ONE expression
        # that references the event-time column: Catalyst's
        # PushPredicateThroughNonJoin pushes a filter below
        # EventTimeWatermark only when it is deterministic AND does not
        # reference the watermark column, so this form keeps the filter
        # ABOVE the watermark node and the watermark is computed over
        # the FULL feed — timers keep firing even when the trailing
        # traffic is all successes. The plain conjunct form
        # (task_id IS NOT NULL AND op = 'fail') was pushed below the
        # watermark, silently freezing event time at the last FAIL:
        # tests/test_timers.py::test_timer_fires_with_non_fail_tail
        # pins the behavior.
        .where(
            F.when(
                F.col("task_id").isNotNull() & (F.col("op") == "fail"), F.col("ts")
            ).isNotNull()
        )
    )
    fired = src.groupBy("task_id").applyInPandasWithState(
        _timer_fold,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    drain(fired, append_to(out), os.path.join(work, "ckpt_timers"))
    return out


def st_timer_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every delayed-task re-entry the event-time timers fired (T2):
    (task, ready time, retry number). lt-stuck's lease (ready 9102 >
    final watermark 9100) correctly never appears."""
    out = memoized_run(
        spark,
        ("timers_run", sf_dir),
        lambda work: run_once(spark, sf_dir, work, N_CHUNKS, feed=shared_feed(spark, sf_dir)),
    )
    return read_appended(spark, out, _OUT_SCHEMA).orderBy("task_id", "ready_s")


QUERIES = {"st_timer_requeue": st_timer_requeue}

# Arithmetic mirror: fail #n (n ≤ MaxRetries) arms fail_s + 2·2^(n−1);
# the final watermark is the feed's max event time (0s delay); fired =
# armed entries the watermark reached.
ORACLES = {
    "st_timer_requeue": oracle_events_cte(
        f"""
        WITH fails AS (
          SELECT task_id, event_s,
                 ROW_NUMBER() OVER (PARTITION BY task_id ORDER BY event_s)
                   AS retry_n
          FROM events WHERE op = 'fail'
        )
        SELECT task_id,
               event_s + CAST(2 * POW(2, retry_n - 1) AS BIGINT) AS ready_s,
               CAST(retry_n AS INT) AS retry_n
        FROM fails
        WHERE retry_n <= {MAX_RETRIES}
          AND event_s + CAST(2 * POW(2, retry_n - 1) AS BIGINT)
              <= (SELECT MAX(event_s) FROM events)
        ORDER BY task_id, ready_s
        """
    )
}
