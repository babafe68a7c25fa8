"""Event-time timer re-queue operator (T2 timer form, timers.py).

The fired re-entry set must be invariant to micro-batch chunking: a
lease is emitted either by the timeout callback (watermark passed it
with no newer input) or in the fold (newer input arrived after the
watermark passed it) — both yield {armed | ready ≤ final watermark}.
"""

from __future__ import annotations

import os

from task_hive_spark.streaming import timers


def _fired(spark, out_dir):
    return {
        (r.task_id, r.ready_s, r.retry_n)
        for r in spark.read.schema(timers._OUT_SCHEMA).parquet(out_dir).collect()
    }


def test_fired_set_invariant_to_batching(spark, sf_dir, tmp_path):
    results = []
    for n_chunks in (1, 3, 5):
        work = str(tmp_path / f"timers_test{n_chunks}")
        os.mkdir(work)
        results.append(_fired(spark, timers.run_once(spark, sf_dir, work, n_chunks)))
    assert results[0] == results[1] == results[2]


def test_scripted_leases(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    fired = _fired(spark, timers.run_once(spark, sf_dir, work, 5))
    # lt-retry: three leases fire at fail+2/4/8 (F7); the 4th failure is
    # terminal and never arms (worker.go:113-135)
    assert {(t, r, n) for (t, r, n) in fired if t == "lt-retry"} == {
        ("lt-retry", 104, 1),
        ("lt-retry", 110, 2),
        ("lt-retry", 120, 3),
    }
    # lt-delayed: single backoff round trip (dispatcher.go:330-385)
    assert ("lt-delayed", 204, 1) in fired
    # lt-stuck: armed at 9102, final watermark 9100 — lease unexpired
    assert not any(t == "lt-stuck" for (t, _, _) in fired)


def test_timer_fires_with_non_fail_tail(spark, tmp_path):
    """The watermark must advance on EVERY event, not just fails: a
    lease armed by an early fail must fire even when all trailing
    traffic is successes. Catalyst pushes a plain deterministic
    fail-filter below EventTimeWatermark (freezing event time at the
    last fail — this feed would then fire nothing); run_once's
    predicate is phrased to reference the event-time column so it
    stays above the watermark node."""
    import os

    from task_hive_spark.streaming.feed import EVENT_SCHEMA, write_chunks

    work = str(tmp_path)
    rows = [
        (1, 100, "fail", "t1", None, None),  # arms ready = 102
        (2, 200, "complete", "t2", None, None),
        (3, 300, "complete", "t2", None, None),  # watermark must reach 300
    ]
    chunked = spark.createDataFrame(rows, f"chunk INT, {EVENT_SCHEMA}")
    feed = write_chunks(chunked, os.path.join(work, "feed"), 3)
    fired = _fired(spark, timers.run_once(spark, None, work, 0, feed=feed))
    assert fired == {("t1", 102, 1)}

