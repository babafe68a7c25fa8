"""Streaming lifecycle invariants (SURVEY §5.2 converged-state checks):
the state machine's converged output must not depend on how the
change-feed is chunked into micro-batches, retries must cap at
MaxRetries=3 with the 2·2^(n−1)s backoff, and the dead worker's
in-flight tasks must re-enter pending."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from task_hive_spark.streaming.lifecycle import (
    converged_state,
    run_lifecycle,
)


def _final(spark, paths):
    return (
        spark.read.parquet(paths["tasks"])
        .orderBy("task_id")
        .collect()
    )


def test_converged_state_invariant_to_batching(spark, sf_dir, tmp_path):
    base = converged_state(spark, sf_dir)  # default 5 chunks (cached)
    ref = _final(spark, base)
    for n_chunks in (1, 3):
        work = str(tmp_path / f"lc_chunks{n_chunks}")
        os.mkdir(work)
        paths = run_lifecycle(spark, sf_dir, work, n_chunks=n_chunks)
        assert _final(spark, paths) == ref, f"divergence with {n_chunks} chunks"


def test_retry_caps_and_backoff(spark, sf_dir):
    paths = converged_state(spark, sf_dir)
    tasks = spark.read.parquet(paths["tasks"])
    retry = {r.task_id: r for r in tasks.where(F.col("retry_count") > 0).collect()}
    # lt-retry failed 4x: terminal 'failed', rc capped at 3, delay 8s
    r = retry["lt-retry"]
    assert (r.status, r.retry_count, r.retry_delay_ns) == ("failed", 3, 8_000_000_000)
    # lt-delayed: one failure, re-entered, completed with rc=1, delay 2s
    d = retry["lt-delayed"]
    assert (d.status, d.retry_count, d.retry_delay_ns) == ("completed", 1, 2_000_000_000)
    # lt-stuck: timer armed past end of feed -> still delayed
    s = retry["lt-stuck"]
    assert s.status == "delayed" and s.ready_s == 9102
    # backoff formula everywhere: 2s * 2^(rc-1)
    bad = tasks.where(
        (F.col("retry_count") > 0)
        & (
            F.col("retry_delay_ns")
            != (F.lit(2_000_000_000) * F.pow(2, F.col("retry_count") - 1)).cast("long")
        )
    ).count()
    assert bad == 0


def test_dead_worker_requeue_and_registry(spark, sf_dir):
    paths = converged_state(spark, sf_dir)
    tasks = spark.read.parquet(paths["tasks"])
    workers = {r.worker_id for r in spark.read.parquet(paths["workers"]).collect()}
    assert workers == {"lw0", "lw1", "lw2"}  # lw3 evicted on death
    pending = tasks.where(F.col("status") == "pending")
    # every converged-pending task was re-queued at the death timestamp
    assert pending.where(F.col("update_s") != 8000).count() == 0
    assert pending.count() > 0
    # nothing is still bound to the dead worker
    assert tasks.where(F.col("worker_id") == "lw3").count() == 0


def test_all_statuses_reachable(spark, sf_dir):
    paths = converged_state(spark, sf_dir)
    statuses = {
        r.status
        for r in spark.read.parquet(paths["tasks"]).select("status").distinct().collect()
    }
    assert statuses == {"pending", "processing", "completed", "failed", "delayed"}


def test_armed_timer_survives_eventless_batches(spark):
    """A delayed task with NO events in the current batch must keep its
    armed ready_s through the fold — the earlier recompute-from-batch
    form nulled the timer after one batch, so a retry whose backoff
    crossed a chunk boundary could never fire (masked by the scripted
    feed, where every mid-feed fail is followed by more events for the
    same task)."""
    from task_hive_spark.streaming.lifecycle import (
        _apply_task_events,
        _fire_timers,
    )

    state = spark.createDataFrame(
        [("t1", 5, "delayed", 1, 2_000_000_000, None, 902, 100, 900,
          None, "simulated failure")],
        "task_id STRING, priority INT, status STRING, retry_count INT,"
        " retry_delay_ns BIGINT, worker_id STRING, ready_s BIGINT,"
        " create_s BIGINT, update_s BIGINT, result STRING, error STRING",
    )
    other = spark.createDataFrame(
        [(950, "submit", "t2", None, '{"priority": 1, "type": "spider"}')],
        "event_s BIGINT, op STRING, task_id STRING, worker_id STRING,"
        " task_json STRING",
    )
    folded = _apply_task_events(state, other)
    t1 = {r["task_id"]: r for r in folded.collect()}["t1"]
    assert t1["status"] == "delayed" and t1["ready_s"] == 902

    # and the carried timer still fires once the clock passes it
    fired = {r["task_id"]: r for r in _fire_timers(folded, 1000).collect()}["t1"]
    assert fired["status"] == "pending" and fired["ready_s"] is None


def test_live_feed_converges_to_scripted_state(spark, sf_dir, tmp_path):
    """Close the 'scripted chunks only' gap: drive the lifecycle from a
    directory that a producer thread appends chunk files to WHILE the
    stream runs on a processing-time trigger (no pre-written feed, no
    AvailableNow snapshot). The converged task state must equal the
    scripted-feed run's — the file source discovering files as they
    land is the connector seam a Kafka/etcd-watch feed would plug into."""
    import os
    import shutil
    import threading
    import time

    from task_hive_spark.streaming.lifecycle import (
        shared_feed,
        start_lifecycle,
    )

    ref = _final(spark, converged_state(spark, sf_dir))

    staged = shared_feed(spark, sf_dir)  # the already-chunked event log
    chunks = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(chunks) >= 3

    work = str(tmp_path)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)

    q, paths = start_lifecycle(
        spark, work, feed, trigger={"processingTime": "200 milliseconds"}
    )
    try:

        def produce():
            for c in chunks:
                # copy to a temp name, then rename: the file source must
                # never list a half-written chunk
                tmp = os.path.join(feed, "." + c)
                shutil.copy(os.path.join(staged, c), tmp)
                os.rename(tmp, os.path.join(feed, c))
                time.sleep(0.5)

        writer = threading.Thread(target=produce, name="live-feed-writer")
        writer.start()
        writer.join(timeout=120)
        assert not writer.is_alive()

        # converge: poll the live state pointer until it matches the
        # scripted-feed reference (bounded wait, then a hard assert)
        deadline = time.time() + 120
        got = None
        while time.time() < deadline:
            got = _final(spark, paths)
            if got == ref:
                break
            time.sleep(1.0)
        assert got == ref
    finally:
        q.stop()


def test_failover_second_driver_takes_over_after_kill(spark, sf_dir, tmp_path):
    """The reference's leader-election story (tasks/leader.go:26-66,
    README 领导者选举): when the active driver dies mid-feed, a standby
    takes over and the system converges to the same state as an
    uninterrupted run. This runner's recovery unit is the whole run
    (start_lifecycle_stream resets checkpoint + state and redoes the
    feed — documented there), so takeover = a SECOND JVM re-running the
    fold over the same durable feed; determinism of the fold is what
    makes the takeover exact.

    Sequence: a victim JVM (conftest.VictimJVM — own process group,
    per-pid Derby isolation from r7) runs the lifecycle LIVE over an
    8-chunk feed; once it has committed ≥2 state versions it is
    SIGKILLed mid-feed; this test's JVM then takes over the same
    work_dir + feed and must converge to exactly the uninterrupted
    run's task state."""
    import os

    from tests.conftest import VictimJVM
    from task_hive_spark.materialize import latest_committed_version
    from task_hive_spark.streaming.lifecycle import event_feed

    work = str(tmp_path)
    feed = event_feed(spark, sf_dir, os.path.join(work, "feed"), 8)

    victim = VictimJVM(
        "from task_hive_spark.session import get_spark\n"
        "from task_hive_spark.streaming.lifecycle import start_lifecycle\n"
        "spark = get_spark('failover_victim')\n"
        f"q, paths = start_lifecycle(spark, {work!r}, {feed!r},"
        " trigger={'processingTime': '100 milliseconds'})\n"
        "q.awaitTermination()\n",
        os.path.join(work, "victim.log"),
    )
    state_dir = os.path.join(work, "state")

    def _committed_two() -> bool:
        return (latest_committed_version(state_dir, "state_v") or 0) >= 2

    try:
        victim.poll_until(_committed_two, "2 committed state versions",
                          interval_s=0.2)
    finally:
        # SIGKILL the whole group: the leader (driver + JVM) dies
        # mid-feed with no cleanup and, crucially, no lingering JVM
        victim.kill()

    # takeover in THIS JVM: same work_dir, same feed
    paths = run_lifecycle(spark, sf_dir, work, feed_dir=feed)
    got = _final(spark, paths)
    ref = _final(spark, converged_state(spark, sf_dir))
    assert got == ref
