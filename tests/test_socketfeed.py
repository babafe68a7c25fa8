"""Socket-driven lifecycle feed (streaming/socketfeed.py): a producer
pushes newline-JSON events into a live socket WHILE the query runs, and
the converged state must equal the scripted file feed's — the file
source and the socket source are interchangeable transports for one
fold."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from task_hive_spark.streaming import lifecycle as L
from task_hive_spark.streaming.socketfeed import (
    EventSocketServer,
    start_lifecycle_socket,
)


def _rows(spark, path, cols):
    return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())


def test_socket_feed_converges_to_scripted_state(spark, sf_dir, tmp_path):
    from task_hive_spark.streaming.events import events_df

    oracle = L.converged_state(spark, sf_dir)
    task_cols = spark.read.parquet(oracle["tasks"]).columns
    worker_cols = spark.read.parquet(oracle["workers"]).columns
    want_tasks = _rows(spark, oracle["tasks"], task_cols)
    want_workers = _rows(spark, oracle["workers"], worker_cols)

    lines = [
        r["j"]
        for r in events_df(spark, sf_dir)
        .select(
            F.to_json(
                F.struct("event_s", "op", "task_id", "worker_id", "task_json")
            ).alias("j")
        )
        .collect()
    ]
    assert len(lines) > 50

    server = EventSocketServer()
    work_dir = str(tmp_path)
    q, paths = start_lifecycle_socket(spark, work_dir, server.host, server.port)
    try:
        # push in three live slices — events arrive while the query runs
        third = len(lines) // 3
        for sl in (lines[:third], lines[third : 2 * third], lines[2 * third :]):
            server.send_lines(sl)
            time.sleep(0.6)
        deadline = time.time() + 120
        got_tasks = None
        while time.time() < deadline:
            snap = dict(paths)
            got_tasks = _rows(spark, snap["tasks"], task_cols)
            if got_tasks == want_tasks:
                break
            time.sleep(1.0)
        assert got_tasks == want_tasks, (
            f"socket-fed task state never converged to the scripted feed's "
            f"({len(got_tasks or [])} vs {len(want_tasks)} rows)"
        )
        assert _rows(spark, dict(paths)["workers"], worker_cols) == want_workers
    finally:
        q.stop()
        server.close()


def test_kafka_transport_contract(spark, sf_dir, tmp_path):
    """Broker-backed transport contract: when KAFKA_BOOTSTRAP points at
    a live broker (and the spark-sql-kafka connector is on the
    classpath), the topic-fed lifecycle must converge to the scripted
    feed's state — Spark itself is both producer (batch kafka sink) and
    consumer, so no extra client library is needed. Without a broker
    the test SKIPS with setup instructions: neither a broker nor the
    connector jar ships in this container (README transport matrix)."""
    import os
    import time as _time

    import pytest

    from task_hive_spark.streaming.events import events_df
    from task_hive_spark.streaming.socketfeed import start_lifecycle_kafka

    bootstrap = os.environ.get("KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip(
            "no Kafka broker: export KAFKA_BOOTSTRAP=host:port and launch "
            "Spark with --packages org.apache.spark:spark-sql-kafka-0-10_2.13 "
            "(this container ships neither a broker nor the connector jar)"
        )
    topic = os.environ.get("KAFKA_TOPIC", f"th-events-{int(_time.time())}")

    oracle = L.converged_state(spark, sf_dir)
    task_cols = spark.read.parquet(oracle["tasks"]).columns
    want_tasks = _rows(spark, oracle["tasks"], task_cols)

    # produce the change-feed into the topic with Spark's batch sink
    (
        events_df(spark, sf_dir)
        .select(
            F.to_json(
                F.struct("event_s", "op", "task_id", "worker_id", "task_json")
            ).alias("value")
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )

    work_dir = str(tmp_path)
    q, paths = start_lifecycle_kafka(
        spark, work_dir, bootstrap, topic, trigger={"availableNow": True}
    )
    q.awaitTermination()
    assert _rows(spark, dict(paths)["tasks"], task_cols) == want_tasks
