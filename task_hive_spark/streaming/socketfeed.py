"""Push-based socket change-feed for the lifecycle state machine — the
last seam between the scripted file feed and a production connector.

The reference's dispatcher is driven by live etcd watches
(/root/reference/tasks/dispatcher.go:305-309, worker.go:42): events are
PUSHED to the engine over a connection, not discovered by scanning a
directory. Spark's native push-shaped source is the socket source
(``readStream.format("socket")``): one newline-delimited JSON event per
line, parsed with ``from_json`` into the exact EVENT_SCHEMA the
lifecycle fold consumes — so the state machine itself is untouched
(``start_lifecycle_stream``); only the transport differs. The Kafka
transport (``start_lifecycle_kafka``) IS wired below — same newline-
JSON parse (``event_lines_stream``), ``format("kafka")`` source — but
neither a broker nor the spark-sql-kafka connector jar ships in this
container, so its contract test gates on ``KAFKA_BOOTSTRAP`` and
skips with a reason otherwise (tests/test_socketfeed.py).

Delivery semantics: the socket source is at-most-once on failure (no
replayable offsets), fine for the convergence test and dev usage; the
production bus (Kafka) brings replay. Batch boundaries are arrival-
timed and arbitrary — safe because the converged lifecycle state is
batch-boundary invariant (tests/test_lifecycle.py re-chunks the same
feed; tests/test_socketfeed.py asserts socket-fed state equals the
scripted file feed's).

``EventSocketServer`` is the test/demo producer: Spark's socket source
CONNECTS OUT to a host:port, so the producer side is a tiny accepting
server that writes the event lines — the role etcd plays for the
reference.
"""

from __future__ import annotations

import socket
import threading
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.streaming.feed import EVENT_SCHEMA
from task_hive_spark.streaming.lifecycle import start_lifecycle_stream


def event_lines_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """ONE JSON-line parse for every push transport: a raw streaming
    frame's string/binary ``value_col`` → EVENT_SCHEMA rows. Non-JSON
    lines parse to an all-null struct and are dropped (op is mandatory
    in every event). Socket and Kafka both route through here, so the
    transports cannot drift."""
    return (
        raw.select(
            F.from_json(F.col(value_col).cast("string"), EVENT_SCHEMA).alias("e")
        )
        .select("e.*")
        .where(F.col("op").isNotNull())
    )


def socket_event_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Newline-JSON events from a socket as a streaming DataFrame with
    the lifecycle EVENT_SCHEMA columns."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return event_lines_stream(raw)


def kafka_event_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Newline-JSON events from a Kafka topic — the production
    change-feed bus (replayable offsets = at-least-once delivery, which
    the batch-boundary-invariant fold absorbs). Requires the
    spark-sql-kafka connector on the classpath; absent it, ``load()``
    raises Spark's failed-to-find-data-source error at call time (the
    contract test converts that to a skip with instructions)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return event_lines_stream(raw)


def start_lifecycle_kafka(
    spark: SparkSession,
    work_dir: str,
    bootstrap: str,
    topic: str,
    trigger: dict | None = None,
):
    """The lifecycle state machine driven by a Kafka change-feed —
    same (query, paths) contract as start_lifecycle_socket; pass
    trigger={"availableNow": True} to drain a pre-loaded topic to
    convergence (the contract test's mode)."""
    stream = kafka_event_stream(spark, bootstrap, topic)
    return start_lifecycle_stream(
        spark, work_dir, stream, trigger or {"processingTime": "200 milliseconds"}
    )


def start_lifecycle_socket(
    spark: SparkSession,
    work_dir: str,
    host: str = "127.0.0.1",
    port: int = 9999,
    trigger: dict | None = None,
):
    """The lifecycle state machine driven by a live socket feed.
    Returns (query, paths) — same contract as start_lifecycle; the
    caller stops the query once the producer is done (a socket has no
    end-of-feed marker, so AvailableNow does not apply here)."""
    stream = socket_event_stream(spark, host, port)
    return start_lifecycle_stream(
        spark, work_dir, stream, trigger or {"processingTime": "200 milliseconds"}
    )


class EventSocketServer:
    """Minimal event producer for tests/demos: listens on an ephemeral
    port and keeps accepting — the LATEST connection wins, so a socket-
    source reconnect after a query restart is serviced instead of
    rotting in the backlog (and writes then target the live peer, not
    the dead first one). Lines are written newline-terminated; the
    connection stays open until close() — the socket source treats a
    closed peer as stream end/failure, so the producer outlives the
    query."""

    def __init__(self, host: str = "127.0.0.1"):
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, 0))
        self._srv.listen(4)
        self.host, self.port = self._srv.getsockname()
        self._conn: socket.socket | None = None
        self._conn_lock = threading.Lock()  # guards _conn swap/close vs send
        self._ready = threading.Event()
        self._closed = False
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)
        self._accept_thread.start()

    def _accept(self) -> None:
        while not self._closed:
            try:
                conn, _addr = self._srv.accept()
            except OSError:
                return  # server socket closed
            with self._conn_lock:
                old, self._conn = self._conn, conn
                self._ready.set()
            if old is not None:
                try:
                    old.close()
                except OSError:
                    pass

    def send_lines(self, lines: list[str], timeout: float = 60.0) -> None:
        if not self._ready.wait(timeout):
            raise TimeoutError("socket source never connected")
        payload = "".join(line + "\n" for line in lines).encode()
        # snapshot under the lock so _accept can't swap-and-close the
        # connection mid-send; one retry covers a reconnect racing the
        # snapshot (the swapped-in peer is the one that should get data)
        for attempt in (0, 1):
            with self._conn_lock:
                conn = self._conn
            try:
                conn.sendall(payload)
                return
            except OSError:
                if attempt:
                    raise
                time.sleep(0.05)  # let the accept thread finish the swap
                with self._conn_lock:
                    if self._conn is conn:
                        # same peer object: the first sendall may have
                        # partially written, so a blind retry could
                        # deliver duplicate lines — surface the error
                        raise

    def close(self) -> None:
        self._closed = True
        with self._conn_lock:
            conn = self._conn
        for s in (conn, self._srv):
            if s is not None:
                try:
                    s.close()
                except OSError:
                    pass
