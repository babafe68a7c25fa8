"""The file feed every stream reads: the reference dispatcher's ordered
etcd watch (dispatcher.go:305-309) modelled as chunked parquet.

One decision, owned here and nowhere else:

- a feed is a directory holding one parquet file per chunk; the files'
  mtimes are the ingest clock, strictly increasing in chunk order
  (``write_chunks``);
- the file source reads one file per trigger, oldest first, so each
  chunk is one micro-batch and history replays in order
  (``read_feed``);
- a fold consumes the source through ``foreachBatch`` with a
  checkpoint, by default as a Trigger.AvailableNow drain that stops
  once the feed is exhausted (``start_fold``, ``drain``); a fold that
  only keeps its batches commits each one as a log version
  (``append_to``, read back by ``read_appended``).

Three chunking rules fill the 1-based ``chunk`` column the writer
splits on:

- ``with_chunk``: exact ntile over the event order, for time-ordered
  change logs;
- ``with_range_chunk``: exact id quantiles, for tables that arrive in
  id order;
- ``with_hash_chunk``: id hash, for change batches whose ids carry no
  order.

Each stream module keeps its fold and its feed builder (the frame, its
chunking rule and how the frame is persisted while the chunks are
written) and takes the rest from here.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming import StreamingQuery

from task_hive_spark.functions.prefix import bucketed_prefix
from task_hive_spark.materialize import LOG, commit_version, committed_versions

EVENT_SCHEMA = (
    "event_s BIGINT, op STRING, task_id STRING, worker_id STRING, task_json STRING"
)
DOC_SCHEMA = "doc_id BIGINT, text STRING"
AVAILABLE_NOW = {"availableNow": True}
_MTIME_BASE = 1_700_000_000


# --- chunking rules -------------------------------------------------------


def with_chunk(df: DataFrame, n_chunks: int) -> DataFrame:
    """Assign each event a chunk in 1..n_chunks respecting the total
    order (event_s, op, task_id, worker_id), WITHOUT a global
    single-partition window (the ntile-over-unpartitioned-order form
    this replaces funneled the whole feed through one task and spammed
    the bench tail with WindowExec warnings). The global row rank comes
    from the shared distributed prefix sum (functions/prefix.py:
    range-bucket + driver-folded offsets + partitioned window); chunk
    numbering is exact ntile. Converged streaming state is
    chunk-boundary invariant, so split points are free to move."""
    order_cols = ["event_s", "op", "task_id", "worker_id"]
    bucketed, off, n_total = bucketed_prefix(
        df, "event_s", n_buckets=max(n_chunks * 8, 32)
    )
    if n_total == 0:
        return df.withColumn("chunk", F.lit(1))
    rank = off + F.row_number().over(W.partitionBy("_bkt").orderBy(*order_cols))
    # exact ntile numbering: the first (n % k) chunks hold ceil(n/k)
    # rows, the rest floor(n/k) — consecutive chunk ids even when rows
    # < chunks (a rank-stripe formula left gaps there, found by the
    # hypothesis property test)
    q, r = divmod(n_total, n_chunks)
    if q == 0:
        chunk = rank.cast("int")
    else:
        head = r * (q + 1)
        chunk = (
            F.when(rank <= head, ((rank - 1) / F.lit(q + 1)).cast("int") + 1)
            .otherwise(F.lit(r) + ((rank - head - 1) / F.lit(q)).cast("int") + 1)
            .cast("int")
        )
    return bucketed.withColumn("chunk", chunk).drop("_bkt")


def with_range_chunk(df: DataFrame, id_col: str, n_chunks: int) -> DataFrame:
    """Chunk ``df`` into n_chunks ranges of ``id_col`` cut at its exact
    quantiles (one driver action, no global single-partition window).
    Converged output is batching-invariant, so the cuts only need to be
    deterministic; their balance is a convenience."""
    probs = [i / n_chunks for i in range(1, n_chunks)]
    bounds = df.stat.approxQuantile(id_col, probs, 0.0) if probs else []
    chunk = F.lit(1)
    for b in bounds:
        chunk = chunk + (F.col(id_col) > b).cast("int")
    return df.withColumn("chunk", chunk)


def with_hash_chunk(df: DataFrame, id_col: str, n_chunks: int) -> DataFrame:
    """Chunk ``df`` by the hash of ``id_col``: deterministic, no order.
    pmod, not abs-then-%: abs(Long.MIN_VALUE) is still negative (two's
    complement), and a chunk out of range would match no chunk filter
    in the writer — the row would silently vanish from the feed."""
    chunk = F.pmod(F.xxhash64(id_col), F.lit(n_chunks)) + 1
    return df.withColumn("chunk", chunk.cast("int"))


# --- the feed -------------------------------------------------------------


def write_chunks(df: DataFrame, feed_dir: str, n_chunks: int) -> str:
    """Write chunks 1..n_chunks of ``df`` (by its ``chunk`` column) as
    one flat parquet file each, with strictly increasing mtimes, so the
    file source replays them in chunk order (the file source does not
    recurse into a directory per chunk). Returns ``feed_dir``."""
    os.makedirs(feed_dir, exist_ok=True)
    for i in range(1, n_chunks + 1):
        tmp = tempfile.mkdtemp(prefix="chunk", dir=feed_dir)
        df.where(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(feed_dir, f"chunk_{i:03d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (_MTIME_BASE + i * 10, _MTIME_BASE + i * 10))
    return feed_dir


def read_feed(spark: SparkSession, feed_dir: str, schema: str) -> DataFrame:
    """The feed as a streaming frame: one chunk file per micro-batch,
    oldest mtime first — the etcd watch's ordered delivery."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(feed_dir)
    )


def start_fold(
    stream: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: dict,
) -> StreamingQuery:
    """Start ``fold(batch_df, batch_id)`` over ``stream`` as a
    checkpointed foreachBatch query under ``trigger``."""
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )


def drain(
    stream: DataFrame, fold: Callable[[DataFrame, int], None], checkpoint: str
) -> None:
    """Fold everything ``stream`` holds now (Trigger.AvailableNow) and
    return once it is done. A later call on the same checkpoint resumes
    where this one stopped."""
    start_fold(stream, fold, checkpoint, AVAILABLE_NOW).awaitTermination()


def append_to(path: str) -> Callable[[DataFrame, int], None]:
    """The fold that commits micro-batch ``bid`` as version ``bid`` of
    the log at ``path`` (materialize.commit_version): a replayed batch
    rewrites its version instead of appending its rows again."""
    return lambda df, bid: commit_version(path, "batch=", bid, df.write.parquet, LOG)


def read_appended(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Every micro-batch ``append_to(path)`` committed, as one frame
    with ``schema``'s columns."""
    return spark.read.schema(schema).parquet(*committed_versions(path, "batch="))
