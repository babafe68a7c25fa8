"""Streaming incremental CDC merge: the change batch applied as a
chunked change FEED through ``foreachBatch``, converging to the exact
table the one-shot batch MERGE produces.

This is the Spark-native shape of a continuously-maintained snapshot
(what a Delta/Hudi "streaming upsert" sink does): a file-source stream
delivers change chunks in micro-batches; each trigger MERGEs its chunk
into the persisted snapshot with copy-on-write. The MERGE is the
``step`` of a state fold (feed.fold_state): the fold seeds the snapshot
with the task table, hands each batch the snapshot committed before
it, and commits the merged table as the next version, so a re-run
batch rewrites its version from the same prior — the read-merge-write
cycle a lakehouse table format runs per commit, minus the manifest
layer.

Why it converges to the batch answer (and is replay-safe): every change
id occurs ONCE across the whole batch and carries ABSOLUTE values, so
chunked application associates, chunk order is irrelevant, and
re-applying a chunk is idempotent (an upsert re-sets the same values; a
re-delete of a missing id is a no-op). The feed deliberately RE-DELIVERS
a deterministic subset of every chunk in a later chunk — the
at-least-once wire — and the converged profile must still hash-match
the one-shot oracle, which proves the merge's idempotence contract the
way dedupstream proves dropDuplicates'.

Scale: each micro-batch pays the same one-full-outer-join cost as the
batch merge, on |snapshot| + |chunk| rows; state lives in parquet (the
table itself), not the state store, so stream state is O(1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.materialize import memoized_run
from task_hive_spark.operators.queries import (
    CHANGES_SQL,
    ORACLES as _Q_ORACLES,
    apply_merge,
    merge_profile,
)
from task_hive_spark.operators.taskmodel import tasks_df
from task_hive_spark.streaming.feed import (
    fold_state,
    read_feed,
    with_hash_chunk,
    write_chunks,
)

_CHANGE_SCHEMA = (
    "id STRING, op STRING, new_status STRING, new_priority INT, new_worker_id STRING"
)
N_CHANGE_CHUNKS = 4
REPLAY_MOD = 3  # a deterministic ~third of change rows is delivered twice


def change_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_CHANGE_CHUNKS
) -> str:
    """The change batch chunked by id hash (ids are unique and
    unordered — CDC chunking needs determinism, not time order), with
    every REPLAY_MOD-th row re-delivered in the following chunk
    (wrapping)."""
    tasks_df(spark, sf_dir)  # registers the fixture views CHANGES_SQL reads
    ranked = with_hash_chunk(spark.sql(CHANGES_SQL), "id", n_chunks)
    # chunk and replay draws use independently-salted hashes so the
    # replay subset is uniform across chunks for ANY n_chunks
    replay = F.pmod(F.xxhash64(F.lit("replay"), F.col("id")), F.lit(REPLAY_MOD)) == 0
    replays = ranked.where(replay).withColumn(
        "chunk", (F.col("chunk") % n_chunks + 1).cast("int")
    )
    delivered = ranked.union(replays).cache()
    write_chunks(delivered, feed_dir, n_chunks)
    delivered.unpersist()
    return feed_dir


def run_stream(spark: SparkSession, sf_dir: str, work: str, feed: str) -> str:
    """Drain whatever the feed currently holds through the copy-on-write
    MERGE (checkpointed — a second call with more files resumes exactly
    where the first stopped; a restarted process resumes the highest
    committed snapshot); returns the current snapshot's path."""
    seed = tasks_df(spark, sf_dir).select("id", "status", "priority", "worker_id")
    query, paths = fold_state(
        read_feed(spark, feed, _CHANGE_SCHEMA),
        work,
        {"snapshot": seed},
        lambda batch_df, prior, _bid: {"snapshot": apply_merge(prior["snapshot"], batch_df)},
        os.path.join(work, "ckpt"),
    )
    query.awaitTermination()
    return paths["snapshot"]


def run_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_CHANGE_CHUNKS
) -> str:
    """Stream the change chunks through a foreachBatch copy-on-write
    MERGE of the task table; return the converged table's path."""
    feed = change_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    return run_stream(spark, sf_dir, work, feed)


def st_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged profile of the incrementally-merged snapshot — same
    oracle as the one-shot batch MERGE (th_snapshot_merge): streaming
    and batch forms must agree bit-for-bit despite chunking AND
    re-delivery."""
    state = memoized_run(
        spark, ("cdcmerge_run", sf_dir), lambda work: run_once(spark, sf_dir, work)
    )
    return merge_profile(spark.read.parquet(state))


QUERIES = {
    "st_snapshot_merge": st_snapshot_merge,
}

# the converged incremental table IS the one-shot merge, so the oracle
# is literally the batch query's
ORACLES = {
    "st_snapshot_merge": _Q_ORACLES["th_snapshot_merge"],
}
