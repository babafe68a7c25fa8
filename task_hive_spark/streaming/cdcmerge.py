"""Streaming incremental CDC merge: the change batch applied as a
chunked change FEED through ``foreachBatch``, converging to the exact
table the one-shot batch MERGE produces.

This is the Spark-native shape of a continuously-maintained snapshot
(what a Delta/Hudi "streaming upsert" sink does): a file-source stream
delivers change chunks in micro-batches; each trigger MERGEs its chunk
into the persisted snapshot with copy-on-write: micro-batch ``bid``
reads the snapshot committed before it and commits the merged table as
version bid+1 (v0 is the seed) through ``materialize.commit_version``,
whose replay rule makes a re-run batch rewrite its version from the
same prior — the read-merge-write cycle a lakehouse table format runs
per commit, minus the manifest layer.

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

from task_hive_spark.materialize import (
    SNAPSHOT,
    commit_version,
    committed_versions,
    latest_committed_version,
    memoized_run,
)
from task_hive_spark.operators.queries import (
    CHANGES_SQL,
    ORACLES as _Q_ORACLES,
    apply_merge,
    merge_profile,
)
from task_hive_spark.operators.taskmodel import tasks_df
from task_hive_spark.streaming.feed import (
    drain,
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


def run_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain whatever the feed currently holds through the copy-on-write
    MERGE (checkpointed — a second call with more files resumes exactly
    where the first stopped); returns the current snapshot dir. The
    snapshot must already be seeded (run_once does; a restarted process
    adopts the highest committed version)."""

    def merge_batch(batch_df: DataFrame, bid: int) -> None:
        prior = committed_versions(work, "state_v", below=bid + 1)[-1]
        merged = apply_merge(spark.read.parquet(prior), batch_df)
        commit_version(work, "state_v", bid + 1, merged.write.parquet, SNAPSHOT)

    drain(read_feed(spark, feed, _CHANGE_SCHEMA), merge_batch, os.path.join(work, "ckpt"))
    return committed_versions(work, "state_v")[-1]


def seed_state(spark: SparkSession, sf_dir: str, work: str) -> None:
    """Commit the v0 snapshot unless a committed version already exists
    (a crashed run resumes from its highest committed snapshot)."""
    if latest_committed_version(work, "state_v") is None:
        seed = tasks_df(spark, sf_dir).select("id", "status", "priority", "worker_id")
        commit_version(work, "state_v", 0, seed.write.parquet, SNAPSHOT)


def run_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_CHANGE_CHUNKS
) -> str:
    """Seed the snapshot, stream the change chunks through a
    foreachBatch copy-on-write MERGE, return the converged table dir."""
    feed = change_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    seed_state(spark, sf_dir, work)
    return run_stream(spark, work, feed)


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
