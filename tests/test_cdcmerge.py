"""Streaming incremental CDC merge: batch/streaming parity and chunking
invariance (the properties the value-hash oracle checks only at one
chunk count)."""

from __future__ import annotations

import os

SF_DIR = "/root/testdata/sf0.001"


def _profile_rows(spark, state):
    from task_hive_spark.operators.queries import merge_profile

    return [tuple(r) for r in merge_profile(spark.read.parquet(state)).collect()]


def test_streaming_merge_equals_batch_and_chunk_invariant(spark, tmp_path):
    """The converged incrementally-merged snapshot must equal the
    one-shot batch MERGE bit-for-bit, at ANY chunking of the change
    feed, despite every REPLAY_MOD-th change being delivered twice —
    the idempotence contract that makes at-least-once delivery safe."""
    from task_hive_spark.operators.queries import th_snapshot_merge
    from task_hive_spark.streaming import cdcmerge

    batch = [tuple(r) for r in th_snapshot_merge(spark, SF_DIR).collect()]
    for n_chunks in (2, 4):
        work = str(tmp_path / f"cdc_t{n_chunks}")
        os.mkdir(work)
        state = cdcmerge.run_once(spark, SF_DIR, work, n_chunks=n_chunks)
        assert _profile_rows(spark, state) == batch, n_chunks


def test_change_feed_replays_are_real(spark, tmp_path):
    """The feed must actually deliver re-deliveries (if the replay
    branch silently went empty, the idempotence claim would be
    vacuous): delivered rows > distinct change ids."""
    from pyspark.sql import functions as F

    from task_hive_spark.streaming import cdcmerge

    feed = str(tmp_path)
    cdcmerge.change_feed(spark, SF_DIR, feed, 4)
    d = spark.read.schema(cdcmerge._CHANGE_SCHEMA).parquet(os.path.join(feed, "*"))
    n_rows = d.count()
    n_ids = d.select("id").distinct().count()
    assert n_rows > n_ids > 0, (n_rows, n_ids)


def test_streaming_merge_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: run the merge stream over the
    first half of the feed, stop, let the remaining chunks arrive, and
    run a SECOND stream against the SAME checkpoint. The resumed stream
    must skip the already-processed files (no double-apply) and the
    converged table must still equal the one-shot batch merge."""
    import shutil

    from task_hive_spark.operators.queries import th_snapshot_merge
    from task_hive_spark.streaming import cdcmerge

    work = str(tmp_path)
    feed = os.path.join(work, "feed")
    staged = os.path.join(work, "staged")
    cdcmerge.change_feed(spark, SF_DIR, staged, 4)
    chunks = sorted(os.listdir(staged))
    assert len(chunks) == 4
    os.makedirs(feed)
    for c in chunks[:2]:
        shutil.copy2(os.path.join(staged, c), os.path.join(feed, c))

    cdcmerge.run_stream(spark, SF_DIR, work, feed)  # seeds, then the first half only
    for c in chunks[2:]:
        shutil.copy2(os.path.join(staged, c), os.path.join(feed, c))
    # resume: same checkpoint and snapshot, must not re-apply chunks 0-1
    state = cdcmerge.run_stream(spark, SF_DIR, work, feed)

    got = _profile_rows(spark, state)
    batch = [tuple(r) for r in th_snapshot_merge(spark, SF_DIR).collect()]
    assert got == batch
