"""The commit protocol for versioned state (materialize.commit_version):
a version is committed iff ``_SUCCESS`` sits at its root, written last;
a replay rewrites its version from scratch; readers see committed
versions only. The first tests drive the helper with plain-Python
writes, the rest drive the stream folds that use it."""

from __future__ import annotations

import os

import pytest

from task_hive_spark.materialize import (
    LOG,
    SNAPSHOT,
    commit_version,
    committed_versions,
    latest_committed_version,
)


def _write_lines(*lines: str):
    def write(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "rows.txt"), "w") as f:
            f.write("\n".join(lines))

    return write


def _rows(path: str) -> list[str]:
    with open(os.path.join(path, "rows.txt")) as f:
        return f.read().split("\n")


def test_commit_marks_the_version_last(tmp_path):
    root = str(tmp_path)
    seen = []

    def write(path: str) -> None:
        _write_lines("a")(path)
        # inside write, the version is not committed yet
        seen.append(committed_versions(root, "v"))

    path = commit_version(root, "v", 0, write, LOG)
    assert seen == [[]]
    assert path == os.path.join(root, "v0")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert committed_versions(root, "v") == [path]
    assert latest_committed_version(root, "v") == 0


def test_replay_rewrites_the_version_from_scratch(tmp_path):
    root = str(tmp_path)
    commit_version(root, "batch=", 3, _write_lines("a", "b"), LOG)
    with open(os.path.join(root, "batch=3", "stray.txt"), "w") as f:
        f.write("left by the first attempt")
    path = commit_version(root, "batch=", 3, _write_lines("a", "b"), LOG)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "rows.txt"]
    assert _rows(path) == ["a", "b"]


def test_a_write_that_raises_commits_nothing(tmp_path):
    root = str(tmp_path)
    first = commit_version(root, "state_v", 0, _write_lines("old"), SNAPSHOT)

    def broken(path: str) -> None:
        _write_lines("tasks only")(os.path.join(path, "tasks"))
        raise RuntimeError("second sub-write failed")

    with pytest.raises(RuntimeError):
        commit_version(root, "state_v", 1, broken, SNAPSHOT)
    assert os.path.isdir(os.path.join(root, "state_v1", "tasks"))
    assert committed_versions(root, "state_v") == [first]
    assert latest_committed_version(root, "state_v") == 0
    assert _rows(committed_versions(root, "state_v")[-1]) == ["old"]


def test_snapshot_keeps_two_and_log_keeps_all(tmp_path):
    snap, log = str(tmp_path / "snap"), str(tmp_path / "log")
    for n in range(5):
        commit_version(snap, "v", n, _write_lines(str(n)), SNAPSHOT)
        commit_version(log, "batch=", n, _write_lines(str(n)), LOG)
    assert sorted(os.listdir(snap)) == ["v3", "v4"]
    assert len(committed_versions(log, "batch=")) == 5
    # the replay-safe prior of batch 3 is everything committed below it
    assert [os.path.basename(p) for p in committed_versions(log, "batch=", below=3)] == [
        "batch=0",
        "batch=1",
        "batch=2",
    ]


def test_partial_sketch_version_is_never_read(spark, sf_dir, tmp_path):
    """A crash mid-write of batch N+1 leaves only the committer's
    staging dir; the sketch state read afterwards (and the prior a
    resumed fold merges into) is state N."""
    from task_hive_spark.streaming.sketchstream import latest_state, run_once

    root = run_once(spark, sf_dir, str(tmp_path / "hll"), 2)
    want = sorted(latest_state(spark, root).collect())
    os.makedirs(os.path.join(root, "batch=2", "_temporary", "0"))
    assert sorted(latest_state(spark, root).collect()) == want


def test_append_to_replay_keeps_rows_once(spark, tmp_path):
    """foreachBatch may re-run a batch whose sink write landed but
    whose checkpoint commit did not; the replay must not add its rows
    again."""
    from task_hive_spark.streaming.feed import append_to

    out = str(tmp_path / "log")
    fold = append_to(out)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    fold(df, 0)
    fold(df, 0)
    got = sorted(tuple(r) for r in spark.read.parquet(out).select("k", "v").collect())
    assert got == [("a", 1), ("b", 2)]


def test_lifecycle_never_commits_tasks_without_workers(spark, sf_dir, tmp_path, monkeypatch):
    """Tasks and workers of one batch are one version: when the workers
    write fails after the tasks write landed, no version holding only
    the tasks is committed and the readers keep the seed pair."""
    from task_hive_spark.streaming import lifecycle

    class FailingWrite:
        @property
        def write(self):
            raise RuntimeError("workers write failed")

    monkeypatch.setattr(lifecycle, "_apply_worker_events", lambda state, ev: FailingWrite())
    work = str(tmp_path / "lc")
    with pytest.raises(Exception):
        lifecycle.run_lifecycle(spark, sf_dir, work, n_chunks=2)
    state = os.path.join(work, "state")
    assert latest_committed_version(state, "state_v") == 0
    assert os.path.isdir(os.path.join(state, "state_v1", "tasks"))
    (seed,) = committed_versions(state, "state_v")
    assert sorted(os.listdir(seed)) == ["_SUCCESS", "tasks", "workers"]
