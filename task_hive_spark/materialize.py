"""Session-scoped memos: materialized indexes and every other
build-once-per-session artifact.

Dedup/similarity pipelines share expensive derived tables: the MinHash
signature matrix, the SimHash signature column, the LSH band buckets.
Each is O(|docs|) fixed-width rows — an *index*, not a data expansion —
so persisting it is scale-safe (a production pipeline materializes
signatures once, then runs every consumer against them; reference
behavior recomputes per query only because it streams one query at a
time).

Those indexes are one case of a wider pattern: built once per
(session, key) and reused by every later consumer — on-disk serve
indexes, converged stream runs, catalog tables, trained vocabularies.
All of them live in ONE registry, ``session_memo``, keyed by
(applicationId, *key). Keys carry the sf_dir, so a new session or a
different dataset rebuilds instead of serving stale state, and one
registry gives every entry the same two lifecycle paths: dead-session
eviction and ``clear_indexes`` teardown. A memo that writes files
(converged stream runs, ingests, serve indexes, catalog rewrites) is
built by ``memoized_run`` in a fresh directory under ``_scratch_root()``
and that directory is deleted when the entry is dropped, at the latest
when the process exits.

The gram/shingle EXPLOSION is deliberately never cached: at corpus
scale it is a multi-PB intermediate and recomputing it per consumer is
cheaper than spilling it to storage.

Versioned state (the task table, stream and sketch states, sink logs)
has one commit protocol, ``commit_version``, standing in for the
reference's etcd writes, which are visible whole or not at all:

- version N lives in ``root/{prefix}N`` and is committed iff
  ``_SUCCESS`` sits at its root, written after everything else;
- a commit first clears a leftover ``root/{prefix}N``, so a replayed
  micro-batch rewrites its version (stream sinks use N = batchId);
- a ``write`` that makes several sub-writes commits them as one version;
- readers take committed versions only (``committed_versions``): the
  highest, or all below a batch id — the prior a replay of it reads;
- retention is the only choice a caller makes: a snapshot keeps its
  newest ``SNAPSHOT`` committed versions (a frame handed out just
  before a commit stays readable one more round), a log keeps all;
- a snapshot starts from its highest committed version, or from a
  seed committed as version 0 when it has none (``resume_or_seed``).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# (applicationId, *key) → (value, release). Guarded by _LOCK for
# insert/evict (the benchmark builds a stream feed on a second thread);
# builds run outside the lock so they may nest.
_MEMO: dict[tuple, tuple[object, Callable[[object], None]]] = {}
_LOCK = threading.Lock()


def _checkpoint_plan(df: DataFrame):
    """The LogicalRDD leaf a localCheckpoint'ed frame analyzes to, else
    None."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return plan if plan.getClass().getSimpleName() == "LogicalRDD" else None
    except Exception:
        return None  # session stopped / non-JVM frame


def _release_checkpoint(df: DataFrame) -> None:
    """Explicitly free a localCheckpoint's RDD blocks. ``df.unpersist()``
    clears only the CacheManager layer; a checkpoint RDD underneath
    (plan = LogicalRDD) is otherwise released by the ContextCleaner only
    after the Python reference is GC'd — so a dropped-and-rebuilt index
    (bench.py re-times builders this way) would transiently hold two
    copies of its checkpoint storage. Unpersisting a never-persisted RDD
    is a no-op, so probing every dropped frame is safe."""
    plan = _checkpoint_plan(df)
    if plan is not None:
        try:
            plan.rdd().unpersist(False)
        except Exception:
            pass  # session stopped — nothing to release


def _frames(val: object) -> list[DataFrame]:
    items = val if isinstance(val, (list, tuple)) else (val,)
    return [item for item in items if isinstance(item, DataFrame)]


def _unpersist_value(val: object) -> None:
    """The default release: unpersist every DataFrame in ``val`` (a
    frame, or a list/tuple holding some) and free its checkpoint
    blocks. Other values (paths, dicts) hold nothing to release."""
    for item in _frames(val):
        try:
            item.unpersist()
        except Exception:
            pass  # session already stopped — nothing to unpersist
        _release_checkpoint(item)


def _release(entry: tuple[object, Callable[[object], None]]) -> None:
    val, release = entry
    try:
        release(val)
    except Exception:
        pass  # a stopped session's resources are already gone


def warn_local_checkpoint(spark: SparkSession, what: str, value: object = None) -> None:
    """Warn when a localCheckpoint would run under dynamic allocation.
    A checkpoint trades lineage for a LogicalRDD leaf; with
    ``spark.dynamicAllocation.enabled`` executors are reclaimed
    routinely and the blocks die with them — a failed query (rebuild in
    a fresh session), not a recompute. local[*] and static-executor
    deployments are unaffected. This is a Python warning, so the
    default filters show it once per call site. ``value``: warn only
    if it holds a checkpointed frame."""
    if spark.conf.get("spark.dynamicAllocation.enabled", "false") != "true":
        return
    if value is not None and all(_checkpoint_plan(f) is None for f in _frames(value)):
        return
    import warnings

    warnings.warn(
        f"{what}: localCheckpoint under dynamic allocation — its blocks "
        "die with reclaimed executors; prefer persist for this deployment",
        stacklevel=3,
    )


def _evict_dead_sessions() -> None:
    """Release and drop entries whose SparkContext is gone — a stopped
    session's applicationId would otherwise pin dead DataFrame
    references for the life of the process (long-lived drivers cycling
    sessions leak)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    live = sc.applicationId if sc is not None else None
    with _LOCK:
        dead = [_MEMO.pop(k) for k in list(_MEMO) if k[0] != live]
    for entry in dead:
        _release(entry)


def session_memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], T],
    release: Callable[[T], None] | None = None,
) -> T:
    """Return the value memoized for (applicationId, *key), calling
    ``build()`` on first use. ``release(value)`` runs when the entry is
    dropped (``clear_indexes``, ``drop_memo``, dead-session eviction);
    the default unpersists any DataFrame the value holds. By convention
    ``key`` is (kind, sf_dir, ...) so a pass over another directory
    never hits this one's memo."""
    _evict_dead_sessions()
    k = (spark.sparkContext.applicationId, *key)
    entry = _MEMO.get(k)
    if entry is None:
        val = build()
        warn_local_checkpoint(spark, f"session memo {key!r}", val)
        new = (val, release or _unpersist_value)
        with _LOCK:
            entry = _MEMO.setdefault(k, new)
        if entry is not new:  # a concurrent build won — keep one copy
            _release(new)
    return entry[0]


def clear_indexes(spark: SparkSession | None = None) -> None:
    """Release and forget session memos — all of them, or only the
    given session's. Call from session teardown (tests do) or when a
    long-lived session is done with one sf_dir and moving to another."""
    app = spark.sparkContext.applicationId if spark is not None else None
    with _LOCK:
        gone = [_MEMO.pop(k) for k in list(_MEMO) if app is None or k[0] == app]
    for entry in gone:
        _release(entry)


def drop_memo(spark: SparkSession, key: tuple) -> None:
    """Release and forget ONE memo so the next consumer rebuilds it —
    bench.py uses this to keep a benched builder query an honest
    measurement when its output is also shared session state."""
    with _LOCK:
        entry = _MEMO.pop((spark.sparkContext.applicationId, *key), None)
    if entry is not None:
        _release(entry)


def memoized_run(spark: SparkSession, key: tuple, run: Callable[[str], T]) -> T:
    """``run(work)`` once per session and ``key`` ((kind, sf_dir, ...),
    the session_memo convention); ``work`` is a fresh directory under
    the scratch root, named after the kind. Dropping the entry
    (``clear_indexes``, ``drop_memo``, dead-session eviction, or the
    ``clear_indexes`` registered to run at interpreter exit) unpersists
    the value and deletes ``work``."""
    work: list[str] = []

    def build() -> T:
        # a process that exits without teardown (a script, a bench run)
        # still deletes every memo directory it made; unregister first
        # so the hook is registered once
        atexit.unregister(clear_indexes)
        atexit.register(clear_indexes)
        work.append(tempfile.mkdtemp(prefix=f"{key[0]}_", dir=_scratch_root()))
        return run(work[0])

    def release(value: T) -> None:
        _unpersist_value(value)
        for d in work:
            shutil.rmtree(d, ignore_errors=True)

    return session_memo(spark, key, build, release)


_SCRATCH_SWEPT = False
_SCRATCH_TTL_S = 48 * 3600  # stale feed/state dirs from dead sessions;
# generous vs any live session's age (a round is ~6h) because mtimes are
# stamped at creation, not on use — a sweep must never race a running
# stream's feed or checkpoint


def _scratch_root() -> str:
    global _SCRATCH_SWEPT
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")
    os.makedirs(root, exist_ok=True)
    if not _SCRATCH_SWEPT:
        # one sweep per process: scratch dirs outlive the session that
        # made them (each verify/pytest run leaves feeds, checkpoints,
        # state swaps), accumulating hundreds of MB across rounds. Any
        # entry untouched for _SCRATCH_TTL_S belongs to a long-dead
        # session — a live one re-stamps nothing older than its own run.
        _SCRATCH_SWEPT = True
        now = time.time()
        for name in os.listdir(root):
            p = os.path.join(root, name)
            try:
                if now - os.path.getmtime(p) > _SCRATCH_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # concurrent sweep/removal — someone else got it
    return root


def session_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    checkpoint: bool = False,
) -> DataFrame:
    """The per-session materialized index `name` for `sf_dir` (memo key
    ("index", sf_dir, name)), built and persisted on first use
    (MEMORY_AND_DISK, so an oversized index spills instead of evicting
    or OOMing).

    The cache is materialized EAGERLY (one count() job at build): an
    unmaterialized persist under AQE reports UnknownPartitioning
    (isFinalPlan=false), so the first consumer's plan would re-shuffle
    data the index already hash-partitioned; after materialization every
    consumer plan sees the final hashpartitioning and aggregates
    exchange-free on top of it.

    ``checkpoint=True`` materializes via ``localCheckpoint(eager)``
    instead of persist: the frame becomes a LogicalRDD LEAF, so
    consumers reference the stored blocks directly rather than through
    CacheManager plan-matching. This trades lineage recovery for the
    leaf — on executor loss the index is gone for good (rebuild in a
    fresh session), and under dynamic allocation localCheckpoint is
    unsafe because executors are reclaimed routinely; a deployment
    enabling dynamic allocation must keep such indexes on the persist
    path (``warn_local_checkpoint`` warns when it does not). Use it for
    indexes consumed under a Union: Spark 4.1's cache lookup silently
    misses when the SAME cached plan (built here via multi-branch SQL
    unions + keyed repartition) appears in several Union branches —
    measured on txt_clean_corpus_stats as 866 parquet re-scans / 14.5 s
    for a query whose branches each run sub-second against the index
    (the union-of-aggregates replanned every stage pipeline from the raw
    parquet). Storage class is the same MEMORY_AND_DISK family."""

    def materialize() -> DataFrame:
        if checkpoint:
            return build().localCheckpoint(eager=True)
        df = build().persist()
        df.count()
        return df

    return session_memo(spark, ("index", sf_dir, name), materialize)


SNAPSHOT = 2  # committed versions a snapshot root keeps
LOG = None  # a log root keeps every version


def _versions(root: str, prefix: str) -> list[tuple[int, str, bool]]:
    """(N, dir, committed) for every directory ``root/{prefix}N``,
    ascending in N."""
    names = os.listdir(root) if os.path.isdir(root) else []
    ns = sorted(
        int(d[len(prefix):]) for d in names if d.startswith(prefix) and d[len(prefix):].isdigit()
    )
    dirs = [os.path.join(root, f"{prefix}{n}") for n in ns]
    return [(n, d, os.path.exists(os.path.join(d, "_SUCCESS"))) for n, d in zip(ns, dirs)]


def committed_versions(root: str, prefix: str, below: int | None = None) -> list[str]:
    """The committed version dirs ``root/{prefix}N``, oldest first; with
    ``below``, only those with N < below (the prior a replay of batch
    ``below`` reads)."""
    return [d for n, d, done in _versions(root, prefix) if done and (below is None or n < below)]


def latest_committed_version(root: str, prefix: str) -> int | None:
    """Highest N such that ``root/{prefix}N`` is committed, or None."""
    return max((n for n, _, done in _versions(root, prefix) if done), default=None)


def commit_version(
    root: str, prefix: str, n: int, write: Callable[[str], object], keep: int | None
) -> str:
    """Commit version ``n`` of the state under ``root`` (the protocol in
    the module docstring) and return its directory: clear a leftover
    ``root/{prefix}n``, let ``write(path)`` make everything in it, then
    write the ``_SUCCESS`` marker. ``keep`` is ``SNAPSHOT`` or ``LOG``."""
    path = os.path.join(root, f"{prefix}{n}")
    shutil.rmtree(path, ignore_errors=True)
    write(path)
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    if keep is not None:
        every = _versions(root, prefix)
        oldest_kept = [m for m, _, done in every if done][-keep:][0]
        for m, d, _ in every:
            if m < oldest_kept:
                shutil.rmtree(d, ignore_errors=True)
    return path


def resume_or_seed(root: str, prefix: str, write: Callable[[str], object]) -> int:
    """The version a snapshot under ``root`` starts from: the highest
    committed one (a restarted process resumes it; a version whose
    write was cut short is not one), else version 0, committed here by
    ``write(path)``."""
    n = latest_committed_version(root, prefix)
    if n is None:
        commit_version(root, prefix, 0, write, SNAPSHOT)
        n = 0
    return n
