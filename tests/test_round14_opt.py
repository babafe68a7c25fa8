"""Round-14 OPTIMIZATION plan-shape and guard pins.

Same discipline as tests/test_round13_opt.py: each r14 optimization
restructured an operator's internals while keeping its answer
oracle-hash-identical; these tests pin the structural property (or the
safety guard) each one bought. Value equality stays covered by the
oracle gate."""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    """Analyzed + physical plan text of an UNEXECUTED frame."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )


def test_bpe_over_budget_vocab_takes_distributed_path(spark, sf_dir, monkeypatch):
    """r13 verdict item 8: when the driver-heap budget cannot hold the
    vocabulary, the trainer must fall through to the distributed
    loop (never the local collect). Forced here by shrinking the
    budgeted limit to 1 row; the local trainer is poisoned so any
    dispatch regression fails loudly. Result parity between the two
    paths is pinned by test_bpe_local_and_distributed_trainers_agree."""
    from task_hive_spark.materialize import _unpersist_value
    from task_hive_spark.operators import textops as T

    monkeypatch.setattr(T, "_bpe_local_limit", lambda _spark: 1)

    def _boom(_rows):
        raise AssertionError("local trainer ran despite an over-budget vocab")

    monkeypatch.setattr(T, "_learn_merges_local", _boom)
    # the unmemoized trainer, so the session's BPE memo is untouched
    merges, v = T._train_bpe(spark, sf_dir)
    try:
        assert merges and merges[0][0] == 1  # distributed path produced merges
        assert v.count() > 1
    finally:
        _unpersist_value(v)


class _DriverMemSession:
    """A session stand-in whose conf holds only spark.driver.memory
    (``None``: unset, so conf.get raises like Spark's)."""

    def __init__(self, mem):
        self.conf = self
        self._mem = mem

    def get(self, _key):
        if self._mem is None:
            raise Exception("unset")
        return self._mem


def test_bpe_local_limit_tracks_driver_memory():
    """The budgeted limit parses spark.driver.memory units and caps at
    BPE_LOCAL_VOCAB_LIMIT."""
    from task_hive_spark.operators import textops as T

    _Stub = _DriverMemSession
    budget = T._BPE_DRIVER_HEADROOM / T._BPE_ROW_EST_BYTES
    assert T._bpe_local_limit(_Stub("64g")) == T.BPE_LOCAL_VOCAB_LIMIT
    assert T._bpe_local_limit(_Stub("1g")) == int(1024**3 * budget)
    assert T._bpe_local_limit(_Stub("256m")) == int(256 * 1024**2 * budget)
    assert T._bpe_local_limit(_Stub(None)) == int(1024**3 * budget)  # unset → 1g default
    assert T._bpe_local_limit(_Stub("garbage")) == int(1024**3 * budget)
    assert T._bpe_local_limit(_Stub("0")) == 1  # floor


@pytest.mark.parametrize(
    "mem, heap",
    [
        ("4096", 4096 * 1024**2),  # a bare number is MiB, as Spark reads it
        ("512", 512 * 1024**2),
        ("16gb", 16 * 1024**3),  # a unit letter may carry a trailing b
        ("512mb", 512 * 1024**2),
        ("512MB", 512 * 1024**2),
        ("2048kb", 2048 * 1024),
        ("1073741824b", 1024**3),  # a lone b is bytes
    ],
)
def test_bpe_local_limit_parses_spark_byte_strings(mem, heap):
    """spark.driver.memory is a Spark byte string: before the fix a bare
    number was read as bytes and a two-letter suffix fell back to the
    1g default, silently shrinking the local-trainer budget."""
    from task_hive_spark.operators import textops as T

    want = int(heap * T._BPE_DRIVER_HEADROOM) // T._BPE_ROW_EST_BYTES
    assert T._bpe_local_limit(_DriverMemSession(mem)) == max(
        1, min(T.BPE_LOCAL_VOCAB_LIMIT, want)
    )


def test_ann_pruned_serve_routing_is_a_values_literal(spark, sf_dir):
    """r14 serve shape: the routed probe_cells side of the ADC join is
    a local relation (VALUES literal — not the r13 extra checkpoint),
    and the fused candidate+code join scans the kept cellcodes files
    exactly ONCE (the r13 shape scanned them twice: a .distinct()
    assignment projection plus the code fetch). The checkpointed index
    constants (probes/centroids/codebook) legitimately remain RDD
    scans."""
    from task_hive_spark.operators.similarity import sim_topk_pq_served_pruned

    df = sim_topk_pq_served_pruned(spark, sf_dir)
    plan = _plan(df)
    assert "LocalRelation" in plan, plan  # the VALUES routing side
    formatted = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    n_cc_scans = formatted.count("cellcodes/part-")
    assert n_cc_scans == 1, f"{n_cc_scans} cellcodes scans (want the fused single scan)"


def test_dedup_pruned_serve_sigs_are_a_values_literal(spark, sf_dir):
    """r14 serve shape: the probe signatures re-enter the pruned dedup
    serve as a VALUES literal (its two broadcast builds are local), and
    the plan still reads index artifacts only."""
    from task_hive_spark.operators.dedup import _dedup_index_clustered, dd_dedup_served_pruned

    df = dd_dedup_served_pruned(spark, sf_dir)
    plan = _plan(df)
    assert "Scan ExistingRDD" not in plan
    assert "LocalRelation" in plan or "LocalTableScan" in plan, plan
    idx, _stats = _dedup_index_clustered(spark, sf_dir)
    assert all(idx in f for f in df.inputFiles()), df.inputFiles()


def test_no_fat_parquet_subtrees_under_unions(spark, sf_dir):
    """r13 verdict item 5 — the union-over-persisted-plan rule as a
    tripwire. Spark 4.1's CacheManager can MISS a persisted plan
    referenced under a Union, silently re-planning the index build from
    raw parquet once per branch (txt_clean_corpus_stats regressed to
    866 scans this way in r13); the rule is that any session index
    consumed under a Union must use checkpoint=True (a LogicalRDD leaf
    is immune to cache-plan matching). This walks the cache-substituted
    plan of every non-streaming registered query and bounds the parquet
    relations under any single Union: the legitimate maximum today is 6
    (th_assign_strategies / rel_set_ops / dd_split_leakage — unions of
    genuinely different scans), while the miss pattern explodes to
    hundreds. Deliberately reverting _pipe_corpus's checkpoint=True
    makes this fail on txt_clean_corpus_stats (measured: that single
    reverted flag already re-plans 9 parquet relations under the stats
    union at sf0.001; reverting all four pipe indexes re-plans
    hundreds)."""
    import __spark_entry__ as em

    cap = 7  # legitimate maximum today is 6; one reverted flag shows 9

    def children(n):
        ch = n.children()
        return [ch.apply(i) for i in range(ch.size())]

    def count_parquet(root):
        c, stack = 0, [root]
        while stack:
            x = stack.pop()
            if (
                x.getClass().getSimpleName() == "LogicalRelation"
                and "parquet" in x.simpleString(120).lower()
            ):
                c += 1
            stack.extend(children(x))
        return c

    def max_under_union(df):
        best, stack = 0, [df._jdf.queryExecution().withCachedData()]
        while stack:
            n = stack.pop()
            if n.getClass().getSimpleName() == "Union":
                best = max(best, count_parquet(n))
            stack.extend(children(n))
        return best

    offenders = {}
    for name, fn in em.queries().items():
        if name.startswith("st_"):  # drain-backed; their plans read state parquet
            continue
        n = max_under_union(fn(spark, sf_dir))
        if n > cap:
            offenders[name] = n
    assert not offenders, (
        "parquet-relation blowup under a Union — a persisted session "
        f"index is likely being consumed under a Union without "
        f"checkpoint=True (see materialize.session_index): {offenders}"
    )


# Session markers keyed by the session OBJECT, not by applicationId:
# temp views and table scans belong to one SparkSession (a sibling
# newSession() shares the applicationId but not them), so they cannot
# live in the applicationId-keyed materialize registry.
_SESSION_OBJECT_MARKERS = {
    ("task_hive_spark/sources/fixtures.py", "_TABLES"),
    ("task_hive_spark/sources/fixtures.py", "_REGISTERED"),
    ("task_hive_spark/operators/taskmodel.py", "_TASK_VIEWS_REGISTERED"),
}
# Process-wide plugin registries filled by register_* calls — keyed by
# task type, never by session, so nothing in them is session state.
_PLUGIN_REGISTRIES = {
    ("task_hive_spark/operators/processors.py", "TASK_PROCESSORS"),
    ("task_hive_spark/operators/processors.py", "TASK_GENERATORS"),
}


def test_no_module_level_memo_outside_materialize():
    """Build-once-per-session state has ONE owner, materialize's
    session_memo registry, which dead-session eviction and
    clear_indexes both cover. A module-level dict or set that starts
    empty is a memo filled at run time; any new one outside
    materialize.py would be skipped by both lifecycle paths. Constant
    tables (QUERIES, ORACLES, codebooks) start non-empty and are not
    flagged."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    empty_ctors = {
        "dict", "set", "defaultdict", "OrderedDict",
        "WeakKeyDictionary", "WeakValueDictionary", "WeakSet",
    }

    def starts_empty(v) -> bool:
        if isinstance(v, ast.Dict):
            return not v.keys
        if isinstance(v, ast.Call) and not v.args and not v.keywords:
            f = v.func
            return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")) in empty_ctors
        return False

    found = set()
    for dirpath, _dirs, files in os.walk(os.path.join(root, "task_hive_spark")):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            if rel == os.path.join("task_hive_spark", "materialize.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign) and node.value is not None:
                    targets, value = [node.target], node.value
                else:
                    continue
                if starts_empty(value):
                    found |= {(rel, t.id) for t in targets if isinstance(t, ast.Name)}
    offenders = found - _SESSION_OBJECT_MARKERS - _PLUGIN_REGISTRIES
    assert not offenders, (
        "module-level memo outside materialize.py — use "
        f"materialize.session_memo instead: {sorted(offenders)}"
    )
    # the allow-list stays honest: every entry still exists
    assert _SESSION_OBJECT_MARKERS | _PLUGIN_REGISTRIES <= found
