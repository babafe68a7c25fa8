"""Connected-components primitive (functions/components.py): the
driver-local union-find fast path and the distributed min-label
propagation must produce IDENTICAL (node, min-id component) labelings —
the fast path is a bounded-size shortcut, not a semantic variant."""

from __future__ import annotations

import random

from task_hive_spark.functions.components import (
    CC_LOCAL_EDGE_LIMIT,
    min_label_components,
)


def _run_both(spark, edges):
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    local = {
        (r["node"], r["component"])
        for r in min_label_components(df).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in min_label_components(df, local_edge_limit=0).collect()
    }
    return local, dist


def test_local_and_distributed_agree_on_random_graphs(spark):
    rng = random.Random(20260815)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n) + 10**9, rng.randrange(n) + 10**9)
            for _ in range(150 + 50 * trial)
        ]
        local, dist = _run_both(spark, edges)
        assert local == dist and local


def test_chain_and_star_shapes(spark):
    # a long chain (worst diameter) + a star + an isolated pair
    chain = [(i, i + 1) for i in range(100, 140)]
    star = [(500, x) for x in range(501, 520)]
    edges = chain + star + [(900, 901)]
    local, dist = _run_both(spark, edges)
    assert local == dist
    comp = dict(local)
    assert comp[139] == 100 and comp[519] == 500 and comp[901] == 900


def test_limit_constant_is_sane():
    assert CC_LOCAL_EDGE_LIMIT >= 100_000


def test_labeling_literal_is_capped_by_rendered_bytes(spark):
    """Full-range 19-digit BIGINT ids render ~47 B of VALUES text per
    label, so LITERAL_MAX_BYTES / 32 labels (far under any row cap sized
    for small ids) would be a ~1.5x-cap statement: over the byte budget
    the labeling takes the checkpoint path (LogicalRDD leaf), not the
    literal (LocalRelation), with the same answer; small ids keep the
    literal."""
    from task_hive_spark.functions.rows import LITERAL_MAX_BYTES

    base = 9_000_000_000_000_000_000
    edges = [(base + 2 * i, base + 2 * i + 1) for i in range(LITERAL_MAX_BYTES // 64)]
    comps = min_label_components(spark.createDataFrame(edges, "a bigint, b bigint"))
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "LocalRelation" not in plan
    got = {(r["node"], r["component"]) for r in comps.collect()}
    assert got == {(n, a) for a, b in edges for n in (a, b)}

    small = [(2 * i, 2 * i + 1) for i in range(5_000)]
    comps = min_label_components(spark.createDataFrame(small, "a bigint, b bigint"))
    assert "LocalRelation" in comps._jdf.queryExecution().optimizedPlan().toString()
