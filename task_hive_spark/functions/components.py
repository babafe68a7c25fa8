"""Connected components over a pair graph — the dedup endgame's shared
primitive (a pipeline keeps one document per connected component, not
per near-dup pair). Two execution paths behind one contract:

* graphs at or under CC_LOCAL_EDGE_LIMIT edges (every fixture graph,
  and any real near-dup graph whose flagged-pair set is small) solve
  by a driver-local union-find — one bounded collect, exact, instant;
* larger graphs run the distributed min-label propagation with
  pointer jumping described below — the 100 TB path.

In the distributed loop every node starts labeled with itself; each round (1) a node takes the
min label among itself and its neighbors (one edge join + one
aggregation), then (2) jumps through its label's own label (one
label-to-label self-join — path compression). Step 1 alone advances
one hop per round (rounds = diameter: a chain of k near-identical docs
takes k rounds — dd_semdedup hit exactly that on a 500-vector fixture);
step 2 doubles the compressed distance each round, so convergence is
O(log diameter) — max_rounds=16 covers diameter ~2^16 — the standard
Pregel-style CC acceleration (cf. Kiveris et al. 2014's two-phase
star contractions, public literature). Converged when no label
changes; the driver only checks a 1-row convergence count per round,
and lineage is truncated per round with localCheckpoint so plans stay
O(1) in the round count.

Used by dd_duplicate_clusters (simhash near-pair graph, dedup.py) and
dd_semdedup (within-cell cosine graph, similarity.py) — one fixpoint
definition so the two families cannot drift in tie-breaking or
convergence semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from task_hive_spark.functions.rows import rows_frame

# Edge count under which the component computation collapses to a
# driver-local union-find: the near-dup graph is usually a small
# fraction of the corpus (only flagged pairs), and the distributed
# fixpoint pays ~10 fixed job barriers per ROUND regardless of size
# (measured 12.4s for a 1,902-edge graph at sf0.1 — all scheduling, no
# data). Same bounded-side reasoning as a broadcast join; both paths
# return identical (node, min-id component) labelings — pinned by
# tests/test_components.py. 200k edges keeps the collected Row list
# and the parent dict in the tens of MB (pyspark Rows are ~100+ bytes,
# not 16 — review finding r7); a graph just over the limit pays one
# bounded (limit+1)-row scan before falling through to the loop.
CC_LOCAL_EDGE_LIMIT = 200_000


def _local_components(spark, rows, src_type) -> DataFrame:
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    out = [(n, comp_min[find(n)]) for n in parent]
    t = src_type.simpleString()
    return rows_frame(spark, out, f"node {t} not null, component {t} not null")


def min_label_components(
    pairs: DataFrame,
    max_rounds: int = 16,
    local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Components of the undirected graph given as one-directional
    ``pairs`` (first column = one endpoint, second = the other; any
    names). Returns (node, component) for every node with ≥1 edge,
    where component = the min node id in its connected component.

    Graphs at or under ``local_edge_limit`` edges are solved by a
    driver-local union-find (see CC_LOCAL_EDGE_LIMIT); larger ones run
    the distributed min-label propagation with pointer jumping. Raises
    if the propagation has not converged in ``max_rounds``:
    partially-converged labels diverge from an oracle's full transitive
    closure, so failing loudly beats returning them (chained near-dup
    paths can exceed any fixed round bound)."""
    a, b = pairs.columns[0], pairs.columns[1]
    p = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    if local_edge_limit > 0:
        # persist before the probe: limit(n+1).collect() executes the
        # full upstream pair plan (LSH candidate joins can be the round's
        # most expensive stage), and on the large-graph path the
        # distributed loop below would otherwise recompute it from
        # lineage — paying the pair join twice
        p = p.persist()
        # limit+1 bounds the driver transfer even when the graph is huge.
        # (Probed r13-opt: count()-then-collect() is NOT better — the
        # count pays one job per AQE stage of the pair plan, 5 jobs vs
        # this probe's 3; the incremental CollectLimit scale-up sits
        # within 0.03 s of an unbounded bare collect on the fixture.)
        head = p.limit(local_edge_limit + 1).collect()
        if len(head) <= local_edge_limit:
            spark = pairs.sparkSession
            p.unpersist()
            return _local_components(
                spark, [(r["src"], r["dst"]) for r in head], p.schema["src"].dataType
            )
    # LARGE-GRAPH PATH. Swap the probe cache for a checkpoint LEAF
    # before the union: Spark 4.1's CacheManager can miss a persisted
    # plan referenced under a Union (measured on the pipeline stats
    # query — see materialize.session_index), which would re-execute
    # the full pair plan once per union branch, exactly the double-pay
    # the persist above was documented to prevent. A LogicalRDD leaf is
    # immune to cache-lookup misses; the checkpoint reads the partitions
    # the probe already computed.
    ck = p.localCheckpoint(eager=True)
    if local_edge_limit > 0:
        p.unpersist()  # the checkpoint is materialized; the cache is done
    p = ck
    # undirected edges, both directions
    edges = p.union(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_rounds):  # log-diameter bound; convergence checked each round
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(edges.src)
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
        # pointer jump: a label is itself a node, so follow it one more
        # hop through the label table (lbl := lbl's lbl) — the min is
        # monotone, so jumping never overshoots the component min
        lbl_of = stepped.select(
            F.col("node").alias("lnode"), F.col("lbl").alias("llbl")
        )
        new_labels = (
            stepped.join(lbl_of, stepped.lbl == lbl_of.lnode, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("llbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_rounds} rounds "
            f"({changed} labels still changing); component diameter exceeds "
            f"the bound — raise max_rounds for this graph"
        )
    return labels.select("node", F.col("lbl").alias("component"))
