"""Graph centrality over the document corpus.

A production curation pipeline weights web documents by link-graph
centrality (PageRank/harmonic centrality over the host graph is a
standard quality prior for crawl data). The fixture corpus has no link
column, so the out-link set is DERIVED deterministically from doc_id
with affine maps — the same shared-derivation trick the ingest
connectors and the CDC change batch use: the Spark build and the DuckDB
oracle construct the identical graph, so the hash gate checks the
ITERATIVE COMPUTATION, not the fixture.

Scale shape (the standard Pregel-on-DataFrame layout):
- the edge list is built once, hash-partitioned on src, and persisted —
  every iteration reuses that partitioning for the rank⋈edge join;
- one iteration = one src-join + one dst-aggregation (two narrow
  shuffles of |E| rows), d·Σ contrib folded map-side;
- lineage is truncated per iteration with localCheckpoint (the
  dd_duplicate_clusters pattern) so plan size stays O(1) in iterations;
- nothing rank-shaped ever reaches the driver; the only driver scalar
  is N (an index-build-time constant, like the IVF centroid count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.sources.fixtures import load_table

PR_D = 0.85  # damping
PR_ITERS = 5
# Three affine out-links per doc: dst_k = (doc_id·a + b) mod N, with a
# self-loop bumped to the next node. Out-degree is exactly 3 for every
# node (parallel edges allowed), so there are no dangling nodes and the
# per-edge weight is rank/3.
PR_LINKS = [(7, 1), (13, 5), (31, 11)]
PR_OUT_DEG = len(PR_LINKS)
PR_TOP = 20
# lineage-truncation cadence: checkpoint the rank frame every this many
# Pregel rounds (plans stay <= this many joins deep between leaves)
PR_CKPT_EVERY = 5


def _ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged (doc_id, r) rank table after PR_ITERS rounds of
    r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg. With every node at out-degree
    PR_OUT_DEG there are no dangling nodes, so total rank mass is
    conserved at exactly 1 (asserted in tests)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    n = nodes.count()

    dsts = []
    for a, b in PR_LINKS:
        dst = (F.col("doc_id") * a + b) % n
        dsts.append(F.when(dst == F.col("doc_id"), (dst + 1) % n).otherwise(dst))
    # Checkpoint CADENCE (r14, guide §2.4 — fewer scheduler rounds):
    # r13 truncated lineage EVERY round with an eager localCheckpoint,
    # paying ~5 jobs per round of pure scheduling (probe: 31 jobs for
    # 5 rounds). Lineage truncation only needs to keep the plan
    # BOUNDED, not depth-1 — so checkpoint every PR_CKPT_EVERY rounds
    # (lazily: the marked RDD persists when its first consumer
    # computes; under AQE the checkpoint call itself still materializes
    # that segment's shuffle stages, which is why the cadence — not
    # laziness alone — is what cuts jobs; measured 31 -> 14). The
    # intermediate rounds are plain lineage ≤ PR_CKPT_EVERY joins deep;
    # identical arithmetic, same LogicalRDD failure semantics.
    edges = (
        nodes.select(F.col("doc_id").alias("src"), F.explode(F.array(*dsts)).alias("dst"))
        .repartition(n_parts, "src")
        .localCheckpoint(eager=False)
    )

    base = (1.0 - PR_D) / n
    ranks = nodes.select("doc_id", (F.lit(1.0) / n).alias("r")).localCheckpoint(
        eager=False
    )
    for i in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("doc_id").alias("src"), "r"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") / PR_OUT_DEG).alias("c"))
        )
        ranks = nodes.join(
            contrib.select(F.col("dst").alias("doc_id"), "c"), "doc_id", "left"
        ).select(
            "doc_id",
            (F.lit(base) + PR_D * F.coalesce(F.col("c"), F.lit(0.0))).alias("r"),
        )
        if i % PR_CKPT_EVERY == PR_CKPT_EVERY - 1 or i == PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def gr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PR_TOP PageRank documents, ranks rounded to 6 dp before the
    cutoff (doc_id tie-break) so the ordering is identical
    cross-engine."""
    return (
        _ranks(spark, sf_dir)
        .select("doc_id", F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "doc_id")
        .limit(PR_TOP)
    )


def _und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNDIRECTED simple graph under the shared link derivation:
    distinct {min, max} endpoint pairs (self-loops already bumped by
    the derivation). ≤ PR_OUT_DEG·N rows."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    n = nodes.count()
    dsts = []
    for a, b in PR_LINKS:
        dst = (F.col("doc_id") * a + b) % n
        dsts.append(F.when(dst == F.col("doc_id"), (dst + 1) % n).otherwise(dst))
    directed = nodes.select(
        F.col("doc_id").alias("src"), F.explode(F.array(*dsts)).alias("dst")
    )
    return (
        directed.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .repartition(n_parts, "u")
    )


def gr_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the link graph — n_nodes, undirected
    n_edges, wedge count Σ C(deg,2), triangle count, and the global
    clustering coefficient 3·triangles/wedges (6 dp) — via the
    DEGREE-ORDERED node-iterator (Schank & Wagner): orient every edge
    from its lower-(degree, id) endpoint to the higher, emit wedges
    only between each node's ordered out-neighbors, close them against
    the oriented edge list. Each triangle is counted exactly once at
    its lowest-ranked vertex, and the wedge fan-out is Σ out_deg² with
    out-degrees bounded by the graph's arboricity-ish ordering — the
    standard reason this survives power-law graphs where the naive
    per-node C(deg,2) join melts on hubs. Three node-keyed shuffles
    (degree, two joins); nothing reaches the driver but the row."""
    und = _und_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    withdeg = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=True)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.a") == F.col("e2.a")).where(
        (F.col("e1.db") < F.col("e2.db"))
        | ((F.col("e1.db") == F.col("e2.db")) & (F.col("e1.b") < F.col("e2.b")))
    ).select(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
    tri = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    ).agg(F.count("*").alias("n_triangles"))
    nodes_cnt = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_nodes")
    )
    edges_cnt = und.agg(F.count("*").alias("n_edges"))
    wedge_cnt = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    return (
        nodes_cnt.crossJoin(edges_cnt)
        .crossJoin(wedge_cnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


QUERIES = {
    "gr_pagerank": gr_pagerank,
    "gr_triangle_stats": gr_triangle_stats,
}


def _pr_oracle() -> str:
    """Unrolled-CTE mirror of the iteration (DuckDB has no loop; PR_ITERS
    chained CTEs are the loop). The teleport numerator interpolates the
    Python double repr of (1 - d) — DuckDB would evaluate the literal
    (1.0 - 0.85) in exact DECIMAL (0.15), while the Spark plan carries
    Python's 1.0 - 0.85 = 0.15000000000000002; reprs make both engines
    divide the SAME double (the PLANES/PQ_BOOK literal discipline)."""
    edge_arms = " UNION ALL ".join(
        f"""SELECT doc_id AS src,
               CASE WHEN (doc_id * {a} + {b}) % nn.n = doc_id
                    THEN ((doc_id * {a} + {b}) % nn.n + 1) % nn.n
                    ELSE (doc_id * {a} + {b}) % nn.n END AS dst
            FROM documents, nn"""
        for a, b in PR_LINKS
    )
    ctes = [
        "nn AS (SELECT COUNT(*) AS n FROM documents)",
        f"edges AS ({edge_arms})",
        "r0 AS (SELECT doc_id AS v, 1.0 / nn.n AS r FROM documents, nn)",
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""r{i} AS (
              SELECT d.doc_id AS v,
                     CAST({(1.0 - PR_D)!r} AS DOUBLE) / nn.n
                       + {PR_D} * COALESCE(s.c, 0.0) AS r
              FROM documents d CROSS JOIN nn
              LEFT JOIN (
                SELECT e.dst, SUM(p.r / {PR_OUT_DEG}) AS c
                FROM edges e JOIN r{i - 1} p ON e.src = p.v
                GROUP BY e.dst
              ) s ON s.dst = d.doc_id
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT v AS doc_id, ROUND(r, 6) AS pagerank
        FROM r{PR_ITERS}
        ORDER BY pagerank DESC, doc_id
        LIMIT {PR_TOP}
        """
    )


def _triangle_oracle() -> str:
    """Mirror of gr_triangle_stats over the shared derivation. DuckDB
    counts triangles by the same degree ordering — same census, so the
    hash gate checks the distributed wedge/close pipeline."""
    edge_arms = " UNION ALL ".join(
        f"""SELECT doc_id AS src,
               CASE WHEN (doc_id * {a} + {b}) % nn.n = doc_id
                    THEN ((doc_id * {a} + {b}) % nn.n + 1) % nn.n
                    ELSE (doc_id * {a} + {b}) % nn.n END AS dst
            FROM documents, nn"""
        for a, b in PR_LINKS
    )
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    dedges AS ({edge_arms}),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM dedges WHERE src != dst
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b,
             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS db
      FROM (
        SELECT und.u, und.v, d1.d AS du, d2.d AS dv
        FROM und
        JOIN deg d1 ON d1.node = und.u
        JOIN deg d2 ON d2.node = und.v
      )
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e1.a = e2.a
        AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
      JOIN oriented e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    wedges AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
    SELECT (SELECT COUNT(*) FROM documents) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           n_wedges,
           n_triangles,
           ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering
    FROM tri, wedges
    """


ORACLES = {
    "gr_pagerank": _pr_oracle(),
    "gr_triangle_stats": _triangle_oracle(),
}
