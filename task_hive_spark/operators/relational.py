"""Relational-completeness suite (SURVEY §7 phase 7).

The reference has no general joins/windows/grouping sets (SURVEY §2.3,
§2.5) — an analytics engine must. These queries declare the full
relational surface over the TPC-H-ish fixtures, each oracle-checked
against DuckDB.

Scale notes per query are inline; the common rules:
- dims (region/nation/supplier) are broadcast — no shuffle on the fact;
- double aggregates are ROUNDed in BOTH engines (float formatting and
  last-ulp sum drift are not portable);
- every result has a deterministic ORDER BY with a unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.functions.report import report_sort
from task_hive_spark.sources.fixtures import load_table


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Exact-money arithmetic (Q10's integer-cent pattern, shared by every
# revenue aggregate): TPC-H prices, discounts and taxes are exact
# 2-decimal values, so cents / percent units are exact integers and the
# group sums are ORDER-INDEPENDENT — a plain double sum can flip the
# rounded cent between engines (or between two runs of a 1000-executor
# job) on large groups. Per-row products stay in long range; sums run
# in decimal so no corpus size can overflow them; the final division is
# exact-integer → double, identical on both engines.
#
# Row-level casts use decimal(18,0), NOT a wider precision: every
# per-row product here is ≤ ~1.2e11 (cents × two percent factors), and
# precision ≤ 18 keeps Spark's Decimal on its compact-long fast path —
# measured 1.5× faster aggregation than decimal(28) rows on Q1. The SUM
# result type widens to decimal(28,0) automatically (overflow at ~1e28
# e6-units ≈ $1e22 — beyond any corpus).
def _cents(name: str):
    """Exact integer cents from a non-negative money double.

    (x·100 + 0.5) truncated toward zero == ROUND_HALF_UP(x·100) for all
    x ≥ 0 — and every money/percent column in this schema is
    non-negative by construction (TPC-H money domains are positive;
    discount/tax live in [0, 0.11]). The arithmetic form stays in
    primitive codegen; F.round on DoubleType allocates a BigDecimal per
    row (RoundBase codegen), which measured ~15% of Q1's whole scan at
    sf0.1. The DuckDB oracles keep ROUND(x*100) — the value gate proves
    the equivalence on every fixture. A signed-money schema would need
    the sign-aware form (x·100 + sign(x)·0.5)."""
    return (F.col(name) * 100 + F.lit(0.5)).cast("long")


# Long partial sums of cents-products are exact while rows-per-partition
# × max-per-row-product (~1.2e11) stays under 2^63 ≈ 9.2e18; 5e7 rows
# leaves a 1.5× margin and is ~40× any real 128 MB scan split. Queries
# using single-level long partials assert their per-partition counts
# against this bound (see rel_q1) so an adversarial layout fails loudly.
_SAFE_PARTIAL_ROWS = 50_000_000


def _rev_e4():
    """l_extendedprice · (1 − l_discount) in exact 1e-4 dollar units."""
    return (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).cast(
        "decimal(18,0)"
    )


_REV_E4_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
)


# Exact money sums are rounded to whole cents in the INTEGER domain,
# HALF_UP with ties away from zero (sum_profit can be negative), and
# only then turned into dollars as cents / 100.0 — identical on both
# engines. Rounding the double sum / 10^k instead lets a half-cent tie
# go either way: Spark's round(double) rounds the shortest decimal
# repr (0.145 → 0.15) where DuckDB rounds the binary double
# (0.14499999… → 0.14).
def _dollars(total, unit: int):
    """Dollars (double) from an exact integer sum ``total`` in
    1/``unit``-dollar units (unit = 10**4 or 10**6)."""
    per_cent, half = unit // 100, unit // 200
    cents = F.when(total >= 0, F.floor((total + half) / per_cent)).otherwise(
        -F.floor((half - total) / per_cent)
    )
    return cents.cast("double") / 100.0


def _dollars_sql(total: str, unit: int) -> str:
    """The DuckDB twin of _dollars over a SQL integer sum expression."""
    per_cent, half = unit // 100, unit // 200
    return (
        f"CAST(CASE WHEN ({total}) >= 0 THEN (({total}) + {half}) // {per_cent}"
        f" ELSE -(({half} - ({total})) // {per_cent}) END AS DOUBLE) / 100.0"
    )


# --- aggregation ---------------------------------------------------------


def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-agg. Partial aggregation happens
    map-side; only 4 groups shuffle. The shipdate filter is pushed to
    the parquet scan. All money/quantity aggregates run in exact
    integer cents (see _cents): sums and averages are order-independent
    bit-for-bit, which a double sum over millions of rows per group is
    not.

    TWO-LEVEL exact sum: Q1 scans the whole fact with five measures, so
    the per-row decimal path was the dominant cost (measured 0.84s →
    0.49s at sf0.1). Level 1 sums raw LONGS per (group, partition);
    level 2 sums the tiny partials in decimal (|groups|·|partitions|
    rows), where overflow is impossible before ~$1e22. Integer addition
    is associative, so the result is identical to the single-level
    decimal sum.

    Overflow posture of the level-1 partials: max per-row product is
    ~1.2e11 (cents × two percent factors), so a long partial is exact up
    to ~7.6e7 rows per scan partition — far past any real split
    (128 MB maxPartitionBytes ≈ low-millions of rows), but an
    adversarial single-row-group file COULD exceed it, so the level-2
    pass asserts every partial's row count is under the bound and fails
    LOUDLY instead of wrapping silently. (The earlier design added a
    1M-row chunk key from monotonically_increasing_id to make partials
    unconditionally safe; the per-row id arithmetic + the extra
    grouping column measured ~0.3 s of the query at sf0.1 — half its
    runtime — for a bound this guard provides for free.)"""
    l = _t(spark, sf_dir, "lineitem")
    # cents once per source column in a projection, so the aggregate
    # expressions are products of plain long columns (the inline form
    # re-evaluated round(×100) casts per measure — l_discount three
    # times — and measured ~2× this shape)
    pre = l.where(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag",
        "l_linestatus",
        _cents("l_quantity").alias("qc"),
        _cents("l_extendedprice").alias("pc"),
        _cents("l_discount").alias("dc"),
        _cents("l_tax").alias("tc"),
        F.spark_partition_id().alias("_pid"),
    )
    part = pre.groupBy("l_returnflag", "l_linestatus", "_pid").agg(
        F.sum("qc").alias("q"),
        F.sum("pc").alias("p"),
        F.sum("dc").alias("d"),
        F.sum(F.col("pc") * (100 - F.col("dc"))).alias("r"),
        F.sum(F.col("pc") * (100 - F.col("dc")) * (100 + F.col("tc"))).alias("ch"),
        F.count("*").alias("n"),
    )

    def dec(c: str):
        return F.sum(F.col(c).cast("decimal(28,0)"))

    # loud overflow guard: every use of the count flows through this
    # expression, so a partial past the long-safe row bound aborts the
    # query instead of returning silently-wrapped sums
    n_guarded = F.when(
        F.col("n") <= _SAFE_PARTIAL_ROWS, F.col("n")
    ).otherwise(
        F.raise_error(
            F.lit(
                "rel_q1: a scan partition exceeded the overflow-safe row "
                "bound for long partial sums; lower "
                "spark.sql.files.maxPartitionBytes"
            )
        ).cast("long")
    )
    cnt = F.sum(n_guarded)
    out = (
        part.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dec("q").cast("double") / 100.0, 2).alias("sum_qty"),
            F.round(dec("p").cast("double") / 100.0, 2).alias("sum_base_price"),
            _dollars(dec("r"), 10**4).alias("sum_disc_price"),
            _dollars(dec("ch"), 10**6).alias("sum_charge"),
            F.round(dec("q").cast("double") / (100.0 * cnt), 6).alias("avg_qty"),
            F.round(dec("p").cast("double") / (100.0 * cnt), 6).alias("avg_price"),
            F.round(dec("d").cast("double") / (100.0 * cnt), 6).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )
    # report-sized output: one-exchange deterministic sort (functions/report.py)
    return report_sort(out, "l_returnflag", "l_linestatus")


def rel_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg, all predicates pushed down."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dollars(
                F.sum(
                    (_cents("l_extendedprice") * _cents("l_discount")).cast(
                        "decimal(18,0)"
                    )
                ),
                10**4,
            ).alias("revenue")
        )
    )


def rel_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + multi-distinct per group (expand + two-phase
    aggregate in Spark)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def rel_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (partial+final with grouping-id expand)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def rel_cube_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over brand × size-band."""
    p = _t(spark, sf_dir, "part")
    banded = p.withColumn("size_band", (F.col("p_size") % 5).cast("int"))
    return (
        banded.cube("p_brand", "size_band")
        .agg(F.count("*").alias("cnt"), F.round(F.avg("p_retailprice"), 6).alias("avg_price"))
        .orderBy(F.col("p_brand").asc_nulls_first(), F.col("size_band").asc_nulls_first())
    )


def rel_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via SQL (by type, by hour, grand total).

    The 'events' view comes from the shared memoized registration — a
    bare createOrReplaceTempView here would silently repoint the
    session-wide fixture view at THIS sf_dir while the _REGISTERED memo
    still records the old one (the mixed-sf_dir staleness class fixed
    for txt_pii_scrub)."""
    from task_hive_spark.sources.fixtures import register_fixture_views

    register_fixture_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
               COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type), (CAST(EXTRACT(HOUR FROM ts) AS INT)), ())
        ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST
        """
    )


def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (Spark percentile() and
    DuckDB quantile_cont share linear interpolation)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). Sketch values aren't portable
    across engines, so the query emits the exact counts plus a
    relative-error-bound boolean both engines agree on (HLL++ default
    rsd ≈ 2.3%, well inside the 5% bound). tests/test_relational.py
    additionally asserts the raw approx values land in-bounds."""
    l = _t(spark, sf_dir, "lineitem")
    exact_o = F.countDistinct("l_orderkey")
    exact_p = F.countDistinct("l_partkey")
    # rsd=0.02 (r14): the default 5% rsd leaves no headroom against the
    # 5% gate bound on small cardinalities (observed >5% off at
    # sf0.001), but r13's 0.01 was over-insured AND expensive in a way
    # that has nothing to do with data: Spark's HLL++ aggregation
    # buffer declares one attribute PER REGISTER WORD, so rsd=0.01
    # (2^14 registers → ~2.7k buffer attributes) cost ~0.85 s of pure
    # per-run plan/codegen walking PER SKETCH COLUMN — measured 1.2 s
    # on a 100-row input, fixed at any scale. 0.02 quarters the
    # register count (~0.3 s total) and the measured error at every
    # graded SF stays ≤ 1.0% — 5x inside the bound (HLL switches to
    # linear counting at these cardinalities; at true HLL scale the
    # error concentrates near rsd=2%, still 2.5x headroom). Output
    # values are unchanged: exact counts are exact and the booleans
    # stay true, so the oracle hash is identical.
    #
    # The exact and approx aggregates run as SEPARATE subtrees joined
    # 1-row×1-row: mixing countDistinct with approx_count_distinct in
    # ONE agg plans the multi-distinct Expand and evaluates the HLL++
    # sketches inside the per-key distinct aggregation — a per-key
    # register buffer per distinct key instead of one per partition
    # (measured 3.17 s vs 1.49 s at sf0.01, identical rows).
    ex = l.agg(exact_o.alias("exact_orders"), exact_p.alias("exact_parts"))
    ap = l.agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("_ao"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_ap"),
    )
    return ex.crossJoin(ap).select(
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("_ao") - F.col("exact_orders")) / F.col("exact_orders")
            < 0.05
        ).alias("orders_within_5pct"),
        (
            F.abs(F.col("_ap") - F.col("exact_parts")) / F.col("exact_parts")
            < 0.05
        ).alias("parts_within_5pct"),
    )


# --- joins ---------------------------------------------------------------


def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem. customer is the small
    side after its segment filter → broadcast; lineitem shuffles once on
    l_orderkey. Top-10 is TakeOrderedAndProject, not a global sort."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dollars(F.sum(_rev_e4()), 10**4).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def rel_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region→nation→customer chain is all
    broadcast; only orders⋈lineitem shuffles."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # supplier→nation→region collapses to ONE broadcast subtree (the
    # inner joins are dim-sized) instead of three separate broadcast
    # exchanges — one broadcast build job, and the region filter prunes
    # suppliers before they ever touch the fact side
    dims = s.join(n, s.s_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), l.l_suppkey == dims.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == dims.s_nationkey))
        .groupBy("n_name")
        .agg(
            _dollars(F.sum(_rev_e4()), 10**4).alias("revenue")
        )
    )
    return report_sort(out, F.desc("revenue"), "n_name")


def rel_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) + LEFT ANTI (NOT EXISTS): customers with vs
    without orders, per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("with_orders"))
    )
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("without_orders"))
    )
    return (
        with_orders.join(without, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
        )
        .orderBy("c_nationkey")
    )


def rel_outer_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER with null-producing sides: parts never ordered vs
    lineitems of unknown parts."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    l = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 700)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"))
    )
    return (
        p.join(l, p.p_partkey == l.l_partkey, "full_outer")
        .select(
            F.coalesce("p_partkey", "l_partkey").alias("partkey"),
            F.col("p_partkey").isNotNull().alias("in_part"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        )
        .orderBy("partkey")
    )


def rel_self_join_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self as-of: each order's previous order of the same customer —
    expressed as a lag window (the shuffle-minimal form of a self-join)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag("o_orderkey").over(w).alias("prev_orderkey"),
            F.lag("o_orderdate").over(w).alias("prev_orderdate"),
        )
        .where(F.col("o_custkey") < 50)
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def asof_core(e: DataFrame) -> DataFrame:
    """As-of join core over any events frame (columns: user_id,
    event_id, event_type, ts) — split out so tie semantics are unit-
    testable on synthetic duplicate-ts data."""
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"),
        "ts",
        F.lit(1).alias("is_probe"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"),
        "ts",
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    merged = purchases.unionByName(clicks)
    # clicks sort before purchases at equal ts (is_probe asc) so "<= ts"
    # semantics hold; equal-ts click ties order by click_id ASC so the
    # carried last() is the MAX click id — matching the oracle's
    # keep-max-event_id dedup
    w = (
        W.partitionBy("uid")
        .orderBy("ts", "is_probe", F.asc_nulls_first("click_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = merged.select(
        "uid",
        "ts",
        "is_probe",
        "purchase_id",
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return (
        carried.where(F.col("is_probe") == 1)
        .select(
            F.col("uid").alias("user_id"),
            "purchase_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_id",
            "last_click_ts",
        )
        .orderBy("user_id", "purchase_id")
    )


def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one — SURVEY guide): for each
    purchase event, the most recent click event of the same user at or
    before it. Implemented distributed-style: union the two streams,
    one window pass per key carries the last click forward (no pairwise
    join blow-up, one shuffle on user_id). Oracle uses DuckDB's native
    ASOF JOIN."""
    return asof_core(_t(spark, sf_dir, "events"))


def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count click/view events in the hour before each
    purchase. Scale path: equi-join on an hour bucket (probe side
    explodes into the 2 candidate buckets) + residual range filter —
    turns the O(n·m) nested-loop into a hash join on (user, bucket)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("uid"),
        F.col("ts").alias("p_ts"),
        F.explode(
            F.array(
                F.date_trunc("hour", F.col("ts") - F.expr("INTERVAL 1 HOUR")),
                F.date_trunc("hour", F.col("ts")),
            )
        ).alias("bucket"),
    )  # the two buckets are exactly 1h apart — never equal — so the
    # exploded rows are already distinct; a dedup here would be a full
    # extra shuffle (and would silently diverge from the oracle if
    # duplicate purchase events ever appeared)
    others = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("e_ts"),
        F.date_trunc("hour", "ts").alias("bucket"),
    )
    joined = purchases.join(others, ["uid", "bucket"]).where(
        (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("e_ts") < F.col("p_ts"))
    )
    return (
        joined.groupBy("purchase_id", "uid")
        .agg(F.count("*").alias("n_prior_events"))
        .orderBy("purchase_id")
    )


# --- windows -------------------------------------------------------------


def rel_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (rank window), customers <100."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy("o_custkey", "rk")
    )


def rel_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue + rank + dense_rank + ntile per customer."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_custkey", "rn")


def rel_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame: 3-row centered moving average of lineitem
    quantity per order."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 300)
    # l_linenumber is NOT unique per order in the synthetic data — the
    # full key chain makes the frame (and thus the oracle) deterministic
    order_keys = ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]
    w = W.partitionBy("l_orderkey").orderBy(*order_keys).rowsBetween(-1, 1)
    out = (
        l.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round(F.avg("l_quantity").over(w), 6).alias("moving_avg_qty"),
            F.count("*").over(w).alias("frame_size"),
        )
    )
    return report_sort(out, "l_orderkey", *order_keys[:3])


def rel_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: inter-event gap seconds per user (users <50)."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives as TIMESTAMP_NTZ (tz-less parquet), which Spark won't
    # cast straight to double — hop through LTZ; the gap is a difference
    # so the session-tz interpretation cancels
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    return report_sort(
        e.select(
            "user_id",
            "event_id",
            F.round(gap, 6).alias("gap_seconds"),
            F.lead("event_type").over(w).alias("next_type"),
        ),
        "user_id",
        "event_id",
    )


def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when gap > 30 min; session stats per
    user (guide's lag+cumsum pattern — one shuffle on user_id)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("timestamp").cast("double")  # NTZ → LTZ → s
    gap = ts_s - F.lag(ts_s).over(w)
    sess = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


# --- set ops -------------------------------------------------------------


def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT over yearly customer sets,
    tagged into one result."""
    o = _t(spark, sf_dir, "orders")
    y94 = o.where(F.year("o_orderdate") == 1994).select("o_custkey").distinct()
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    both = y94.intersect(y95).withColumn("tag", F.lit("both"))
    only94 = y94.exceptAll(y95).distinct().withColumn("tag", F.lit("only_1994"))
    either = y94.union(y95).distinct().withColumn("tag", F.lit("either"))
    return (
        both.unionByName(only94)
        .unionByName(either)
        .groupBy("tag")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("tag")
    )


# --- scalar function families -------------------------------------------


def rel_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substr, replace, pad, trim, reverse, split,
    regexp, position — all JVM built-ins (whole-stage codegen)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.lower("p_brand").alias("lower_brand"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_type", "[aeiou]", "_").alias("devoweled"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse(F.col("p_brand")).alias("rev_brand"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.instr("p_name", "a").alias("first_a"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
    ).orderBy("p_partkey")


def rel_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family: extract, trunc, interval arithmetic, diffs."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 300)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
    ).orderBy("o_orderkey")


def rel_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family over acctbal: abs/ceil/floor/round/sqrt/ln/power/mod/sign."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    return c.select(
        "c_custkey",
        F.round(F.abs("c_acctbal"), 2).alias("abs_bal"),
        F.ceil("c_acctbal").cast("bigint").alias("ceil_bal"),
        F.floor("c_acctbal").cast("bigint").alias("floor_bal"),
        F.round(F.sqrt(F.abs("c_acctbal")), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(F.col("c_acctbal")) + 1), 6).alias("ln_bal"),
        F.round(F.pow(F.col("c_custkey").cast("double"), 2), 2).alias("key_sq"),
        (F.col("c_custkey") % 7).cast("bigint").alias("key_mod7"),
        F.signum("c_acctbal").cast("int").alias("bal_sign"),
    ).orderBy("c_custkey")


def rel_case_null_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / COALESCE / NULLIF / GREATEST / LEAST / IN over orders."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias("status_or_open"),
        F.greatest(F.col("o_totalprice"), F.lit(150000.0)).alias("floor_150k"),
        F.least(F.col("o_totalprice"), F.lit(150000.0)).alias("cap_150k"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_urgent"),
    ).orderBy("o_orderkey")


def rel_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders above their customer's average)
    — decorrelated into a window, the plan Catalyst would produce."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("cust_avg") * 1.5)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .where(F.col("o_custkey") < 100)
        .orderBy("o_custkey", "o_orderkey")
    )


def rel_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. Both nation lookups broadcast (supplier side and
    customer side resolve against the same tiny dim under different
    aliases); the only big shuffle is lineitem⋈orders."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    # supplier+nation and customer+nation each collapse to one broadcast
    sn = s.join(n1, s.s_nationkey == n1.s_nk).select("s_suppkey", "supp_nation")
    cn = c.join(n2, c.c_nationkey == n2.c_nk).select("c_custkey", "cust_nation")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), l.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            _dollars(F.sum(_rev_e4()), 10**4).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def rel_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total revenue by order
    year — conditional-sum / total-sum within a grouped aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).select("s_suppkey", "n_name")
    vol_e4 = _rev_e4()
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), l.l_suppkey == sn.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("n_name") == "NATION_3", vol_e4).otherwise(
                        F.lit(0).cast("decimal(18,0)")
                    )
                ).cast("double")
                / F.sum(vol_e4).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def rel_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from RETURNED
    items in one quarter — 4-table join (fact × orders, customer +
    nation broadcast dims), conditional filter on the fact, grouped
    revenue, global top-k by measure."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "c_acctbal", "n_name"
    )
    # integer-cent arithmetic via the shared helper: exact AND summed in
    # decimal, so no customer-group size can wrap the accumulator (the
    # inline long form this replaces carried the Q14 overflow exposure)
    rev_e4 = _rev_e4()
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dollars(F.sum(rev_e4), 10**4).alias("revenue"),
            F.round(F.first("c_acctbal"), 2).alias("c_acctbal"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def rel_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one shipdate month
    — fact×part join with a conditional numerator over the same rows as
    the denominator. part is a broadcast dim; the month filter is
    pushed to the fact scan; integer-cent arithmetic keeps both sums
    exact so the single output row's ratio is engine-stable. (Fixture
    p_type holds the bare category, so the predicate is equality on
    'PROMO' rather than TPC-H's LIKE 'PROMO%'.)"""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = _rev_e4()  # decimal(18,0): the long form can wrap at ~9e9 rows/month
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0)))
            / F.sum(rev_e4),
            6,
        ).alias("promo_revenue_pct"),
        _dollars(F.sum(rev_e4), 10**4).alias("total_revenue"),
        F.count("*").alias("n_items"),
    )


Q18_MIN_QTY = 300  # "large" order: total quantity above this


def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, with their customer, top-100
    by price. The having-filter aggregates the fact FIRST — partial
    map-side sums shrink the shuffle to one row per order — and only
    qualifying orderkeys (a tiny set) join back to orders + broadcast
    customer. No correlated re-scan of lineitem, unlike the literal
    TPC-H text's IN-subquery."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def rel_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows in one pass: dense_rank, percent_rank,
    cume_dist and ntile(4) of order value within each priority class."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.dense_rank().over(w).alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_orderpriority", "o_orderkey")


def rel_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority with one column per status —
    Spark's pivot() relational operator (explicit value list so the
    plan needs no distinct-values pre-pass)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


def rel_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-status count columns back to long
    (priority, status, n_orders) rows — Spark's `unpivot` relational
    operator, the inverse of rel_pivot_status. Round-tripping the SAME
    pivoted frame makes the pair a wide↔long conversion test: 5
    priorities × 3 statuses = 15 rows, zeros preserved (a melt that
    drops empty cells silently changes downstream aggregates). Shape:
    one aggregation shuffle for the pivot; the melt itself is a pure
    map-side expand (3 rows per input row, no shuffle)."""
    wide = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )
    return (
        wide.unpivot(["o_orderpriority"], ["F", "O", "P"], "status", "n_orders")
        .orderBy("o_orderpriority", "status")
    )


# --- TPC-H completion (Q2..Q22 shapes over the reduced fixture schema) ---
#
# The fixtures carry no partsupp table and drop several TPC-H columns
# (l_commitdate/l_receiptdate, l_shipmode, p_container, o_comment,
# c_phone, s_comment). Each query below keeps the ORIGINAL's operator
# shape — the joins, subquery correlations, aggregation and top-k
# structure that make it a distinct plan — with predicates re-based
# onto columns the fixtures have; the docstrings name each substitution.
# Threshold comparisons against computed averages run in exact integer
# cents cross-multiplied by counts (never `x < 0.2*AVG(..)` on floats:
# summation order could flip rows near the boundary between engines).


def rel_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority histogram of one quarter's orders that
    have ≥1 qualifying lineitem — EXISTS as a LEFT SEMI join on
    l_orderkey. Substitution: the original's l_commitdate <
    l_receiptdate qualifier (columns absent) becomes l_returnflag='R'.
    Shape: semi-join shuffles on orderkey, then a 5-group aggregate."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def rel_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship-category counts of high/low-priority
    orders among late lines. Substitutions: l_shipmode (absent) →
    l_returnflag as the category; 'received after commit' →
    shipped > 60 days after the order date. Shape: one fact⋈orders
    shuffle, conditional counts, tiny group-by."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_returnflag").alias("ship_category"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("ship_category")
    )


def rel_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer distribution by order count — LEFT
    OUTER join with a join-side filter (customers with zero qualifying
    orders must appear with c_count=0), then a count-of-counts.
    Substitution: the o_comment NOT LIKE exclusion (column absent) →
    exclude '1-URGENT' orders. Shape: outer join shuffles on custkey,
    two aggregations, the second over ≤|distinct counts| rows."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def rel_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view + scalar-max selection — the
    supplier(s) whose one-quarter revenue equals the global maximum.
    Revenue accumulates in exact 1e-4 units so the max-equality test is
    an exact integer comparison (the original's DECIMAL semantics), not
    a float ==. Shape: one supplier-keyed aggregate, a 1-row broadcast
    of the max, a broadcast dim join."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    # rev feeds both the max and the equality filter; checkpoint the
    # |suppliers|-row aggregate so the quarter's fact scan runs once
    # (exchange reuse does not dedupe the two references — see Q11)
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_e4()).alias("total_e4"))
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_e4").alias("max_e4"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_e4") == F.col("max_e4"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            _dollars(F.col("total_e4"), 10**4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def rel_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost to small-quantity
    orders — a correlated per-part average (window over l_partkey, the
    decorrelated form) gating each line. Substitution: p_container
    (absent) → p_brand + p_size < 10. The qty < 0.2·avg(qty) gate runs
    as exact integers cross-multiplied by the part's line count:
    5·qty_c·n < sum_qty_c. Shape: broadcast part filter, one window
    shuffle on l_partkey, scalar aggregate."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") < 10)
    )
    l = _t(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    w = W.partitionBy("l_partkey")
    qty_c = _cents("l_quantity")
    gated = (
        j.withColumn("sum_qty_c", F.sum(qty_c).over(w))
        .withColumn("n_lines", F.count("*").over(w))
        .where(5 * qty_c * F.col("n_lines") < F.col("sum_qty_c"))
    )
    return gated.agg(
        F.round(
            F.sum(_cents("l_extendedprice").cast("decimal(18,0)")).cast("double")
            / 100.0
            / 7.0,
            2,
        ).alias("avg_yearly")
    )


def rel_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/
    quantity band predicates — the classic OR-of-ANDs join filter that
    exercises predicate normalization (the join key condition is
    conjunctive and pushable; the bands are residual). Substitution:
    p_container/l_shipmode (absent) → p_size bands. Shape: broadcast
    part join, scalar exact-cents aggregate."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(band).agg(
        _dollars(F.sum(_rev_e4()), 10**4).alias("revenue")
    )


def rel_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders (the original's 7-year dormancy window → orders since
    1999, which keeps the anti-join non-trivial on the fixture date
    range), grouped by country — scalar subquery (the positive-balance
    average) + anti-join. Substitutions: c_phone country code (absent)
    → c_nationkey % 5. The above-average gate is exact: bal_c·n >
    sum_c over positive balances (cross-multiplied cents, no float
    average). Shape: 1-row broadcast of (sum, count), anti-join
    shuffles on custkey, small group-by."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "1999-01-01")
    bal_c = _cents("c_acctbal")
    avg_src = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal_c.cast("decimal(18,0)")).alias("sum_c"),
        F.count("*").alias("n_pos"),
    )
    return (
        c.crossJoin(F.broadcast(avg_src))
        .where(bal_c.cast("decimal(18,0)") * F.col("n_pos") > F.col("sum_c"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(bal_c.cast("decimal(18,0)")).cast("double") / 100.0, 2
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# partsupp surrogate: the fixture set ships no partsupp table, so the
# supply relation is the DISTINCT (part, supplier) pairs observed in
# lineitem, with supplycost/availqty derived by deterministic integer
# formulas (identical in the oracle CTE below). Cost stays in integer
# CENTS so every downstream sum/threshold is exact. ~|part|·avg-fanout
# rows — dimension-sized relative to the fact table, exactly like the
# real partsupp (0.8 rows per lineitem at TPC-H geometry is wrong the
# other way: here it is ~5% of lineitem and shrinks relatively as the
# fact grows).
def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    ps = l.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    cost_c = (F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 17) % 90000 + 10000
    avail = (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 13) % 9999 + 1
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        cost_c.cast("long").alias("ps_supplycost_c"),
        avail.cast("int").alias("ps_availqty"),
    )


_PS_SQL = """partsupp AS (
          SELECT ps_partkey, ps_suppkey,
                 CAST((ps_partkey * 37 + ps_suppkey * 17) % 90000 + 10000
                      AS BIGINT) AS ps_supplycost_c,
                 CAST((ps_partkey * 31 + ps_suppkey * 13) % 9999 + 1
                      AS INT) AS ps_availqty
          FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                       l_suppkey AS ps_suppkey FROM lineitem) b
        )"""


def rel_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    offering it at the region's MINIMUM supply cost — the correlated
    min-subquery, decorrelated as a window min over ps_partkey.
    Substitution: p_type LIKE '%BRASS' (value domain differs) →
    p_type='STANDARD', p_size=15. Cost is exact integer cents, so the
    min-equality is exact. Shape: partsupp ⋈ broadcast(filtered part)
    ⋈ broadcast(supplier⋈nation⋈region), one window shuffle on
    ps_partkey, top-100."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    dims = s.join(n, s.s_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    ps = _partsupp(spark, sf_dir)
    j = ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey).join(
        F.broadcast(dims), ps.ps_suppkey == dims.s_suppkey
    )
    w = W.partitionBy("ps_partkey")
    return (
        j.withColumn("min_cost_c", F.min("ps_supplycost_c").over(w))
        .where(F.col("ps_supplycost_c") == F.col("min_cost_c"))
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            F.round(F.col("ps_supplycost_c").cast("double") / 100.0, 2).alias(
                "supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def rel_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by nation and order year over a
    part-name-filtered slice — profit = revenue − supplycost·quantity,
    computed entirely in exact 1e-4 dollar units (rev_e4 −
    qty_c·cost_c). Substitution: p_name LIKE '%green%' → p_type =
    'PROMO'. Shape: fact ⋈ partsupp on the composite (part, supp) key
    (both sides hash-shuffle — partsupp is dim-sized but exceeds a
    broadcast at scale), part/supplier/nation broadcast, orders join
    for the year, then a small (nation, year) aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    ps = _partsupp(spark, sf_dir)
    profit_e4 = (
        _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
        - _cents("l_quantity") * F.col("ps_supplycost_c")
    ).cast("decimal(18,0)")
    return (
        l.join(
            ps,
            (l.l_partkey == ps.ps_partkey) & (l.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), l.l_suppkey == sn.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            _dollars(F.sum(profit_e4), 10**4).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


def rel_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value in one nation exceeds a
    FRACTION of the nation's total stock value — group-agg plus a
    global-scalar threshold. The 1/10000 fraction test runs as exact
    integer cross-multiplication (part_value·10000 > total_value), not
    a float compare. Shape: partsupp ⋈ broadcast(nation-filtered
    suppliers), one ps_partkey aggregate, 1-row broadcast of the
    total."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    sx = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    ps = _partsupp(spark, sf_dir)
    val_c = (F.col("ps_supplycost_c") * F.col("ps_availqty")).cast("decimal(18,0)")
    scoped = ps.join(F.broadcast(sx), ps.ps_suppkey == sx.s_suppkey)
    # per_part feeds BOTH the output rows and the scalar total; Spark's
    # exchange reuse does not dedupe the two references, so without the
    # checkpoint the partsupp aggregation would run twice (measured in
    # the plan: 4 hash exchanges instead of 2). localCheckpoint
    # materializes the |parts|-row aggregate once — the CTE
    # materialization every other engine gives Q11 for free.
    per_part = (
        scoped.groupBy("ps_partkey")
        .agg(F.sum(val_c).alias("value_c"))
        .localCheckpoint()
    )
    total = per_part.agg(F.sum("value_c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_c") * 10000 > F.col("total_c"))
        .select(
            "ps_partkey",
            F.round(F.col("value_c").cast("double") / 100.0, 2).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


def rel_q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, excluding suppliers from a complaint list — NOT IN as a
    LEFT ANTI join. Substitution: the s_comment complaint filter
    (column absent) → s_acctbal < 0. Shape: partsupp anti-join the
    (tiny) excluded-supplier set, broadcast part attributes, then a
    count-distinct aggregate."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = _partsupp(spark, sf_dir)
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def rel_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding EXCESS stock of
    a part class — nested IN-subqueries decorrelated into a join
    against the year's shipped quantities plus two semi-join gates.
    Substitutions: p_name LIKE 'forest%' → p_type='ECONOMY'; the
    0.5·SUM(l_quantity) threshold runs exact (200·availqty >
    sum_qty_c). Shape: one (part,supp) aggregate of the year's fact
    slice, joined to partsupp on the composite key, semi-joined to the
    part class, distinct suppliers, broadcast nation filter."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = l.groupBy(
        F.col("l_partkey").alias("sp"), F.col("l_suppkey").alias("ss")
    ).agg(F.sum(_cents("l_quantity")).alias("sum_qty_c"))
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    ps = _partsupp(spark, sf_dir)
    excess = (
        ps.join(
            shipped,
            (ps.ps_partkey == F.col("sp")) & (ps.ps_suppkey == F.col("ss")),
        )
        .where(200 * F.col("ps_availqty") > F.col("sum_qty_c"))
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey, "left_semi")
        .select("ps_suppkey")
        .distinct()
    )
    return (
        excess.join(F.broadcast(sn), excess.ps_suppkey == sn.s_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def rel_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier final order — the double-correlated EXISTS / NOT
    EXISTS pair, decorrelated as per-order distinct counts (n_suppliers
    > 1, n_late_suppliers == 1, this supplier late). Substitution:
    l_receiptdate > l_commitdate (columns absent) → shipped more than
    90 days after the order date. Shape: one fact⋈orders shuffle, one
    per-order aggregate on the same orderkey partitioning, a distinct
    (order, supplier) projection, top-100 by wait count."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    # j feeds BOTH per_order and waiting; exchange reuse does not dedupe
    # the two references (see Q11), so materialize the fact⋈orders join
    # once — it is the dominant cost of the query
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
        .localCheckpoint()
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        j.where(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", F.col("s_suppkey").alias("suppkey"), "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


QUERIES = {
    "rel_q1_pricing_summary": rel_q1_pricing_summary,
    "rel_q2_min_cost_supplier": rel_q2_min_cost_supplier,
    "rel_q9_product_profit": rel_q9_product_profit,
    "rel_q11_important_stock": rel_q11_important_stock,
    "rel_q16_supplier_part_count": rel_q16_supplier_part_count,
    "rel_q20_excess_stock": rel_q20_excess_stock,
    "rel_q21_waiting_suppliers": rel_q21_waiting_suppliers,
    "rel_q6_forecast_revenue": rel_q6_forecast_revenue,
    "rel_distinct_aggs": rel_distinct_aggs,
    "rel_rollup_orders": rel_rollup_orders,
    "rel_cube_part": rel_cube_part,
    "rel_grouping_sets_events": rel_grouping_sets_events,
    "rel_percentiles": rel_percentiles,
    "rel_approx_distinct": rel_approx_distinct,
    "rel_q3_shipping_priority": rel_q3_shipping_priority,
    "rel_q5_regional_revenue": rel_q5_regional_revenue,
    "rel_semi_anti_join": rel_semi_anti_join,
    "rel_outer_join_nulls": rel_outer_join_nulls,
    "rel_self_join_prev_order": rel_self_join_prev_order,
    "rel_asof_join": rel_asof_join,
    "rel_range_join": rel_range_join,
    "rel_topk_per_group": rel_topk_per_group,
    "rel_window_running": rel_window_running,
    "rel_window_frames": rel_window_frames,
    "rel_lag_lead_delta": rel_lag_lead_delta,
    "rel_sessionize": rel_sessionize,
    "rel_set_ops": rel_set_ops,
    "rel_scalar_string": rel_scalar_string,
    "rel_scalar_datetime": rel_scalar_datetime,
    "rel_scalar_math": rel_scalar_math,
    "rel_case_null_logic": rel_case_null_logic,
    "rel_correlated_above_avg": rel_correlated_above_avg,
    "rel_q7_volume": rel_q7_volume,
    "rel_q8_market_share": rel_q8_market_share,
    "rel_q10_returned_revenue": rel_q10_returned_revenue,
    "rel_q14_promo_effect": rel_q14_promo_effect,
    "rel_q18_large_orders": rel_q18_large_orders,
    "rel_window_ranks": rel_window_ranks,
    "rel_pivot_status": rel_pivot_status,
    "rel_unpivot_status": rel_unpivot_status,
    "rel_q4_order_priority": rel_q4_order_priority,
    "rel_q12_late_lines": rel_q12_late_lines,
    "rel_q13_custdist": rel_q13_custdist,
    "rel_q15_top_supplier": rel_q15_top_supplier,
    "rel_q17_small_qty_revenue": rel_q17_small_qty_revenue,
    "rel_q19_disjunctive_join": rel_q19_disjunctive_join,
    "rel_q22_global_sales_opportunity": rel_q22_global_sales_opportunity,
}

ORACLES = {
    "rel_q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(qty_c) AS DOUBLE) / 100.0, 2) AS sum_qty,
               ROUND(CAST(SUM(price_c) AS DOUBLE) / 100.0, 2) AS sum_base_price,
               {_dollars_sql("SUM(rev_e4)", 10**4)} AS sum_disc_price,
               {_dollars_sql("SUM(charge_e6)", 10**6)} AS sum_charge,
               ROUND(CAST(SUM(qty_c) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS avg_qty,
               ROUND(CAST(SUM(price_c) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS avg_price,
               ROUND(CAST(SUM(disc_c) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
                 {_REV_E4_SQL} AS rev_e4,
                 {_REV_E4_SQL}
                   * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)) AS charge_e6
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        ) t
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
    "rel_q6_forecast_revenue": f"""
        SELECT {_dollars_sql(
                 "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                 " * CAST(ROUND(l_discount * 100) AS BIGINT))", 10**4)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        """,
    "rel_distinct_aggs": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts,
               ROUND(SUM(DISTINCT l_quantity), 2) AS sum_distinct_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    "rel_rollup_orders": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """,
    "rel_cube_part": """
        SELECT p_brand, CAST(size_band AS INT) AS size_band, COUNT(*) AS cnt,
               ROUND(AVG(p_retailprice), 6) AS avg_price
        FROM (SELECT p_brand, p_size % 5 AS size_band, p_retailprice FROM part) t
        GROUP BY CUBE (p_brand, size_band)
        ORDER BY p_brand ASC NULLS FIRST, size_band ASC NULLS FIRST
        """,
    "rel_grouping_sets_events": """
        SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
               COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type), (CAST(EXTRACT(HOUR FROM ts) AS INT)), ())
        ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST
        """,
    "rel_percentiles": """
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
               ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
    "rel_approx_distinct": """
        SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               ABS(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey)) * 1.0
                 / COUNT(DISTINCT l_orderkey) < 0.05 AS orders_within_5pct,
               ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey)) * 1.0
                 / COUNT(DISTINCT l_partkey) < 0.05 AS parts_within_5pct
        FROM lineitem
        """,
    "rel_q3_shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {_dollars_sql(f"SUM({_REV_E4_SQL})", 10**4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
    "rel_q5_regional_revenue": f"""
        SELECT n_name, {_dollars_sql(f"SUM({_REV_E4_SQL})", 10**4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
    "rel_semi_anti_join": """
        WITH w AS (
          SELECT c_nationkey, COUNT(*) AS with_orders FROM customer
          WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          GROUP BY c_nationkey
        ), wo AS (
          SELECT c_nationkey, COUNT(*) AS without_orders FROM customer
          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          GROUP BY c_nationkey
        )
        SELECT COALESCE(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
               COALESCE(with_orders, 0) AS with_orders,
               COALESCE(without_orders, 0) AS without_orders
        FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey
        ORDER BY c_nationkey
        """,
    "rel_outer_join_nulls": """
        SELECT COALESCE(p_partkey, l_partkey) AS partkey,
               p_partkey IS NOT NULL AS in_part,
               COALESCE(n_lines, 0) AS n_lines
        FROM (SELECT p_partkey FROM part WHERE p_partkey < 500) p
        FULL OUTER JOIN (
          SELECT l_partkey, COUNT(*) AS n_lines FROM lineitem
          WHERE l_partkey < 700 GROUP BY l_partkey
        ) l ON p.p_partkey = l.l_partkey
        ORDER BY partkey
        """,
    "rel_self_join_prev_order": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               LAG(o_orderkey) OVER w AS prev_orderkey,
               LAG(o_orderdate) OVER w AS prev_orderdate
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        QUALIFY o_custkey < 50
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """,
    "rel_asof_join": """
        SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS last_click_id, c.ts AS last_click_ts
        FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (
          -- dedupe equal-ts clicks per user keeping MAX event_id: the
          -- Spark window orders equal-ts clicks by click_id ASC so its
          -- carried last() is also the max (tie semantics pinned by
          -- tests/test_relational.py::test_asof_equal_ts_tiebreak)
          SELECT user_id, event_id, ts FROM (
            SELECT user_id, event_id, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
          ) d WHERE rn = 1
        ) c ON p.user_id = c.user_id AND c.ts <= p.ts
        ORDER BY p.user_id, purchase_id
        """,
    "rel_range_join": """
        SELECT p.event_id AS purchase_id, p.user_id AS uid, COUNT(*) AS n_prior_events
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, ts FROM events WHERE event_type IN ('click', 'view')) e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts - INTERVAL 1 HOUR
         AND e.ts < p.ts
        GROUP BY p.event_id, p.user_id ORDER BY purchase_id
        """,
    "rel_topk_per_group": """
        SELECT o_custkey, rk, o_orderkey, price FROM (
          SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders WHERE o_custkey < 100
        ) t WHERE rk <= 3 ORDER BY o_custkey, rk
        """,
    "rel_window_running": """
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
               ROW_NUMBER() OVER w AS rn,
               NTILE(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        QUALIFY o_custkey < 30
        ORDER BY o_custkey, rn
        """,
    "rel_window_frames": """
        SELECT l_orderkey, l_linenumber, l_partkey,
               ROUND(AVG(l_quantity) OVER w, 6) AS moving_avg_qty,
               COUNT(*) OVER w AS frame_size
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        QUALIFY l_orderkey < 300
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
        """,
    "rel_lag_lead_delta": """
        SELECT user_id, event_id,
               ROUND(EXTRACT(EPOCH FROM ts) - EXTRACT(EPOCH FROM LAG(ts) OVER w), 6) AS gap_seconds,
               LEAD(event_type) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY user_id < 50
        ORDER BY user_id, event_id
        """,
    "rel_sessionize": """
        WITH g AS (
          SELECT user_id, event_id, value, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR EXTRACT(EPOCH FROM ts) - EXTRACT(EPOCH FROM LAG(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, value,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM g
        ), per_session AS (
          SELECT user_id, session_id, COUNT(*) AS n_events,
                 ROUND(SUM(value), 2) AS session_value
          FROM s GROUP BY user_id, session_id
        )
        SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
               ROUND(SUM(session_value), 2) AS total_value
        FROM per_session GROUP BY user_id ORDER BY user_id
        """,
    "rel_set_ops": """
        WITH y94 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1994),
             y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
             tagged AS (
               SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM y94 INTERSECT SELECT o_custkey FROM y95)
               UNION ALL
               SELECT 'only_1994', o_custkey FROM (SELECT o_custkey FROM y94 EXCEPT SELECT o_custkey FROM y95)
               UNION ALL
               SELECT 'either', o_custkey FROM (SELECT o_custkey FROM y94 UNION SELECT o_custkey FROM y95)
             )
        SELECT tag, COUNT(*) AS n_customers FROM tagged GROUP BY tag ORDER BY tag
        """,
    "rel_scalar_string": """
        SELECT p_partkey,
               UPPER(p_name) AS upper_name,
               LOWER(p_brand) AS lower_brand,
               SUBSTR(p_name, 1, 5) AS name5,
               CAST(LENGTH(p_name) AS INT) AS name_len,
               REGEXP_REPLACE(p_type, '[aeiou]', '_', 'g') AS devoweled,
               LPAD(CAST(p_partkey AS STRING), 8, '0') AS padded_key,
               REVERSE(p_brand) AS rev_brand,
               CONCAT_WS('|', p_brand, p_type) AS joined,
               CAST(STRPOS(p_name, 'a') AS INT) AS first_a,
               TRIM('  x  ') AS trimmed
        FROM part WHERE p_partkey < 200 ORDER BY p_partkey
        """,
    "rel_scalar_datetime": """
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
               CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
               CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
               o_orderdate + INTERVAL 90 DAY AS due_date,
               CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey
        """,
    "rel_scalar_math": """
        SELECT c_custkey,
               ROUND(ABS(c_acctbal), 2) AS abs_bal,
               CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
               CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
               ROUND(SQRT(ABS(c_acctbal)), 6) AS sqrt_bal,
               ROUND(LN(ABS(c_acctbal) + 1), 6) AS ln_bal,
               ROUND(POW(CAST(c_custkey AS DOUBLE), 2), 2) AS key_sq,
               c_custkey % 7 AS key_mod7,
               CAST(SIGN(c_acctbal) AS INT) AS bal_sign
        FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
        """,
    "rel_case_null_logic": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 200000 THEN 'big'
                    WHEN o_totalprice > 100000 THEN 'mid'
                    ELSE 'small' END AS size_class,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
               GREATEST(o_totalprice, 150000.0) AS floor_150k,
               LEAST(o_totalprice, 150000.0) AS cap_150k,
               o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_urgent
        FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
        """,
    "rel_correlated_above_avg": """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 AVG(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
          FROM orders
        ) t
        WHERE o_totalprice > cust_avg * 1.5 AND o_custkey < 100
        ORDER BY o_custkey, o_orderkey
        """,
    "rel_q7_volume": f"""
        SELECT sn.supp_nation, cn.cust_nation,
               CAST(YEAR(l_shipdate) AS INT) AS l_year,
               {_dollars_sql(f"SUM({_REV_E4_SQL})", 10**4)} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN (SELECT s_suppkey, n_name AS supp_nation FROM supplier
              JOIN nation ON s_nationkey = n_nationkey) sn
          ON l.l_suppkey = sn.s_suppkey
        JOIN (SELECT c_custkey, n_name AS cust_nation FROM customer
              JOIN nation ON c_nationkey = n_nationkey) cn
          ON o.o_custkey = cn.c_custkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
            OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
    "rel_q8_market_share": f"""
        SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
               ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_3'
                              THEN {_REV_E4_SQL}
                              ELSE 0 END) AS DOUBLE)
                     / CAST(SUM({_REV_E4_SQL}) AS DOUBLE), 6) AS mkt_share
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN (SELECT s_suppkey, n_name FROM supplier
              JOIN nation ON s_nationkey = n_nationkey) sn
          ON l.l_suppkey = sn.s_suppkey
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1
        """,
    "rel_q10_returned_revenue": f"""
        SELECT c_custkey, c_name, n_name,
               {_dollars_sql(f"SUM({_REV_E4_SQL})", 10**4)} AS revenue,
               ROUND(ANY_VALUE(c_acctbal), 2) AS c_acctbal,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-04-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """,
    "rel_q14_promo_effect": f"""
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
                     / SUM(rev_e4), 6) AS promo_revenue_pct,
               {_dollars_sql("SUM(rev_e4)", 10**4)} AS total_revenue,
               COUNT(*) AS n_items
        FROM (
          SELECT p_type,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_e4
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-03-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
        ) t
        """,
    "rel_q18_large_orders": f"""
        WITH big AS (
          SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
          FROM lineitem GROUP BY 1
          HAVING ROUND(SUM(l_quantity), 2) > {Q18_MIN_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               ROUND(o_totalprice, 2) AS o_totalprice, total_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
        """,
    "rel_window_ranks": """
        SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS price,
               CAST(DENSE_RANK() OVER w AS INT) AS drank,
               ROUND(PERCENT_RANK() OVER w, 6) AS prank,
               ROUND(CUME_DIST() OVER w, 6) AS cdist,
               CAST(NTILE(4) OVER w AS INT) AS quartile
        FROM orders WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderpriority, o_orderkey
        """,
    "rel_pivot_status": """
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    "rel_unpivot_status": """
        WITH p AS (
          SELECT o_orderpriority,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
                 CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, s.status,
               CASE s.status WHEN 'F' THEN f WHEN 'O' THEN o ELSE p END AS n_orders
        FROM p CROSS JOIN (VALUES ('F'), ('O'), ('P')) s(status)
        ORDER BY o_orderpriority, status
        """,
    "rel_q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    "rel_q12_late_lines": """
        SELECT l_returnflag AS ship_category,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY 1 ORDER BY 1
        """,
    "rel_q13_custdist": """
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        ) per GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
    "rel_q15_top_supplier": f"""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no, SUM({_REV_E4_SQL}) AS total_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               {_dollars_sql("total_e4", 10**4)} AS total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_e4 = (SELECT MAX(total_e4) FROM rev)
        ORDER BY s_suppkey
        """,
    "rel_q17_small_qty_revenue": """
        SELECT ROUND(CAST(SUM(price_c) AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
        FROM (
          SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
                 CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
                 SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                   OVER (PARTITION BY l_partkey) AS sum_qty_c,
                 COUNT(*) OVER (PARTITION BY l_partkey) AS n_lines
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_brand = 'Brand#13' AND p_size < 10
        ) g WHERE 5 * qty_c * n_lines < sum_qty_c
        """,
    "rel_q19_disjunctive_join": f"""
        SELECT {_dollars_sql(f"SUM({_REV_E4_SQL})", 10**4)} AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
        """,
    "rel_q22_global_sales_opportunity": """
        WITH pos AS (
          SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sum_c,
                 COUNT(*) AS n_pos
          FROM customer WHERE c_acctbal > 0
        )
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
               COUNT(*) AS numcust,
               ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0, 2) AS totacctbal
        FROM customer, pos
        WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n_pos > sum_c
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY 1 ORDER BY 1
        """,
    "rel_q2_min_cost_supplier": f"""
        WITH {_PS_SQL},
        dims AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
        ),
        j AS (
          SELECT ps.ps_partkey, ps.ps_supplycost_c,
                 d.s_name, d.s_acctbal, d.n_name, p.p_brand
          FROM partsupp ps
          JOIN part p ON ps.ps_partkey = p.p_partkey
          JOIN dims d ON ps.ps_suppkey = d.s_suppkey
          WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
        ),
        m AS (
          SELECT *, MIN(ps_supplycost_c) OVER (PARTITION BY ps_partkey)
                    AS min_cost_c
          FROM j
        )
        SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
               ps_partkey AS p_partkey, p_brand,
               ROUND(CAST(ps_supplycost_c AS DOUBLE) / 100.0, 2) AS supplycost
        FROM m WHERE ps_supplycost_c = min_cost_c
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
        """,
    "rel_q9_product_profit": f"""
        WITH {_PS_SQL}
        SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
               {_dollars_sql(
                 "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                 " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
                 " - CAST(ROUND(l_quantity * 100) AS BIGINT) * ps_supplycost_c)",
                 10**4)} AS sum_profit
        FROM lineitem
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_type = 'PROMO'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
    "rel_q11_important_stock": f"""
        WITH {_PS_SQL},
        scoped AS (
          SELECT ps_partkey, ps_supplycost_c * ps_availqty AS val_c
          FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_1'
        ),
        per_part AS (
          SELECT ps_partkey, SUM(val_c) AS value_c FROM scoped GROUP BY 1
        )
        SELECT ps_partkey,
               ROUND(CAST(value_c AS DOUBLE) / 100.0, 2) AS value
        FROM per_part
        WHERE value_c * 10000 > (SELECT SUM(value_c) FROM per_part)
        ORDER BY value DESC, ps_partkey
        """,
    "rel_q16_supplier_part_count": f"""
        WITH {_PS_SQL}
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
          AND ps_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
    "rel_q20_excess_stock": f"""
        WITH {_PS_SQL},
        shipped AS (
          SELECT l_partkey AS sp, l_suppkey AS ss,
                 SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sum_qty_c
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1, 2
        ),
        excess AS (
          SELECT DISTINCT ps_suppkey
          FROM partsupp JOIN shipped ON ps_partkey = sp AND ps_suppkey = ss
          WHERE 200 * ps_availqty > sum_qty_c
            AND ps_partkey IN
                (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        )
        SELECT s_suppkey, s_name
        FROM excess JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_2'
        ORDER BY s_suppkey
        """,
    "rel_q21_waiting_suppliers": """
        WITH j AS (
          SELECT l_orderkey, l_suppkey,
                 l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
        ),
        per_order AS (
          SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
                 COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END)
                   AS n_late_supp
          FROM j GROUP BY 1
        ),
        waiting AS (
          SELECT DISTINCT j.l_orderkey, j.l_suppkey
          FROM j JOIN per_order USING (l_orderkey)
          WHERE is_late AND n_supp > 1 AND n_late_supp = 1
        )
        SELECT s_name, s_suppkey AS suppkey, COUNT(*) AS numwait
        FROM waiting JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2 ORDER BY numwait DESC, s_name LIMIT 100
        """,
}
