"""Distributed data sketches: KMV distinct-count, count-min heavy
hitters, and a Bloom-filter semi-join pre-filter.

At 100 TB, exact answers to "how many distinct", "which keys are hot",
and "which rows could match" are shuffle-bound; the production answer
is a mergeable sketch whose size is independent of the data (the
DataSketches/theta-sketch family the reference-scale OLAP engines
ship). Every sketch here is DETERMINISTIC — built on the repo-wide
portable md5 hash (functions/text.py: portable_hash32/64) — so the
DuckDB oracle computes the identical sketch and the driver's value-hash
gate checks the sketch ARITHMETIC, not just row counts. That rules out
Spark's own approx_count_distinct (HLL++ internals don't reproduce in
DuckDB); the trade is documented per operator.

Scale shapes:
- KMV: per-group bottom-K of distinct hashes via a two-level
  (salted-partial → global) top-K merge — the classic mergeable-sketch
  union. No group's full distinct set ever sits in one task.
- CMS: the update stream folds into a D×W counter grid with map-side
  combine — the shuffle carries at most D·W rows per map partition
  regardless of key cardinality; the finished sketch is
  broadcast-sized.
- Bloom: the bit set of the build side is a broadcast dim; the probe
  is K successive broadcast left-semi joins (no shuffle of the probe
  side) — the app-level form of the runtime row-group bloom filters a
  warehouse pushes into scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from task_hive_spark.functions.text import portable_hash32, portable_hash64
from task_hive_spark.functions.report import report_sort
from task_hive_spark.materialize import memoized_run
from task_hive_spark.sources.fixtures import load_table

# --- KMV (K-minimum-values) distinct estimator --------------------------
# Bar-Yossef et al. 2002: keep the K smallest distinct hash values; if
# the K-th smallest is h_K over a domain of size D, the distinct count
# is ≈ (K-1)·D/h_K. Groups with fewer than K distinct hashes report
# exactly (the sketch IS the value set there).
KMV_K = 64
KMV_SALTS = 16  # partial-sketch fan-in for the two-level bottom-K merge
_HASH64_DOMAIN = float(1 << 60)  # portable_hash64 = 15 hex digits


def kmv_sketch(hashed: DataFrame) -> DataFrame:
    """Per-group bottom-K of a distinct (event_type, h) hash frame via
    the two-level salted merge — the KMV state. ONE implementation
    shared by the batch query and the incremental streaming fold:
    bottom-K is a mergeable order statistic (bottom-K of unioned
    bottom-Ks ≡ bottom-K of the union), so chunked folds converge to
    the whole-corpus sketch."""
    partial = W.partitionBy("event_type", F.pmod("h", F.lit(KMV_SALTS))).orderBy("h")
    merged = W.partitionBy("event_type").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(partial))
        .where(F.col("rn") <= KMV_K)
        .withColumn("rn", F.row_number().over(merged))
        .where(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )


def kmv_hashes(ev: DataFrame, dedup: bool = True) -> DataFrame:
    """(event_type, h) rows for a frame with (event_type, user_id) —
    the KMV update stream. ``dedup=False`` lets a caller that is about
    to union more rows (the streaming fold merging prior state) defer
    to ONE distinct instead of paying two shuffles."""
    h = ev.select(
        "event_type",
        portable_hash64(F.col("user_id").cast("string"), seed="kmv-").alias("h"),
    )
    return h.distinct() if dedup else h


def kmv_estimate(sk: DataFrame) -> DataFrame:
    """The per-group estimate from KMV state (≤ K rows per group): a
    full sketch's max IS its K-th smallest; under-full sketches report
    their exact count (the state is the value set there)."""
    agg = sk.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_sketch"),
        F.max("h").alias("max_h"),
    )
    kth = F.when(F.col("n_sketch") == KMV_K, F.col("max_h"))
    est = F.when(F.col("n_sketch") < KMV_K, F.col("n_sketch")).otherwise(
        F.floor(F.lit(float(KMV_K - 1)) * F.lit(_HASH64_DOMAIN) / kth)
    )
    # sketch-sized reports: one-exchange deterministic sort (functions/report.py)
    return report_sort(
        agg.select(
            "event_type",
            "n_sketch",
            kth.alias("kth_min_hash"),
            est.cast("bigint").alias("est_distinct"),
        ),
        "event_type",
    )


def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a KMV sketch.

    Shape: one distinct-shuffle on (group, hash) — the same cost any
    exact distinct pays — then two window passes over shrinking data:
    bottom-K per (group, salt) bounds every partition's sort at K·
    (distinct/SALTS), and the global bottom-K merges ≤ K·SALTS
    survivors per group. At 100 TB only the first shuffle sees the
    data; the sketch merge is O(K·SALTS) rows per group."""
    ev = load_table(spark, sf_dir, "events")
    return kmv_estimate(kmv_sketch(kmv_hashes(ev)))


# --- HyperLogLog distinct estimator -------------------------------------
# Flajolet et al. 2007. Unlike KMV, HLL never needs the distinct
# pre-shuffle: register state is a per-(group, register) MAX — an
# algebraic aggregate with map-side combine, so each map task emits at
# most m rows per group no matter how many values it saw. That makes
# HLL the sketch of choice for streaming/ingest-time cardinality.
# Determinism: the register fold is exact-integer (Σ 2^(53−M_j) in
# int64 — order-free, unlike a float Σ 2^−M_j whose rounding would
# depend on engine summation order); the only float ops are one
# division and (small-range) one ln(), both already proven
# engine-stable by the BM25/DSIR oracles.
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
HLL_W = 52  # rank field: low 52 of the 60-bit portable hash
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# raw estimate = α·m² / Σ 2^−M  =  (α·m²·2^53) / Σ 2^(53−M)
_HLL_ALPHA_NUM = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)


def hll_registers(
    ev: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Sparse HLL register state (*keys, j, m) for a frame carrying the
    key columns and ``user_id``. ONE implementation shared by the batch
    queries and the incremental streaming fold
    (streaming/sketchstream.py) — the minhash_sigs_of no-drift
    discipline. State merges by MAX, so incremental folds and
    whole-corpus builds converge identically."""
    keys = keys or ["event_type"]
    h = ev.select(
        *keys,
        portable_hash64(F.col("user_id").cast("string"), seed="hll-").alias("h"),
    )
    w = F.col("h").bitwiseAND(F.lit((1 << HLL_W) - 1))
    # leading zeros in the 52-bit field + 1; bin() is minimal-width in
    # both engines, so bitlen(w) = length(bin(w)) for w > 0
    rank = F.when(w == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(w))
    )
    return (
        h.select(*keys, F.shiftright("h", HLL_W).alias("j"), rank.alias("r"))
        .groupBy(*keys, "j")
        .agg(F.max("r").alias("m"))
    )


def hll_estimate(
    spark: SparkSession, regs: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """The per-group HLL estimate (with small-range linear counting)
    from sparse register state: the exact-integer Σ 2^(53−M) fold, then
    the α-corrected division.

    The fold runs SPARSELY — r13 optimization (guide §2.4, remove
    shuffles outright): every present register has m ≥ 1 (the rank
    expression in hll_registers is ≥ 1 by construction), so the absent
    registers' contribution is closed-form — v_zero = m − |present| and
    each contributes exactly 2^53 to the scaled sum. The earlier
    grid-fill shape (distinct keys × range(m) crossJoin + left join)
    re-scanned the events table for the key grid and paid a join plus
    an extra aggregate per query for values this one aggregation
    computes bit-identically in exact int64 (measured: the sk_hll_*
    plans drop one parquet scan, one BroadcastNestedLoopJoin, one
    left join and two aggregates each; the DuckDB oracle keeps the
    grid form, so the hash gate is the equivalence proof)."""
    keys = keys or ["event_type"]
    return report_sort(_hll_estimates(regs, keys), *keys)


def _hll_estimates(regs: DataFrame, keys: list[str]) -> DataFrame:
    """The UNSORTED estimate frame — callers that aggregate or merge the
    estimates further (sk_hll_union) use this core directly so the plan
    skips the report tail's repartition(1) + sort, which a downstream
    Aggregate would pay for and then discard (Catalyst removes orderBy
    under aggregates but preserves an explicit repartition)."""
    n_present = F.count("*")
    v_zero = (F.lit(HLL_M) - n_present).cast("bigint")
    agg = regs.groupBy(*keys).agg(
        v_zero.alias("v_zero"),
        (
            F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("m")).cast("long"))
            + v_zero * F.lit(1 << 53)
        ).cast("bigint").alias("sum_scaled"),
    )
    raw = F.lit(_HLL_ALPHA_NUM) / F.col("sum_scaled")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("v_zero") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v_zero")),
    ).otherwise(raw)
    return agg.select(
        *keys,
        "v_zero",
        "sum_scaled",
        F.floor(est).cast("bigint").alias("est_distinct"),
    )


def sk_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via 256-register HyperLogLog,
    with the standard small-range linear-counting correction.

    Shape: ONE narrow shuffle of ≤ m·|groups| partial-max rows (the
    groupBy(group, register).max partial-aggregates map-side); the
    register grid, zero-fill join, and estimate arithmetic all run on
    m·|groups| rows. At 100 TB this is the cheapest possible distinct:
    the data is touched once, map-side, and the shuffle is sketch-sized."""
    ev = load_table(spark, sf_dir, "events")
    return hll_estimate(spark, hll_registers(ev))


def sk_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event type — the canonical dashboard
    query a 100 TB event store answers from sketches: HLL registers
    keyed by (day, event_type). Per-day sketches are also what the
    mergeability story composes over (sk_hll_union's register-max over
    any subset of days answers any date-range distinct without
    re-reading events). Same single register/estimate implementation,
    group keys widened; `to_date`/CAST-to-DATE pins the grouping type
    cross-engine (DuckDB's date_trunc('day') yields DATE, Spark's
    yields TIMESTAMP)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    keys = ["day", "event_type"]
    return hll_estimate(spark, hll_registers(ev, keys), keys)


def sk_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users across ALL event types, computed by MERGING the
    per-type register sketches (register-wise max) — the data is never
    re-read. This is the property that makes sketches the 100 TB
    answer: per-partition/per-day/per-source sketches built
    independently union in O(m) regardless of what they summarize. The
    output also carries Σ of the per-group estimates so the union ≠
    sum distinction (overlapping groups) is visible in the gated row."""
    ev = load_table(spark, sf_dir, "events")
    # materialize the finished register state ONCE (≤ m·|groups| rows):
    # the union merge and the per-group estimate both consume it, and
    # without the checkpoint each re-ran the events pass (guide §2.4 —
    # the sketch, not the data, is what a union reads)
    regs = hll_registers(ev).localCheckpoint()
    union_regs = (
        regs.groupBy("j")
        .agg(F.max("m").alias("m"))
        .withColumn("event_type", F.lit("all"))
    )
    union_est = _hll_estimates(union_regs, ["event_type"]).select(
        F.col("est_distinct").alias("est_union")
    )
    per_group = _hll_estimates(regs, ["event_type"]).agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("est_distinct").cast("bigint").alias("sum_group_ests"),
    )
    return per_group.crossJoin(F.broadcast(union_est)).select(
        "n_groups", "sum_group_ests", "est_union"
    )


# --- Theta-sketch set intersection --------------------------------------
# Dasgupta et al. 2016 (the DataSketches theta framework): KMV sketches
# of two sets are unioned by keeping hashes below θ = min(θ_A, θ_B);
# |A∩B| ≈ |S_A ∩ S_B ∩ [0,θ)| · D/θ. Set-expression cardinalities
# WITHOUT ever co-shuffling the raw sets — at 100 TB the two sides are
# sketched independently (possibly on different clusters/days) and the
# set algebra runs on 2·K rows.
THETA_K = 64
THETA_SIDE_A = "click"
THETA_SIDE_B = "purchase"


def _bottom_k_partial(distinct_h: DataFrame, k: int) -> DataFrame:
    """The salted partial stage of the two-level bottom-K merge: at most
    k survivors per salt, so the frame this RETURNS — the input of the
    global single-partition window below — is ≤ k·KMV_SALTS rows. The
    bound is asserted at audit time (scripts/plan_audit.py
    check_window_bounds), so a refactor that unbounds it fails the
    audit gate, not just a comment."""
    partial = W.partitionBy(F.pmod("h", F.lit(KMV_SALTS))).orderBy("h")
    return distinct_h.withColumn("rn", F.row_number().over(partial)).where(
        F.col("rn") <= k
    )


def _bottom_k_hashes(distinct_h: DataFrame, k: int) -> DataFrame:
    """Global bottom-K of a single-column distinct hash frame via the
    salted two-level merge; the final unpartitioned window sees only
    ≤ k·KMV_SALTS survivors (one of plan_audit's documented bounded
    single-partition cases)."""
    merged = W.orderBy("h")
    return (
        _bottom_k_partial(distinct_h, k)
        .withColumn("rn", F.row_number().over(merged))
        .where(F.col("rn") <= k)
    )


def _theta_side_hashes(ev: DataFrame, event_type: str) -> DataFrame:
    """Distinct user hashes of one theta side — factored so the audit
    (plan_audit.check_window_bounds) measures the exact frame the
    operator feeds into the bounded bottom-K."""
    return (
        ev.where(F.col("event_type") == event_type)
        .select(
            portable_hash64(F.col("user_id").cast("string"), seed="kmv-").alias("h")
        )
        .distinct()
    )


def sk_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap between the click-user and purchase-user sets from their
    theta sketches: estimated |A∩B|, |A∪B| and the Jaccard (in exact
    micro units). Under-full sketches degrade to exact set algebra
    (θ = D), so the estimator is total."""
    ev = load_table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return _bottom_k_hashes(_theta_side_hashes(ev, event_type), THETA_K)

    # ONE materialization of the MERGED sketch pair (≤ 2·THETA_K rows,
    # rn carried through the full-outer merge): the stats aggregate and
    # the θ-filtered count both derive from this frame, where the
    # original shape re-executed each side's distinct-shuffle +
    # bottom-K chain once per consumer (Spark plans no cross-subtree
    # CSE — the before plan holds SIX copies of the events scan →
    # distinct → window chain, guide §2.4). A single checkpoint keeps
    # the two sides' chains concurrent inside one action (checkpointing
    # each side separately serialized them into extra job floors —
    # measured slower at sf0.1). The theta posture anyway: the set
    # algebra runs on the HELD sketches, never the data.
    sa, sb = side(THETA_SIDE_A), side(THETA_SIDE_B)
    both = (
        sa.select("h", F.col("rn").alias("rn_a"))
        .join(
            sb.select("h", F.col("rn").alias("rn_b")),
            "h",
            "full_outer",
        )
        .localCheckpoint()
    )
    stats = (
        both.agg(
            F.count("rn_a").cast("bigint").alias("n_sketch_a"),
            F.max(F.when(F.col("rn_a") == THETA_K, F.col("h"))).alias("kth_a"),
            F.count("rn_b").cast("bigint").alias("n_sketch_b"),
            F.max(F.when(F.col("rn_b") == THETA_K, F.col("h"))).alias("kth_b"),
        )
        .withColumn(
            "theta",
            F.least(
                F.coalesce("kth_a", F.lit(1 << 60)),
                F.coalesce("kth_b", F.lit(1 << 60)),
            ),
        )
    )
    counts = (
        both.crossJoin(F.broadcast(stats.select("theta")))
        .where(F.col("h") < F.col("theta"))
        .agg(
            F.sum(
                F.when(F.col("rn_a").isNotNull() & F.col("rn_b").isNotNull(), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_common"),
            F.count("*").cast("bigint").alias("n_union"),
        )
    )
    d = F.lit(_HASH64_DOMAIN)
    return stats.crossJoin(F.broadcast(counts)).select(
        "n_sketch_a",
        "n_sketch_b",
        "theta",
        "n_common",
        "n_union",
        F.floor(F.col("n_common") * d / F.col("theta")).cast("bigint").alias(
            "est_intersect"
        ),
        F.floor(F.col("n_union") * d / F.col("theta")).cast("bigint").alias(
            "est_union"
        ),
        F.floor(F.col("n_common") * F.lit(1000000.0) / F.col("n_union"))
        .cast("bigint")
        .alias("jaccard_micro"),
    )


def sk_theta_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-DIFFERENCE cardinalities from the same two theta sketches —
    the A-not-B operation completing the theta algebra (DataSketches'
    third set operator next to union/intersection): under the common
    θ = min(θ_A, θ_B), |A\\B| ≈ |{h ∈ S_A : h < θ, h ∉ S_B}| · D/θ and
    symmetrically for B\\A; the symmetric difference is their sum. Same
    scale shape as sk_theta_intersect: both sides sketched
    independently, the algebra runs on ≤ 2·K rows."""
    ev = load_table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return _bottom_k_hashes(_theta_side_hashes(ev, event_type), THETA_K)

    # one checkpoint of the merged pair, rn carried through — the
    # sk_theta_intersect plan-fold, same rationale
    sa, sb = side(THETA_SIDE_A), side(THETA_SIDE_B)
    both = (
        sa.select("h", F.col("rn").alias("rn_a"))
        .join(
            sb.select("h", F.col("rn").alias("rn_b")),
            "h",
            "full_outer",
        )
        .localCheckpoint()
    )
    stats = (
        both.agg(
            F.count("rn_a").cast("bigint").alias("n_sketch_a"),
            F.max(F.when(F.col("rn_a") == THETA_K, F.col("h"))).alias("kth_a"),
            F.count("rn_b").cast("bigint").alias("n_sketch_b"),
            F.max(F.when(F.col("rn_b") == THETA_K, F.col("h"))).alias("kth_b"),
        )
        .withColumn(
            "theta",
            F.least(
                F.coalesce("kth_a", F.lit(1 << 60)),
                F.coalesce("kth_b", F.lit(1 << 60)),
            ),
        )
    )
    counts = (
        both.crossJoin(F.broadcast(stats.select("theta")))
        .where(F.col("h") < F.col("theta"))
        .agg(
            F.sum(
                F.when(F.col("rn_a").isNotNull() & F.col("rn_b").isNull(), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_anotb"),
            F.sum(
                F.when(F.col("rn_b").isNotNull() & F.col("rn_a").isNull(), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_bnota"),
        )
    )
    d = F.lit(_HASH64_DOMAIN)
    return stats.crossJoin(F.broadcast(counts)).select(
        "n_sketch_a",
        "n_sketch_b",
        "theta",
        "n_anotb",
        "n_bnota",
        F.floor(F.col("n_anotb") * d / F.col("theta")).cast("bigint").alias(
            "est_anotb"
        ),
        F.floor(F.col("n_bnota") * d / F.col("theta")).cast("bigint").alias(
            "est_bnota"
        ),
        F.floor(
            (F.col("n_anotb") + F.col("n_bnota")) * d / F.col("theta")
        ).cast("bigint").alias("est_sym_diff"),
    )


# --- Count-min sketch heavy hitters -------------------------------------
# Cormode & Muthukrishnan 2005: D independent hash rows × W counters;
# point estimate = min over rows (one-sided: never under-counts).
CMS_D = 4
CMS_W = 512
CMS_PHI_INV = 50  # heavy hitter ⇔ est ≥ stream_length / 50 (φ = 2%)


def cms_cells(item: F.Column, width: int = CMS_W) -> list[F.Column]:
    """The D (row, col) cells an item updates — shared by build and
    probe so the two sides can never drift.

    All D rows derive from ONE md5 of the item: row d reads hex digits
    [8d, 8d+8) of the 32-digit digest — four disjoint 32-bit fields of
    a uniform 128-bit hash, so the rows stay independent while the
    per-occurrence hashing cost drops 4× (this was the dominant cost of
    the grid build: one md5 per (occurrence, row) at D=4 doubled the
    whole query's runtime). Spark's whole-stage codegen subexpression
    elimination evaluates the shared md5 once per row; the DuckDB
    oracle mirrors the same digest-slice arithmetic (_cms_hash)."""
    digest = F.md5(F.concat(F.lit("cms-"), item))
    return [
        F.struct(
            F.lit(d).alias("d"),
            (
                F.conv(F.substring(digest, 8 * d + 1, 8), 16, 10).cast("long")
                % width
            ).cast("int").alias("col"),
        )
        for d in range(CMS_D)
    ]


def cms_grid(occ: DataFrame) -> DataFrame:
    """Sparse CMS counter grid (d, col, c) from a token-occurrence
    frame (column ``tok``). ONE implementation shared by the batch
    query and the incremental streaming fold — sketch state merges by
    SUM, so per-chunk grids added together equal the whole-stream grid."""
    return (
        occ.select(F.explode(F.array(*cms_cells(F.col("tok")))).alias("cell"))
        .groupBy("cell.d", "cell.col")
        .agg(F.count("*").alias("c"))
    )


def cms_heavy_hitters_from(sketch: DataFrame, candidates: DataFrame) -> DataFrame:
    """Heavy hitters from a finished CMS grid + a candidate-token
    frame: min-over-rows point estimates, φ-thresholded against the
    stream length (any single sketch row sums to N)."""
    # materialize the finished grid ONCE (≤ D·W counter rows): the
    # stream-length row-sum and the broadcast probe join both consume
    # it, and without the checkpoint each re-ran the grid build over
    # the occurrence/dictionary frame (guide §2.4 — probe the held
    # sketch, don't rebuild it per consumer)
    sketch = sketch.localCheckpoint()
    total = sketch.where(F.col("d") == 0).agg(F.sum("c").alias("n_stream"))
    probe = (
        candidates.select(
            "tok", F.explode(F.array(*cms_cells(F.col("tok")))).alias("cell")
        )
        .select("tok", "cell.d", "cell.col")
    )
    # LEFT join + coalesce-to-0: a candidate absent from the stream has
    # all-empty cells and must estimate 0 (standard CMS point-estimate
    # semantics) — an inner join would min() over only its nonzero
    # collision cells. In-stream candidates (every current caller) hit
    # D nonzero cells, so their estimates are unchanged.
    est = (
        probe.join(F.broadcast(sketch), ["d", "col"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce("c", F.lit(0).cast("bigint"))).alias("est_count"))
    )
    return report_sort(
        est.crossJoin(F.broadcast(total))
        .where(F.col("est_count") * CMS_PHI_INV >= F.col("n_stream"))
        .select("tok", "est_count"),
        F.desc("est_count"),
        "tok",
    )


def cms_grid_weighted(counts: DataFrame) -> DataFrame:
    """The CMS grid as the count-weighted fold of a (tok, cnt)
    dictionary: Σ over tokens of cnt into each of the token's D cells.
    Bit-identical to cms_grid over the raw occurrence stream (additive
    grid, grouping commutes — pinned in tests), but hashes each token
    ONCE instead of once per occurrence."""
    return (
        counts.select(
            F.explode(F.array(*cms_cells(F.col("tok")))).alias("cell"), "cnt"
        )
        .groupBy("cell.d", "cell.col")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )


def sk_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens of the corpus token stream via CMS.

    Grid build: the count-weighted fold of the corpus dictionary
    (unigram_vocab — the shared bag-of-words session index whose
    tokenization is pinned to token_index's), which is exactly the
    occurrence-stream grid (additive fold commutes with pre-grouping;
    cms_grid_weighted's equality with cms_grid is pinned in tests) at
    one hash per DISTINCT token instead of one per occurrence — the
    same one-corpus-pass-feeds-every-consumer design as the BPE
    trainer. The true streaming form — folding the raw occurrence
    stream with NO per-key state, each map task emitting ≤ D·W partial
    rows — is cms_grid, exercised by st_cms_incremental where data
    arrives incrementally and no dictionary exists yet. Candidates come
    from the same dictionary (the production shape: probe a sketch with
    a vocabulary); the stream length is one sketch row-sum."""
    from task_hive_spark.operators.textops import unigram_vocab

    vocab = unigram_vocab(spark, sf_dir)
    return cms_heavy_hitters_from(cms_grid_weighted(vocab), vocab.select("tok"))


# --- Bloom-filter semi-join pre-filter ----------------------------------
BLOOM_M = 32768  # bits
BLOOM_K = 3  # hash functions


def bloom_positions(key: F.Column) -> list[F.Column]:
    """The K bit positions a key sets/probes (shared build/probe)."""
    return [
        portable_hash32(key, seed=f"bf{k}-") % BLOOM_M for k in range(BLOOM_K)
    ]


def sk_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filter orders down to those whose customer COULD be in the
    delinquent set (c_acctbal < 0) using a Bloom filter, then audit the
    filter: zero false negatives by construction, false positives
    counted against ground truth.

    Shape: the build side collapses to ≤ K·|build| distinct bit rows —
    a broadcast dim; the probe is BLOOM_K successive broadcast
    LEFT-SEMI joins, so the fact table is never shuffled. This is the
    app-level form of bloom semi-join pushdown: at 100 TB you ship the
    kilobyte-scale bit set to every scan task and drop non-matching
    rows before the real join's exchange. The audit join (vs the true
    build set) exists to surface the FP rate in the gated output — a
    production filter would go straight to the main join."""
    cust = load_table(spark, sf_dir, "customer")
    bad = cust.where(F.col("c_acctbal") < 0).select("c_custkey")
    bits = (
        bad.select(
            F.explode(
                F.array(*bloom_positions(F.col("c_custkey").cast("string")))
            ).alias("bit")
        )
        .distinct()
    )
    probe = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = bloom_positions(F.col("o_custkey").cast("string"))
    # one UNALIASED broadcast subtree probed by all K semi joins: a
    # left-semi keeps only left columns, so `bit` is never ambiguous in
    # the next join's condition, and the K identical build subtrees
    # collapse to ONE BroadcastExchange + ReusedExchange (guide §2.4 —
    # the former per-k aliases made each build distinct, paying the
    # customer scan + explode + distinct + broadcast K times).
    hit = probe
    for k in range(BLOOM_K):
        hit = hit.join(F.broadcast(bits), pos[k] == F.col("bit"), "left_semi")
    audit = hit.join(
        bad.select(F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("is_bad")),
        "o_custkey",
        "left",
    ).agg(
        F.count("*").cast("bigint").alias("n_pass"),
        F.sum(F.coalesce("is_bad", F.lit(0))).cast("bigint").alias("n_true_match"),
    )
    n_orders = probe.agg(F.count("*").cast("bigint").alias("n_orders"))
    n_bits = bits.agg(F.count("*").cast("bigint").alias("n_bits_set"))
    return (
        n_orders.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(audit))
        .select(
            "n_orders",
            "n_bits_set",
            "n_pass",
            "n_true_match",
            (F.col("n_pass") - F.col("n_true_match")).alias("n_false_pos"),
        )
    )


# --- Log-linear histogram quantile sketch --------------------------------
# The fourth standard sketch-family member (distinct / frequency /
# membership / QUANTILES): an HdrHistogram-style log-linear histogram
# (Tene's HdrHistogram; the fixed-boundary analogue of KLL/t-digest).
# Bucket boundaries are FIXED functions of the value — the top
# QSK_SUB_BITS+1 significant bits — so the state is a pure counter map:
# merge = SUM per bucket (the CMS monoid), map-side combine applies, and
# two sketches built on different clusters/days union by addition. A
# KLL compactor has better worst-case size for adversarial ranges, but
# its compaction is sampling-based (randomized, merge-order-dependent) —
# unusable under this repo's cross-engine determinism gate; with money-
# scaled values (< 2^40) the log-linear grid is ≤ (40−S)·2^S buckets and
# in practice a few hundred — broadcast-sized, like every sketch here.
#
# Bucket: for v ≥ 0, exp = max(bitlen(v) − (S+1), 0) and the bucket is
# [lb, lb + 2^exp) with lb = (v >> exp) << exp — relative width ≤ 2^−S
# (3.125% at S=5). All arithmetic is exact-integer: bitlen via the
# minimal-width bin() both engines share, 2^exp via the proven
# CAST(power(2.0, e) AS BIGINT) pattern, v/2^exp exact in IEEE (power-
# of-two divisor, v < 2^53). Quantile report = each bucket's lb (a
# deterministic value in-range of the true quantile's bucket).
QSK_SUB_BITS = 5
QSK_QS = (50, 90, 99)  # reported percentiles (integer percent — the
# rank arithmetic stays exact: rank_q = ceil(n·q/100))


def qsk_state(vals: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Sparse histogram state (*keys, lb, cnt) from a frame carrying the
    key columns and a non-negative BIGINT measure ``v``. ONE
    implementation shared by the batch query and the incremental
    streaming fold (streaming/sketchstream.py): state merges by SUM per
    (keys, lb), so chunked folds converge to the whole-corpus sketch."""
    keys = keys or ["g"]
    v = F.col("v")
    exp = F.greatest(F.length(F.bin(v)) - F.lit(QSK_SUB_BITS + 1), F.lit(0))
    p = F.pow(F.lit(2.0), exp).cast("long")
    lb = (F.floor(v / p) * p).cast("long")
    return vals.groupBy(*keys, lb.alias("lb")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def qsk_estimate(state: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Percentile report from histogram state: per group, the lower
    bound of the first bucket whose cumulative count reaches
    rank_q = ceil(n·q/100) — the classic histogram quantile readout,
    deterministic because ranks are exact integers and buckets are
    fixed. Runs entirely on sketch-sized rows (the cumulative window
    partitions per group over its ≤ few-hundred buckets)."""
    keys = keys or ["g"]
    # totals via a second window over the SAME partitioning (not a
    # groupBy branch joined back: that plans a second derivation of the
    # state all the way from the scan — at 100 TB the one data-touching
    # stage would run twice)
    aug = state.withColumn(
        "cum", F.sum("cnt").over(W.partitionBy(*keys).orderBy("lb"))
    ).withColumn("n_rows", F.sum("cnt").over(W.partitionBy(*keys)))

    def rank(q: int) -> F.Column:
        # ceil(n·q/100) in exact INTEGER arithmetic: int64 `div` both
        # engines (the earlier double-division form was exact only while
        # n·q + 99 < 2^53 ≈ 9.1e13 rows at q=99 — comfortably past
        # 100 TB, but integer div removes the bound entirely up to the
        # int64 domain)
        return F.expr(f"(n_rows * {q} + 99) div 100")

    out = (
        aug.groupBy(*keys)
        .agg(
            F.max("n_rows").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_buckets"),
            *[
                F.min(F.when(F.col("cum") >= rank(q), F.col("lb")))
                .cast("bigint")
                .alias(f"p{q}_cents")
                for q in QSK_QS
            ],
        )
    )
    return report_sort(out, *keys)


def qsk_lineitem_vals(li: DataFrame, *extra: F.Column) -> DataFrame:
    """The quantile-sketch update stream from a lineitem projection:
    (g = l_returnflag, v = exact integer cents of l_extendedprice,
    *extra) — shared by batch, merged-rollup and streaming so the
    measure derivation can't drift. Cents via the relational suite's
    OWN `_cents` (one engine-side half of the cents↔ROUND(x·100)
    cross-engine contract, not a second copy of it)."""
    from task_hive_spark.operators.relational import _cents

    return li.select(
        F.col("l_returnflag").alias("g"),
        _cents("l_extendedprice").alias("v"),
        *extra,
    )


def sk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of l_extendedprice per return flag via the log-linear
    histogram sketch.

    Shape: ONE narrow shuffle of ≤ |buckets|·|groups| partial-sum rows
    (the groupBy(g, lb).count partial-aggregates map-side — the data is
    touched once, map-side, exactly like CMS/HLL); the cumulative
    window and rank probe run on sketch-sized state. At 100 TB this
    replaces the full sort/percentile_approx shuffle with a counter-map
    fold, and per-day sketches answer any date-range percentile by
    bucket-wise addition without re-reading data."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return qsk_estimate(qsk_state(qsk_lineitem_vals(li)), ["g"]).select(
        F.col("g").alias("l_returnflag"),
        "n_rows",
        "n_buckets",
        *[f"p{q}_cents" for q in QSK_QS],
    )


def sk_quantiles_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles answered by MERGING per-month histogram sketches
    (bucket-wise SUM) instead of scanning the data — the production
    rollup pattern: partial sketches are built per ingest window and
    any date-range percentile is answered by adding the relevant
    months' counter maps. Unlike HLL union (lossy register max, see
    sk_hll_union's union ≠ sum row), the additive histogram merge is
    EXACT: merging all months reproduces sk_quantiles' answer
    bit-for-bit (pinned in tests), which is the property that lets a
    100 TB store keep only monthly sketches and discard nothing.

    Shape: still ONE data-touching stage (groupBy(g, month, lb) with
    map-side combine); the merge and estimate run on sketch-sized rows;
    n_part_sketches rides a window over the same partitioning so no
    second scan is planned."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    vals = qsk_lineitem_vals(
        li, F.trunc(F.to_date("l_shipdate"), "month").alias("m")
    )
    return _merged_quantile_estimate(qsk_state(vals, ["g", "m"]))


def _merged_quantile_estimate(monthly: DataFrame) -> DataFrame:
    """The merge-and-read-out tail over a (g, m, lb, cnt) monthly-
    partial frame — shared by the scan-built form (sk_quantiles_merged)
    and the store-served form (sk_quantiles_served) so the rollup
    arithmetic cannot drift between them."""
    # months-per-group via a window (constant per g, so adding it to
    # the estimate's grouping keys changes nothing but the output)
    aug = monthly.withColumn(
        "n_parts",
        F.size(F.collect_set("m").over(W.partitionBy("g"))).cast("bigint"),
    )
    merged = aug.groupBy("g", "n_parts", "lb").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    return qsk_estimate(merged, ["g", "n_parts"]).select(
        F.col("g").alias("l_returnflag"),
        "n_parts",
        "n_rows",
        "n_buckets",
        *[f"p{q}_cents" for q in QSK_QS],
    )


# --- persisted sketch store + serving path --------------------------------


def materialize_sketch_store(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """WRITE the mergeable sketch states as parquet — the sketch STORE
    a 100 TB retention tier keeps after discarding (or archiving) the
    raw fact rows:

      quantiles_monthly/    (g, m, lb, cnt) — one additive counter map
                            per ingest month; any date-range percentile
                            is answered exactly by bucket-wise addition
      hll_daily_registers/  (day, event_type, j, m) — sparse HLL
                            register state; any date-range distinct is
                            answered by register MAX over the days

    The serving-tier companion of materialize_dedup_index_clustered /
    materialize_ann_index_clustered; returns the read-back summary."""
    import json as _json
    import os as _os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    vals = qsk_lineitem_vals(
        li, F.trunc(F.to_date("l_shipdate"), "month").alias("m")
    )
    qsk_state(vals, ["g", "m"]).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "quantiles_monthly")
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    hll_registers(ev, ["day", "event_type"]).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "hll_daily_registers")
    )
    summary = {
        name: spark.read.parquet(_os.path.join(out_dir, name)).count()
        for name in ("quantiles_monthly", "hll_daily_registers")
    }
    with open(_os.path.join(out_dir, "summary.json"), "w") as f:
        _json.dump(summary, f, indent=2)
    return summary


def _sketch_store_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the on-disk sketch store once per (session, sf_dir)."""

    def build(out: str) -> str:
        materialize_sketch_store(spark, sf_dir, out)
        return out

    return memoized_run(spark, ("sketch_store", sf_dir), build)


def sk_quantiles_served(
    spark: SparkSession, sf_dir: str, store_dir: str | None = None
) -> DataFrame:
    """Percentiles answered ENTIRELY from the persisted monthly sketch
    store — the lineitem table is not in the plan (tests pin
    inputFiles() to the store dir): read the (g, m, lb, cnt) partials,
    merge bucket-wise, read out ranks. Because the histogram merge is
    exactly additive, the answer is bit-for-bit sk_quantiles_merged's
    (shared _merged_quantile_estimate tail, shared oracle) — the
    dashboard-tier pattern where only sketches are retained and every
    query is sketch-sized."""
    import os as _os

    store = store_dir if store_dir is not None else _sketch_store_dir(spark, sf_dir)
    monthly = spark.read.parquet(_os.path.join(store, "quantiles_monthly")).select(
        "g", "m", "lb", "cnt"
    )
    return _merged_quantile_estimate(monthly)


def sk_hll_daily_served(
    spark: SparkSession, sf_dir: str, store_dir: str | None = None
) -> DataFrame:
    """Daily distinct-user estimates answered ENTIRELY from the
    persisted HLL register store — the events table is not in the plan:
    read the sparse (day, event_type, j, m) state and run the shared
    estimate readout. Register state is idempotent-max, so the stored
    sketch IS the computed sketch and the served answer equals
    sk_hll_daily's exactly (shared hll_estimate, shared oracle)."""
    import os as _os

    store = store_dir if store_dir is not None else _sketch_store_dir(spark, sf_dir)
    regs = spark.read.parquet(
        _os.path.join(store, "hll_daily_registers")
    ).select("day", "event_type", "j", "m")
    return hll_estimate(spark, regs, ["day", "event_type"])


QUERIES = {
    "sk_kmv_distinct": sk_kmv_distinct,
    "sk_hll_distinct": sk_hll_distinct,
    "sk_hll_daily": sk_hll_daily,
    "sk_hll_union": sk_hll_union,
    "sk_theta_intersect": sk_theta_intersect,
    "sk_theta_anotb": sk_theta_anotb,
    "sk_cms_heavy_hitters": sk_cms_heavy_hitters,
    "sk_bloom_semi_join": sk_bloom_semi_join,
    "sk_quantiles": sk_quantiles,
    "sk_quantiles_merged": sk_quantiles_merged,
    "sk_quantiles_served": sk_quantiles_served,
    "sk_hll_daily_served": sk_hll_daily_served,
}

# --- DuckDB oracles ------------------------------------------------------
# Hash mirror contract (functions/text.py): portable_hash64 ↔
# CAST(concat('0x', substr(md5(seed || x), 1, 15)) AS BIGINT),
# portable_hash32 ↔ the 8-hex-digit form.

_KMV_HASH = (
    "CAST(concat('0x', substr(md5('kmv-' || CAST(user_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)

_CMS_ARMS = ", ".join(f"({d})" for d in range(CMS_D))

# shared HLL oracle fragments (register build + estimate arithmetic),
# composed by sk_hll_distinct, sk_hll_daily, sk_hll_union and
# st_hll_incremental — ONE SQL hash/rank definition, key columns
# parameterized (the no-drift discipline the Spark helpers follow)


def _hll_regs_ctes(
    regs_cte: str = "regs", key_select: str = "event_type", keys: tuple[str, ...] = ("event_type",)
) -> str:
    klist = ", ".join(keys)
    group_ords = ", ".join(str(i + 1) for i in range(len(keys) + 1))
    return f"""h_{regs_cte} AS (
          SELECT {key_select},
                 CAST(concat('0x', substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                      1, 15)) AS BIGINT) AS h
          FROM events
        ),
        ranked_{regs_cte} AS (
          SELECT {klist}, h >> {HLL_W} AS j,
                 CASE WHEN (h & {(1 << HLL_W) - 1}) = 0 THEN {HLL_W + 1}
                      ELSE {HLL_W + 1} - length(bin(h & {(1 << HLL_W) - 1}))
                 END AS r
          FROM h_{regs_cte}
        ),
        {regs_cte} AS (
          SELECT {klist}, j, MAX(r) AS m
          FROM ranked_{regs_cte} GROUP BY {group_ords}
        )"""


_HLL_REGS_CTES = _hll_regs_ctes()


def _hll_est_tail(
    regs_cte: str, groups_cte: str, keys: tuple[str, ...] = ("event_type",)
) -> str:
    """grid-fill + exact-integer fold + α-corrected estimate over a
    sparse (*keys, j, m) register CTE."""
    klist = ", ".join(keys)
    gkeys = ", ".join(f"e.{k}" for k in keys)
    fkeys = ", ".join(f"grid_{regs_cte}.{k}" for k in keys)
    join_on = " AND ".join(
        f"{regs_cte}.{k} = grid_{regs_cte}.{k}" for k in keys
    )
    return f"""
        grid_{regs_cte} AS (
          SELECT {gkeys}, g.range AS j
          FROM (SELECT DISTINCT {klist} FROM {groups_cte}) e, range({HLL_M}) g
        ),
        filled_{regs_cte} AS (
          SELECT {fkeys}, grid_{regs_cte}.j,
                 COALESCE({regs_cte}.m, 0) AS m
          FROM grid_{regs_cte} LEFT JOIN {regs_cte}
            ON {join_on}
           AND {regs_cte}.j = grid_{regs_cte}.j
        ),
        agg_{regs_cte} AS (
          SELECT {klist},
                 CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
                 CAST(SUM(CAST(power(2.0, 53 - m) AS BIGINT)) AS BIGINT)
                   AS sum_scaled
          FROM filled_{regs_cte} GROUP BY {klist}
        ),
        est_{regs_cte} AS (
          SELECT {klist}, v_zero, sum_scaled,
                 CAST(FLOOR(CASE WHEN {_HLL_ALPHA_NUM!r} / sum_scaled
                                      <= {2.5 * HLL_M}
                                 AND v_zero > 0
                            THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v_zero)
                            ELSE {_HLL_ALPHA_NUM!r} / sum_scaled
                            END) AS BIGINT) AS est_distinct
          FROM agg_{regs_cte}
        )"""


def _qsk_bucket_sql(v_sql: str) -> str:
    """The log-linear bucket lower bound of a non-negative BIGINT SQL
    expression — the exact mirror of qsk_state's arithmetic."""
    p = (
        f"CAST(power(2.0, GREATEST(length(bin({v_sql})) - {QSK_SUB_BITS + 1}, 0))"
        f" AS BIGINT)"
    )
    return f"CAST(FLOOR({v_sql} / {p}) AS BIGINT) * {p}"


# integer `//` mirrors the Spark side's int64 `div` (same exactness note)
_QSK_RANK_MINS = ",\n               ".join(
    f"CAST(MIN(CASE WHEN c.cum >= (t.n_rows * {q} + 99) // 100"
    f" THEN c.lb END) AS BIGINT) AS p{q}_cents"
    for q in QSK_QS
)


def _qsk_est_sql(head_ctes: str, extra_sel: str = "", extra_join: str = "") -> str:
    """The shared state→cum→tot→ranked-SELECT scaffold over a
    ``state(g, lb, cnt)`` CTE supplied by ``head_ctes`` — ONE copy of
    the rank/readout arithmetic for the direct and merged oracles (the
    HLL-fragment discipline; two transcriptions could drift)."""
    return f"""
        WITH {head_ctes},
        cum AS (
          SELECT g, lb, cnt,
                 SUM(cnt) OVER (PARTITION BY g ORDER BY lb) AS cum
          FROM state
        ),
        tot AS (
          SELECT g, CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_buckets
          FROM state GROUP BY g
        )
        SELECT c.g AS l_returnflag,
               {extra_sel}MAX(t.n_rows) AS n_rows,
               MAX(t.n_buckets) AS n_buckets,
               {_QSK_RANK_MINS}
        FROM cum c JOIN tot t USING (g){extra_join}
        GROUP BY 1 ORDER BY 1
        """


_QSK_SQL = _qsk_est_sql(
    f"""vals AS (
          SELECT l_returnflag AS g,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem
        ),
        state AS (
          SELECT g, lb, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT g, {_qsk_bucket_sql("v")} AS lb FROM vals)
          GROUP BY 1, 2
        )"""
)


def _cms_hash(item_sql: str) -> str:
    # row d = digest hex slice [8d+1, 8] of ONE md5 (cms_cells mirror)
    return (
        f"CAST(concat('0x', substr(md5('cms-' || {item_sql}), "
        f"8 * s.d + 1, 8)) AS BIGINT) % {CMS_W}"
    )


def _bloom_hash(key_sql: str, k: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5('bf{k}-' || {key_sql}), 1, 8)) AS BIGINT)"
        f" % {BLOOM_M}"
    )


_QSK_MERGED_SQL = _qsk_est_sql(
    f"""vals AS (
          SELECT l_returnflag AS g,
                 CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem
        ),
        mstate AS (
          SELECT g, m, lb, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT g, m, {_qsk_bucket_sql("v")} AS lb FROM vals)
          GROUP BY 1, 2, 3
        ),
        parts AS (
          SELECT g, CAST(COUNT(DISTINCT m) AS BIGINT) AS n_parts
          FROM mstate GROUP BY g
        ),
        state AS (
          SELECT g, lb, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM mstate GROUP BY 1, 2
        )""",
    extra_sel="MAX(p.n_parts) AS n_parts,\n               ",
    extra_join=" JOIN parts p USING (g)",
)

ORACLES = {
    "sk_quantiles": _QSK_SQL,
    "sk_quantiles_merged": _QSK_MERGED_SQL,
    # the served form answers from persisted partials whose additive
    # merge is exactly the whole-corpus sketch, so the oracle is the
    # merged query's own SQL — the strongest statement that store-
    # served and scan-built answers agree
    "sk_quantiles_served": _QSK_MERGED_SQL,
    "sk_kmv_distinct": f"""
        WITH h AS (
          SELECT DISTINCT event_type, {_KMV_HASH} AS h FROM events
        ),
        r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ),
        s AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
                 MAX(CASE WHEN rn = {KMV_K} THEN h END) AS kth_min_hash
          FROM r WHERE rn <= {KMV_K} GROUP BY event_type
        )
        SELECT event_type, n_sketch, kth_min_hash,
               CAST(CASE WHEN n_sketch < {KMV_K} THEN n_sketch
                         ELSE FLOOR({float(KMV_K - 1)!r} * {_HASH64_DOMAIN!r}
                                    / kth_min_hash)
                    END AS BIGINT) AS est_distinct
        FROM s ORDER BY event_type
        """,
    "sk_hll_distinct": f"""
        WITH {_HLL_REGS_CTES},{_hll_est_tail("regs", "events")}
        SELECT event_type, v_zero, sum_scaled, est_distinct
        FROM est_regs ORDER BY event_type
        """,
    "sk_hll_daily": f"""
        WITH {_hll_regs_ctes(
            "dregs",
            "CAST(ts AS DATE) AS day, event_type",
            ("day", "event_type"),
        )},{_hll_est_tail("dregs", "dregs", ("day", "event_type"))}
        SELECT day, event_type, v_zero, sum_scaled, est_distinct
        FROM est_dregs ORDER BY day, event_type
        """,
    "sk_hll_union": f"""
        WITH {_HLL_REGS_CTES},
        uregs AS (
          SELECT 'all' AS event_type, j, MAX(m) AS m FROM regs GROUP BY j
        ),{_hll_est_tail("regs", "events")},{_hll_est_tail("uregs", "uregs")}
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM est_regs) AS n_groups,
          (SELECT CAST(SUM(est_distinct) AS BIGINT) FROM est_regs)
            AS sum_group_ests,
          (SELECT est_distinct FROM est_uregs) AS est_union
        """,
    "sk_theta_intersect": f"""
        WITH ha AS (
          SELECT DISTINCT
            CAST(concat('0x', substr(md5('kmv-' || CAST(user_id AS VARCHAR)),
                 1, 15)) AS BIGINT) AS h
          FROM events WHERE event_type = '{THETA_SIDE_A}'
        ),
        hb AS (
          SELECT DISTINCT
            CAST(concat('0x', substr(md5('kmv-' || CAST(user_id AS VARCHAR)),
                 1, 15)) AS BIGINT) AS h
          FROM events WHERE event_type = '{THETA_SIDE_B}'
        ),
        sa AS (
          SELECT h, rn FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha
          ) WHERE rn <= {THETA_K}
        ),
        sb AS (
          SELECT h, rn FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb
          ) WHERE rn <= {THETA_K}
        ),
        stats AS (
          SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS n_sketch_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS n_sketch_b,
            LEAST(
              COALESCE((SELECT MAX(h) FROM sa WHERE rn = {THETA_K}), {1 << 60}),
              COALESCE((SELECT MAX(h) FROM sb WHERE rn = {THETA_K}), {1 << 60})
            ) AS theta
        ),
        merged AS (
          SELECT COALESCE(sa.h, sb.h) AS h,
                 sa.h IS NOT NULL AS in_a, sb.h IS NOT NULL AS in_b
          FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
        ),
        counts AS (
          SELECT CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_common,
                 CAST(COUNT(*) AS BIGINT) AS n_union
          FROM merged, stats WHERE h < theta
        )
        SELECT n_sketch_a, n_sketch_b, theta, n_common, n_union,
               CAST(FLOOR(n_common * {_HASH64_DOMAIN!r} / theta) AS BIGINT)
                 AS est_intersect,
               CAST(FLOOR(n_union * {_HASH64_DOMAIN!r} / theta) AS BIGINT)
                 AS est_union,
               CAST(FLOOR(n_common * 1000000.0 / n_union) AS BIGINT)
                 AS jaccard_micro
        FROM stats, counts
        """,
    "sk_cms_heavy_hitters": f"""
        WITH occ AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ),
        cells AS (
          SELECT s.d, {_cms_hash("tok")} AS col
          FROM occ, (VALUES {_CMS_ARMS}) s(d)
        ),
        sketch AS (SELECT d, col, COUNT(*) AS c FROM cells GROUP BY 1, 2),
        total AS (SELECT SUM(c) AS n_stream FROM sketch WHERE d = 0),
        cand AS (SELECT DISTINCT tok FROM occ),
        probe AS (
          SELECT tok, s.d, {_cms_hash("tok")} AS col
          FROM cand, (VALUES {_CMS_ARMS}) s(d)
        ),
        est AS (
          SELECT tok, MIN(c) AS est_count
          FROM probe JOIN sketch USING (d, col) GROUP BY tok
        )
        SELECT tok, est_count
        FROM est, total
        WHERE est_count * {CMS_PHI_INV} >= n_stream
        ORDER BY est_count DESC, tok
        """,
    "sk_bloom_semi_join": f"""
        WITH bad AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        bits AS (
          SELECT DISTINCT
            CAST(concat('0x', substr(md5('bf' || CAST(s.k AS VARCHAR) || '-'
                 || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
              % {BLOOM_M} AS bit
          FROM bad, (VALUES (0), (1), (2)) s(k)
        ),
        probe AS (SELECT o_orderkey, o_custkey FROM orders),
        hit AS (
          SELECT p.* FROM probe p
          WHERE {_bloom_hash("CAST(p.o_custkey AS VARCHAR)", 0)}
                  IN (SELECT bit FROM bits)
            AND {_bloom_hash("CAST(p.o_custkey AS VARCHAR)", 1)}
                  IN (SELECT bit FROM bits)
            AND {_bloom_hash("CAST(p.o_custkey AS VARCHAR)", 2)}
                  IN (SELECT bit FROM bits)
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_orders,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_pass,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM hit h
             JOIN bad b ON h.o_custkey = b.c_custkey) AS n_true_match,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM hit)
            - (SELECT CAST(COUNT(*) AS BIGINT) FROM hit h
                 JOIN bad b ON h.o_custkey = b.c_custkey) AS n_false_pos
        """,
}

# idempotent-max register state: stored sketch == computed sketch, so
# the served daily estimates share the daily query's oracle — the
# strongest statement that store-served and scan-built answers agree
ORACLES["sk_hll_daily_served"] = ORACLES["sk_hll_daily"]


# sk_theta_anotb's oracle shares the intersect oracle's whole sketch-construction chain; only the counts
# block differs (anti-membership under the common theta).
ORACLES["sk_theta_anotb"] = f"""
    WITH ha AS (
      SELECT DISTINCT
        CAST(concat('0x', substr(md5('kmv-' || CAST(user_id AS VARCHAR)),
             1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = '{THETA_SIDE_A}'
    ),
    hb AS (
      SELECT DISTINCT
        CAST(concat('0x', substr(md5('kmv-' || CAST(user_id AS VARCHAR)),
             1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = '{THETA_SIDE_B}'
    ),
    sa AS (
      SELECT h, rn FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha
      ) WHERE rn <= {THETA_K}
    ),
    sb AS (
      SELECT h, rn FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb
      ) WHERE rn <= {THETA_K}
    ),
    stats AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS n_sketch_a,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS n_sketch_b,
        LEAST(
          COALESCE((SELECT MAX(h) FROM sa WHERE rn = {THETA_K}), {1 << 60}),
          COALESCE((SELECT MAX(h) FROM sb WHERE rn = {THETA_K}), {1 << 60})
        ) AS theta
    ),
    merged AS (
      SELECT COALESCE(sa.h, sb.h) AS h,
             sa.h IS NOT NULL AS in_a, sb.h IS NOT NULL AS in_b
      FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anotb,
             CAST(SUM(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bnota
      FROM merged, stats WHERE h < theta
    )
    SELECT n_sketch_a, n_sketch_b, theta, n_anotb, n_bnota,
           CAST(FLOOR(n_anotb * {_HASH64_DOMAIN!r} / theta) AS BIGINT)
             AS est_anotb,
           CAST(FLOOR(n_bnota * {_HASH64_DOMAIN!r} / theta) AS BIGINT)
             AS est_bnota,
           CAST(FLOOR((n_anotb + n_bnota) * {_HASH64_DOMAIN!r} / theta)
                AS BIGINT) AS est_sym_diff
    FROM stats, counts
"""

