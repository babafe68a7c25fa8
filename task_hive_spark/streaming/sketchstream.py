"""Incrementally maintained sketches over arriving data: HyperLogLog
cardinalities (event stream) and count-min heavy hitters (document
token stream).

The batch sketches (operators/sketches.py) summarize a corpus that
already exists; the production companion is the ingest-time form —
every arriving micro-batch folds into bounded sketch state, and the
live estimate is readable at any instant without touching historical
data. Two monoid classes are exercised deliberately:

- HLL register state merges by MAX — commutative AND idempotent, so
  incremental folds in any batching (even a replayed one) converge to
  exactly the whole-corpus sketch.
- CMS counter state merges by SUM — additive, NOT idempotent, so the
  replay discipline is load-bearing: a naively re-applied micro-batch
  would double-count its tokens. Every fold reads the state committed
  below its batch id and commits the full merged state as version
  ``bid`` through ``materialize.commit_version``, whose replay rule
  makes a re-run batch REWRITE its version from the same prior instead
  of adding to it — exactly-once folding on an at-least-once trigger
  (the re-drain test pins that no counter grows). Snapshot retention
  keeps the newest two versions, so disk holds two copies of the
  state, not one per batch.

Both folds reuse the batch queries' state derivations verbatim
(sketches.hll_registers / sketches.cms_grid — one implementation, no
drift), so converged state ≡ the whole-corpus sketch and each oracle
is the batch query's own SQL (the st_minhash_incremental discipline).
State is sketch-sized (≤ m·|groups| / D·W rows), so the
"read latest, write merged" loop costs O(sketch) per trigger, never
O(history) — at 100 TB of events per day the state file never grows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.materialize import (
    SNAPSHOT,
    commit_version,
    committed_versions,
    memoized_run,
)
from task_hive_spark.operators.sketches import (
    ORACLES as _SK_ORACLES,
    hll_estimate,
    hll_registers,
)
from task_hive_spark.sources.fixtures import load_table
from task_hive_spark.streaming.feed import (
    DOC_SCHEMA,
    drain,
    read_feed,
    with_range_chunk,
    write_chunks,
)

_EVENT_SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, day DATE"
_LINEITEM_SCHEMA = (
    "l_orderkey BIGINT, l_returnflag STRING, l_extendedprice DOUBLE, m DATE"
)
N_EVENT_CHUNKS = 4
N_DOC_CHUNKS = 4
N_LINEITEM_CHUNKS = 4


# --- feed builders: each table as id-ranged chunks (the ingest order) ------


def event_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_EVENT_CHUNKS
) -> str:
    """The events table as event_id-ranged chunk files."""
    # day rides the feed so the register state keeps the store's grain
    # (day, event_type) — the coarse per-type estimate coarsens from it
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.to_date("ts").alias("day")
    )
    return write_chunks(with_range_chunk(ev, "event_id", n_chunks), feed_dir, n_chunks)


def doc_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_DOC_CHUNKS
) -> str:
    """The documents table as doc_id-ranged chunk files."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return write_chunks(with_range_chunk(d, "doc_id", n_chunks), feed_dir, n_chunks)


def lineitem_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_LINEITEM_CHUNKS
) -> str:
    """The lineitem table as l_orderkey-ranged chunk files."""
    # the ingest month rides the feed so the histogram state keeps the
    # store's (g, m) grain
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_extendedprice",
        F.trunc(F.to_date("l_shipdate"), "month").alias("m"),
    )
    return write_chunks(with_range_chunk(li, "l_orderkey", n_chunks), feed_dir, n_chunks)


# --- incremental HLL over the event stream -------------------------------


def run_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain the event feed through the HLL register fold; returns the
    state root dir."""
    state_root = os.path.join(work, "hll_state")

    def fold(batch_df: DataFrame, bid: int) -> None:
        # store-grain state (day, event_type, j, m): the same fold
        # serves both the live per-type estimate (coarsened by max —
        # exact, since register max commutes with grouping) and the
        # persisted daily store (stream_store_dir)
        merged = hll_registers(batch_df, ["day", "event_type"])
        prior = committed_versions(state_root, "batch=", below=bid)
        if prior:
            merged = (
                spark.read.parquet(prior[-1])
                .select("day", "event_type", "j", "m")
                .unionByName(merged)
                .groupBy("day", "event_type", "j")
                .agg(F.max("m").alias("m"))
            )
        commit_version(state_root, "batch=", bid, merged.write.parquet, SNAPSHOT)

    drain(read_feed(spark, feed, _EVENT_SCHEMA), fold, os.path.join(work, "ckpt"))
    return state_root


def latest_state(spark: SparkSession, state_root: str) -> DataFrame:
    return spark.read.parquet(committed_versions(state_root, "batch=")[-1]).select(
        "day", "event_type", "j", "m"
    )


def run_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_EVENT_CHUNKS
) -> str:
    return run_stream(
        spark, work, event_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    )


def _ensure_run(spark: SparkSession, sf_dir: str) -> str:
    return memoized_run(
        spark, ("hllstream", sf_dir), lambda work: run_once(spark, sf_dir, work)
    )


def st_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live cardinality estimates after the whole feed has folded —
    converged, the register state (and therefore every output column)
    equals the batch sk_hll_distinct answer exactly (shared oracle).
    The daily-grain state coarsens to per-type registers by MAX —
    idempotent, so this is exactly the registers a day-free fold would
    have built."""
    state_root = _ensure_run(spark, sf_dir)
    regs = (
        latest_state(spark, state_root)
        .groupBy("event_type", "j")
        .agg(F.max("m").alias("m"))
    )
    return hll_estimate(spark, regs)


# --- incremental KMV over the event stream -------------------------------


def run_kmv_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain the event feed through the KMV bottom-K fold (the third
    monoid class: an order statistic — merge = bottom-K of the union,
    commutative and idempotent like HLL's max but over SETS of rows);
    returns the state root."""
    from task_hive_spark.operators.sketches import kmv_hashes, kmv_sketch

    state_root = os.path.join(work, "kmv_state")

    def fold(batch_df: DataFrame, bid: int) -> None:
        # dedup=False: the union below ends in ONE distinct instead of
        # a per-batch distinct followed by a second one (review finding)
        merged = kmv_hashes(batch_df, dedup=False)
        prior = committed_versions(state_root, "batch=", below=bid)
        if prior:
            merged = spark.read.parquet(prior[-1]).select("event_type", "h").unionByName(merged)
        commit_version(
            state_root, "batch=", bid, kmv_sketch(merged.distinct()).write.parquet, SNAPSHOT
        )

    drain(read_feed(spark, feed, _EVENT_SCHEMA), fold, os.path.join(work, "ckpt"))
    return state_root


def run_kmv_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_EVENT_CHUNKS
) -> str:
    return run_kmv_stream(
        spark, work, event_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    )


def _ensure_kmv_run(spark: SparkSession, sf_dir: str) -> str:
    return memoized_run(
        spark, ("kmvstream", sf_dir), lambda work: run_kmv_once(spark, sf_dir, work)
    )


def st_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live KMV distinct estimates after the whole feed has folded —
    the converged bottom-K state equals the whole-corpus sketch, so the
    output is exactly the batch sk_kmv_distinct answer (shared
    oracle)."""
    from task_hive_spark.operators.sketches import kmv_estimate

    state_root = _ensure_kmv_run(spark, sf_dir)
    sk = spark.read.parquet(committed_versions(state_root, "batch=")[-1]).select(
        "event_type", "h"
    )
    return kmv_estimate(sk)


# --- incremental count-min over the document token stream ----------------


def run_cms_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain the document feed through the CMS + vocab folds; returns
    the state root. Each version holds two tables committed together:
    ``grid``, the additive counter grid, and ``vocab``, the candidates
    (the probe vocabulary) merged by distinct-union (idempotent) — a
    crash between the two writes can never pair grid N with vocab
    N-1."""
    from task_hive_spark.functions.text import ws_tokens
    from task_hive_spark.operators.sketches import cms_grid

    state_root = os.path.join(work, "cms_state")

    def fold(batch_df: DataFrame, bid: int) -> None:
        # tokenization pinned to token_index's derivation (lowered
        # whitespace tokens over non-empty docs)
        occ = (
            batch_df.where(F.length(F.trim("text")) > 0)
            .select(F.explode(ws_tokens(F.lower("text"))).alias("tok"))
        )
        grid = cms_grid(occ)
        vocab = occ.distinct()
        prior = committed_versions(state_root, "batch=", below=bid)
        if prior:
            grid = (
                spark.read.parquet(os.path.join(prior[-1], "grid"))
                .select("d", "col", "c")
                .unionByName(grid)
                .groupBy("d", "col")
                .agg(F.sum("c").alias("c"))
            )
            vocab = (
                spark.read.parquet(os.path.join(prior[-1], "vocab"))
                .select("tok")
                .unionByName(vocab)
                .distinct()
            )

        def write(path: str) -> None:
            grid.write.parquet(os.path.join(path, "grid"))
            vocab.write.parquet(os.path.join(path, "vocab"))

        commit_version(state_root, "batch=", bid, write, SNAPSHOT)

    drain(read_feed(spark, feed, DOC_SCHEMA), fold, os.path.join(work, "ckpt"))
    return state_root


def run_cms_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_DOC_CHUNKS
) -> str:
    return run_cms_stream(
        spark, work, doc_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    )


def _ensure_cms_run(spark: SparkSession, sf_dir: str) -> str:
    return memoized_run(
        spark, ("cmsstream", sf_dir), lambda work: run_cms_once(spark, sf_dir, work)
    )


def st_cms_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live heavy-hitter report after the whole document feed has
    folded — the converged additive state equals the whole-corpus CMS
    grid, so the output (and its oracle) is exactly the batch
    sk_cms_heavy_hitters answer."""
    from task_hive_spark.operators.sketches import cms_heavy_hitters_from

    state = committed_versions(_ensure_cms_run(spark, sf_dir), "batch=")[-1]
    sketch = spark.read.parquet(os.path.join(state, "grid")).select("d", "col", "c")
    vocab = spark.read.parquet(os.path.join(state, "vocab")).select("tok")
    return cms_heavy_hitters_from(sketch, vocab)


# --- incremental quantile histogram over the lineitem stream -------------


def run_qsk_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain the lineitem feed through the log-linear histogram fold —
    additive counter state like CMS, so the same replay discipline
    applies (a re-applied micro-batch would double-count its rows;
    committing version bid from the prior below bid makes replays
    rewrite instead of add). Returns the state root."""
    from task_hive_spark.operators.sketches import qsk_lineitem_vals, qsk_state

    state_root = os.path.join(work, "qsk_state")

    def fold(batch_df: DataFrame, bid: int) -> None:
        # store-grain state (g, m, lb, cnt): the additive merge is
        # exact at any grouping, so one monthly-partial fold serves
        # both the live per-flag estimate (coarsened by sum) and the
        # persisted monthly store (stream_store_dir)
        merged = qsk_state(
            qsk_lineitem_vals(batch_df, F.col("m")), ["g", "m"]
        )
        prior = committed_versions(state_root, "batch=", below=bid)
        if prior:
            merged = (
                spark.read.parquet(prior[-1])
                .select("g", "m", "lb", "cnt")
                .unionByName(merged)
                .groupBy("g", "m", "lb")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        commit_version(state_root, "batch=", bid, merged.write.parquet, SNAPSHOT)

    drain(read_feed(spark, feed, _LINEITEM_SCHEMA), fold, os.path.join(work, "ckpt"))
    return state_root


def run_qsk_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_LINEITEM_CHUNKS
) -> str:
    return run_qsk_stream(
        spark, work, lineitem_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    )


def _ensure_qsk_run(spark: SparkSession, sf_dir: str) -> str:
    return memoized_run(
        spark, ("qskstream", sf_dir), lambda work: run_qsk_once(spark, sf_dir, work)
    )


def st_quantiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live p50/p90/p99 after the whole lineitem feed has folded — the
    converged additive histogram equals the whole-corpus sketch, so the
    output is exactly the batch sk_quantiles answer (shared oracle)."""
    from task_hive_spark.operators.sketches import QSK_QS, qsk_estimate

    state_root = _ensure_qsk_run(spark, sf_dir)
    state = (
        spark.read.parquet(committed_versions(state_root, "batch=")[-1])
        .groupBy("g", "lb")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return qsk_estimate(state, ["g"]).select(
        F.col("g").alias("l_returnflag"),
        "n_rows",
        "n_buckets",
        *[f"p{q}_cents" for q in QSK_QS],
    )


# --- the sketch store assembled from STREAM artifacts ---------------------
# The build-once/serve-forever closure the dedup index got in r10
# (minhashstream → the clustered serve index), now for sketches: the converged
# incremental states are written into the batch store's exact layout
# (quantiles_monthly / hll_daily_registers) and the SAME serving
# queries (sketches.sk_quantiles_served / sk_hll_daily_served) answer
# from them. Because the quantile merge is exactly additive and the
# register merge idempotent-max, the stream-built store is
# bit-identical to the batch-built one (pinned in tests) — so at 100 TB
# the retention tier can be fed by ingest-time folds and never needs a
# batch rebuild pass over the facts.


def stream_store_dir(spark: SparkSession, sf_dir: str) -> str:
    """Assemble (once per session × sf_dir) a sketch store from the
    converged STREAM states — no fact table is read here: both inputs
    are the incremental runs' checkpointed state files."""

    def build(store: str) -> str:
        hll_root = _ensure_run(spark, sf_dir)
        latest_state(spark, hll_root).write.mode("overwrite").parquet(
            os.path.join(store, "hll_daily_registers")
        )
        qsk_root = _ensure_qsk_run(spark, sf_dir)
        spark.read.parquet(committed_versions(qsk_root, "batch=")[-1]).select(
            "g", "m", "lb", "cnt"
        ).write.mode("overwrite").parquet(os.path.join(store, "quantiles_monthly"))
        return store

    return memoized_run(spark, ("stream_sketch_store", sf_dir), build)


def sk_quantiles_stream_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk_quantiles_served answered from the STREAM-built store: the
    monthly histogram partials accumulated by st_quantiles_incremental,
    served by the shared batch serving path."""
    from task_hive_spark.operators.sketches import sk_quantiles_served

    return sk_quantiles_served(
        spark, sf_dir, store_dir=stream_store_dir(spark, sf_dir)
    )


def sk_hll_daily_stream_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk_hll_daily_served answered from the STREAM-built store: the
    daily register state accumulated by st_hll_incremental, served by
    the shared batch serving path."""
    from task_hive_spark.operators.sketches import sk_hll_daily_served

    return sk_hll_daily_served(
        spark, sf_dir, store_dir=stream_store_dir(spark, sf_dir)
    )


QUERIES = {
    "st_hll_incremental": st_hll_incremental,
    "st_kmv_incremental": st_kmv_incremental,
    "st_cms_incremental": st_cms_incremental,
    "st_quantiles_incremental": st_quantiles_incremental,
    "sk_quantiles_stream_served": sk_quantiles_stream_served,
    "sk_hll_daily_stream_served": sk_hll_daily_stream_served,
}

# converged state == the whole-corpus sketch: the batch queries' own
# SQL are the oracles (the stream-served pair answers the SERVED
# queries' questions, so it shares their oracles)
ORACLES = {
    "st_hll_incremental": _SK_ORACLES["sk_hll_distinct"],
    "st_kmv_incremental": _SK_ORACLES["sk_kmv_distinct"],
    "st_cms_incremental": _SK_ORACLES["sk_cms_heavy_hitters"],
    "st_quantiles_incremental": _SK_ORACLES["sk_quantiles"],
    "sk_quantiles_stream_served": _SK_ORACLES["sk_quantiles_served"],
    "sk_hll_daily_stream_served": _SK_ORACLES["sk_hll_daily_served"],
}
