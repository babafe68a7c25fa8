"""Incrementally maintained sketches over arriving data: HyperLogLog
and KMV distinct counts (event stream), count-min heavy hitters
(document token stream) and log-linear quantile histograms (lineitem
stream).

The batch sketches (operators/sketches.py) summarize a corpus that
already exists; the production companion is the ingest-time form —
every arriving micro-batch folds into bounded sketch state, and the
live estimate is readable at any instant without touching historical
data. Three monoid classes are exercised deliberately:

- HLL register state merges by MAX — commutative AND idempotent, so
  incremental folds in any batching (even a replayed one) converge to
  exactly the whole-corpus sketch.
- KMV state is an order statistic: merge = bottom-K of the union,
  commutative and idempotent like HLL's max but over SETS of rows.
- CMS counters and quantile histogram counts merge by SUM — additive,
  NOT idempotent, so the replay discipline is load-bearing: a naively
  re-applied micro-batch would double-count its rows.

Each sketch is one state fold (feed.fold_state): a per-batch
``partial`` and a ``merge`` of the prior state with it. The fold reads
the state committed below the batch's version, so a replayed batch
REWRITES its version from the same prior instead of adding to it —
exactly-once folding on an at-least-once trigger (the fault-injection
and re-drain tests pin that no counter grows). The seed is the partial
of an empty batch, so its schema is the fold's own. Snapshot retention
keeps the newest two versions, so disk holds two copies of the state,
not one per batch.

Every fold reuses the batch queries' state derivations verbatim
(sketches.hll_registers / kmv_sketch / cms_grid / qsk_state — one
implementation, no drift), so converged state ≡ the whole-corpus sketch
and each oracle is the batch query's own SQL (the
st_minhash_incremental discipline). State is sketch-sized, so the
"read prior, write merged" loop costs O(sketch) per trigger, never
O(history) — at 100 TB of events per day the state file never grows.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.functions.text import ws_tokens
from task_hive_spark.materialize import memoized_run
from task_hive_spark.operators.sketches import (
    ORACLES as _SK_ORACLES,
    QSK_QS,
    cms_grid,
    cms_heavy_hitters_from,
    hll_estimate,
    hll_registers,
    kmv_estimate,
    kmv_hashes,
    kmv_sketch,
    qsk_estimate,
    qsk_lineitem_vals,
    qsk_state,
    sk_hll_daily_served,
    sk_quantiles_served,
)
from task_hive_spark.sources.fixtures import load_table
from task_hive_spark.streaming.feed import (
    DOC_SCHEMA,
    fold_state,
    read_feed,
    read_state,
    with_range_chunk,
    write_chunks,
)

_EVENT_SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, day DATE"
_LINEITEM_SCHEMA = (
    "l_orderkey BIGINT, l_returnflag STRING, l_extendedprice DOUBLE, m DATE"
)
N_CHUNKS = 4


# --- feed builders: each table as id-ranged chunks (the ingest order) ------


def event_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_CHUNKS
) -> str:
    """The events table as event_id-ranged chunk files."""
    # day rides the feed so the register state keeps the store's grain
    # (day, event_type) — the coarse per-type estimate coarsens from it
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.to_date("ts").alias("day")
    )
    return write_chunks(with_range_chunk(ev, "event_id", n_chunks), feed_dir, n_chunks)


def doc_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_CHUNKS
) -> str:
    """The documents table as doc_id-ranged chunk files."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return write_chunks(with_range_chunk(d, "doc_id", n_chunks), feed_dir, n_chunks)


def lineitem_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_CHUNKS
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


# --- the four folds: per-batch partial, merge with the prior -------------


def _regroup(prior: DataFrame, part: DataFrame, keys: list[str], agg: Column) -> DataFrame:
    return prior.unionByName(part).groupBy(*keys).agg(agg)


def _hll_partial(ev: DataFrame) -> dict[str, DataFrame]:
    # store-grain state (day, event_type, j, m): the same fold serves
    # both the live per-type estimate (coarsened by max — exact, since
    # register max commutes with grouping) and the persisted daily
    # store (stream_store_dir)
    return {"registers": hll_registers(ev, ["day", "event_type"])}


def _hll_merge(prior: dict, part: dict) -> dict[str, DataFrame]:
    keys = ["day", "event_type", "j"]
    return {"registers": _regroup(prior["registers"], part["registers"], keys, F.max("m").alias("m"))}


def _kmv_partial(ev: DataFrame) -> dict[str, DataFrame]:
    # dedup=False: the merge ends in ONE distinct instead of a
    # per-batch distinct followed by a second one
    return {"sketch": kmv_hashes(ev, dedup=False)}


def _kmv_merge(prior: dict, part: dict) -> dict[str, DataFrame]:
    return {"sketch": kmv_sketch(prior["sketch"].unionByName(part["sketch"]).distinct())}


def _cms_partial(docs: DataFrame) -> dict[str, DataFrame]:
    """``grid``, the additive counter grid, and ``vocab``, the
    candidates (the probe vocabulary) — committed together, so grid N
    is never paired with vocab N-1."""
    # tokenization pinned to token_index's derivation (lowered
    # whitespace tokens over non-empty docs)
    occ = docs.where(F.length(F.trim("text")) > 0).select(
        F.explode(ws_tokens(F.lower("text"))).alias("tok")
    )
    return {"grid": cms_grid(occ), "vocab": occ.distinct()}


def _cms_merge(prior: dict, part: dict) -> dict[str, DataFrame]:
    return {
        "grid": _regroup(prior["grid"], part["grid"], ["d", "col"], F.sum("c").alias("c")),
        "vocab": prior["vocab"].unionByName(part["vocab"]).distinct(),
    }


def _qsk_partial(li: DataFrame) -> dict[str, DataFrame]:
    # store-grain state (g, m, lb, cnt): the additive merge is exact at
    # any grouping, so one monthly-partial fold serves both the live
    # per-flag estimate (coarsened by sum) and the persisted monthly
    # store (stream_store_dir)
    return {"histogram": qsk_state(qsk_lineitem_vals(li, F.col("m")), ["g", "m"])}


def _qsk_merge(prior: dict, part: dict) -> dict[str, DataFrame]:
    cnt = F.sum("cnt").cast("bigint").alias("cnt")
    return {"histogram": _regroup(prior["histogram"], part["histogram"], ["g", "m", "lb"], cnt)}


# sketch -> (feed builder, feed schema, partial, merge)
SKETCHES = {
    "hll": (event_feed, _EVENT_SCHEMA, _hll_partial, _hll_merge),
    "kmv": (event_feed, _EVENT_SCHEMA, _kmv_partial, _kmv_merge),
    "cms": (doc_feed, DOC_SCHEMA, _cms_partial, _cms_merge),
    "qsk": (lineitem_feed, _LINEITEM_SCHEMA, _qsk_partial, _qsk_merge),
}


def run_stream(spark: SparkSession, sketch: str, work: str, feed: str) -> str:
    """Drain ``feed`` through ``sketch``'s fold (checkpointed under
    ``work`` — a second call resumes where the first stopped); returns
    the state root, read with feed.read_state."""
    _, schema, partial, merge = SKETCHES[sketch]
    root = os.path.join(work, f"{sketch}_state")
    query, _ = fold_state(
        read_feed(spark, feed, schema),
        root,
        partial(rows_frame(spark, [], schema)),
        lambda batch_df, prior, _bid: merge(prior, partial(batch_df)),
        os.path.join(work, "ckpt"),
    )
    query.awaitTermination()
    return root


def run_once(
    spark: SparkSession, sketch: str, sf_dir: str, work: str, n_chunks: int = N_CHUNKS
) -> str:
    """Write ``sketch``'s feed of ``sf_dir`` under ``work`` and drain
    it; returns the state root."""
    feed = SKETCHES[sketch][0](spark, sf_dir, os.path.join(work, "feed"), n_chunks)
    return run_stream(spark, sketch, work, feed)


def sketch_state(spark: SparkSession, sketch: str, sf_dir: str) -> dict[str, DataFrame]:
    """The converged state tables of ``sketch`` over ``sf_dir``, from
    one run per session."""
    root = memoized_run(
        spark, (f"{sketch}stream", sf_dir), lambda work: run_once(spark, sketch, sf_dir, work)
    )
    return read_state(spark, root)


# --- the live estimates ---------------------------------------------------


def st_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live cardinality estimates after the whole feed has folded —
    converged, the register state (and therefore every output column)
    equals the batch sk_hll_distinct answer exactly (shared oracle).
    The daily-grain state coarsens to per-type registers by MAX —
    idempotent, so this is exactly the registers a day-free fold would
    have built."""
    regs = (
        sketch_state(spark, "hll", sf_dir)["registers"]
        .groupBy("event_type", "j")
        .agg(F.max("m").alias("m"))
    )
    return hll_estimate(spark, regs)


def st_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live KMV distinct estimates after the whole feed has folded —
    the converged bottom-K state equals the whole-corpus sketch, so the
    output is exactly the batch sk_kmv_distinct answer (shared
    oracle)."""
    return kmv_estimate(sketch_state(spark, "kmv", sf_dir)["sketch"])


def st_cms_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live heavy-hitter report after the whole document feed has
    folded — the converged additive state equals the whole-corpus CMS
    grid, so the output (and its oracle) is exactly the batch
    sk_cms_heavy_hitters answer."""
    state = sketch_state(spark, "cms", sf_dir)
    return cms_heavy_hitters_from(state["grid"], state["vocab"])


def st_quantiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live p50/p90/p99 after the whole lineitem feed has folded — the
    converged additive histogram equals the whole-corpus sketch, so the
    output is exactly the batch sk_quantiles answer (shared oracle)."""
    state = (
        sketch_state(spark, "qsk", sf_dir)["histogram"]
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
        sketch_state(spark, "hll", sf_dir)["registers"].write.mode("overwrite").parquet(
            os.path.join(store, "hll_daily_registers")
        )
        sketch_state(spark, "qsk", sf_dir)["histogram"].write.mode("overwrite").parquet(
            os.path.join(store, "quantiles_monthly")
        )
        return store

    return memoized_run(spark, ("stream_sketch_store", sf_dir), build)


def sk_quantiles_stream_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk_quantiles_served answered from the STREAM-built store: the
    monthly histogram partials accumulated by st_quantiles_incremental,
    served by the shared batch serving path."""
    return sk_quantiles_served(
        spark, sf_dir, store_dir=stream_store_dir(spark, sf_dir)
    )


def sk_hll_daily_stream_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk_hll_daily_served answered from the STREAM-built store: the
    daily register state accumulated by st_hll_incremental, served by
    the shared batch serving path."""
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
