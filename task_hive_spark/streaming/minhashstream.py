"""Online near-duplicate detection at ingestion: an incrementally
maintained MinHash-LSH index.

The batch dedup queries (operators/dedup.py) index a corpus that
already exists; a production ingestion pipeline ALSO needs the online
form — as new documents arrive, probe the index built from everything
ingested so far, flag near-duplicates immediately, and fold the new
documents into the index. This module runs exactly that loop with
Structured Streaming: the corpus arrives as chunked parquet files
(doc_id order — the arrival clock); each micro-batch

1. computes the batch docs' K-wide MinHash signatures and banded
   buckets with the SAME pinned arithmetic as the batch index
   (dedup.minhash_sigs_of / band_buckets_of — one implementation, no
   drift),
2. probes (existing index ∪ this batch) against the batch's buckets,
   emitting candidate pairs (doc_a < doc_b; ids arrive in order, so
   doc_a is always the earlier-ingested side) scored by the shared
   est_jaccard estimator — in-batch duplicates are caught by the
   self-probe, so the emitted set is chunking-invariant,
3. appends the batch's (doc_id, bucket) rows and (doc_id, sig) rows to
   the on-disk index.

The index levels and the emitted pairs are logs: each micro-batch
commits its rows as version ``bid`` of each root through
``materialize.commit_version``, and the probe side reads the versions
committed below ``bid`` — so a replayed batch rewrites its own
versions and never probes against itself.

Converged across the whole feed, the emitted pair set IS
dd_minhash_lsh_pairs' answer — the oracle is literally the batch
query's SQL, which is the strongest possible statement that the online
and offline paths agree (tests additionally pin chunk-count
invariance).

Scale shape: per batch, signature computation is a map+groupBy over
batch docs only; the probe shuffles batch bands against the index on
the 8-byte bucket (at web scale the index side is pre-partitioned by
bucket on disk, so only the batch side moves); the index grows by
O(batch × LSH_BANDS) fixed-width rows per trigger — the state lives in
parquet, not the state store, exactly like the CDC merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.materialize import (
    LOG,
    _release_checkpoint,
    commit_version,
    committed_versions,
    memoized_run,
    warn_local_checkpoint,
)
from task_hive_spark.operators.dedup import (
    CORPUS_SQL,
    ORACLES as _DD_ORACLES,
    band_buckets_of,
    est_jaccard_col,
    minhash_sigs_of,
)
from task_hive_spark.sources.fixtures import register_fixture_views
from task_hive_spark.streaming.feed import (
    DOC_SCHEMA,
    drain,
    read_feed,
    with_range_chunk,
    write_chunks,
)

N_DOC_CHUNKS = 4


def doc_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_chunks: int = N_DOC_CHUNKS
) -> str:
    """The augmented dedup corpus as n doc_id-ranged chunk files:
    ingestion order == doc_id order, so the injected duplicate copies
    (+1e9 offsets) arrive AFTER their originals and must be flagged
    against the index, not alongside it."""
    register_fixture_views(spark, sf_dir)
    c = spark.sql(CORPUS_SQL)
    return write_chunks(with_range_chunk(c, "doc_id", n_chunks), feed_dir, n_chunks)


def run_once(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = N_DOC_CHUNKS
) -> str:
    """Stream the corpus through the incremental indexer; returns the
    emitted-pairs dir."""
    return run_stream(spark, work, doc_feed(spark, sf_dir, os.path.join(work, "feed"), n_chunks))


def run_stream(spark: SparkSession, work: str, feed: str) -> str:
    """Drain whatever the feed currently holds through the indexer
    (checkpointed — a later call with more files resumes exactly where
    this one stopped, and a replayed batch rewrites its own versions
    instead of duplicating rows); returns the emitted-pairs root, one
    ``batch=`` version per micro-batch."""
    bucket_idx = os.path.join(work, "index_buckets")
    sig_idx = os.path.join(work, "index_sigs")
    out = os.path.join(work, "pairs")
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    warn_local_checkpoint(spark, "minhashstream batch signatures")

    def fold(batch_df: DataFrame, bid: int) -> None:
        batch = batch_df.repartition(n, "doc_id")
        # checkpoint LEAF, not cache: the signature frame is referenced
        # under TWO unions below (probe_side, all_sigs) and Spark 4.1's
        # CacheManager can miss a cached plan under a Union
        # (materialize.session_index's documented rule) — a miss here
        # re-runs the md5-dense signature compute once per union branch
        # per batch. The LogicalRDD leaf is immune; blocks are released
        # after the three writes.
        sigs = minhash_sigs_of(batch).localCheckpoint(eager=True)
        buckets = band_buckets_of(sigs)
        # the index committed by earlier batches, never this one's
        old_buckets = committed_versions(bucket_idx, "batch=", below=bid)
        old_sigs = committed_versions(sig_idx, "batch=", below=bid)
        probe_side, all_sigs = buckets, sigs
        if old_buckets:
            probe_side = (
                spark.read.parquet(*old_buckets).select("doc_id", "bucket").unionByName(buckets)
            )
        if old_sigs:
            all_sigs = spark.read.parquet(*old_sigs).select("doc_id", "sig").unionByName(sigs)
        a = probe_side.alias("a")
        b = buckets.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = all_sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
        pairs = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", est_jaccard_col().alias("est_jaccard"))
        )
        # index first, pairs last: committed pairs always have their
        # docs in the committed index
        commit_version(sig_idx, "batch=", bid, sigs.write.parquet, LOG)
        commit_version(bucket_idx, "batch=", bid, buckets.write.parquet, LOG)
        commit_version(out, "batch=", bid, pairs.write.parquet, LOG)
        _release_checkpoint(sigs)  # free the per-batch checkpoint blocks

    drain(read_feed(spark, feed, DOC_SCHEMA), fold, os.path.join(work, "ckpt"))
    return out


def clustered_index_from_stream(
    spark: SparkSession, work: str, out_dir: str
) -> list[dict]:
    """Promote the STREAM-BUILT index into the file-pruned serving
    layout (operators/dedup.py:materialize_dedup_index_clustered's
    shape): signatures flat, band buckets range-clustered with tight
    parquet-footer ranges. This is the ingestion→serving handoff — the
    online indexer accumulates batch-scoped parquet state; a periodic
    promotion pays one clustering shuffle so every subsequent probe
    reads O(probe) files. Returns the bucket manifest; the serve path
    (dedup_served_pruned_of) is the SAME code the batch-built index
    uses, and the handoff test pins row-identical answers."""
    from task_hive_spark.operators.dedup import DEDUP_INDEX_FILES
    from task_hive_spark.plans.catalog import file_column_stats

    sig_idx = os.path.join(work, "index_sigs")
    bucket_idx = os.path.join(work, "index_buckets")
    spark.read.parquet(*committed_versions(sig_idx, "batch=")).select(
        "doc_id", "sig"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "signatures"))
    (
        spark.read.parquet(*committed_versions(bucket_idx, "batch="))
        .select("doc_id", "bucket")
        .repartitionByRange(DEDUP_INDEX_FILES, "bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "buckets"))
    )
    return file_column_stats(os.path.join(out_dir, "buckets"), "bucket")


def _ensure_run(spark: SparkSession, sf_dir: str) -> str:
    return memoized_run(
        spark, ("minhashstream_run", sf_dir), lambda work: run_once(spark, sf_dir, work)
    )


def st_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every near-dup candidate pair the online indexer flagged across
    the whole ingestion, with its estimated Jaccard — converged, this
    equals the offline dd_minhash_lsh_pairs answer exactly (shared
    oracle)."""
    out = _ensure_run(spark, sf_dir)
    return (
        spark.read.parquet(*committed_versions(out, "batch="))
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {"st_minhash_incremental": st_minhash_incremental}

# the converged online pair set IS the offline banded pair set — the
# strongest oracle available: the batch query's own SQL
ORACLES = {"st_minhash_incremental": _DD_ORACLES["dd_minhash_lsh_pairs"]}
