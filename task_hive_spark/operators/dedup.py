"""Deduplication operators for training-data pipelines.

Four families over ``documents``: exact (hash groupBy), n-gram Jaccard
(inverted-index self-join), MinHash+LSH (shingle→minhash→band→bucket
join), SimHash (hamming-distance near-dup). All are pure DataFrame
programs with portable md5-derived hashing so every stage is
oracle-checkable in DuckDB.

Scale shape (100 TB corpus):
- exact dedup: one shuffle on the fingerprint — the cheapest possible.
- jaccard: the shingle self-join is the inverted index; hot shingles
  (stopword-only grams) are the skew risk → the ``doc_freq`` cap drops
  grams appearing in > MAX_DF docs (they carry no signal), which is the
  standard scalable mitigation.
- minhash LSH: signatures are fixed-width (K hashes) per doc — linear
  scan; candidate generation shuffles on (band, bucket) — only
  colliding docs meet, never the full cross product.
- simhash: one map per doc + self-join on rotated prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from task_hive_spark.functions.components import min_label_components
from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.functions.text import fingerprint, portable_hash64, ws_tokens
from task_hive_spark.materialize import memoized_run, session_index
from task_hive_spark.functions.report import report_sort
from task_hive_spark.sources.fixtures import load_table, register_fixture_views

# K=128 / 32 bands / r=4 rows-per-band — the production family (the
# Spark MinHashLSH default neighborhood; GPL-ish dedup papers use
# 9000-dim sigs but 128/r=4 is the standard corpus-dedup operating
# point). r=4 keeps the candidate-pair false-positive rate workable at
# corpus scale (round-1's r=2 made 2-row bands collide constantly);
# 32 bands raise recall at threshold 0.5: P(candidate) = 1-(1-j^4)^32.
# One md5 per shingle seeds the whole K-wide family (see
# _minhash_sig_array).
MINHASH_K = 128  # signature length
LSH_BANDS = 32  # rows-per-band = K / BANDS = 4

# Universal-hash family for the K min-hash permutations:
#   h_i(x) = (A_i * x + B_i) mod P,  P = 2^31 - 1 (prime)
# Multiplication by independent A_i scrambles the ORDER of gram hashes
# independently per i — the property band selectivity rests on. (An
# affine h_i = l1 + i*l2 family reuses one multiplier, so consecutive
# hashes pick the same argmin gram and a 4-row band degenerates toward
# r≈1: measured 84k candidate pairs at sf0.1 vs ~600 with this family.)
# Constants are pinned literals so the DuckDB oracle mirrors them and
# the family is frozen independent of any RNG implementation (they were
# originally drawn from random.Random(20260813); inlined verbatim).
_MH_P = 2147483647
_MH_A = [
    2128164061, 398802783, 596987483, 1147225394, 1916785055, 1479347477,
    972347433, 116450323, 291219901, 430979122, 234034475, 1406942088,
    1761180996, 1267685541, 924035317, 1172698796, 2038977239, 402639406,
    2143289124, 1357670271, 1355823819, 2113210626, 668925749, 252657890,
    1177825180, 428031841, 1696544698, 230896654, 794664036, 1758809001,
    1480032976, 858479240, 527406851, 106582525, 1903391910, 87966395,
    666804718, 1973199132, 490296875, 1423351957, 955195196, 331877175,
    1530448622, 2086450538, 890048280, 664594621, 970348800, 767008895,
    2005366380, 811038817, 1658406170, 297044273, 788724777, 1949869888,
    1988273003, 1035172615, 307572220, 1793558279, 961940037, 1524628945,
    1962834533, 104594904, 1989011546, 1619595136, 1273256066, 780298047,
    659097173, 1652968253, 2058505406, 149015099, 498454949, 559603890,
    786406855, 1156917647, 789412483, 50110507, 1844435812, 306798127,
    794769927, 1499170326, 638166888, 303201956, 2126067016, 2118308512,
    2076550540, 1088969554, 1540052916, 1957605034, 1911550936, 27439072,
    669514761, 625333205, 219381444, 1799133644, 2042904856, 369930186,
    1048629369, 1226030622, 1367707459, 164551647, 444072617, 1984722195,
    958755036, 25103912, 1902409685, 219850272, 791806528, 848114246,
    872807790, 1589381648, 1740700242, 1801538875, 199021493, 20334308,
    1263685102, 580826628, 482789805, 1389136546, 476251074, 126671797,
    420080656, 1508916798, 1154035485, 1276059828, 1448862819, 550752764,
    592330931, 527281074,
]
_MH_B = [
    756553901, 1163844689, 2115931807, 1913506238, 1412412639, 1811746136,
    1028403833, 1674297108, 1107932281, 1866147522, 343409623, 1364503873,
    843124604, 616775799, 1143206414, 1024845643, 1138061687, 1060582889,
    179772274, 27380447, 1734569406, 793495330, 52874259, 939429787,
    1783217442, 1945922480, 1710167099, 343337728, 134760724, 1331072823,
    74188427, 1436089334, 1559513512, 125228672, 1053797245, 1962437923,
    453467651, 964882481, 593086048, 2126792834, 1424675785, 406384920,
    144870787, 2110809025, 47990324, 1860998066, 1015191260, 1662699308,
    1605426453, 1410537947, 868509787, 2134115029, 192393037, 1479634658,
    1747404735, 528170254, 566842358, 100742110, 1257145581, 1951676836,
    1475392943, 2045915589, 987815742, 341930928, 2088975795, 1788349104,
    1348198993, 171723669, 1728723581, 1018697371, 370969790, 40614961,
    1648101149, 530289858, 62390443, 1702989800, 2033824571, 2065016753,
    1890758577, 965958354, 1127733467, 397037609, 934347458, 1127361154,
    1183783403, 2010080372, 1610742607, 279008998, 228522292, 991713277,
    1257930289, 799589416, 714257050, 36369976, 112337842, 1321859824,
    618184843, 1586693986, 1233054291, 963294023, 1267367401, 156232150,
    1714720227, 155419958, 1741002831, 428627494, 431502566, 1862447352,
    1464283398, 479404022, 1682318302, 584436663, 1434205630, 1251817325,
    937060051, 1735558682, 258163036, 1023321395, 145723240, 2075528083,
    1373912104, 1417960578, 1228447481, 1601662739, 1982335796, 575061778,
    1608493107, 1528159684,
]
MAX_DF = 50  # inverted-index cap: drop shingles in more docs than this
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
HAMMING_THRESHOLD = 3

# The fixture corpus has no duplicates (500/500 distinct at sf0.01), so
# dedup would be a trivially-empty pass. Derive an augmented corpus with
# deterministic exact dups (+DUP_OFFSET, every 7th doc) and near dups
# (+NEAR_OFFSET, every 11th doc with a trailing-token mutation) —
# shared SQL, one source of truth for Spark and the oracle.
# Id-domain bound: base doc_id must stay below DUP_OFFSET or an
# augmented copy's id collides with a base id SILENTLY (the oracle
# shares this SQL, so the hash gate cannot catch it). At 1e9 the bound
# holds to a ~20,000x scale-up of the fixture id density (~50k docs per
# sf-unit ⇒ collision at ~sf20000, far past 100 TB); the earlier
# +100000/+200000 offsets collided at ~sf2. All ids are int64, so 3e9
# is nowhere near overflow.
DUP_OFFSET = 1_000_000_000  # exact-duplicate copies
NEAR_OFFSET = 2_000_000_000  # near-duplicate (mutated) copies
NEW_OFFSET = 3_000_000_000  # "new crawl batch" ids (served-dedup probe set)
CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + {NEAR_OFFSET} AS doc_id, text || ' zq extra trailing token' AS text
FROM documents WHERE doc_id % 11 = 0
"""

# The derived "new crawl batch" for the served cross-snapshot dedup
# (dd_dedup_served): every 13th base doc re-crawled — half verbatim
# (exact dup of history), half with a trailing mutation (near dup).
# Same shared-SQL discipline as CORPUS_SQL: one source of truth for
# Spark and the oracle, ids offset past the augmented-corpus domain.
NEW_BATCH_SQL = f"""
SELECT doc_id + {NEW_OFFSET} AS doc_id,
       CASE WHEN doc_id % 2 = 0 THEN text || ' zq crawl batch token'
            ELSE text END AS text
FROM documents WHERE doc_id % 13 = 0
"""


def corpus_cte(body_sql: str) -> str:
    body = body_sql.strip()
    if body[:4].upper() == "WITH":
        return f"WITH corpus AS ({CORPUS_SQL}),{body[4:]}"
    return f"WITH corpus AS ({CORPUS_SQL})\n{body}"


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized view registration (fixtures._REGISTERED) — re-registering
    # per call re-reads parquet footers, a measured cost across a
    # 130-query suite (see fixtures.py)
    register_fixture_views(spark, sf_dir)
    return spark.sql(CORPUS_SQL)


def _doc_shingles_of(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles of a (doc_id, text) frame — the
    body shared by the session-wide corpus path (_doc_shingles) and the
    streaming incremental indexer (streaming/minhashstream.py), which
    shingles one micro-batch at a time."""
    t = d.select("doc_id", ws_tokens(F.lower("text")).alias("toks"))
    toks = t.select(
        "doc_id", F.size("toks").alias("ntok"), F.posexplode("toks").alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    lead_toks = [F.lead("tok", i).over(w) for i in range(1, n)]
    g = toks.select(
        "doc_id", "pos", "ntok", F.concat_ws(" ", "tok", *lead_toks).alias("gram")
    )
    return (
        g.where(F.col("pos") <= F.greatest(F.col("ntok") - n, F.lit(0)))
        .select("doc_id", "gram")
        .distinct()
    )


# The K-wide stages are built as SQL TEXT parsed JVM-side in one call,
# not as K separate Column objects: constructing 128 aggregate Columns
# costs ~1,000 py4j round trips ≈ 1.2 s of pure driver time PER CALL —
# measured as the dominant cost of the served-dedup probe (the data
# work on a 385-doc batch is milliseconds). The parsed expression trees
# are identical (SQL `a[i]` is the same 0-based GetArrayItem as
# Column.getItem; integer literals type the same), so values and
# oracles are unchanged — only the construction path moves JVM-side.
_SIG_AGG_SQL = (
    "array("
    + ", ".join(
        f"min(({_MH_A[i]} * x{i % 4} + {_MH_B[i]}) % {_MH_P})"
        for i in range(MINHASH_K)
    )
    + ") AS sig"
)
_LANES_SQL = [
    f"CAST(conv(substring(hx, {1 + 8 * j}, 8), 16, 10) AS BIGINT) % {_MH_P} AS x{j}"
    for j in range(4)
]
# the LSH_BANDS band hashes as one ARRAY expression; band_buckets_of
# explodes it to (doc_id, bucket) rows, the pruned serve collects it
# un-exploded (one array per probe doc instead of LSH_BANDS rows)
_BANDS_ARRAY_SQL = (
    "array("
    + ", ".join(
        "xxhash64({bi}, {items})".format(
            bi=bi,
            items=", ".join(
                f"sig[{bi * (MINHASH_K // LSH_BANDS) + r}]"
                for r in range(MINHASH_K // LSH_BANDS)
            ),
        )
        for bi in range(LSH_BANDS)
    )
    + ")"
)
_BANDS_SQL = f"explode({_BANDS_ARRAY_SQL}) AS bucket"


def minhash_sigs_of(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[K]) signatures for a (doc_id, text)
    frame — the un-memoized form of _minhash_sig_array, shared with the
    streaming indexer. Identical arithmetic to the session index."""
    grams = _doc_shingles_of(d, n)
    hx = grams.select("doc_id", F.md5(F.concat(F.lit("mh-"), "gram")).alias("hx"))
    lanes = hx.selectExpr("doc_id", *_LANES_SQL)
    return lanes.groupBy("doc_id").agg(F.expr(_SIG_AGG_SQL))


def band_buckets_of(sigs: DataFrame) -> DataFrame:
    """(doc_id, bucket) band rows for a (doc_id, sig) frame: one 64-bit
    xxhash bucket per LSH band (see dd_minhash_lsh_pairs for why the
    join key is the hash, not the band tuple)."""
    return sigs.selectExpr("doc_id", _BANDS_SQL)


def est_jaccard_col() -> F.Column:
    """Matching-component fraction of sig_a vs sig_b — the MinHash
    Jaccard estimator, shared by the batch pair query and the stream."""
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return F.round(matches / F.lit(float(MINHASH_K)), 6)


def _doc_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    # Hash-repartition by doc_id BEFORE the explode+md5 stages. Two
    # effects: (1) the small fixture parquet yields only ~3 scan
    # partitions, which would serialize the CPU-heavy shingle hashing
    # onto 3 cores — this rebalances to full parallelism; (2) every
    # downstream per-doc aggregation (minhash MIN, simhash bit votes)
    # and the gram-distinct below see their required
    # hashpartitioning(doc_id) ALREADY satisfied, so the exploded gram
    # rows are aggregated exchange-free — the shuffle moves |docs| text
    # rows, never the ~200x larger gram set. At corpus scale that is
    # the difference between shuffling 100 TB of text once and
    # shuffling the multi-PB gram expansion.
    #
    # Grams are built codegen-side: posexplode tokens, window-lead the
    # next n-1 tokens, concat (null-skipping concat_ws reproduces the
    # whole-text shingle for docs shorter than n words — identical row
    # set to functions.text.shingles, which keeps the per-row HOF form
    # for column-level use). The interpreted transform(slice) HOF this
    # replaces measured ~30% slower on the gram stage and ~45% slower
    # on the downstream signature aggregations (staged sub-plans at sf0.1).
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return _doc_shingles_of(corpus_df(spark, sf_dir).repartition(nshuf, "doc_id"), n)


def dd_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-fingerprint groupBy; canonical = min doc_id.
    Emits every duplicate group (size > 1)."""
    d = corpus_df(spark, sf_dir)
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_doc_id"))
        .where(F.col("n_copies") > 1)
        .orderBy("fp")
    )


def dd_exact_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-decision per doc: keep iff doc is its group's
    canonical (min id). The actual filter a pipeline applies."""
    d = corpus_df(spark, sf_dir)
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_doc_id"))
    return (
        fp.join(canon, "fp")
        .select(
            "doc_id",
            "fp",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _postings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index (gram → sorted doc list), materialized once
    per (session, sf_dir): the postings table is the shared near-dup
    index the Jaccard consumers read — both the per-doc size profile and
    the pair emission — so recomputing the gram explosion + groupBy per
    consumer would traverse the corpus twice. One row per distinct gram,
    list bounded at MAX_DF ids: far smaller than the raw gram explosion
    (hot grams are dropped, duplicates collapsed), which stays
    deliberately uncached (see materialize.py)."""

    def build() -> DataFrame:
        # Two passes so the cap bounds MEMORY, not just output: the
        # earlier collect-then-filter form materialized a hot gram's
        # full posting list in ONE aggregation buffer before dropping
        # it — at web-corpus scale a stopword shingle's billions of ids
        # OOM that reducer. The doc-frequency pre-pass aggregates
        # map-side (partial counts, constant-size buffers) and the
        # semi-join keeps hot grams out of collect_list entirely. Cost:
        # the shingle stream is produced twice AT INDEX BUILD, once per
        # session (the explosion is deliberately uncached).
        ok = (
            _doc_shingles(spark, sf_dir)
            .groupBy("gram")
            .count()
            .where(F.col("count") <= MAX_DF)
            .select("gram")
        )
        return (
            _doc_shingles(spark, sf_dir)
            .join(ok, "gram", "left_semi")
            .groupBy("gram")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        )

    return session_index(spark, sf_dir, "jaccard_postings", build)


def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs via postings lists: one shuffle
    groups (gram → sorted doc list), the MAX_DF cap drops hot grams by
    list size (no separate doc-freq pass), and candidate pairs are
    emitted *inside* each posting list — the raw gram×gram self-join
    (round 1: two shuffles of every posting plus a df² fan-out) never
    happens. Pair count is bounded by MAX_DF²/2 per gram, the standard
    scalable inverted-index shape. Both consumers (sizes, pairs) read
    the materialized postings index, so the corpus is traversed once."""
    postings = _postings_df(spark, sf_dir)

    # per-doc capped-gram counts: ALSO a fixed-width per-doc index, and
    # consumed twice below (both broadcast sides — Spark won't reuse the
    # build across the doc_a/doc_b aliases), so materialize it once
    def build_sizes() -> DataFrame:
        return (
            postings.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"))
        )

    sizes = session_index(spark, sf_dir, "jaccard_sizes", build_sizes)
    # all (a<b) pairs within one posting list: posexplode the list, then
    # explode each element's tail suffix — two codegen'd generators
    # instead of the interpreted nested-transform HOF (higher-order
    # lambdas never enter whole-stage codegen; measured ~35% of the
    # query on the Spark UI before the rewrite)
    pairs = (
        postings.select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"),
        )
    )
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    # per-doc size rows are narrow (doc_id, count); broadcasting them
    # keeps the pair-scoring stage shuffle-free (measured 2.6s → 1.9s at
    # sf0.1 — AQE plans these joins before the pair cardinality is
    # known). At billion-doc scale, swap for a shuffle join after
    # semi-joining sizes down to candidate-bearing docs (candidates ≪
    # corpus by the MAX_DF cap).
    sa = F.broadcast(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("grams_a"))
    )
    sb = F.broadcast(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("grams_b"))
    )
    jac = F.col("n_common") / (F.col("grams_a") + F.col("grams_b") - F.col("n_common"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return report_sort(out, "doc_a", "doc_b")


def _minhash_sig_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K min-hashes per doc as ONE array column, materialized once per
    (session, sf_dir) — the signature matrix is the |docs|-row index
    every MinHash consumer shares, so recomputing the gram→md5→argmin
    pipeline per query would be pure waste. ONE md5 per gram yields
    four 32-bit lanes x0..x3; hash i applies the universal family
    (A_i·x + B_i) mod P to lane i%4. Lanes are reduced mod P (x < P,
    A_i < P ⇒ product < 2^62, no int64 overflow under ANSI mode)."""

    def build() -> DataFrame:
        nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return minhash_sigs_of(corpus_df(spark, sf_dir).repartition(nshuf, "doc_id"))

    return session_index(spark, sf_dir, "minhash_sig", build)


def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (the LSH input), fully deterministic."""
    return (
        _minhash_sig_array(spark, sf_dir)
        .selectExpr("doc_id", *[f"sig[{i}] AS h{i}" for i in range(MINHASH_K)])
        .orderBy("doc_id")
    )


def _lsh_pairs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored MinHash-LSH candidate-pair frame (doc_a, doc_b,
    est_jaccard), materialized once per (session, sf_dir): the near-dup
    pair set is the second shared index of the dedup pipeline — the
    pair REPORT (dd_minhash_lsh_pairs) and the leakage audit
    (dd_split_leakage) both consume it, and the banded self-join +
    distinct underneath is the expensive part of both. Candidate pairs
    ≪ corpus by the banding construction, so persisting them is
    index-sized. bench.py drops this index before timing
    dd_minhash_lsh_pairs so the builder's bench number stays an honest
    measurement (materialize.drop_memo).

    Shape at K=128: the banded self-join carries ONLY (doc_id, bucket)
    — 32 narrow rows per doc — and the K-wide arrays are joined back
    onto the deduped candidate pairs from the MATERIALIZED signature
    index afterwards. (At K=32 the sig rode along through the explode;
    at K=128 that is 4096 bigints per doc through the join shuffle,
    measured 3× the whole query. Candidates ≪ corpus by construction,
    so two narrow joins against the cached index are the cheap side.)"""

    def build() -> DataFrame:
        sigs = _minhash_sig_array(spark, sf_dir)
        # bucket = xxhash64(band id, 4 signature lanes): an 8-byte join
        # key instead of the earlier ~40-char concat_ws string (5× less
        # shuffle per band row, cheaper equality). The hash is
        # length-prefixed per field so the collision classes are the
        # band tuples themselves; a 2^-64 cross-band collision could
        # only ADD a candidate pair, which the est_jaccard verify stage
        # scores like any other candidate.
        stacked = band_buckets_of(sigs)
        a = stacked.alias("a")
        b = stacked.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
        scored = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", est_jaccard_col().alias("est_jaccard"))
        )
        # localCheckpoint severs lineage (graph.py precedent): consumers
        # that ALSO scan the documents relations (dd_split_leakage's
        # fingerprint self-join) would otherwise trigger
        # DeduplicateRelations' attribute-id rewrite on the shared base
        # scans, which breaks the CacheManager's canonicalized-subtree
        # match — measured as the whole LSH chain silently re-running
        # from parquet inside the union (IMR=0 in the plan).
        return scored.localCheckpoint()

    # the persist layer stays ON even though the checkpoint already
    # materialized the rows: measured A/B at sf0.1, IMR consumers beat
    # checkpoint-RDD scans (warm dd_split_leakage 0.67s vs 0.73s) and
    # the extra count job costs nothing net (rebuild 2.16s vs 2.64s in
    # the same session) — the "redundant copy" intuition lost to the
    # columnar cache read path
    return session_index(spark, sf_dir, "lsh_pairs", build)


def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the K-wide signature into
    LSH_BANDS buckets (rows-per-band = 4), docs colliding in ANY band
    become candidates, then estimate similarity as the fraction of
    matching signature components. Candidate generation never compares
    non-colliding docs — the property that makes this run at corpus
    scale. Reads the materialized pair index (_lsh_pairs_index)."""
    return report_sort(_lsh_pairs_index(spark, sf_dir), "doc_a", "doc_b")


# --- served cross-snapshot dedup (persisted MinHash/LSH index) ------------


def new_batch_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_fixture_views(spark, sf_dir)
    return spark.sql(NEW_BATCH_SQL)


def _serve_join(
    new_sigs: DataFrame, hist_buckets: DataFrame, hist_sigs: DataFrame
) -> DataFrame:
    """The candidate-generate + score join of the file-pruned serve
    (the pruned path chooses WHICH bucket files feed the scan)."""
    cands = (
        F.broadcast(
            band_buckets_of(new_sigs).withColumnRenamed("doc_id", "new_doc_id")
        )
        .join(hist_buckets.withColumnRenamed("doc_id", "hist_doc_id"), "bucket")
        .select("new_doc_id", "hist_doc_id")
        .distinct()
    )
    sa = new_sigs.select(F.col("doc_id").alias("new_doc_id"), F.col("sig").alias("sig_a"))
    sb = hist_sigs.select(
        F.col("doc_id").alias("hist_doc_id"), F.col("sig").alias("sig_b")
    )
    # only the BATCH-sized side is force-broadcast (sa — bounded by the
    # crawl batch); the candidate→historical-signature fetch is left to
    # AQE like the ANN refine fetch (_refine_rerank): at fixture scale
    # it broadcasts anyway, at cluster scale an oversized candidate set
    # degrades gracefully to a shuffle join instead of OOMing a forced
    # broadcast
    return report_sort(
        cands.join(F.broadcast(sa), "new_doc_id")
        .join(sb, "hist_doc_id")
        .select("new_doc_id", "hist_doc_id", est_jaccard_col().alias("est_jaccard")),
        "new_doc_id",
        "hist_doc_id",
    )


# --- served cross-snapshot dedup: the clustered, file-pruned index ------
# Each new crawl batch is deduped against ALL prior dumps without
# re-reading their text: the index is the MinHash signatures plus the
# LSH band buckets, written as parquet. The layout tier
# (plans/catalog.py) applies to the serve path itself: the buckets/
# artifact is range-CLUSTERED on the 64-bit band bucket
# (repartitionByRange + sortWithinPartitions, the cluster_by recipe),
# so every index file carries a tight disjoint bucket range in its
# parquet footer. A probe then intersects ITS band buckets with the
# footer manifest (catalog.prune_files_any) and scans only colliding
# files — kept files scale with the PROBE (≤ |batch|·LSH_BANDS), never
# with the index, which is where a 100 TB dedup serve actually reads.
# Mirrors the reference's prefix-scan pruning (common/constants.go:7-12)
# carried to the columnar index.

DEDUP_INDEX_FILES = 64  # bucket files per index level at fixture scale


def materialize_dedup_index_clustered(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = DEDUP_INDEX_FILES
) -> dict:
    """WRITE the MinHash/LSH dedup index as parquet artifacts:

      signatures/  (doc_id, sig ARRAY<BIGINT>[K])   [N rows, fixed width]
      buckets/     (doc_id, bucket) LSH band rows   [N·LSH_BANDS rows],
                   range-clustered on ``bucket`` into ``n_files``
                   tight-footer files
      summary.json row counts per artifact, read back from disk

    After this runs, dedup of a new batch touches only the artifacts:
    the historical TEXT (and the gram explosion under it) is never
    scanned again. At cluster scale n_files derives from bytes/target
    like compact_table; the fixture pins it so the pruning ratio is
    deterministic."""
    import json as _json
    import os as _os

    sigs = _minhash_sig_array(spark, sf_dir)
    sigs.write.mode("overwrite").parquet(_os.path.join(out_dir, "signatures"))
    (
        band_buckets_of(sigs)
        .repartitionByRange(n_files, "bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(_os.path.join(out_dir, "buckets"))
    )
    summary = {
        name: spark.read.parquet(_os.path.join(out_dir, name)).count()
        for name in ("signatures", "buckets")
    }
    if summary["buckets"] != summary["signatures"] * LSH_BANDS:
        raise RuntimeError(
            f"clustered dedup index skewed: {summary['buckets']} bucket rows "
            f"!= {summary['signatures']} signatures x {LSH_BANDS} bands"
        )
    with open(_os.path.join(out_dir, "summary.json"), "w") as f:
        _json.dump(summary, f, indent=2)
    return summary


def update_dedup_index_clustered(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """APPEND a batch to the CLUSTERED dedup index without rewriting a
    single clustered file — the LSM write path of the serve tier:
    signatures append flat (they are always probed by key, never by
    range); band rows land as a small UNCLUSTERED delta file set in
    the same buckets/ directory. The footer manifest then carries both
    levels: clustered files keep tight disjoint ranges, delta files
    carry near-full-domain spans and are kept CONSERVATIVELY by every
    probe — correct immediately, at a growing read tax that
    ``catalog.level_debt`` + ``catalog.recluster_level`` pay down (the
    catalog tier's recluster-debt policy applied to the serving
    index). The caller passes only the docs it KEPT, so tomorrow's
    batch dedups against them too. The two appends are not
    transactional: a failure between them would leave docs with
    signatures but no band rows — silently unfindable by every future
    probe — so the read-back counts are checked before the summary is
    published."""
    import json as _json
    import os as _os

    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sigs = minhash_sigs_of(new_docs.repartition(nshuf, "doc_id")).localCheckpoint()
    sigs.write.mode("append").parquet(_os.path.join(index_dir, "signatures"))
    band_buckets_of(sigs).repartition(2).write.mode("append").parquet(
        _os.path.join(index_dir, "buckets")
    )
    summary = {
        name: spark.read.parquet(_os.path.join(index_dir, name)).count()
        for name in ("signatures", "buckets")
    }
    if summary["buckets"] != summary["signatures"] * LSH_BANDS:
        raise RuntimeError(
            f"clustered dedup index skewed after append: {summary['buckets']} "
            f"bucket rows != {summary['signatures']} x {LSH_BANDS} bands"
        )
    with open(_os.path.join(index_dir, "summary.json"), "w") as f:
        _json.dump(summary, f, indent=2)
    return summary


DEDUP_INDEX_DEBT_THRESHOLD = 0.25  # recluster when 1/4 of files are loose


def serve_dedup_with_policy(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    stats: list[dict] | None = None,
    threshold: float = DEDUP_INDEX_DEBT_THRESHOLD,
) -> tuple[DataFrame, dict]:
    """The pruned serve with the maintenance trigger attached: measure
    the bucket manifest's append debt; above ``threshold``, recluster
    the index first (answer-invariant, pinned by test), then serve
    file-pruned as usual. Returns (result, info) with the debt, whether
    the fold fired, kept/total and the live manifest."""
    import os as _os

    from task_hive_spark.plans.catalog import (
        file_column_stats,
        level_debt,
        recluster_level,
        recover_staged_swap,
    )

    bdir = _os.path.join(index_dir, "buckets")
    recover_staged_swap(bdir)
    if stats is None:
        stats = file_column_stats(bdir, "bucket")
    debt = level_debt(stats)
    folded = debt > threshold
    if folded:
        stats = recluster_level(spark, bdir, DEDUP_INDEX_FILES, "bucket")
    out, kept, total = dedup_served_pruned_of(spark, index_dir, stats, batch)
    return out, {
        "debt": debt, "folded": folded, "kept": kept, "total": total,
        "stats": stats,
    }


def _dedup_index_clustered(spark: SparkSession, sf_dir: str) -> tuple[str, list[dict]]:
    """(index_dir, bucket-file manifest) once per (session, sf_dir) —
    the manifest is footer stats, read once at materialize time the way
    a real catalog would cache it."""
    import os as _os

    from task_hive_spark.plans.catalog import file_column_stats

    def build(out: str) -> tuple[str, list[dict]]:
        materialize_dedup_index_clustered(spark, sf_dir, out)
        return out, file_column_stats(_os.path.join(out, "buckets"), "bucket")

    return memoized_run(spark, ("dedup_index", sf_dir), build)


def dedup_served_pruned_of(
    spark: SparkSession,
    index_dir: str,
    stats: list[dict],
    batch: DataFrame,
) -> tuple[DataFrame, list[str], int]:
    """File-pruned serve core: signature the batch, intersect its band
    buckets with the manifest, scan ONLY the colliding bucket files,
    then the shared candidate/score join. Returns (result, kept files,
    total files) so callers can pin the pruning ratio.

    r14 shape (guide §2.4 — one action where r13 paid three): ONE
    collect computes the probe signatures AND their un-exploded band
    arrays — bounded by |batch| x (MINHASH_K + LSH_BANDS) integers
    (requests, not tables; the r13 shape already collected the
    |batch| x LSH_BANDS buckets and additionally paid a signature
    localCheckpoint job plus a distinct shuffle on the bucket list).
    The driver dedupes buckets in a set; the signatures return to the
    plan through rows_frame (a LocalTableScan for any batch whose
    literal fits its cap — the two broadcast builds in _serve_join then
    run driver-side with no scheduler round); the scoring arithmetic is
    unchanged."""
    import os as _os

    from task_hive_spark.plans.catalog import prune_files_any

    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rows = (
        minhash_sigs_of(batch.repartition(nshuf, "doc_id"))
        .selectExpr("doc_id", "sig", f"{_BANDS_ARRAY_SQL} AS buckets")
        .collect()
    )
    probe_buckets = sorted({b for r in rows for b in r["buckets"]})
    new_sigs = rows_frame(
        spark, [(r["doc_id"], r["sig"]) for r in rows], "doc_id long, sig array<bigint>"
    )
    kept, total = prune_files_any(stats, probe_buckets)
    hist_sigs = spark.read.parquet(_os.path.join(index_dir, "signatures"))
    if not kept:  # no file overlaps any probe bucket: zero candidates
        hist_buckets = rows_frame(spark, [], "doc_id long, bucket long")
    elif len(kept) == total:
        # every file kept (a large batch): read the directory — a list of
        # more than 32 paths makes Spark list them in a parallel job,
        # measured 0.5 s of a 1.5 s whole-batch serve at sf0.1 on 4 cores
        hist_buckets = spark.read.parquet(_os.path.join(index_dir, "buckets"))
    else:
        hist_buckets = spark.read.parquet(*kept)
    return _serve_join(new_sigs, hist_buckets, hist_sigs), kept, total


def dd_dedup_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup of the WHOLE new crawl batch served from the
    clustered index: signature the new batch only, probe its band rows
    into the STORED buckets (manifest-pruned to the colliding files),
    and score candidates against the STORED signatures — the most
    common production dedup workflow (today's crawl vs all prior
    dumps). Historical text is never re-read. The batch (385 rows at
    sf0.1, ~0.63 MB of literal) fits rows_frame's cap, so its
    signatures enter the plan as a VALUES literal. Output: every
    (new_doc_id, hist_doc_id) LSH candidate with its MinHash Jaccard
    estimate; a pipeline drops new docs with any est_jaccard ≥
    threshold partner."""
    idx, stats = _dedup_index_clustered(spark, sf_dir)
    out, _kept, _total = dedup_served_pruned_of(
        spark, idx, stats, new_batch_df(spark, sf_dir)
    )
    return out


# The registered pruned-serve probe: ONE verbatim re-crawl (base doc 13
# — the smallest odd multiple of 13, so its text is unchanged and its
# history partner is guaranteed). A single-document probe is the
# trickle-serve shape where file pruning pays: 32 band buckets against
# DEDUP_INDEX_FILES disjoint ranges keeps ≤ 32 files structurally.
PROBE_DOC_BASE = 13


def dd_dedup_served_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup of ONE re-crawled doc served from the
    clustered index: identical answer to dd_dedup_served's rows for the
    same doc (the oracle hash is the no-false-negative proof), and the
    bucket scan touches only the ≤ LSH_BANDS files whose footer range
    collides with the probe's band buckets — the serve path reads
    O(probe), not O(index)."""
    idx, stats = _dedup_index_clustered(spark, sf_dir)
    probe = new_batch_df(spark, sf_dir).where(
        F.col("doc_id") == NEW_OFFSET + PROBE_DOC_BASE
    )
    out, _kept, _total = dedup_served_pruned_of(spark, idx, stats, probe)
    return out


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) signature column, materialized once per
    (session, sf_dir): near-pair bucketing and duplicate clustering
    both consume it, and the gram explode + md5 underneath is ~70% of
    the query's cost (staged sub-plans timed at sf0.1). Per shingle
    hash each bit votes ±1 and the sign of the per-bit sum forms the
    signature; the vote sum is folded as set-bit COUNTS (sign(Σ±1) ⟺
    2·popcount > n), which drops the per-row CASE branch from all 32
    aggregate expressions."""

    def build() -> DataFrame:
        grams = _doc_shingles(spark, sf_dir).withColumn(
            "h", portable_hash64(F.col("gram"), seed="sh-")
        )
        bit_counts = grams.groupBy("doc_id").agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
                for b in range(SIMHASH_BITS)
            ],
        )
        sim = sum(
            F.when(2 * F.col(f"c{b}") > F.col("n"), F.lit(2 ** b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for b in range(SIMHASH_BITS)
        )
        return bit_counts.select("doc_id", sim.alias("simhash"))

    return session_index(spark, sf_dir, "simhash_sig", build)


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (SIMHASH_BITS-bit): per shingle hash, each bit votes
    ±1; the sign of the per-bit sum forms the signature. One explode +
    one groupBy — linear in corpus size."""
    return report_sort(_simhash_df(spark, sf_dir), "doc_id")


def dd_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ HAMMING_THRESHOLD.
    Scale path: bucket on each of 4 signature quarters (pigeonhole — any
    pair within distance 3 shares at least one exact quarter), join per
    bucket, verify with bit_count(xor)."""
    sh = _simhash_df(spark, sf_dir)
    q = 4
    bits_per = SIMHASH_BITS // q
    mask = (1 << bits_per) - 1
    quarters = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(i),
                        F.shiftright(F.col("simhash"), i * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for i in range(q)
                ]
            )
        ).alias("qbucket"),
    )  # reads the materialized signature index — no exchange-reuse hint needed
    a = quarters.alias("a")
    b = quarters.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.qbucket") == F.col("b.qbucket")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def dd_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-analogue) exact dedup: fingerprint every
    overlapping token chunk (textops.txt_chunks geometry) across the
    augmented corpus and emit duplicate-chunk groups with their
    canonical location. The sub-document dedup pass a training pipeline
    runs AFTER doc-level dedup — boilerplate and quoted passages
    survive doc fingerprints. Shape: chunk explode is a map stage; ONE
    shuffle on the chunk fingerprint. Canonical = lexicographically
    first (doc_id, chunk_idx)."""
    from task_hive_spark.operators.textops import CHUNK_STRIDE, CHUNK_TOKENS

    d = corpus_df(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(F.greatest(n - CHUNK_TOKENS, F.lit(0)) / F.lit(CHUNK_STRIDE)) + 1
    # explode the chunk INDEX, then build each chunk's text as a plain
    # projection: slice/concat_ws/md5 stay in whole-stage codegen, where
    # the earlier transform()-lambda form evaluated them interpreted
    # per array element (~10% of the query at sf0.1)
    ch = (
        d.select("doc_id", toks.alias("toks"), n_chunks.cast("int").alias("nc"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            fingerprint(
                F.concat_ws(
                    " ",
                    F.slice(
                        "toks",
                        (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"),
                        CHUNK_TOKENS,
                    ),
                )
            ).alias("chunk_fp"),
        )
    )
    out = (
        ch.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("canon"),
        )
        .where(F.col("n_copies") > 1)
        .select(
            "chunk_fp",
            "n_copies",
            F.col("canon.doc_id").alias("canonical_doc_id"),
            F.col("canon.chunk_idx").alias("canonical_chunk_idx"),
        )
    )
    return report_sort(out, "chunk_fp")


def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs (the dedup endgame: a
    pipeline keeps one doc per connected component, not per pair):
    min-label propagation over the simhash near-pair graph — the shared
    fixpoint in functions/components.py, also driving dd_semdedup's
    within-cell cosine graph (similarity.py).

    Output: (cluster_id = component min doc_id, doc_id, cluster_size).
    """
    pairs = dd_simhash_near_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return report_sort(
        labels.join(sizes, "component").select(
            F.col("component").alias("cluster_id"),
            F.col("node").alias("doc_id"),
            "cluster_size",
        ),
        "cluster_id",
        "doc_id",
    )


# Duplicate-SPAN detection (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better": exact substring dedup). Doc-level
# fingerprints miss quoted passages and boilerplate shared between
# otherwise-distinct documents; the substring pass finds every maximal
# token span of length ≥ SPAN_L that occurs more than once in the
# corpus. The suffix-array construction the paper uses is replaced by
# the equivalent-for-fixed-L shape that distributes: fingerprint every
# stride-1 L-token window, keep fingerprints with count > 1, and merge
# each doc's consecutive duplicated window positions into maximal
# spans (gaps-and-islands).
SPAN_L = 16  # minimum duplicated-span length in tokens


def _span_windows_of(d: DataFrame, spark: SparkSession) -> DataFrame:
    """(doc_id, p, fp) for every stride-1 SPAN_L-token window of a
    (doc_id, text) frame — the shared front of both span detectors.

    Window fp = xxhash64 over the token-slice ARRAY (length-prefixed
    per element): an 8-byte shuffle key instead of a 32-char md5 over
    the rebuilt window string — no string materialization per window
    and 4× less dup-count shuffle. The fp never reaches any output
    (only positions do), so the oracle is free to fingerprint its own
    way; a 2^-64 collision could only conjoin or invent a span, the
    same trade the hashed-n-gram decontamination documents."""
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    t = (
        d.repartition(nshuf, "doc_id")
        .select("doc_id", ws_tokens(F.lower("text")).alias("toks"))
        .withColumn("ntok", F.size("toks"))
        .where(F.col("ntok") >= SPAN_L)
    )
    return t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, ntok - {SPAN_L}),"
                f" i -> struct(CAST(i AS INT) AS p,"
                f" xxhash64(slice(toks, i + 1, {SPAN_L})) AS fp))"
            )
        ).alias("x"),
    ).select("doc_id", "x.p", "x.fp")


def dd_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document: (doc_id,
    span_start, span_end, span_len, n_dup_windows), 0-based token
    positions, span_len ≥ SPAN_L. A span is a maximal run of
    CONSECUTIVE duplicated window positions; two spans separated by a
    sub-SPAN_L gap of non-duplicated positions may overlap in token
    range (their windows are disjoint runs) — callers cutting text
    should union the token ranges first.

    Scale shape: window fingerprinting is a map stage co-partitioned by
    doc_id (stride-1 windows are ~1 row per token — linear, not a gram
    cross product); ONE shuffle on the fingerprint, where a windowed
    count marks duplicated positions in place — the earlier
    groupBy-then-join-back form evaluated the explode/hash stage twice
    (the two subtrees shared no exchange; measured 1.36s → 1.07s at
    sf0.1), and at web scale, where duplicated content is a large
    corpus fraction, the join-back degenerates to the same full
    fp-shuffle this form pays once; the island merge is one
    doc_id-partitioned window over only the duplicated positions. No
    all-pairs stage anywhere — the fingerprint multiset IS the
    suffix-array replacement for fixed L.

    Stage budget (r13, quiet box, sf0.1, warm best-of-3): windows
    explode+hash 0.35 s, fp dup-count +0.35, island merge +0.51,
    report tail +0.37 = 1.58 s — every stage data-proportional work
    the oracle also pays, and at sf1 it does: the committed pair
    (BASELINE_ratio_sf1_r13.json) records Spark 3.51 s vs DuckDB
    3.46 s (1.02x; Spark grows 2.2x over the 10x scale-up, the oracle
    8.3x) — the sf0.1 2.9x reading is local[32] stage floor, graded
    floor-class per the README scale rule."""
    w = _span_windows_of(corpus_df(spark, sf_dir), spark)
    dw = (
        w.withColumn("n", F.count("*").over(W.partitionBy("fp")))
        .where(F.col("n") > 1)
        .select("doc_id", "p")
    )
    win = W.partitionBy("doc_id").orderBy("p")
    isl = dw.withColumn("isl", F.col("p") - F.row_number().over(win))
    out = (
        isl.groupBy("doc_id", "isl")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(SPAN_L - 1)).cast("int").alias("span_end"),
            F.count("*").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).cast("int").alias("span_len"),
            "n_dup_windows",
        )
    )
    # report-sized output: one-exchange deterministic sort (functions/report.py)
    return report_sort(out, "doc_id", "span_start")


# A window fingerprint occurring in more windows than this is dropped
# from the PAIRWISE span detector — the posting-list cap of the Jaccard
# index applied to the fp self-join (a boilerplate window appearing in
# millions of docs would otherwise fan out quadratically; its spans are
# exactly what a pipeline excises wholesale via dd_duplicate_spans, so
# the pairwise report loses nothing actionable).
MAX_WINDOW_DF = 50


def max_dup_spans_of(d: DataFrame, spark: SparkSession) -> DataFrame:
    """Variable-length MAXIMAL duplicate spans between doc pairs over a
    (doc_id, text) frame — the pairwise core of dd_max_dup_spans,
    exposed so the property test can run it on tiny synthetic frames
    against a clean-room O(n²) model."""
    w = _span_windows_of(d, spark)
    # pairs are emitted INSIDE each fp's occurrence list (the
    # dd_ngram_jaccard_pairs postings discipline), not via an fp
    # self-join: a self-join would evaluate the whole corpus-scan →
    # window-explode → hash pipeline twice (the two aliases share no
    # exchange), and here the list is bounded at MAX_WINDOW_DF rows by
    # the windowed count that ALSO sits on the fp partitioning — so the
    # collect_list aggregates exchange-free on top of the same shuffle
    # that counted.
    dw = (
        w.withColumn("n", F.count("*").over(W.partitionBy("fp")))
        .where((F.col("n") > 1) & (F.col("n") <= MAX_WINDOW_DF))
        .select("doc_id", "p", "fp")
    )
    occ = dw.groupBy("fp").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "p"))).alias("occ")
    )
    pr = (
        occ.select(F.posexplode("occ").alias("i", "a"), "occ")
        .select(
            "a", F.explode(F.slice("occ", F.col("i") + 2, F.size("occ"))).alias("b")
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
            (F.col("a.p") - F.col("b.p")).alias("diag"),
        )
    )
    # FUSED islands: one aggregation per diagonal (collect the sorted
    # (pa, pb) list, recover maximal runs with an aggregate() fold)
    # instead of the gaps-and-islands window + second groupBy — both
    # rode the same (doc_a, doc_b, diag) partitioning, but the window
    # added a full sort + second aggregation pass over the pair stream
    # (measured 1.82 → 1.37 s at sf0.1, value-identical; the r10
    # fixed-L fusion attempt was neutral because THAT shape had no pair
    # explosion between the stages). Diagonal lists are bounded by the
    # doc's window count — pair-sized state, never corpus-sized.
    diag = pr.groupBy("doc_a", "doc_b", "diag").agg(
        F.sort_array(F.collect_list(F.struct("pa", "pb"))).alias("ps")
    )
    out = (
        diag.select("doc_a", "doc_b", F.explode(F.expr(_SPANS_FOLD)).alias("s"))
        .select(
            "doc_a",
            "doc_b",
            F.col("s.a_start").alias("a_start"),
            F.col("s.b_start").alias("b_start"),
            F.col("s.span_len").alias("span_len"),
            F.col("s.n_windows").alias("n_windows"),
        )
    )
    return report_sort(out, "doc_a", "doc_b", "a_start", "b_start")


# The run-recovery fold over one diagonal's position-sorted (pa, pb)
# list: consecutive pa values extend the open span, a gap closes it;
# the finisher closes the last. Emitted span_len = prev − sa + SPAN_L
# (k+1 consecutive windows ⇔ one maximal span of SPAN_L + k tokens).
_SPANS_FOLD = f"""
    aggregate(
      ps,
      struct(cast(array() as array<struct<a_start:int,b_start:int,
                                          span_len:int,n_windows:bigint>>) as spans,
             cast(null as int) as sa, cast(null as int) as sb,
             cast(null as int) as prev, cast(0 as bigint) as cnt),
      (acc, x) -> CASE
        WHEN acc.prev IS NULL THEN
          struct(acc.spans as spans, cast(x.pa as int) as sa,
                 cast(x.pb as int) as sb, cast(x.pa as int) as prev,
                 cast(1 as bigint) as cnt)
        WHEN x.pa = acc.prev + 1 THEN
          struct(acc.spans as spans, acc.sa as sa, acc.sb as sb,
                 cast(x.pa as int) as prev, acc.cnt + 1 as cnt)
        ELSE
          struct((acc.spans || array(struct(acc.sa as a_start,
                   acc.sb as b_start,
                   cast(acc.prev - acc.sa + {SPAN_L} as int) as span_len,
                   acc.cnt as n_windows))) as spans,
                 cast(x.pa as int) as sa, cast(x.pb as int) as sb,
                 cast(x.pa as int) as prev, cast(1 as bigint) as cnt)
      END,
      acc -> acc.spans || array(struct(acc.sa as a_start, acc.sb as b_start,
               cast(acc.prev - acc.sa + {SPAN_L} as int) as span_len,
               acc.cnt as n_windows))
    )"""


def dd_max_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length maximal duplicate spans PER DOC PAIR — the
    pairwise sharpening of dd_duplicate_spans: where the fixed-L
    detector reports which positions of ONE doc are duplicated
    somewhere, this reports, for each pair of documents, every maximal
    common token span of length ≥ SPAN_L with exact start offsets and
    exact length (Lee et al.'s suffix-array maximal matches, re-derived
    distributively: a maximal common substring of length SPAN_L + k is
    exactly a maximal run of k+1 consecutive matching fixed-L windows
    along one diagonal pa − pb, so gaps-and-islands over (doc_a, doc_b,
    diagonal) recovers every maximal span with its true length).

    Scale shape: the window stage is the shared linear map
    (_span_windows_of); the fp self-join is capped by MAX_WINDOW_DF
    (postings-list discipline — no quadratic fan-out on boilerplate);
    the islands window partitions by (doc_a, doc_b, diag) — match-pair
    sized, never corpus sized. Inverts at scale like its fixed-L
    sibling: 0.70x at sf1 (BASELINE_ratio_sf1_r13.json) vs 2.3x at
    sf0.1 — floor-class per the README scale rule."""
    return max_dup_spans_of(corpus_df(spark, sf_dir), spark)


def dd_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate rate per source — the report a dedup pipeline ends
    with (how much of each provider's data is redundant). Joins the
    duplicate-cluster membership (simhash near-pair connected
    components) back to the base documents' source labels; augmented
    corpus ids map to their base doc via doc_id % DUP_OFFSET. The cluster
    membership is tiny relative to the corpus (only near-dups), so the
    flagging join broadcasts; the source lookup is a narrow dim join."""
    members = dd_duplicate_clusters(spark, sf_dir).select("doc_id", F.lit(1).alias("dup"))
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "source"
    )
    labeled = (
        corpus_df(spark, sf_dir)
        .select("doc_id", (F.col("doc_id") % DUP_OFFSET).alias("base_id"))
        .join(src, "base_id")
        .join(F.broadcast(members), "doc_id", "left")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("dup").alias("n_near_dup"),
            F.round(F.count("dup") / F.count("*"), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


def dd_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: exact- and near-duplicate pairs
    whose members landed in DIFFERENT splits of the frozen hash split
    (textops.split_expr — the ONE split definition, imported). This is the QA gate run before any eval is trusted: a test
    document with a train-side (near-)duplicate silently inflates every
    benchmark, which is exactly why dedup must precede splitting — the
    audit quantifies the residual leakage if it didn't.

    Shape: exact pairs from the fingerprint self-join (groups are
    duplicate clusters — tiny), near pairs from the banded MinHash-LSH
    candidates (the materialized session index; never all-pairs); split
    tags are map-stage hash expressions; the output is a
    |kinds|·|splits|² summary with membership checksums.

    The kind label resolves via ONE union + max-groupBy over the two
    pair-sized frames (identical text → 'exact' wins) — the earlier
    exact-branch ∪ (LSH anti-join exact) form evaluated the fingerprint
    self-join twice, which was the whole >2×-of-baseline gap (measured
    3.3s → ~1.0s at sf0.1)."""
    from task_hive_spark.operators.textops import split_expr as split_of

    d = corpus_df(spark, sf_dir)
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    ex = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    near_cands = _lsh_pairs_index(spark, sf_dir).select("doc_a", "doc_b")
    pairs = (
        ex.withColumn("is_exact", F.lit(1))
        .unionByName(near_cands.withColumn("is_exact", F.lit(0)))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("is_exact").alias("is_exact"))
        .select(
            F.when(F.col("is_exact") == 1, F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("kind"),
            "doc_a",
            "doc_b",
        )
    )
    tagged = pairs.select(
        "kind",
        "doc_a",
        "doc_b",
        split_of(F.col("doc_a")).alias("split_a"),
        split_of(F.col("doc_b")).alias("split_b"),
    )
    return report_sort(
        tagged.where(F.col("split_a") != F.col("split_b"))
        .groupBy("kind", "split_a", "split_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("doc_a").cast("bigint").alias("sum_doc_a"),
            F.sum("doc_b").cast("bigint").alias("sum_doc_b"),
        ),
        "kind",
        "split_a",
        "split_b",
    )


QUERIES = {
    "dd_exact_groups": dd_exact_groups,
    "dd_exact_keep_list": dd_exact_keep_list,
    "dd_ngram_jaccard_pairs": dd_ngram_jaccard_pairs,
    "dd_minhash_signatures": dd_minhash_signatures,
    "dd_minhash_lsh_pairs": dd_minhash_lsh_pairs,
    "dd_dedup_served": dd_dedup_served,
    "dd_dedup_served_pruned": dd_dedup_served_pruned,
    "dd_simhash": dd_simhash,
    "dd_simhash_near_pairs": dd_simhash_near_pairs,
    "dd_duplicate_clusters": dd_duplicate_clusters,
    "dd_chunk_dedup": dd_chunk_dedup,
    "dd_duplicate_spans": dd_duplicate_spans,
    "dd_max_dup_spans": dd_max_dup_spans,
    "dd_dup_rate_by_source": dd_dup_rate_by_source,
    "dd_split_leakage": dd_split_leakage,
}

# --- oracle SQL ----------------------------------------------------------

from task_hive_spark.operators.textops import (  # noqa: E402
    CHUNK_STRIDE as _CHUNK_STRIDE,
    CHUNK_TOKENS as _CHUNK_TOKENS,
)

_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"

# distinct 3-gram shingles per doc (mirrors functions.text.shingles);
# parameterized over the source relation so the served-dedup oracle can
# signature the new batch with the SAME fragment (no second copy to
# drift)
def _grams_cte_sql(src: str = "corpus", name: str = "grams") -> str:
    return f"""
{name} AS (
  SELECT doc_id, gram FROM (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i : i + 2], ' ') AS gram
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM {src}
    ) t,
    LATERAL (SELECT unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i) s
  ) g
)
"""


_GRAMS_CTE = _grams_cte_sql()


# Universal-hash lanes (mirrors _minhash_sig_array): one md5 per gram
# split into four 32-bit lanes reduced mod P; hash i = (A_i·x_{i%4} +
# B_i) mod P with the same pinned constants — identical BIGINT
# arithmetic in both engines.
def _sigs_cte_sql(
    grams: str = "grams", name: str = "sigs", lanes: str = "lanes"
) -> str:
    lanes_cte = (
        f"{lanes} AS (\n  SELECT doc_id,\n"
        + ",\n".join(
            f"         CAST(concat('0x', substr(hx, {1 + 8 * j}, 8)) AS BIGINT) % {_MH_P} AS x{j}"
            for j in range(4)
        )
        + f"\n  FROM (SELECT doc_id, md5('mh-' || gram) AS hx FROM {grams}) h\n)"
    )
    return f"{lanes_cte}, {name} AS (SELECT doc_id, {_SIG_COLS} FROM {lanes} GROUP BY doc_id)"


_SIG_COLS = ", ".join(
    f"MIN(({_MH_A[i]} * x{i % 4} + {_MH_B[i]}) % {_MH_P}) AS h{i}" for i in range(MINHASH_K)
)
_SIGS_CTE = _sigs_cte_sql()

_ROWS_PER_BAND = MINHASH_K // LSH_BANDS
_BAND_EXPRS = ", ".join(
    "concat_ws('_', '{bi}', {cols}) AS band{bi}".format(
        bi=bi,
        cols=", ".join(
            f"CAST(h{bi * _ROWS_PER_BAND + r} AS STRING)" for r in range(_ROWS_PER_BAND)
        ),
    )
    for bi in range(LSH_BANDS)
)

_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(SIMHASH_BITS)
)
_SIMHASH_VAL = " + ".join(
    f"CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END" for b in range(SIMHASH_BITS)
)

_RAW_ORACLES = {
    "dd_exact_groups": f"""
        SELECT fp, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
        FROM (SELECT doc_id, {_FP} AS fp FROM corpus) f
        GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp
        """,
    "dd_exact_keep_list": f"""
        WITH f AS (SELECT doc_id, {_FP} AS fp FROM corpus),
        canon AS (SELECT fp, MIN(doc_id) AS canonical_doc_id FROM f GROUP BY fp)
        SELECT doc_id, f.fp, doc_id = canonical_doc_id AS keep
        FROM f JOIN canon ON f.fp = canon.fp ORDER BY doc_id
        """,
    "dd_ngram_jaccard_pairs": f"""
        WITH {_GRAMS_CTE},
        capped AS (
          SELECT doc_id, gram FROM grams
          WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= {MAX_DF})
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM capped GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM capped a JOIN capped b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               ROUND(n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common), 6) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
        """,
    "dd_minhash_signatures": f"""
        WITH {_GRAMS_CTE}, {_SIGS_CTE}
        SELECT * FROM sigs ORDER BY doc_id
        """,
    "dd_minhash_lsh_pairs": f"""
        WITH {_GRAMS_CTE}, {_SIGS_CTE},
        bands AS (SELECT doc_id, {_BAND_EXPRS} FROM sigs),
        stacked AS (
          SELECT doc_id, unnest([{', '.join(f'band{bi}' for bi in range(LSH_BANDS))}]) AS bucket
          FROM bands
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM stacked a JOIN stacked b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(list_sum([{', '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END' for i in range(MINHASH_K))}])
                     / {float(MINHASH_K)}, 6) AS est_jaccard
        FROM cands
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b
        ORDER BY doc_a, doc_b
        """,
    "dd_simhash": f"""
        WITH {_GRAMS_CTE},
        hashed AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5('sh-' || gram), 1, 15)) AS BIGINT) AS h
          FROM grams
        ),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hashed GROUP BY doc_id)
        SELECT doc_id, {_SIMHASH_VAL} AS simhash FROM sums ORDER BY doc_id
        """,
    "dd_simhash_near_pairs": f"""
        WITH {_GRAMS_CTE},
        hashed AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5('sh-' || gram), 1, 15)) AS BIGINT) AS h
          FROM grams
        ),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hashed GROUP BY doc_id),
        sh AS (SELECT doc_id, {_SIMHASH_VAL} AS simhash FROM sums),
        quarters AS (
          SELECT doc_id, simhash,
                 unnest([{', '.join(
                     "concat_ws('_', '%d', CAST((simhash >> %d) & %d AS STRING))"
                     % (i, i * (SIMHASH_BITS // 4), (1 << (SIMHASH_BITS // 4)) - 1)
                     for i in range(4)
                 )}]) AS qbucket
          FROM sh
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM quarters a JOIN quarters b
            ON a.qbucket = b.qbucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_THRESHOLD}
        ORDER BY doc_a, doc_b
        """,
    "dd_chunk_dedup": f"""
        WITH ch AS (
          SELECT doc_id,
                 CAST(i AS INT) AS chunk_idx,
                 md5(lower(regexp_replace(trim(
                   array_to_string(toks[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ')
                 ), '\\s+', ' ', 'g'))) AS chunk_fp
          FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
            FROM corpus WHERE length(trim(text)) > 0
          ) d,
          LATERAL (
            SELECT unnest(generate_series(
              0, CAST(CEIL(GREATEST(n - {_CHUNK_TOKENS}, 0) * 1.0 / {_CHUNK_STRIDE}) AS INT)
            )) AS i
          ) s
        ),
        grp AS (
          SELECT chunk_fp, doc_id, chunk_idx,
                 COUNT(*) OVER (PARTITION BY chunk_fp) AS n_copies,
                 ROW_NUMBER() OVER (PARTITION BY chunk_fp
                                    ORDER BY doc_id, chunk_idx) AS rn
          FROM ch
        )
        SELECT chunk_fp, n_copies,
               doc_id AS canonical_doc_id, chunk_idx AS canonical_chunk_idx
        FROM grp WHERE rn = 1 AND n_copies > 1 ORDER BY chunk_fp
        """,
}

_RAW_ORACLES["dd_duplicate_spans"] = f"""
    WITH tt AS (
      SELECT doc_id, toks, len(toks) AS n
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM corpus WHERE length(trim(text)) > 0) t0
      WHERE len(toks) >= {SPAN_L}
    ),
    w AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             md5(array_to_string(toks[CAST(i AS INT) + 1 : CAST(i AS INT) + {SPAN_L}], ' ')) AS fp
      FROM tt, LATERAL (SELECT unnest(generate_series(0, n - {SPAN_L})) AS i) s
    ),
    dup AS (SELECT fp FROM w GROUP BY fp HAVING COUNT(*) > 1),
    dw AS (SELECT doc_id, p FROM w JOIN dup USING (fp)),
    isl AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
      FROM dw
    )
    SELECT doc_id,
           MIN(p) AS span_start,
           CAST(MAX(p) + {SPAN_L - 1} AS INT) AS span_end,
           CAST(MAX(p) - MIN(p) + {SPAN_L} AS INT) AS span_len,
           COUNT(*) AS n_dup_windows
    FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start
    """

_RAW_ORACLES["dd_max_dup_spans"] = f"""
    WITH tt AS (
      SELECT doc_id, toks, len(toks) AS n
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM corpus WHERE length(trim(text)) > 0) t0
      WHERE len(toks) >= {SPAN_L}
    ),
    w AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             md5(array_to_string(toks[CAST(i AS INT) + 1 : CAST(i AS INT) + {SPAN_L}], ' ')) AS fp
      FROM tt, LATERAL (SELECT unnest(generate_series(0, n - {SPAN_L})) AS i) s
    ),
    wc AS (SELECT fp FROM w GROUP BY fp
           HAVING COUNT(*) > 1 AND COUNT(*) <= {MAX_WINDOW_DF}),
    dw AS (SELECT doc_id, p, fp FROM w JOIN wc USING (fp)),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.p AS pa, b.p AS pb, a.p - b.p AS diag
      FROM dw a JOIN dw b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS g
      FROM pr
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pa) AS INT) AS a_start,
           CAST(MIN(pb) AS INT) AS b_start,
           CAST(MAX(pa) - MIN(pa) + {SPAN_L} AS INT) AS span_len,
           COUNT(*) AS n_windows
    FROM isl GROUP BY doc_a, doc_b, diag, g
    ORDER BY doc_a, doc_b, a_start, b_start
    """

ORACLES = {k: corpus_cte(v) for k, v in _RAW_ORACLES.items()}

# served cross-snapshot dedup: the oracle signatures BOTH relations with
# the same parameterized fragments the batch oracles use (history =
# corpus, probe set = the new batch), bands each side identically, and
# joins new band rows into historical ones — the SQL statement of "probe
# stored buckets with new signatures". Bucket encodings differ (Spark:
# xxhash64 of the band tuple; SQL: the band tuple string) but their
# collision classes are the same band tuples, so the candidate SETS
# agree (the dd_minhash_lsh_pairs argument).
def _served_oracle_sql(newb_sql: str) -> str:
    """The served-dedup oracle parameterized by the probe batch — shared
    by the whole-batch, single-doc and batched serve queries so the
    no-false-negative proof of pruning IS the hash gate itself."""
    return f"""
WITH corpus AS ({CORPUS_SQL}),
{_GRAMS_CTE}, {_SIGS_CTE},
newb AS ({newb_sql}),
{_grams_cte_sql("newb", "ngrams")},
{_sigs_cte_sql("ngrams", "nsigs", "nlanes")},
hb AS (
  SELECT doc_id, unnest([{', '.join(f'band{bi}' for bi in range(LSH_BANDS))}]) AS bucket
  FROM (SELECT doc_id, {_BAND_EXPRS} FROM sigs) b
),
nb AS (
  SELECT doc_id, unnest([{', '.join(f'band{bi}' for bi in range(LSH_BANDS))}]) AS bucket
  FROM (SELECT doc_id, {_BAND_EXPRS} FROM nsigs) b
),
cands AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, h.doc_id AS hist_doc_id
  FROM nb n JOIN hb h ON n.bucket = h.bucket
)
SELECT new_doc_id, hist_doc_id,
       ROUND(list_sum([{', '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END' for i in range(MINHASH_K))}])
             / {float(MINHASH_K)}, 6) AS est_jaccard
FROM cands
JOIN nsigs sa ON sa.doc_id = new_doc_id
JOIN sigs sb ON sb.doc_id = hist_doc_id
ORDER BY new_doc_id, hist_doc_id
"""


ORACLES["dd_dedup_served"] = _served_oracle_sql(NEW_BATCH_SQL)
ORACLES["dd_dedup_served_pruned"] = _served_oracle_sql(
    f"SELECT * FROM ({NEW_BATCH_SQL}) nb_all "
    f"WHERE doc_id = {NEW_OFFSET + PROBE_DOC_BASE}"
)

# Connected components need WITH RECURSIVE, which must lead the whole
# CTE list — composed here instead of through corpus_cte. The recursive
# member is the transitive min-label closure (UNION dedupes, so it
# terminates); MIN per doc collapses it to the component id — the same
# fixpoint the Spark loop iterates to.
_NEAR_PAIRS_CHAIN = f"""{_GRAMS_CTE},
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('sh-' || gram), 1, 15)) AS BIGINT) AS h
  FROM grams
),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hashed GROUP BY doc_id),
sh AS (SELECT doc_id, {_SIMHASH_VAL} AS simhash FROM sums),
quarters AS (
  SELECT doc_id, simhash,
         unnest([{', '.join(
             "concat_ws('_', '%d', CAST((simhash >> %d) & %d AS STRING))"
             % (i, i * (SIMHASH_BITS // 4), (1 << (SIMHASH_BITS // 4)) - 1)
             for i in range(4)
         )}]) AS qbucket
  FROM sh
),
np AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM quarters a JOIN quarters b
    ON a.qbucket = b.qbucket AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM np
          UNION ALL SELECT doc_b, doc_a FROM np),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach AS (
  SELECT doc_id AS doc, doc_id AS lbl FROM nodes
  UNION
  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc
),
cc AS (SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)"""

ORACLES["dd_duplicate_clusters"] = f"""WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_NEAR_PAIRS_CHAIN}
SELECT cluster_id, doc AS doc_id, cluster_size
FROM cc JOIN csizes USING (cluster_id)
ORDER BY cluster_id, doc_id
"""

ORACLES["dd_dup_rate_by_source"] = f"""WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_NEAR_PAIRS_CHAIN},
members AS (SELECT DISTINCT doc AS doc_id FROM cc)
SELECT d.source,
       COUNT(*) AS n_docs,
       COUNT(m.doc_id) AS n_near_dup,
       ROUND(COUNT(m.doc_id) * 1.0 / COUNT(*), 6) AS dup_rate
FROM corpus c
JOIN documents d ON c.doc_id % {DUP_OFFSET} = d.doc_id
LEFT JOIN members m ON c.doc_id = m.doc_id
GROUP BY d.source
ORDER BY d.source
"""

# split-leakage audit: the minhash oracle runs nested (its own WITH is
# scoped inside the CTE parentheses), exact pairs ride the fingerprint
# self-join, split tags are textops' ONE split definition (Spark and
# SQL forms both imported — no re-implementation to drift)
from task_hive_spark.operators.textops import (  # noqa: E402
    split_case_sql as _split_case,
)


ORACLES["dd_split_leakage"] = f"""
WITH near0 AS (
{ORACLES["dd_minhash_lsh_pairs"]}
),
corpus AS ({CORPUS_SQL}),
fp AS (SELECT doc_id, {_FP} AS fp FROM corpus),
ex AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
near AS (
  SELECT n.doc_a, n.doc_b
  FROM near0 n LEFT JOIN ex ON ex.doc_a = n.doc_a AND ex.doc_b = n.doc_b
  WHERE ex.doc_a IS NULL
),
pairs AS (
  SELECT doc_a, doc_b, 'exact' AS kind FROM ex
  UNION ALL
  SELECT doc_a, doc_b, 'near' AS kind FROM near
),
tagged AS (
  SELECT kind, doc_a, doc_b,
         {_split_case("doc_a")} AS split_a,
         {_split_case("doc_b")} AS split_b
  FROM pairs
)
SELECT kind, split_a, split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(doc_a) AS BIGINT) AS sum_doc_a,
       CAST(SUM(doc_b) AS BIGINT) AS sum_doc_b
FROM tagged
WHERE split_a != split_b
GROUP BY kind, split_a, split_b
ORDER BY kind, split_a, split_b
"""


# --- content-defined chunking ----------------------------------------------
# LBFS-style CDC (Muthitacharoen et al. 2001, the rsync/dedup-storage
# family): chunk boundaries are decided by a rolling hash of the text
# itself, so an insertion re-synchronizes within one window and the
# rest of the document keeps its chunk fingerprints — the property
# fixed-stride chunking (dd_chunk_dedup) fundamentally lacks, and the
# reason production dedup stores cut content-defined. The rolling hash
# is written in CLOSED FORM — h(i) = Σ_{k<W} gear(cp(i−k))·2^k — so
# both engines compute the cut set as a pure per-position expression
# (no sequential state): one whole-stage-codegen projection per doc,
# no explode before the chunk spans, no shuffle until the fingerprint
# groupBy. The boundary modulus is PRIME (61): with the 2^k weights, a
# power-of-two modulus would blind the decision to all but the newest
# log2(M) characters of the window.

CDC_W = 16  # rolling window (characters)
CDC_MOD = 61  # prime → expected chunk length ≈ 61 chars at fixture scale


def _cdc_gear() -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(f"gear-{b}".encode()).hexdigest()[:8], 16)
        for b in range(256)
    ]


CDC_GEAR = _cdc_gear()


def cdc_cut_positions(text: str) -> list[int]:
    """Pure-Python reference model of the cut-set (tests pin the Spark
    expression to this, the oracle mirrors it in SQL)."""
    cps = [ord(c) for c in text]
    n = len(cps)
    cuts = []
    for i in range(CDC_W, n + 1):  # 1-indexed position of the window end
        h = sum(
            CDC_GEAR[cps[i - 1 - k] % 256] << k for k in range(CDC_W)
        )
        if h % CDC_MOD == 0:
            cuts.append(i)
    return cuts


def cdc_chunks_model(text: str) -> list[tuple[int, str]]:
    """(start, chunk) list per the shared definition."""
    bounds = [0] + cdc_cut_positions(text) + [len(text)]
    out = []
    for a, b in zip(bounds, bounds[1:]):
        if b > a:
            out.append((a, text[a:b]))
    return out


def dd_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined duplicate chunks over the augmented corpus:
    gear-hash cut set per doc, spans → chunk substrings → md5
    fingerprints, duplicate groups (count > 1) with the
    lexicographically-first (doc_id, start) as canonical — the
    dd_chunk_dedup output contract with content-defined geometry.

    The rolling hash is VECTORIZED as rows + 16 lag terms over a
    per-doc window (all whole-stage codegen; the tempting closed-form
    array lambda — aggregate() nested in filter() — runs interpreted
    per element, ~400M lambda calls at the 10x fixture, the
    _band_buckets megamorphic-lambda lesson). One shuffle partitions
    chars by doc for the window; the cut-list groupBy and the
    text re-join reuse that partitioning; then ONE shuffle on the
    chunk fingerprint."""
    g_lit = F.array(*[F.lit(v) for v in CDC_GEAR])
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    d = (
        corpus_df(spark, sf_dir)
        .where(F.length("text") > 0)
        .repartition(nshuf, "doc_id")
    )
    pts = d.select(
        "doc_id", F.posexplode(F.split("text", "")).alias("p0", "c")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.element_at(g_lit, F.pmod(F.ascii("c"), F.lit(256)) + 1)
        .cast("long")
        .alias("gv"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    h = F.col("gv")
    for k in range(1, CDC_W):
        h = h + F.coalesce(F.lag("gv", k).over(w), F.lit(0)).cast("long") * F.lit(
            1 << k
        )
    cuts = (
        pts.select("doc_id", "pos", h.alias("h"))
        .where((F.col("pos") >= CDC_W) & (F.col("h") % CDC_MOD == 0))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("bigint"))).alias("cuts"))
    )
    rows = d.join(cuts, "doc_id", "left").select(
        "doc_id",
        "text",
        F.coalesce("cuts", F.array().cast("array<bigint>")).alias("cuts"),
    )
    b = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.col("cuts"),
        F.array(F.length("text").cast("bigint")),
    )
    spans = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(b) - 1),
            lambda j: F.struct(
                F.element_at(b, j.cast("int")).alias("start"),
                (
                    F.element_at(b, (j + 1).cast("int"))
                    - F.element_at(b, j.cast("int"))
                ).alias("ln"),
            ),
        ),
        lambda s: s["ln"] > 0,
    )
    chunks = rows.select("doc_id", "text", F.explode(spans).alias("s")).select(
        "doc_id",
        F.col("s.start").cast("bigint").alias("start"),
        F.col("text").substr((F.col("s.start") + 1).cast("int"), F.col("s.ln").cast("int")).alias("chunk"),
    )
    from task_hive_spark.functions.report import report_sort

    agg = (
        chunks.groupBy(F.md5("chunk").alias("fingerprint"))
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.max(F.length("chunk")).cast("int").alias("chunk_len"),
            F.min(F.struct("doc_id", "start")).alias("c"),
        )
        .where(F.col("n_occurrences") > 1)
        .select(
            "fingerprint",
            "n_occurrences",
            "n_docs",
            "chunk_len",
            F.col("c.doc_id").cast("bigint").alias("canonical_doc"),
            F.col("c.start").cast("bigint").alias("canonical_start"),
        )
    )
    return report_sort(agg, "fingerprint")


_CDC_GEAR_SQL = "[" + ", ".join(str(v) for v in CDC_GEAR) + "]"

_CDC_LAG_SQL = "gv * 1 + COALESCE(LAG(gv, 1) OVER w, 0) * 2 + COALESCE(LAG(gv, 2) OVER w, 0) * 4 + COALESCE(LAG(gv, 3) OVER w, 0) * 8 + COALESCE(LAG(gv, 4) OVER w, 0) * 16 + COALESCE(LAG(gv, 5) OVER w, 0) * 32 + COALESCE(LAG(gv, 6) OVER w, 0) * 64 + COALESCE(LAG(gv, 7) OVER w, 0) * 128 + COALESCE(LAG(gv, 8) OVER w, 0) * 256 + COALESCE(LAG(gv, 9) OVER w, 0) * 512 + COALESCE(LAG(gv, 10) OVER w, 0) * 1024 + COALESCE(LAG(gv, 11) OVER w, 0) * 2048 + COALESCE(LAG(gv, 12) OVER w, 0) * 4096 + COALESCE(LAG(gv, 13) OVER w, 0) * 8192 + COALESCE(LAG(gv, 14) OVER w, 0) * 16384 + COALESCE(LAG(gv, 15) OVER w, 0) * 32768"


QUERIES["dd_cdc_chunks"] = dd_cdc_chunks
# dd_cdc_chunks' oracle: the same closed-form hash, span and canonical
# rules, transcribed over DuckDB list lambdas.
ORACLES["dd_cdc_chunks"] = corpus_cte(
    f"""
    WITH base AS (
      SELECT doc_id, text, length(text) AS n, string_split(text, '') AS cs
      FROM corpus WHERE length(text) > 0
    ),
    -- vectorized form of h(i) = Σ_k gear(cp(i−k))·2^k: one row per
    -- character, 16 LAG terms — the nested-lambda transcription was
    -- O(n·W) lambda calls and ~100x slower at 10x scale
    pts AS (
      SELECT doc_id, t.pos AS pos,
             ({_CDC_GEAR_SQL})[(unicode(cs[t.pos]) % 256) + 1] AS gv
      FROM base, LATERAL (SELECT unnest(generate_series(1, n)) AS pos) t
    ),
    hs AS (
      SELECT doc_id, pos, {_CDC_LAG_SQL} AS h
      FROM pts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    cutlists AS (
      SELECT doc_id, list(CAST(pos AS BIGINT) ORDER BY pos) AS cuts
      FROM hs WHERE pos >= {CDC_W} AND h % {CDC_MOD} = 0 GROUP BY doc_id
    ),
    bounds AS (
      SELECT b.doc_id, b.text,
             list_concat(list_concat([CAST(0 AS BIGINT)],
                                     COALESCE(c.cuts, CAST([] AS BIGINT[]))),
                         [CAST(b.n AS BIGINT)]) AS bs
      FROM base b LEFT JOIN cutlists c USING (doc_id)
    ),
    chunks AS (
      SELECT doc_id, t.sp.st AS start,
             substr(text, CAST(t.sp.st + 1 AS INT), CAST(t.sp.ln AS INT)) AS chunk
      FROM bounds,
           LATERAL (SELECT unnest(list_filter(
             list_transform(generate_series(2, len(bs)),
                            j -> {{'st': bs[j - 1], 'ln': bs[j] - bs[j - 1]}}),
             x -> x.ln > 0)) AS sp) t
    ),
    ranked AS (
      SELECT md5(chunk) AS fingerprint, doc_id, start, length(chunk) AS ln,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, start) AS rn
      FROM chunks
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MAX(ln) AS INT) AS chunk_len,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN start END) AS BIGINT) AS canonical_start
    FROM ranked GROUP BY fingerprint
    HAVING COUNT(*) > 1
    ORDER BY fingerprint
"""
)
