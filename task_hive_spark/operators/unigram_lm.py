"""Unigram-LM tokenizer trainer (Kudo 2018, arXiv:1804.10959 — the
SentencePiece unigram model), the companion to the BPE trainer in
textops.py: instead of greedily growing merges, seed an over-complete
piece vocabulary, fit piece likelihoods by EM, and prune.

Deterministic hard-EM variant (Viterbi training): the paper's E-step
marginalizes over all segmentations with forward-backward; the hard-EM
form assigns each word its single Viterbi-best segmentation — fully
deterministic, exactly mirrorable in SQL, and the standard cheap
approximation. Two EM iterations with a prune between them:

  1. SEED: all substrings (length ≤ MAX_PIECE_LEN) of the corpus
     word-frequency table, counted with multiplicity; vocabulary =
     every single character plus the top SEED_MULTI multi-char pieces
     by (count desc, piece asc).
  2. COSTS: integer micro-unit piece costs,
     cost(p) = floor(1e6 · -ln((c(p)+1)/T)), T = Σ(c+1) over the
     vocabulary — add-one smoothing keeps pruned-to-zero singles
     finite; the floor quantization happens ONCE per piece per
     iteration (vocab-bounded), so Viterbi compares exact integers
     (the DSIR / bigram-LM float discipline; boundary margins pinned
     in tests/test_unigram_lm.py).
  3. E-STEP: Viterbi-segment every distinct word (DP over ≤ |w|
     positions; ties broken by preferring the LONGEST final piece at
     every reconstruction step — "min predecessor j", identical rule
     in both engines, exact because costs are integers).
  4. PRUNE: keep all single chars (coverage) + the top KEEP_MULTI
     used multi-char pieces by (usage desc, piece asc).
  5. Re-fit costs, final E-step → learned vocabulary + per-doc
     fertility.

Scale shape: the corpus is touched exactly twice — once to build the
word-frequency table (the shared ``bpe_word_freq`` session index: the
same one-corpus-pass trick the BPE trainer uses, textops.py), once for
the final per-doc roll-up (a broadcast word→pieces join onto the
token index). Everything else is VOCAB-sized: the substring explosion,
the two Viterbi passes (an Arrow-batched pandas UDF over distinct
words with the ≤(SEED_MULTI + |chars|)-entry cost table in closure —
per-word DP is genuinely not expressible in relational builtins, the
designed use of the Pandas-UDF escape hatch), and two bounded driver
collects of the piece table (the k-means/BPE-argmax pattern).

Reference parity: extends the reference's text-processing surface
(/root/reference/tasks/processor.go) with the tokenizer-training step
a pretraining pipeline needs; the algorithm is re-derived from the
public paper.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from task_hive_spark.functions.rows import rows_frame
from task_hive_spark.operators.textops import _bpe_vocab, token_index
from task_hive_spark.materialize import session_memo

MAX_PIECE_LEN = 4
SEED_MULTI = 96  # multi-char pieces seeded into the initial vocabulary
KEEP_MULTI = 64  # multi-char pieces surviving the prune
W_MAX = 12  # oracle DP unroll bound; asserted against the real max |w|
_BIG = 10**15


def _seed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(piece, c0): substring occurrence counts (with multiplicity,
    overlaps included) over the word-frequency table."""
    words = _bpe_vocab(spark, sf_dir)
    pieces = F.expr(
        "flatten(transform(sequence(1, length(w)), s ->"
        f" transform(sequence(1, least({MAX_PIECE_LEN}, length(w) - s + 1)),"
        " l -> substring(w, s, l))))"
    )
    return (
        words.select("freq", F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("c0"))
    )


def _costs_of(rows: list[tuple[str, int]]) -> dict[str, int]:
    """Integer micro-unit costs from (piece, count) rows — the ONE
    quantization point per EM iteration. Mirrors the oracle's
    FLOOR(1000000 * -ln((c + 1.0) / T)) exactly (same expression
    shape; the cross-engine ln boundary margins are pinned by test)."""
    total = sum(c + 1 for _, c in rows)
    return {
        p: math.floor(1000000 * -math.log((c + 1) / total)) for p, c in rows
    }


def _segment(w: str, costs: dict[str, int]) -> list[str]:
    """Viterbi-best segmentation under integer piece costs; ties broken
    by the longest piece at every backward reconstruction step."""
    n = len(w)
    b = [0] + [_BIG] * n
    for i in range(1, n + 1):
        best = _BIG
        for L in range(1, min(MAX_PIECE_LEN, i) + 1):
            c = costs.get(w[i - L : i])
            if c is not None and b[i - L] + c < best:
                best = b[i - L] + c
        b[i] = best
    assert b[n] < _BIG, f"word {w!r} not coverable — single chars missing"
    out: list[str] = []
    i = n
    while i > 0:
        for L in range(min(MAX_PIECE_LEN, i), 0, -1):  # longest piece first
            c = costs.get(w[i - L : i])
            if c is not None and b[i - L] + c == b[i]:
                out.append(w[i - L : i])
                i -= L
                break
        else:  # pragma: no cover — unreachable given the assert above
            raise AssertionError(w)
    out.reverse()
    return out


def _seg_udf(costs: dict[str, int]):
    @pandas_udf("array<string>")
    def seg(ws):  # pandas Series[str] -> Series[list[str]]
        return ws.map(lambda w: _segment(w, costs))

    return seg


def _em_counts(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(piece, c): freq-weighted piece usage under Viterbi segmentation
    with `costs` — the hard-EM E-step, distributed over the word table."""
    seg = _seg_udf(costs)
    return (
        words.select("freq", F.explode(seg(F.col("w"))).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
    )


def _train(spark: SparkSession, sf_dir: str):
    """(vocab rows, final word→pieces frame) once per (session, sf_dir)
    — trainer and fertility query share one EM run, like the BPE memo."""
    return session_memo(spark, ("unigram_lm", sf_dir), lambda: _train_em(spark, sf_dir))


def _train_em(spark: SparkSession, sf_dir: str):
    words = _bpe_vocab(spark, sf_dir)
    max_len = words.agg(F.max(F.length("w"))).collect()[0][0]
    assert max_len <= W_MAX, (
        f"max word length {max_len} exceeds the oracle DP unroll {W_MAX}"
    )
    cand = _seed_counts(spark, sf_dir)
    singles = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") >= 2)
        .orderBy(F.desc("c0"), "piece")
        .limit(SEED_MULTI)
    )
    v0 = {r["piece"]: int(r["c0"]) for r in singles.unionAll(multi).collect()}
    cost0 = _costs_of(sorted(v0.items()))

    c1 = {r["piece"]: int(r["c"]) for r in _em_counts(words, cost0).collect()}
    kept_multi = sorted(
        ((p, c) for p, c in c1.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:KEEP_MULTI]
    v1 = {p: c1.get(p, 0) for p in v0 if len(p) == 1}
    v1.update(dict(kept_multi))
    cost1 = _costs_of(sorted(v1.items()))

    seg = _seg_udf(cost1)
    segmented = words.select(
        "w", "freq", seg(F.col("w")).alias("pieces")
    ).localCheckpoint(eager=True)
    c2 = {
        r["piece"]: int(r["c"])
        for r in segmented.select(
            "freq", F.explode("pieces").alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
        .collect()
    }
    vocab_rows = [
        (p, len(p), int(v0.get(p, 0)), int(c2.get(p, 0)), int(cost1[p]))
        for p in sorted(v1)
    ]
    return vocab_rows, segmented


def txt_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned unigram-LM vocabulary: every surviving piece with its
    seed count, final (post-EM) usage count, and integer micro-cost."""
    rows, _ = _train(spark, sf_dir)
    return rows_frame(
        spark,
        rows,
        "piece string, piece_len int, seed_count bigint,"
        " em_count bigint, cost_micro bigint",
    ).orderBy("piece")


def txt_unigram_lm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fertility under the trained unigram-LM tokenizer
    (pieces per word — the metric to compare against txt_bpe_tokenize):
    the distinct-word segmentation broadcast-joins the token stream, so
    the corpus pass is one map-join — no per-token re-segmentation."""
    _, segmented = _train(spark, sf_dir)
    seg = segmented.select("w", F.size("pieces").cast("int").alias("n_pieces"))
    toks = token_index(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("w")
    )
    return (
        toks.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_pieces").cast("int").alias("n_pieces"),
        )
        .withColumn(
            "fertility", F.round(F.col("n_pieces") / F.col("n_words"), 6)
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "txt_unigram_lm_vocab": txt_unigram_lm_vocab,
    "txt_unigram_lm_fertility": txt_unigram_lm_fertility,
}


# --- oracle SQL ----------------------------------------------------------

def _viterbi_chain(it: int, cost_cte: str) -> str:
    """One EM iteration's DP + reconstruction CTE chain: relaxation
    dist rounds (W_MAX ≥ max word length, asserted Spark-side), the
    per-position predecessor choice (MIN(j) = longest piece, the exact
    reconstruction tie-break), then W_MAX emission steps walking each
    word from its end to position 0. Emissions land in em{it}."""
    parts = [
        f"""edges{it} AS MATERIALIZED (
  SELECT e.w, CAST(e.s - 1 AS INT) AS j, CAST(e.s - 1 + e.l AS INT) AS i,
         e.piece, c.cost
  FROM (
    SELECT w, s, l, substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece
    FROM words,
    LATERAL (SELECT unnest(generate_series(1, length(w))) AS s) ss,
    LATERAL (SELECT unnest(generate_series(1, LEAST({MAX_PIECE_LEN}, length(w) - s + 1))) AS l) ll
  ) e
  JOIN {cost_cte} c USING (piece)
)""",
        f"""d{it}_0 AS (
  SELECT w, CAST(0 AS INT) AS pos, CAST(0 AS BIGINT) AS cost FROM words
  UNION ALL
  SELECT w, CAST(i AS INT), CAST({_BIG} AS BIGINT)
  FROM words, LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) s
)""",
    ]
    for k in range(1, W_MAX + 1):
        parts.append(
            f"""d{it}_{k} AS MATERIALIZED (
  SELECT w, pos, MIN(cost) AS cost FROM (
    SELECT w, pos, cost FROM d{it}_{k - 1}
    UNION ALL
    SELECT e.w, e.i AS pos, d.cost + e.cost
    FROM edges{it} e JOIN d{it}_{k - 1} d ON d.w = e.w AND d.pos = e.j
  ) GROUP BY w, pos
)"""
        )
    dfin = f"d{it}_{W_MAX}"
    parts.append(
        f"""choice{it} AS MATERIALIZED (
  SELECT e.w, e.i, MIN(e.j) AS j
  FROM edges{it} e
  JOIN {dfin} di ON di.w = e.w AND di.pos = e.i
  JOIN {dfin} dj ON dj.w = e.w AND dj.pos = e.j
  WHERE dj.cost + e.cost = di.cost
  GROUP BY e.w, e.i
)"""
    )
    parts.append(
        f"r{it}_0 AS (SELECT w, freq, CAST(length(w) AS INT) AS pos,"
        f" CAST(NULL AS VARCHAR) AS piece FROM words)"
    )
    for k in range(1, W_MAX + 1):
        parts.append(
            f"""r{it}_{k} AS MATERIALIZED (
  SELECT r.w, r.freq, c.j AS pos, substr(r.w, c.j + 1, r.pos - c.j) AS piece
  FROM r{it}_{k - 1} r JOIN choice{it} c ON c.w = r.w AND c.i = r.pos
  WHERE r.pos > 0
)"""
        )
    parts.append(
        f"em{it} AS MATERIALIZED (\n"
        + "\n  UNION ALL ".join(
            f"SELECT w, freq, piece FROM r{it}_{k}" for k in range(1, W_MAX + 1)
        )
        + "\n)"
    )
    return ",\n".join(parts)


def _ulm_chain_sql() -> str:
    return f"""toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
words AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM toks GROUP BY w),
cand AS MATERIALIZED (
  SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece,
         CAST(SUM(freq) AS BIGINT) AS c0
  FROM words,
  LATERAL (SELECT unnest(generate_series(1, length(w))) AS s) ss,
  LATERAL (SELECT unnest(generate_series(1, LEAST({MAX_PIECE_LEN}, length(w) - s + 1))) AS l) ll
  GROUP BY 1
),
v0 AS MATERIALIZED (
  SELECT piece, c0 FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c0 FROM (
    SELECT piece, c0, ROW_NUMBER() OVER (ORDER BY c0 DESC, piece) AS rn
    FROM cand WHERE length(piece) >= 2
  ) WHERE rn <= {SEED_MULTI}
),
t0 AS (SELECT CAST(SUM(c0 + 1) AS BIGINT) AS t FROM v0),
cost0 AS MATERIALIZED (
  SELECT piece, CAST(FLOOR(1000000 * -ln((c0 + 1.0) / t)) AS BIGINT) AS cost
  FROM v0, t0
),
{_viterbi_chain(0, "cost0")},
c1 AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM em0 GROUP BY piece),
v1 AS MATERIALIZED (
  SELECT v0.piece, COALESCE(c1.c, 0) AS c
  FROM v0 LEFT JOIN c1 USING (piece) WHERE length(v0.piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
    FROM c1 WHERE length(piece) >= 2
  ) WHERE rn <= {KEEP_MULTI}
),
t1 AS (SELECT CAST(SUM(c + 1) AS BIGINT) AS t FROM v1),
cost1 AS MATERIALIZED (
  SELECT piece, CAST(FLOOR(1000000 * -ln((c + 1.0) / t)) AS BIGINT) AS cost
  FROM v1, t1
),
{_viterbi_chain(1, "cost1")},
c2 AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM em1 GROUP BY piece)"""


ORACLES = {
    "txt_unigram_lm_vocab": f"""WITH {_ulm_chain_sql()}
SELECT v1.piece,
       CAST(length(v1.piece) AS INT) AS piece_len,
       CAST(COALESCE(v0.c0, 0) AS BIGINT) AS seed_count,
       CAST(COALESCE(c2.c, 0) AS BIGINT) AS em_count,
       cost1.cost AS cost_micro
FROM v1
LEFT JOIN v0 USING (piece)
LEFT JOIN c2 USING (piece)
JOIN cost1 USING (piece)
ORDER BY v1.piece
""",
    "txt_unigram_lm_fertility": f"""WITH {_ulm_chain_sql()},
wp AS (SELECT w, CAST(COUNT(*) AS INT) AS n_pieces FROM em1 GROUP BY w)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_words,
       CAST(SUM(n_pieces) AS INT) AS n_pieces,
       ROUND(SUM(n_pieces) * 1.0 / COUNT(*), 6) AS fertility
FROM toks JOIN wp USING (w)
GROUP BY doc_id ORDER BY doc_id
""",
}
