"""Property-based tests (hypothesis) pairing Spark column expressions
with pure-Python reference models.

Each test generates one BATCH of inputs and runs a single Spark job over
it (per-example Spark jobs would be ~0.3 s each). The alphabet is
printable ASCII with space as the only whitespace: Spark's ``trim``
strips only spaces, so tab/newline edge semantics are pinned separately
in test_text_functions.py rather than fuzzed here.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from task_hive_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    shingles,
    ws_token_count,
)
from task_hive_spark.operators.dedup import _MH_A, _MH_B, _MH_P, MINHASH_K, ORACLES

ALPHABET = st.sampled_from(
    list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,:;!?'\"-_()")
)
TEXTS = st.lists(st.text(ALPHABET, max_size=80), min_size=1, max_size=40)


def _model_ws_count(t: str) -> int:
    s = t.strip(" ")
    return 0 if not s else len(re.split(r" +", s))


def _model_bpe_count(t: str) -> int:
    return len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t))


def _model_fingerprint(t: str) -> str:
    return hashlib.md5(re.sub(r" +", " ", t.strip(" ")).lower().encode()).hexdigest()


def _model_shingles(t: str, n: int = 3) -> list[str]:
    toks = [w for w in t.lower().strip(" ").split(" ") if w] if t.strip(" ") else []
    if len(toks) < n:
        return list(dict.fromkeys([" ".join(toks)]))
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(grams))


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_token_counts_match_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        ws_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()
    for r in rows:
        assert r["ws"] == _model_ws_count(r["text"]), repr(r["text"])
        assert r["bpe"] == _model_bpe_count(r["text"]), repr(r["text"])


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_fingerprint_matches_model_and_normalizes(spark, texts):
    # every text plus a whitespace/case-mangled twin: same fingerprint
    mangled = ["  " + t.upper().replace(" ", "   ") + " " for t in texts]
    df = spark.createDataFrame(list(zip(texts, mangled)), "a string, b string")
    rows = df.select(
        "a",
        fingerprint(F.col("a")).alias("fa"),
        fingerprint(F.col("b")).alias("fb"),
    ).collect()
    for r in rows:
        assert r["fa"] == _model_fingerprint(r["a"]), repr(r["a"])
        assert r["fa"] == r["fb"], repr(r["a"])


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_shingles_match_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", shingles(F.col("text"), 3).alias("g")).collect()
    for r in rows:
        assert r["g"] == _model_shingles(r["text"]), repr(r["text"])


def test_minhash_constants_mirrored_in_oracle_sql():
    """The pinned universal-hash constants must appear verbatim in the
    DuckDB oracle text — a drift guard for the cross-engine contract."""
    sql = ORACLES["dd_minhash_signatures"]
    assert len(_MH_A) == MINHASH_K and len(_MH_B) == MINHASH_K
    for i in range(MINHASH_K):
        assert f"({_MH_A[i]} * x{i % 4} + {_MH_B[i]}) % {_MH_P}" in sql
        assert 1 <= _MH_A[i] < _MH_P and 0 <= _MH_B[i] < _MH_P


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=1_000_000), min_size=1, max_size=120
    ),
    st.sampled_from([1, 3, 7]),
)
def test_with_chunk_matches_naive_ntile_properties(spark, times, k):
    """The distributed chunk assignment (range buckets + partitioned
    rank + driver-folded offsets) must behave like the naive global
    ntile for ANY event-time distribution — including all-equal values,
    heavy duplicates, and extreme skew: chunk sizes balanced within 1,
    total preserved, and chunk boundaries monotone in the total order."""
    from pyspark.sql import functions as F

    from task_hive_spark.streaming.feed import with_chunk

    df = spark.createDataFrame(
        [(t, "op", f"t{i}", "w") for i, t in enumerate(times)],
        "event_s bigint, op string, task_id string, worker_id string",
    )
    ch = with_chunk(df, k).select("event_s", "op", "task_id", "worker_id", "chunk")
    rows = ch.collect()
    assert len(rows) == len(times)
    sizes = {}
    for r in rows:
        sizes[r["chunk"]] = sizes.get(r["chunk"], 0) + 1
    assert set(sizes) == set(range(1, min(k, len(times)) + 1))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # boundaries respect the (event_s, op, task_id, worker_id) order
    ordered = sorted(rows, key=lambda r: (r["event_s"], r["op"], r["task_id"], r["worker_id"]))
    chunks_in_order = [r["chunk"] for r in ordered]
    assert chunks_in_order == sorted(chunks_in_order)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=50))
def test_minhash_family_range_and_determinism(spark, xs):
    """h_i(x) stays in [0, P) and is a pure function of x."""
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    cols = [
        ((_MH_A[i] * (F.col("x") % _MH_P) + _MH_B[i]) % _MH_P).alias(f"h{i}")
        for i in range(0, MINHASH_K, 8)
    ]
    rows = df.select("x", *cols).collect()
    for r in rows:
        for i in range(0, MINHASH_K, 8):
            expect = (_MH_A[i] * (r["x"] % _MH_P) + _MH_B[i]) % _MH_P
            assert r[f"h{i}"] == expect
            assert 0 <= r[f"h{i}"] < _MH_P


@settings(max_examples=10, deadline=None)
@given(TEXTS)
def test_gram_hash_classes_equal_string_gram_classes(spark, texts):
    """Decontamination's 64-bit gram hashes (_toks_ngram_hashes) must
    induce EXACTLY the equivalence classes of the string grams
    (_toks_ngrams) on arbitrary corpora: same per-doc gram multiset
    cardinalities, and two docs share a string gram iff they share a
    gram hash (the property the broadcast-join overlap count relies
    on). A violation means either a hash collision (2^-64, effectively
    impossible under fuzzing) or a boundary bug in the tuple hashing."""
    from pyspark.sql import functions as F

    from task_hive_spark.operators.textops import _toks_ngram_hashes, _toks_ngrams

    rows = [(i, t) for i, t in enumerate(texts) if t.strip(" ")]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = (
        df.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks"))
        .withColumn("ntok", F.size("toks"))
    )
    n = 3
    strings = _toks_ngrams(t, n).collect()
    hashes = _toks_ngram_hashes(t, n).collect()
    by_doc_s: dict[int, list[str]] = {}
    for r in strings:
        by_doc_s.setdefault(r["doc_id"], []).append(r["gram"])
    by_doc_h: dict[int, list[int]] = {}
    for r in hashes:
        by_doc_h.setdefault(r["doc_id"], []).append(r["gh"])
    assert set(by_doc_s) == set(by_doc_h)
    # same gram count per doc, and same duplicate structure
    for d in by_doc_s:
        assert len(by_doc_s[d]) == len(by_doc_h[d]), d
        assert len(set(by_doc_s[d])) == len(set(by_doc_h[d])), d
    # cross-doc sharing: pairwise overlap via strings == via hashes
    s_map: dict[str, set[int]] = {}
    for d, gs in by_doc_s.items():
        for g in gs:
            s_map.setdefault(g, set()).add(d)
    h_map: dict[int, set[int]] = {}
    for d, gs in by_doc_h.items():
        for g in gs:
            h_map.setdefault(g, set()).add(d)
    assert sorted(map(tuple, map(sorted, s_map.values()))) == sorted(
        map(tuple, map(sorted, h_map.values()))
    )


# ---- CDC merge vs a dict reference model -------------------------------

_MERGE_IDS = st.integers(min_value=0, max_value=15)
_SNAP_ROWS = st.lists(
    st.tuples(_MERGE_IDS, st.sampled_from(["pending", "completed", "failed"]),
              st.integers(1, 9),
              st.one_of(st.none(), st.sampled_from(["w1", "w2"]))),
    max_size=20, unique_by=lambda r: r[0],
)
_CHANGE_ROWS = st.lists(
    st.tuples(_MERGE_IDS, st.sampled_from(["upsert", "delete"]),
              st.sampled_from(["pending", "completed"]), st.integers(1, 9),
              st.one_of(st.none(), st.sampled_from(["w3"]))),
    max_size=20, unique_by=lambda r: r[0],
)


def _model_merge(snap, changes):
    state = {i: (s, p, w) for i, s, p, w in snap}
    for i, op, ns, np_, nw in changes:
        if op == "delete":
            state.pop(i, None)
        else:
            state[i] = (ns, np_, nw)
    return {(i, *v) for i, v in state.items()}


@settings(max_examples=12, deadline=None)
@given(_SNAP_ROWS, _CHANGE_ROWS)
def test_apply_merge_matches_dict_model(spark, snap, changes):
    """apply_merge's full-outer-join formulation must equal the obvious
    dict upsert/delete model on ARBITRARY overlaps — including all-new
    inserts, delete-of-missing, empty sides, and NULL worker columns
    (the edge family the fixed fixture batch can't cover)."""
    from task_hive_spark.operators.queries import apply_merge

    s_df = spark.createDataFrame(
        [(str(i), s, p, w) for i, s, p, w in snap],
        "id string, status string, priority int, worker_id string",
    )
    c_df = spark.createDataFrame(
        [(str(i), op, ns, np_, nw) for i, op, ns, np_, nw in changes],
        "id string, op string, new_status string, new_priority int,"
        " new_worker_id string",
    )
    got = {
        (int(r["id"]), r["status"], r["priority"], r["worker_id"])
        for r in apply_merge(s_df, c_df).collect()
    }
    assert got == _model_merge(snap, changes)


@given(
    st.lists(
        st.text(alphabet=st.sampled_from("ab"), min_size=1, max_size=8),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
    st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
)
@settings(max_examples=12, deadline=None)
def test_bpe_greedy_fold_matches_python_reference(spark, words, lft, rgt):
    """The merge-application fold must equal a straightforward Python
    greedy left-to-right merge for ANY word and ANY (lft, rgt) pair —
    including multi-char symbols from earlier rounds. One Spark job per
    example batch; a tiny 'ab' alphabet maximizes merge collisions."""
    from task_hive_spark.operators.textops import _greedy_merge_expr

    def py_greedy_pair(syms: list[str], l: str, r: str) -> list[str]:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        return out

    def py_greedy(syms: list[str]) -> list[str]:
        return py_greedy_pair(syms, lft, rgt)

    # seed syms with MULTI-CHAR symbols by emulating two earlier
    # rounds in pure Python ((a,a) then (a,b) merges) — both engines
    # receive the identical pre-merged state, so the fold is exercised
    # on exactly the mid-training symbol arrays _learn_merges round ≥ 2
    # operates on (a char-split-only seed would make the multi-char
    # lft/rgt examples vacuous identity checks)
    cases = []
    for w in words:
        syms = py_greedy_pair(py_greedy_pair(list(w), "a", "a"), "a", "b")
        cases.append(syms)
    df = spark.createDataFrame([(c,) for c in cases], "syms array<string>")
    got = [r.m for r in df.select(F.expr(_greedy_merge_expr(lft, rgt)).alias("m")).collect()]
    want = [py_greedy(c) for c in cases]
    assert got == want


def _model_qsk_bucket(v: int, s: int = 5) -> int:
    """Clean-room log-linear bucket lower bound: top s+1 significant
    bits (independent of the engine formulas — pins both of them)."""
    exp = max(v.bit_length() - (s + 1), 0)
    return (v >> exp) << exp


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=300),
    st.sampled_from([50, 90, 99]),
)
@settings(max_examples=40, deadline=None)
def test_quantile_bucket_arithmetic_matches_model(vals, q):
    """The oracle's bucket/rank SQL (one DuckDB batch per example — no
    Spark job; the engine side is pinned to the same SQL by the hash
    gate) must agree with a clean-room Python model: every value lands
    in a bucket that contains it with relative width ≤ 2^-S, and the
    percentile readout is the lower bound of the bucket holding the
    true rank-ceil(n·q/100) element."""
    import duckdb

    from task_hive_spark.operators.sketches import (
        QSK_SUB_BITS,
        _qsk_bucket_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got = dict(
        con.sql(f"SELECT v, {_qsk_bucket_sql('v')} AS lb FROM t").fetchall()
    )
    for v in vals:
        lb = got[v]
        assert lb == _model_qsk_bucket(v, QSK_SUB_BITS), (v, lb)
        assert lb <= v
        width = max(lb >> QSK_SUB_BITS, 1)
        assert v <= lb + width or lb < (1 << (QSK_SUB_BITS + 1)), (v, lb)

    # percentile readout: min lb whose cumulative count reaches rank
    n = len(vals)
    rank = -(-n * q // 100)
    true_val = sorted(vals)[rank - 1]
    (est,) = con.sql(
        f"""
        WITH state AS (
          SELECT lb, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT {_qsk_bucket_sql('v')} AS lb FROM t) GROUP BY 1
        ),
        cum AS (SELECT lb, SUM(cnt) OVER (ORDER BY lb) AS cum FROM state)
        SELECT CAST(MIN(CASE WHEN cum >= ({n} * {q} + 99) // 100
                        THEN lb END) AS BIGINT) FROM cum
        """
    ).fetchone()
    assert est == _model_qsk_bucket(true_val, QSK_SUB_BITS), (
        est,
        true_val,
        rank,
    )

    # additive mergeability: bucket counts of a split stream sum to the
    # whole-stream state (the sk_quantiles_merged property)
    half = len(vals) // 2
    whole: dict[int, int] = {}
    for v in vals:
        lb = _model_qsk_bucket(v, QSK_SUB_BITS)
        whole[lb] = whole.get(lb, 0) + 1
    merged: dict[int, int] = {}
    for part in (vals[:half], vals[half:]):
        for v in part:
            lb = _model_qsk_bucket(v, QSK_SUB_BITS)
            merged[lb] = merged.get(lb, 0) + 1
    assert merged == whole


def _model_hll_register(x: str) -> tuple[int, int]:
    """Clean-room HLL (register j, rank r) from the portable hash of x
    (seed 'hll-'): independent md5/bit arithmetic pinning BOTH engines'
    formulas (they are pinned to each other by the hash gate)."""
    h = int(hashlib.md5(("hll-" + x).encode()).hexdigest()[:15], 16)
    W = 52
    j = h >> W
    w = h & ((1 << W) - 1)
    r = W + 1 if w == 0 else W + 1 - w.bit_length()
    return j, r


@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200))
@settings(max_examples=40, deadline=None)
def test_hll_register_arithmetic_matches_model(user_ids):
    """The ACTUAL oracle fragments (_hll_regs_ctes / _hll_est_tail —
    the ONE SQL definition every HLL oracle composes; not a second
    transcription that could drift) run against a synthetic DuckDB
    `events` table must agree with the clean-room model on every
    (register, max rank) and on the exact-integer Σ2^(53−M) fold — the
    quantity whose float form would be engine-summation-order
    dependent. One DuckDB batch per example, no Spark job."""
    import duckdb

    from task_hive_spark.operators.sketches import (
        HLL_M,
        _hll_est_tail,
        _hll_regs_ctes,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_type VARCHAR, user_id BIGINT)")
    con.executemany(
        "INSERT INTO events VALUES ('e', ?)", [(u,) for u in user_ids]
    )
    got = dict(
        con.sql(f"WITH {_hll_regs_ctes()} SELECT j, m FROM regs").fetchall()
    )
    regs: dict[int, int] = {}
    for u in user_ids:
        j, r = _model_hll_register(str(u))
        regs[j] = max(regs.get(j, 0), r)
    assert got == regs
    assert all(0 <= j < HLL_M for j in regs)
    # the exact-integer fold (zero registers contribute 2^53 each)
    model_sum = sum(1 << (53 - regs.get(j, 0)) for j in range(HLL_M))
    (duck_sum,) = con.sql(
        f"""WITH {_hll_regs_ctes()},{_hll_est_tail("regs", "events")}
        SELECT sum_scaled FROM agg_regs"""
    ).fetchone()
    assert duck_sum == model_sum


# --- variable-length maximal duplicate spans vs O(n²) model ---------------

from task_hive_spark.operators.dedup import SPAN_L  # noqa: E402


def _model_max_spans(docs: dict[int, list[str]], L: int) -> list[tuple]:
    """Clean-room O(n²) maximal-common-substring model: for every doc
    pair and every alignment diagonal, walk the token sequences and
    emit each maximal run of matching L-token windows as
    (doc_a, doc_b, a_start, b_start, span_len, n_windows)."""
    out = []
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ta, tb = docs[a], docs[b]
            for diag in range(-(len(tb) - L), len(ta) - L + 1):
                run_start, run_len = None, 0
                pa_lo = max(0, diag)
                pa_hi = min(len(ta) - L, diag + len(tb) - L)
                for pa in range(pa_lo, pa_hi + 1):
                    pb = pa - diag
                    if ta[pa : pa + L] == tb[pb : pb + L]:
                        if run_start is None:
                            run_start = pa
                        run_len += 1
                    elif run_start is not None:
                        out.append(
                            (a, b, run_start, run_start - diag,
                             run_len + L - 1, run_len)
                        )
                        run_start, run_len = None, 0
                if run_start is not None:
                    out.append(
                        (a, b, run_start, run_start - diag, run_len + L - 1, run_len)
                    )
    return sorted(out)


@st.composite
def _span_corpora(draw):
    """Docs built as slices of one shared source sequence wrapped in
    per-doc unique junk — overlapping slices force long (variable-
    length!) shared spans whose extents the model recovers exactly."""
    vocab = [f"w{i}" for i in range(8)]
    source = draw(st.lists(st.sampled_from(vocab), min_size=40, max_size=80))
    n_docs = draw(st.integers(min_value=2, max_value=5))
    docs = {}
    for d in range(n_docs):
        start = draw(st.integers(min_value=0, max_value=max(0, len(source) - SPAN_L)))
        length = draw(st.integers(min_value=SPAN_L, max_value=len(source) - start))
        pre = draw(st.integers(min_value=0, max_value=3))
        post = draw(st.integers(min_value=0, max_value=3))
        toks = (
            [f"j{d}pre{i}" for i in range(pre)]
            + source[start : start + length]
            + [f"j{d}post{i}" for i in range(post)]
        )
        docs[d] = toks
    return docs


@settings(max_examples=8, deadline=None)
@given(_span_corpora())
def test_max_dup_spans_match_quadratic_model(spark, docs):
    from task_hive_spark.operators.dedup import max_dup_spans_of

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()], "doc_id long, text string"
    )
    got = [
        (r["doc_a"], r["doc_b"], r["a_start"], r["b_start"],
         r["span_len"], r["n_windows"])
        for r in max_dup_spans_of(df, spark).collect()
    ]
    assert sorted(got) == _model_max_spans(docs, SPAN_L)


# --- pack_bins first-fit properties (pure Python, no Spark) ----------------


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=200), max_size=40),
    st.integers(min_value=1, max_value=250),
)
def test_pack_bins_first_fit_invariants(sizes, target):
    from task_hive_spark.plans.catalog import pack_bins

    bins = pack_bins(sizes, target)
    flat = [i for b in bins for i in b]
    # partition of the index range, each bin in name order
    assert sorted(flat) == list(range(len(sizes)))
    for b in bins:
        assert b == sorted(b)
        # byte threshold: only a singleton may exceed the target
        if len(b) > 1:
            assert sum(sizes[i] for i in b) <= target
    # first-fit canonical property: a file never fit in any EARLIER bin
    # at the moment it was placed (replay the loads incrementally)
    loads = [0] * len(bins)
    placed_bin = {}
    for bi, b in enumerate(bins):
        for i in b:
            placed_bin[i] = bi
    for i in sorted(placed_bin):
        bi = placed_bin[i]
        for earlier in range(bi):
            assert loads[earlier] + sizes[i] > target, (i, earlier)
        loads[bi] += sizes[i]


# --- Y4M round-trip fuzz (pure Python, no Spark) ---------------------------


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10**7))
def test_y4m_round_trip_matches_geometry_for_any_asset(asset_id):
    from task_hive_spark.operators.multimodal import (
        _y4m_byte,
        _y4m_geometry,
        decode_y4m,
        synth_y4m_bytes,
    )

    w, h, fn, fd, n = _y4m_geometry(asset_id)
    got = decode_y4m(synth_y4m_bytes(asset_id))
    sums = tuple(
        sum(_y4m_byte(asset_id, k, p, i) for k in range(n) for i in range(w * h))
        for p in range(3)
    )
    assert got == (w, h, fn, fd, n, *sums)


# --- PNG round-trip fuzz (pure Python, no Spark) ---------------------------


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10**7))
def test_png_round_trip_matches_ramp_for_any_asset(asset_id):
    """Every synth PNG (which cycles all five scanline filters) must
    decode back to the raw ramp's exact stats — deflate and filtering
    are invertible artifacts, never data."""
    from task_hive_spark.operators.multimodal import (
        _png_byte,
        _png_dims,
        decode_png,
        synth_png_bytes,
    )

    w, h = _png_dims(asset_id)
    ramp = [_png_byte(asset_id, j) for j in range(3 * w * h)]
    assert decode_png(synth_png_bytes(asset_id)) == (
        w, h, 8, 2, w * h, sum(ramp[0::3]), sum(ramp[1::3]), sum(ramp[2::3])
    )


# --- container-probe round-trip fuzz (pure Python, no Spark) ---------------


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10**7))
def test_container_probes_round_trip_for_any_asset(asset_id):
    """Every synth container (MP4 box tree, JPEG segment stream, MP3
    frame grid, WebM EBML tree) must probe back to its exact geometry —
    the framing grammars are invertible artifacts, never data."""
    from task_hive_spark.operators.multimodal import (
        _MP3_BITRATE_KBPS,
        _MP3_SAMPLERATE,
        _jpeg_entropy_byte,
        _jpeg_geom,
        _mp3_geom,
        _mp3_payload_byte,
        _mp4_geom,
        _mp4_mdat_byte,
        _webm_geom,
        probe_jpeg,
        probe_mp3,
        probe_mp4,
        probe_webm,
        synth_jpeg_bytes,
        synth_mp3_bytes,
        synth_mp4_bytes,
        synth_webm_bytes,
    )

    ts, dur, w, h, tid, n = _mp4_geom(asset_id)
    assert probe_mp4(synth_mp4_bytes(asset_id)) == (
        "isom", ts, dur * 1000 // ts, 1, tid, w, h, n,
        sum(_mp4_mdat_byte(asset_id, j) for j in range(n)),
    )

    jw, jh, jn = _jpeg_geom(asset_id)
    assert probe_jpeg(synth_jpeg_bytes(asset_id)) == (
        jw, jh, 8, 3, 5, jn,
        sum(_jpeg_entropy_byte(asset_id, j) for j in range(jn)),
    )

    bi, si, nf = _mp3_geom(asset_id)
    br, sr = _MP3_BITRATE_KBPS[bi], _MP3_SAMPLERATE[si]
    pb = nf * (144 * br * 1000 // sr - 4)
    assert probe_mp3(synth_mp3_bytes(asset_id)) == (
        br, sr, nf, nf * 1152 * 1000 // sr, pb,
        sum(_mp3_payload_byte(asset_id, j) for j in range(pb)),
    )

    dms, tn, ww, wh = _webm_geom(asset_id)
    assert probe_webm(synth_webm_bytes(asset_id)) == (
        "webm", 1_000_000, dms, tn, 1, ww, wh,
    )


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10**7))
def test_jpeg_coeff_decode_round_trips_for_any_asset(asset_id):
    """The baseline-JPEG entropy codec must invert exactly for every
    asset: canonical Huffman tables, DC category/EXTEND + prediction,
    AC run/size coding, zigzag dequantization and FF00 stuffing are
    all artifacts."""
    from task_hive_spark.operators.multimodal import (
        _jpeg_ac_coeffs,
        _jpeg_dc_coeff,
        _jpeg_dc_geom,
        _jpeg_dc_qsteps,
        _jpeg_qstep,
        decode_jpeg_coeffs,
        synth_jpeg_coeff_bytes,
    )

    w, h = _jpeg_dc_geom(asset_id)
    q0, q1 = _jpeg_dc_qsteps(asset_id)
    mc = ((w + 7) // 8) * ((h + 7) // 8)
    dc = [
        q * sum(_jpeg_dc_coeff(asset_id, m, c) for m in range(mc))
        for c, q in ((0, q0), (1, q1), (2, q1))
    ]
    ac = [
        sum(
            v * _jpeg_qstep(k, q0 if c == 0 else q1)
            for m in range(mc)
            for k, v in _jpeg_ac_coeffs(asset_id, m, c)
        )
        for c in range(3)
    ]
    assert decode_jpeg_coeffs(synth_jpeg_coeff_bytes(asset_id)) == (
        w, h, 3, mc, 3 * mc, *dc, *ac, 6 * mc,
    )


# --- manifest-pruning properties (pure Python, no Spark) --------------------


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(st.integers(-1000, 1000), st.integers(0, 500)).map(
                lambda t: {"path": "", "min": t[0], "max": t[0] + t[1], "num_rows": 1}
            ),
            st.just({"path": "", "min": None, "max": None, "num_rows": 1}),
        ),
        max_size=30,
    ),
    st.lists(st.integers(-1200, 1200), max_size=20),
)
def test_prune_files_any_never_false_negative(stats, values):
    """prune_files_any keeps EVERY file that could hold a probe value
    (stat-less files always; ranged files iff some value lands inside)
    and never invents paths — the no-false-negative contract the serve
    oracles rely on, checked against a brute-force model."""
    from task_hive_spark.plans.catalog import prune_files_any

    for i, s in enumerate(stats):
        s["path"] = f"f{i}"
    kept, total = prune_files_any(stats, values)
    assert total == len(stats)
    model = {
        s["path"]
        for s in stats
        if s["min"] is None or any(s["min"] <= v <= s["max"] for v in values)
    }
    assert set(kept) == model


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 1000)).map(
            lambda t: {
                "path": "",
                "min": min(t),
                "max": max(t),
                "num_rows": 1,
            }
        ),
        min_size=0,
        max_size=30,
    ),
    st.integers(0, 1000),
    st.integers(0, 1000),
)
def test_recluster_debt_is_a_bounded_monotone_tax(stats, a, b):
    """recluster_debt is in [0, 1], zero for single-file or empty kept
    sets, and never DECREASES when a whole-domain loose file joins the
    manifest (appends can only add read tax) — the properties the
    threshold trigger assumes."""
    from task_hive_spark.plans.catalog import recluster_debt

    lo, hi = min(a, b), max(a, b)
    for i, s in enumerate(stats):
        s["path"] = f"f{i}"
    d0 = recluster_debt(stats, lo, hi)
    assert 0.0 <= d0 <= 1.0
    sized = [s for s in stats if s["min"] is not None]
    if sized:
        dlo = min(s["min"] for s in sized)
        dhi = max(s["max"] for s in sized)
        loose = [
            {"path": "loose", "min": dlo, "max": dhi, "num_rows": 1}
        ]
        kept0 = [
            s for s in stats if not (s["max"] < lo or s["min"] > hi)
        ]
        d1 = recluster_debt(stats + loose, lo, hi)
        assert 0.0 <= d1 <= 1.0
        if dhi > dlo and len(kept0) >= 1 and not (dhi < lo or dlo > hi):
            # the appended file spans the whole (non-degenerate) domain
            # and overlaps the window: the loose share cannot shrink
            assert d1 >= d0 - 1e-12
