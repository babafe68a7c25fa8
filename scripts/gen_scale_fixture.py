"""Synthesize an sf1-scale fixture directory for scale profiles.

The driver's fixtures stop at sf0.1; the dedup/ANN scale questions
(candidate-pair growth vs the MAX_DF/LSH bounds, IVF recall drift) need
a 10x-larger corpus to answer. This generator extrapolates the sf0.1
fixtures by their OWN empirical statistics — token unigram frequencies,
document length histogram, (lang, source) joint weights, per-label
embedding centroid + spread — so the gram-frequency and cluster
geometry the bounds act on scale the way the real generator's would,
rather than some arbitrary synthetic's. Everything is seeded and
deterministic.

Output: /root/repo/.scratch/sf1_synth/{documents,embeddings,events,
lineitem}.parquet at 10x sf0.1 cardinality, plus the other six fixture
tables copied from sf0.001 (fixture-view registration reads all ten;
the dedup, similarity, text and sketch queries never touch the
copies). events scales the USER domain 10x too (resampled rows with
fresh user draws over a 10x id range, timestamps uniform over the
observed span) so distinct-count sketches face genuinely larger
cardinalities; lineitem resamples rows with ±5% price jitter so the
quantile histogram is not just ten copies of the sf0.1 bucket set.

Usage: python scripts/gen_scale_fixture.py  (idempotent per
FIXTURE_VERSION; ~seconds; prints the output dir last). Profile it with
SPARK_GRAFT_SF_DIR=<that dir> python scripts/profiler.py <query ...>
and compare against the same names at sf0.1 with profiler.py --compare.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC_SF = "/root/testdata/sf0.1"
SMALL_SF = "/root/testdata/sf0.001"
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1_synth")
SCALE = 10  # sf0.1 -> sf1
SEED = 20260814

_COPY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
]

# bump when the generated artifact set changes; a dir stamped with an
# older version is wiped and fully regenerated (same seeds → the
# previously-generated tables come back byte-identical)
FIXTURE_VERSION = 2  # v2: synthesized 10x events + lineitem (r9 sketch gate)


def _gen_documents(rng: np.random.Generator) -> None:
    t = pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
    texts = t.column("text").to_pylist()
    langs = t.column("lang").to_pylist()
    sources = t.column("source").to_pylist()

    # empirical statistics of the source corpus
    tok_lists = [s.split() for s in texts]
    vocab: dict[str, int] = {}
    for toks in tok_lists:
        for w in toks:
            vocab[w] = vocab.get(w, 0) + 1
    words = sorted(vocab)
    probs = np.array([vocab[w] for w in words], dtype=np.float64)
    probs /= probs.sum()
    lengths = np.array([len(toks) for toks in tok_lists])
    pairs = sorted({(lg, sc) for lg, sc in zip(langs, sources)})
    pair_counts = np.zeros(len(pairs))
    pair_idx = {p: i for i, p in enumerate(pairs)}
    for lg, sc in zip(langs, sources):
        pair_counts[pair_idx[(lg, sc)]] += 1
    pair_probs = pair_counts / pair_counts.sum()

    n = len(texts) * SCALE
    out_len = rng.choice(lengths, size=n)
    out_pair = rng.choice(len(pairs), size=n, p=pair_probs)
    word_arr = np.array(words, dtype=object)
    out_text = []
    for ln in out_len:
        toks = word_arr[rng.choice(len(words), size=int(ln), p=probs)]
        out_text.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(out_text, type=pa.string()),
            "lang": pa.array([pairs[i][0] for i in out_pair], type=pa.string()),
            "source": pa.array([pairs[i][1] for i in out_pair], type=pa.string()),
            "n_chars": pa.array([len(s) for s in out_text], type=pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(OUT_DIR, "documents.parquet"))


def _gen_embeddings(rng: np.random.Generator) -> None:
    t = pq.read_table(os.path.join(SRC_SF, "embeddings.parquet"))
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    labels = np.array(t.column("label").to_pylist())
    uniq = sorted(set(labels.tolist()))
    centroids = {l: vecs[labels == l].mean(axis=0) for l in uniq}
    spreads = {l: vecs[labels == l].std(axis=0) for l in uniq}
    freqs = np.array([(labels == l).sum() for l in uniq], dtype=np.float64)
    freqs /= freqs.sum()

    n = len(vecs) * SCALE
    out_label = rng.choice(len(uniq), size=n, p=freqs)
    dim = vecs.shape[1]
    noise = rng.standard_normal((n, dim))
    out = np.empty((n, dim), dtype=np.float32)
    for i, li in enumerate(out_label):
        l = uniq[li]
        out[i] = (centroids[l] + noise[i] * spreads[l]).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array([row for row in out.tolist()], type=pa.list_(pa.float32())),
            "label": pa.array([int(uniq[i]) for i in out_label], type=pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(OUT_DIR, "embeddings.parquet"))


def _gen_events(rng: np.random.Generator) -> None:
    """10x sf0.1 events: resampled rows (types/values/props keep their
    empirical joint), user_id redrawn over a 10x domain (distinct-user
    cardinality actually grows — the quantity the KMV/HLL/theta gates
    estimate), ts uniform over the observed span (same day set for the
    daily-HLL grouping)."""
    t = pq.read_table(os.path.join(SRC_SF, "events.parquet"))
    n_src = t.num_rows
    n = n_src * SCALE
    tt = t.take(pa.array(rng.integers(0, n_src, size=n), type=pa.int64()))

    users = t.column("user_id").to_numpy()
    out_user = rng.integers(0, (int(users.max()) + 1) * SCALE, size=n)
    ts_ns = t.column("ts").cast(pa.int64()).to_numpy()
    out_ts = rng.integers(int(ts_ns.min()), int(ts_ns.max()) + 1, size=n)

    def put(name: str, arr: pa.Array) -> None:
        nonlocal tt
        tt = tt.set_column(tt.schema.get_field_index(name), name, arr)

    put("event_id", pa.array(range(n), type=pa.int64()))
    put("user_id", pa.array(out_user, type=pa.int64()))
    put(
        "ts",
        pa.array(out_ts, type=pa.int64()).cast(t.schema.field("ts").type),
    )
    pq.write_table(tt, os.path.join(OUT_DIR, "events.parquet"))


def _gen_lineitem(rng: np.random.Generator) -> None:
    """10x sf0.1 lineitem: row resample with ±5% l_extendedprice jitter
    (rounded back to cents) so the log-linear quantile histogram meets
    fresh bucket populations, not ten copies of the sf0.1 grid."""
    t = pq.read_table(os.path.join(SRC_SF, "lineitem.parquet"))
    n_src = t.num_rows
    n = n_src * SCALE
    tt = t.take(pa.array(rng.integers(0, n_src, size=n), type=pa.int64()))
    price = tt.column("l_extendedprice").to_numpy()
    jittered = np.round(price * rng.uniform(0.95, 1.05, size=n), 2)
    tt = tt.set_column(
        tt.schema.get_field_index("l_extendedprice"),
        "l_extendedprice",
        pa.array(jittered, type=pa.float64()),
    )
    pq.write_table(tt, os.path.join(OUT_DIR, "lineitem.parquet"))


def main() -> int:
    ver_file = os.path.join(OUT_DIR, "VERSION")
    if (
        os.path.isfile(ver_file)
        and open(ver_file).read().strip() == str(FIXTURE_VERSION)
    ):
        print(OUT_DIR)  # idempotent: already generated at this version
        return 0
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    rng = np.random.default_rng(SEED)
    _gen_documents(rng)
    _gen_embeddings(rng)
    # independent streams so adding tables never perturbs earlier ones
    _gen_events(np.random.default_rng(SEED + 1))
    _gen_lineitem(np.random.default_rng(SEED + 2))
    for name in _COPY_TABLES:
        shutil.copy(
            os.path.join(SMALL_SF, f"{name}.parquet"),
            os.path.join(OUT_DIR, f"{name}.parquet"),
        )
    with open(ver_file, "w") as f:
        f.write(str(FIXTURE_VERSION))
    print(OUT_DIR)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
