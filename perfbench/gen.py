"""Seeded input generator for the benchmark.

Everything a workload feeds the engine comes from here, and only from
the ``--seed`` argument: the ten fixture tables the queries read, the
task batches the ``TaskHive`` facade drains, the HTTP route mix with its
skewed ids, and the dedup / ANN probe picks. The same seed gives
byte-identical inputs.

The fixture tables follow the schemas and column types of the engine's
own fixtures (a TPC-H-shaped star schema, an ``events`` stream table, a
``documents`` corpus with injected near-duplicates and a clustered
``embeddings`` table). Row counts follow the engine's sf0.01 fixtures
(its correctness scale), except ``embeddings``, which holds sf0.1's
2000 vectors so that the batched ANN serve has its ``BATCH_PROBES``
probe candidates (every ``PROBE_MOD``-th vector). The curation pass
reads a 250-vector shard of it (``pass_shard``), on which the
semantic-dedup oracle that checks it stays cheap.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixture cardinalities: the per-scale-factor counts of the engine's
# fixtures, at sf0.01
SF = 0.01
N_CUSTOMER = round(150_000 * SF)
N_SUPPLIER = round(10_000 * SF)
N_PART = round(200_000 * SF)
N_ORDERS = round(1_500_000 * SF)
N_EVENTS = round(1_000_000 * SF)
N_USERS = round(15_000 * SF)
N_DOCS = round(50_000 * SF)
N_VECS = 2000
# the semantic-dedup oracle is an all-pairs recursive CTE: about 50 s
# on 4 cores at 2000 vectors, 5 s at 500, 3 s at 250
N_PASS_VECS = 250
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05  # documents that are a near-copy of an earlier one

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 3) + ["zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "dark", "green", "hot", "red", "small", "soft"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# task-hive inputs: the executor's documented duration model times out a
# known-type task whose numeric id suffix n has n % 400 > 298 on every
# attempt; an unregistered type fails on every attempt. Both end failed
# once the facade's retries are spent.
TASK_TYPES = ("custom", "spider", "unknown")
TASK_TYPE_WEIGHTS = (0.55, 0.35, 0.10)
TIMEOUT_SHARE = 0.12
LIST_LIMIT = 50


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named input stream, so adding a
    draw to one stream never shifts another's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp()) * 1_000_000 + (seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86400)


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    r = rng_for(seed, "fixtures")
    epoch = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": r.choice(SEGMENTS, N_CUSTOMER).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, N_PART), r.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
            "p_type": r.choice(P_TYPES, N_PART).tolist(),
            "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
        }
    )
    odays = r.integers(0, 2400, N_ORDERS)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": r.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": r.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": _days(epoch, odays),
            "o_orderpriority": r.choice(PRIORITIES, N_ORDERS).tolist(),
        }
    )
    lines_per = r.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    shipdays = np.repeat(odays, lines_per) + r.integers(1, 122, n_li)
    order = r.permutation(n_li)  # fixture rows are not key-sorted
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey[order],
            "l_partkey": r.integers(0, N_PART, n_li).astype(np.int64)[order],
            "l_suppkey": r.integers(0, N_SUPPLIER, n_li).astype(np.int64)[order],
            "l_linenumber": pa.array(lnum[order], pa.int32()),
            "l_quantity": qty[order],
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2)[order],
            "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2)[order],
            "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2)[order],
            "l_returnflag": r.choice(["A", "N", "R"], n_li)[order].tolist(),
            "l_linestatus": r.choice(["F", "O"], n_li)[order].tolist(),
            "l_shipdate": _days(epoch, shipdays[order]),
        }
    )
    ev_epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev_secs = np.sort(r.uniform(0, 30 * 86400, N_EVENTS))
    t["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts(ev_epoch, ev_secs),
            "user_id": r.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": r.choice(EVENT_TYPES, N_EVENTS).tolist(),
            "value": np.round(np.maximum(r.exponential(50.0, N_EVENTS), 0.01), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, N_EVENTS)],
        }
    )
    # near-duplicates: an exact share of documents, each an earlier
    # document with its tail token replaced, the shape the dedup family
    # is built to find; which documents, and of which source, follows
    # the seed
    dup_at = set(int(i) for i in r.choice(np.arange(11, N_DOCS), round(DUP_SHARE * N_DOCS), replace=False))
    texts: list[str] = []
    for i in range(N_DOCS):
        if i in dup_at:
            src = texts[int(r.integers(0, i))].split()
            src[-1] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, N_DOCS).tolist(),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    centroids = r.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = r.permutation(np.arange(N_VECS) % N_LABELS)  # equal-sized clusters
    vecs = centroids[labels] * 0.15 + r.normal(0.0, 1.0, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixtures(seed: int, out_dir: str) -> str:
    """Write the ten fixture tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def pass_shard(sf_dir: str, out_dir: str) -> str:
    """The curation pass's inputs in ``out_dir``: hard links to the
    fixture files of ``sf_dir``, except ``embeddings``, cut to its first
    ``N_PASS_VECS`` rows."""
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(sf_dir):
        src, dst = os.path.join(sf_dir, f), os.path.join(out_dir, f)
        if f == "embeddings.parquet":
            pq.write_table(pq.read_table(src).slice(0, N_PASS_VECS), dst)
        else:
            os.link(src, dst)
    return out_dir


# --- task-hive service inputs ------------------------------------------------


def _task_suffix(r: np.random.Generator, timeout: bool) -> int:
    """A numeric id suffix whose residue mod 400 lands in (timeout) or
    out of (completes) the executor's > 298 band."""
    block = int(r.integers(0, 10_000)) * 400
    return block + int(r.integers(299, 400) if timeout else r.integers(0, 299))


def task_batch(r: np.random.Generator, n: int, prefix: str) -> list[dict]:
    """``n`` tasks in exact type and timeout shares (so every seed asks
    the same work of the drain), in a seeded order with seeded ids,
    priorities and payloads."""
    counts = [round(w * n) for w in TASK_TYPE_WEIGHTS[1:]]
    types = np.array([TASK_TYPES[0]] * (n - sum(counts)) + [
        t for t, c in zip(TASK_TYPES[1:], counts) for _ in range(c)
    ])
    timeout = np.arange(n) < round(TIMEOUT_SHARE * n)
    order, late = r.permutation(n), r.permutation(n)
    out = []
    for i in range(n):
        ttype = str(types[order[i]])
        suffix = _task_suffix(r, bool(timeout[late[i]]))
        out.append(
            {
                "id": f"{prefix}{i}-{ttype}-{suffix}",
                "type": ttype,
                "priority": int(r.integers(0, 11)),  # 0 defaults to 5
                "payload": json.dumps({"row_id": i, "row_data": [prefix, str(suffix)]}),
            }
        )
    return out


def healthy_batch(r: np.random.Generator, n: int, prefix: str) -> list[dict]:
    """A submit batch of registered types whose ids all complete on the
    first dispatch: a steady service round costs one drain round. The
    timeout and unknown-type shares ride in the start() backlog."""
    out = task_batch(r, n, prefix)
    for t in out:
        if t["type"] == "unknown":
            t["type"] = "custom"
            t["id"] = t["id"].replace("-unknown-", "-custom-")
        head, n_ = t["id"].rsplit("-", 1)
        t["id"] = f"{head}-{int(n_) // 400 * 400 + int(r.integers(0, 299))}"
    return out


def expected_status(task: dict) -> str:
    """Final status by the engine's documented rules: an unregistered
    type fails; a known type whose id suffix n has n % 400 > 298 times
    out on every attempt and fails once its retries are spent;
    everything else completes."""
    if task["type"] not in ("custom", "spider"):
        return "failed"
    n = int(task["id"].rsplit("-", 1)[1])
    return "failed" if n % 400 > 298 else "completed"


def route_mix(r: np.random.Generator, task_ids: list[str], worker_ids: list[str]) -> list[tuple]:
    """One round of (route, arg) GETs: a fixed composition over the five
    routes, so a round's median latency does not depend on how a seed
    happened to weight them, in a seeded order with seeded ids. Task ids
    are Zipf-skewed over the known ids (a dashboard polling a few hot
    tasks); one id does not exist (the 404 path)."""

    def hot_task() -> str:
        return task_ids[min(int(r.zipf(1.3)) - 1, len(task_ids) - 1)]

    out = [
        ("task", hot_task()),
        ("task", hot_task()),
        ("task", f"missing-{int(r.integers(0, 1_000_000))}"),
        ("tasks", ("completed", LIST_LIMIT)),
        ("tasks", ("failed", LIST_LIMIT)),
        ("tasks", ("", LIST_LIMIT)),
        ("stats", None),
        ("workers", None),
        ("worker_tasks", str(r.choice(worker_ids))),
    ]
    return [out[i] for i in r.permutation(len(out))]
