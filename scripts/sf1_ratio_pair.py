"""Paired Spark-vs-DuckDB mini-bench at sf1 for the standing weak set.

The r12 verdict (task 3): the claim that the sf0.1-weak queries invert
at scale has scale PROBES but no recorded paired *ratio* above sf0.1.
This records one — Spark (warm, best-of-3, noop sink) and the DuckDB
oracle (warm, best-of-3) run back-to-back per query in ONE process on
the synthesized sf1 fixture (scripts/gen_scale_fixture.py), so the
pair is tenancy-invariant the same way BASELINE_ratio_r{N} is.

    python scripts/sf1_ratio_pair.py [out.json] [query ...]

Defaults: the three standing weak queries + the two pruned serves
(single-probe latency witness and the batched headline form).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, ".scratch", "sf1_synth")

DEFAULT_QUERIES = [
    "dd_duplicate_spans",
    "dd_max_dup_spans",
    "txt_quality_classifier",
    "sim_topk_pq_served_pruned",
    "sim_topk_pq_served_batch",
]

N_RUNS = 3


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BASELINE_ratio_sf1_r13.json"
    )
    names = sys.argv[2:] or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from bench import timed_run, warm_up
    from task_hive_spark.plans.oracle import duckdb_conn
    from task_hive_spark.session import get_spark

    if not os.path.isdir(SF1_DIR):
        print(f"missing {SF1_DIR}: run scripts/gen_scale_fixture.py first",
              file=sys.stderr)
        return 2

    spark = get_spark("sf1_ratio_pair")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb_conn(SF1_DIR)

    # Spark: bench.py's warm-up and its timed run, best-of-3
    warm_up(spark, qs, SF1_DIR, names)
    results: dict[str, dict] = {}
    for name in names:
        s_best = min(timed_run(spark, qs, SF1_DIR, name) for _ in range(N_RUNS))
        # DuckDB: warm once, then best-of-3 (duckdb_baseline.py's N).
        sql = oracles[name]
        con.execute(sql).fetchall()
        d_best = float("inf")
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            d_best = min(d_best, time.perf_counter() - t0)
        results[name] = {
            "spark_s": round(s_best, 4),
            "duckdb_s": round(d_best, 4),
            "ratio": round(s_best / max(d_best, 1e-9), 3),
        }
        print(f"{name:32s} spark {s_best:7.3f} s  duckdb {d_best:7.3f} s  "
              f"ratio {results[name]['ratio']:.3f}", file=sys.stderr)

    payload = {
        "sf_dir": SF1_DIR,
        "n_runs": N_RUNS,
        "queries": results,
        "note": (
            "paired same-process warm best-of-3 both engines at the "
            "synthesized sf1 fixture (10x sf0.1 documents/embeddings/"
            "events/lineitem); per README this file grades the sf0.1 "
            "weak set: a query <= 2x here is floor-class at sf0.1."
        ),
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"metric": "sf1_ratio_pair", "out": out_path,
                      "queries": {k: v["ratio"] for k, v in results.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
