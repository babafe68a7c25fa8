"""Local DuckDB-parity harness, mimicking the driver's correctness gate.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB (fixture parquet pre-registered as
views), then compares row count + schema + order-insensitive value hash
with columns sorted by name. This module reproduces that comparison so
operators are validated locally before the driver ever sees them.

Environment assumption: the driver OS timezone is UTC (true in this
container, and for the round driver). PySpark's ``collect()`` converts
TimestampType through ``datetime.fromtimestamp`` — the DRIVER-LOCAL
zone, which ``spark.sql.session.timeZone`` does not influence — while
DuckDB returns stored naive wall times; on a non-UTC host every
collected timestamp would shift by the UTC offset and timestamp-bearing
comparisons would spuriously fail. Set ``TZ=UTC`` before running the
harness anywhere else.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.sources.fixtures import FIXTURE_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v) -> str:
    """Canonicalize one value for hashing (engine-agnostic)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 12 significant digits: tolerant of last-bit double drift while
        # still catching real numeric errors.
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple], col_order: list[int]) -> str:
    lines = sorted("|".join(_canon(row[i]) for i in col_order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = -1
    oracle_rows: int = -1
    detail: str = ""
    mismatches: list = field(default_factory=list)


def compare(
    name: str,
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    sql: str,
) -> CompareResult:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    o_rel = con.execute(sql)
    o_cols = [d[0] for d in o_rel.description]
    o_rows = o_rel.fetchall()

    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        return CompareResult(
            name, False, len(s_rows), len(o_rows), f"schema: spark={s_cols} oracle={o_cols}"
        )
    if len(s_rows) != len(o_rows):
        return CompareResult(name, False, len(s_rows), len(o_rows), "row count mismatch")

    s_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(s_cols))]
    o_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(o_cols))]
    sh = value_hash(s_rows, s_order)
    oh = value_hash(o_rows, o_order)
    if sh != oh:
        s_sorted = sorted("|".join(_canon(r[i]) for i in s_order) for r in s_rows)
        o_sorted = sorted("|".join(_canon(r[i]) for i in o_order) for r in o_rows)
        diffs = [(a, b) for a, b in zip(s_sorted, o_sorted) if a != b][:3]
        return CompareResult(
            name, False, len(s_rows), len(o_rows), "value hash mismatch", diffs
        )
    return CompareResult(name, True, len(s_rows), len(o_rows))


def run_all(spark: SparkSession, sf_dir: str, only: list[str] | None = None) -> list[CompareResult]:
    """Run every __spark_entry__ query (or only the named ones) against
    its oracle at sf_dir. A name in ``only`` that is not registered
    raises ValueError."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(set(only or ()) - set(qs))
    if unknown:
        raise ValueError(f"not registered in queries(): {unknown}")
    con = duckdb_conn(sf_dir)
    results = []
    for qname, fn in qs.items():
        if only and qname not in only:
            continue
        if qname not in oracles:
            df = fn(spark, sf_dir)
            n = df.count()
            results.append(CompareResult(qname, n >= 0, n, -1, "rows-only (no oracle)"))
            continue
        try:
            results.append(compare(qname, fn(spark, sf_dir), con, oracles[qname]))
        except Exception as e:  # surface, keep going
            results.append(CompareResult(qname, False, detail=f"EXC {type(e).__name__}: {e}"))
    return results
