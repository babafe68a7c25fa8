"""The one way driver-held rows enter a plan.

Submitted task batches, spreadsheet rows, learned merges, vocabularies,
probe signatures, labelings and codebooks are all small row sets the
driver holds. ``createDataFrame(list)`` plans them as a Python-RDD scan
(``LogicalRDD``, defaultParallelism partitions) whose pickle→JVM
conversion re-runs as Python worker tasks under every action and every
broadcast build that reads the frame: at interactive latency that fixed
cost dominates (measured 0.4-0.6 s per frame on the fixtures). A
``VALUES`` literal is a ``LocalRelation`` instead: the rows travel in
the plan, a broadcast of them is built on the driver, and no job runs.

``rows_frame`` makes one choice:

- rows whose rendered literal is at most ``LITERAL_MAX_BYTES`` become
  one ``VALUES`` literal, made with one ``spark.sql`` call;
- larger row sets, which would make the driver parse megabytes of SQL,
  become one ``createDataFrame(rows, schema)`` materialized once with an
  eager ``localCheckpoint``, so its consumers scan JVM blocks;
- no rows give an empty ``LocalRelation`` of the schema's types.

Values render by their column's declared type, so the literal carries
the schema: int as ``n``, bigint as ``nL``, double as ``repr(x)D``
(exact for every finite double), string quoted with ``\\`` and ``'``
escaped by a backslash and ``$`` written ``\\u0024``, NULL as
``CAST(NULL AS t)``, and ``array<bigint>`` / ``array<string>`` as
``array(...)``. Those types are the supported ones. Any other type, a
non-finite double or a value whose Python type does not fit its column
raises ``ValueError``: these rows may come from outside the program (a
submitted task batch).
``spark.sql`` substitutes ``${...}`` variables (environment, conf) in
its whole text, quoted literals included, before it parses; a ``$``
that reaches it as ``\\u0024`` is never substituted and parses back
to ``$``. Backslash escapes are escapes only while
``spark.sql.parser.escapedStringLiterals`` is off, its default; the
conf is read only when a string needed one, and if it is on the rows
take the checkpoint path.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

# 1 MiB of SQL text: a whole 385-row sf0.1 crawl batch of 128-value
# MinHash signatures renders to ~0.63 MB. At the cap the literal is still
# the cheaper path: a 50k-row small-id labeling (1.0 MB) built and read
# twice took 1.8 s as a literal and 2.5 s checkpointed (4 cores); each
# further read costs the literal ~0.1 s more planning.
LITERAL_MAX_BYTES = 1 << 20

_INT_BITS = {"int": 31, "bigint": 63}
_ALIASES = {"integer": "int", "long": "bigint"}


def _columns(schema: str) -> list[tuple[str, str, bool]]:
    """(name, type, not_null) of each column of a DDL schema string,
    the type lower-cased with ``integer``/``long`` spelt int/bigint."""
    cols: list[tuple[str, str, bool]] = []
    for part in re.split(r",(?![^<]*>)", schema):
        name, t = part.split(None, 1)
        t, n = re.subn(r"\s+not\s+null$", "", t.strip(), flags=re.I)
        t = re.sub(r"\w+", lambda m: _ALIASES.get(m[0], m[0]), re.sub(r"\s+", "", t.lower()))
        cols.append((name, t, n == 1))
    return cols


def _render(v: object, t: str) -> str:
    if v is None:
        return f"CAST(NULL AS {t})"
    if t in _INT_BITS:
        bound = 1 << _INT_BITS[t]
        if isinstance(v, bool) or not isinstance(v, int) or not -bound <= v < bound:
            raise ValueError(f"{v!r} does not fit a {t} column")
        return f"{v}L" if t == "bigint" else str(v)
    if t == "double":
        if not isinstance(v, float) or not math.isfinite(v):
            raise ValueError(f"{v!r} is not a finite double")
        return f"{v!r}D"
    if t == "string":
        if not isinstance(v, str):
            raise ValueError(f"{v!r} does not fit a string column")
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
    if t in ("array<bigint>", "array<string>"):
        if not isinstance(v, (list, tuple)):
            raise ValueError(f"{v!r} does not fit an {t} column")
        if not v:
            return f"CAST(array() AS {t})"
        return "array(" + ", ".join(_render(x, t[6:-1]) for x in v) + ")"
    raise ValueError(f"unsupported column type {t}")


def _row(row: Sequence, cols: list[tuple[str, str, bool]]) -> str:
    if len(row) != len(cols):
        raise ValueError(f"row {row!r} does not have {len(cols)} values")
    for v, (name, _t, not_null) in zip(row, cols):
        if v is None and not_null:
            raise ValueError(f"NULL in not-null column {name}")
    return "(" + ", ".join(_render(v, t) for v, (_n, t, _nn) in zip(row, cols)) + ")"


def rows_frame(spark: SparkSession, rows: Sequence[Sequence], schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a frame of the
    DDL ``schema``: a VALUES literal, a checkpointed conversion above
    LITERAL_MAX_BYTES of literal text, or an empty frame."""
    cols = _columns(schema)
    if not rows:
        nulls = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t, _nn in cols)
        return spark.sql(f"SELECT {nulls} WHERE false")
    text = ", ".join(_row(r, cols) for r in rows)
    if len(text.encode()) <= LITERAL_MAX_BYTES and (
        "\\" not in text
        or spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") == "false"
    ):
        names = ", ".join(f"`{n}`" for n, _t, _nn in cols)
        return spark.sql(f"SELECT * FROM (VALUES {text}) AS t({names})")
    return spark.createDataFrame(rows, schema).localCheckpoint(eager=True)
