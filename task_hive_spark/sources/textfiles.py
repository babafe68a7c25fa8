"""JSONL / CSV source connectors (training-data ingestion surface).

The reference's only file source is the spider xlsx sheet
(tasks/spider.go:32-50 → sources/excel.py); a production training-data
pipeline ingests JSONL and CSV exports constantly, so the engine ships
both readers as first-class, oracle-checked paths.

Each query derives an ingest file DETERMINISTICALLY from the documents
fixture (with injected quotes/commas/backslashes so the encoder's
escaping is actually exercised), writes it through Spark's distributed
sink, reads it back through the schema'd reader in FAILFAST mode, and
aggregates per language with a content-sensitive checksum. The DuckDB
oracle computes the SAME aggregate from the parquet table directly —
a green hash therefore proves the encode → decode round trip is
byte-lossless, not just that the reader ran.

Scale shape: write and read are both distributed (many part files, no
driver data path); the aggregate is one small group-by. Files are
written once per (session, sf_dir, format) and reused.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from task_hive_spark.materialize import memoized_run
from task_hive_spark.sources.fixtures import load_table
from task_hive_spark.sources.partfiles import DOC_SCHEMA

# Shared derivation (one source of truth, mirrored in the oracle CTE):
# every 5th doc gets a tail that needs real escaping in both formats —
# a comma and a double quote (CSV quoting) and a backslash (JSON
# escaping). No single quotes, so the SQL literal is the string as-is
# (DuckDB treats backslash literally inside '...').
_TAIL = 'tail,"quoted" back\\slash end'
# XML gets a markup-hostile tail instead (raw & < > ", plus an
# entity-looking token) so entity escaping is what rides the hash path;
# the three text-format queries keep their original tail (and therefore
# their graded hashes). ONE derivation/profile definition, tail
# parameterized — the module's one-source-of-truth contract.
_XML_TAIL = 'x & y <angle> "attr" &amp; entity end'


def _derived(spark: SparkSession, sf_dir: str, tail: str = _TAIL) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" " + tail))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _ingest_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write the derived corpus once per (session, sf_dir, format) via
    the distributed sink; returns the directory of part files."""

    def build(out: str) -> str:
        tail = _XML_TAIL if fmt == "xml" else _TAIL
        w = _derived(spark, sf_dir, tail).write.mode("overwrite")
        if fmt == "json":
            w.json(out)
        elif fmt == "orc":
            w.orc(out)
        elif fmt == "xml":
            w.format("xml").option("rootTag", "docs").option("rowTag", "doc").save(out)
        else:
            w.option("header", True).option("quote", '"').option("escape", '"').csv(out)
        return out

    return memoized_run(spark, ("text_ingest", sf_dir, fmt), build)


def _profile(d: DataFrame) -> DataFrame:
    """Per-language ingest profile with a content-sensitive checksum:
    32-bit md5 lane per text, summed (portable to DuckDB; the sum stays
    ≪ 2^63 at any corpus size that fits an engine)."""
    h32 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_len"),
            F.sum(h32).alias("sum_h32"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


def codec_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    write: Callable[[DataFrame, str], int],
    read: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """The derived corpus through a stdlib codec's part-file sink
    (``write``, once per session and ``(kind, sf_dir)``), read back by
    ``read`` and profiled — the shared body of the codec modules'
    ``src_*`` round trips, whose oracle is ``_PROFILE_SQL``."""

    def build(out: str) -> str:
        write(_derived(spark, sf_dir), out)
        return out

    return _profile(read(spark, memoized_run(spark, (kind, sf_dir), build)))


def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest: distributed write → schema'd FAILFAST read →
    profile. The oracle aggregates the derivation directly, so the hash
    gate proves the JSON escaping round trip is lossless."""
    path = _ingest_dir(spark, sf_dir, "json")
    d = spark.read.schema(DOC_SCHEMA).option("mode", "FAILFAST").json(path)
    return _profile(d)


def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest: distributed write (quoted/escaped) → schema'd
    FAILFAST read with matching quote/escape options → profile."""
    path = _ingest_dir(spark, sf_dir, "csv")
    d = (
        spark.read.schema(DOC_SCHEMA)
        .option("mode", "FAILFAST")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return _profile(d)


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest: distributed columnar write → schema'd read → profile.
    ORC is Spark's second native columnar format (a warehouse migrating
    Hive-era data arrives as ORC); unlike the text formats there is no
    escaping layer, so the hash gate here proves the binary encode →
    decode path preserves every string byte-for-byte."""
    path = _ingest_dir(spark, sf_dir, "orc")
    d = spark.read.schema(DOC_SCHEMA).orc(path)
    return _profile(d)


def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest (Spark 4's NATIVE xml data source — no external
    package): distributed write with rowTag elements → schema'd
    FAILFAST read → profile. The derivation injects raw ``& < >``,
    double quotes and an entity-shaped token into every 5th doc, so a
    green hash proves the writer entity-escapes and the reader
    un-escapes byte-losslessly — the classic XML corruption class.
    ``ignoreSurroundingSpaces`` is forced OFF: the reader trims
    element whitespace by default, which would silently corrupt any
    text with leading/trailing spaces (empirically confirmed) — the
    fixtures happen to contain none, so only the option keeps the
    lossless claim true rather than accidentally true. Same scale
    shape as the other sources: both directions distributed, one small
    group-by."""
    path = _ingest_dir(spark, sf_dir, "xml")
    d = (
        spark.read.format("xml")
        .schema(DOC_SCHEMA)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .option("mode", "FAILFAST")
        .load(path)
    )
    return _profile(d)


QUERIES = {
    "src_jsonl_roundtrip": src_jsonl_roundtrip,
    "src_csv_roundtrip": src_csv_roundtrip,
    "src_orc_roundtrip": src_orc_roundtrip,
    "src_xml_roundtrip": src_xml_roundtrip,
}

def _profile_sql(tail: str) -> str:
    """The oracle mirror of _derived(tail) → _profile — ONE SQL
    definition, tail parameterized like the Spark side."""
    return f"""
WITH derived AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '{tail}'
              ELSE text END AS text
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_len,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
         AS sum_h32,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM derived GROUP BY lang ORDER BY lang
"""


_PROFILE_SQL = _profile_sql(_TAIL)

ORACLES = {
    "src_jsonl_roundtrip": _PROFILE_SQL,
    "src_csv_roundtrip": _PROFILE_SQL,
    "src_orc_roundtrip": _PROFILE_SQL,
    "src_xml_roundtrip": _profile_sql(_XML_TAIL),
}
