"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001;
``queries()`` maps every implemented SURVEY §2 operator to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for the correctness gate. Both are plain unions
of the ``QUERIES``/``ORACLES`` dicts of the modules below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from task_hive_spark.session import RUNTIME_CONF


def _registry_modules() -> tuple:
    """Every module that registers queries, each imported once."""
    from task_hive_spark.operators import (
        assign,
        dedup,
        graph,
        htmlextract,
        multimodal,
        pipeline,
        processors,
        queries as q,
        relational,
        similarity,
        sketches,
        textops,
        unigram_lm,
    )
    from task_hive_spark.plans import catalog
    from task_hive_spark.sources import arrowipc, avro, protowire, textfiles, warc
    from task_hive_spark.streaming import (
        cdcmerge,
        dedupstream,
        lifecycle,
        minhashstream,
        sketchstream,
        stateful,
        timers,
    )

    return (
        q,
        assign,
        processors,
        multimodal,
        catalog,
        relational,
        textops,
        htmlextract,
        similarity,
        dedup,
        graph,
        lifecycle,
        stateful,
        timers,
        dedupstream,
        cdcmerge,
        minhashstream,
        textfiles,
        avro,
        protowire,
        warc,
        arrowipc,
        pipeline,
        unigram_lm,
        sketches,
        sketchstream,
    )


def _ensure_session_conf(spark: SparkSession) -> None:
    """Apply the runtime confs ``get_spark`` builds with (the driver may
    hand us a session built without them)."""
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: task stats (SURVEY §3.3) on sf0.001."""
    _ensure_session_conf(spark)
    from task_hive_spark.operators.queries import th_stats

    return th_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def inner(spark, sf_dir):
            _ensure_session_conf(spark)
            return fn(spark, sf_dir)

        return inner

    return {
        k: _wrap(v) for m in _registry_modules() for k, v in m.QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    return {k: v for m in _registry_modules() for k, v in m.ORACLES.items()}
