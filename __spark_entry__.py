"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real content lives in the ``flink_1_12_0_spark`` package; this module
just re-exports the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_1_12_0_spark import registry  # noqa: E402
from flink_1_12_0_spark.tables import load_tables  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    load_tables(spark, "/root/testdata/sf0.001")
    return registry.QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Order matters: the correctness driver grades queries in dict order and
    stops after the first 50, so the registry emits its grading-window
    order (registry.ordered_queries): verification debt first, then the
    family pins, then the oldest grades.  The order is derived from the
    committed CORRECTNESS_r*.json files and text hashes on the first call
    and cached for the process.
    """
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted => rows-only check)."""
    return registry.ordered_oracles()
