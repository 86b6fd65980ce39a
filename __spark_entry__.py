"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``hyrise_generalized_dedup_spark`` package;
this module only aggregates the per-module query registries.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hyrise_generalized_dedup_spark.plans import (  # noqa: E402
    RELATIONAL_ORACLES,
    RELATIONAL_QUERIES,
)


def _full_registries() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    """Every individual query/oracle across all modules (pytest surface).

    A registry module that fails to import raises here rather than
    silently taking its queries off the driver surface."""
    from hyrise_generalized_dedup_spark.ann.queries import ANN_ORACLES, ANN_QUERIES
    from hyrise_generalized_dedup_spark.dedup.queries import DEDUP_ORACLES, DEDUP_QUERIES
    from hyrise_generalized_dedup_spark.functions.queries import TEXT_ORACLES, TEXT_QUERIES
    from hyrise_generalized_dedup_spark.sources.queries import SOURCE_ORACLES, SOURCE_QUERIES
    from hyrise_generalized_dedup_spark.stats.queries import STATS_ORACLES, STATS_QUERIES
    from hyrise_generalized_dedup_spark.streaming.queries import STREAM_ORACLES, STREAM_QUERIES

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for qs, os_ in [
        (RELATIONAL_QUERIES, RELATIONAL_ORACLES),
        (DEDUP_QUERIES, DEDUP_ORACLES),
        (TEXT_QUERIES, TEXT_ORACLES),
        (ANN_QUERIES, ANN_ORACLES),
        (STREAM_QUERIES, STREAM_ORACLES),
        (SOURCE_QUERIES, SOURCE_ORACLES),
        (STATS_QUERIES, STATS_ORACLES),
    ]:
        queries.update(qs)
        oracles.update(os_)
    return queries, oracles


def _all_registries() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    """The driver-facing registry: <=50 slots (the driver records rows for
    the first 50 only — round-1 finding, see plans/gates.py). Related gates
    are merged into tagged-union slots; every component stays individually
    oracle-checked in pytest."""
    from hyrise_generalized_dedup_spark.plans.gates import build_driver_registry

    return build_driver_registry(*_full_registries())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = the generalized-dedup segment statistics over `documents`
    once dedup.queries lands; until then TPC-H Q1 shape."""
    qs, _ = _all_registries()
    flagship = qs.get("gd_dedup_ratio", qs["q1_pricing_summary"])
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _all_registries()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for genuinely
    non-SQL-expressible ops -> driver records rows-only check)."""
    return _all_registries()[1]
