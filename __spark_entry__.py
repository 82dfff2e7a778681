"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash). ``queries()`` returns all declared queries in
registration order; ``tools/verify_oracle.py`` runs the same comparison
locally over every one of them.

All real logic lives in the ``kafka_to_parquet_spark`` package; this
module only adapts the package's query registry to the driver's
interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_to_parquet_spark import registry

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style aggregation over lineitem) on
    /root/testdata/sf0.001; driver checks rows>0."""
    registry.load_all()
    return registry.QUERIES["q_agg_groupby"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, in registration order (``registry.load_all``
    import order, then declaration order within each module)."""
    registry.load_all()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; queries
    absent here (approx sketches, LSH, genuine streaming state,
    non-deterministic-emission ops) get the driver's rows-only check."""
    registry.load_all()
    return dict(registry.ORACLE_SQL)
