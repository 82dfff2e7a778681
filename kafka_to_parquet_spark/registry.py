"""Central registry of declared queries and their DuckDB oracle SQL.

Every operator module registers its queries at import time via the
``@query`` decorator. ``__spark_entry__.py`` (the driver contract)
exposes these dicts verbatim.

A query is a ``Callable[[SparkSession, str], DataFrame]`` taking the
session and an sf dir. The oracle is ANSI SQL runnable by DuckDB over
the same parquet tables (pre-registered views). Queries with no
SQL-expressible oracle (streaming state, LSH, multimodal stubs) are
registered with ``oracle=None`` and get the driver's rows-only check.

Naming discipline (the driver sorts columns by name before hashing):
every computed column is aliased identically in the Spark plan and the
oracle SQL.

Output-shape discipline: **no array/struct/map columns in a declared
query's result** — the driver's canonicalizer hashes scalar cells only,
so list-valued cells hash-mismatch even when equal. Serialize
collections to a deterministic scalar on BOTH sides: sorted + joined
strings for id/text lists (``array_join(sort_array(...), ',')`` ↔
``array_to_string(list_sort(...), ',')``), and integer 10^p units via
``functions.rounding.int_units`` for float lists (formatted doubles
render differently per engine; integers don't). Precedents:
q_agg_collect.nations, q_array_funcs.first3, q_multimodal_framesample
.sampled.
"""

from __future__ import annotations

from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as declared query ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are inside the function to avoid circular imports at
    # package-import time; each module body calls @query(...).
    from kafka_to_parquet_spark.operators import aggregates  # noqa: F401
    from kafka_to_parquet_spark.operators import composite  # noqa: F401
    from kafka_to_parquet_spark.operators import statistics  # noqa: F401
    from kafka_to_parquet_spark.operators import inference  # noqa: F401
    from kafka_to_parquet_spark.operators import graph  # noqa: F401
    from kafka_to_parquet_spark.operators import joins  # noqa: F401
    from kafka_to_parquet_spark.operators import relational  # noqa: F401
    from kafka_to_parquet_spark.operators import timeseries  # noqa: F401
    from kafka_to_parquet_spark.operators import tpch_more  # noqa: F401
    from kafka_to_parquet_spark.operators import tpch_batch3  # noqa: F401
    from kafka_to_parquet_spark.operators import tpch_batch4  # noqa: F401
    from kafka_to_parquet_spark.operators import mining  # noqa: F401
    from kafka_to_parquet_spark.operators import preference  # noqa: F401
    from kafka_to_parquet_spark.operators import warehouse  # noqa: F401
    from kafka_to_parquet_spark.operators import windows  # noqa: F401
    from kafka_to_parquet_spark.functions import scalar  # noqa: F401
    from kafka_to_parquet_spark.functions import text  # noqa: F401
    from kafka_to_parquet_spark.functions import vectors  # noqa: F401
    from kafka_to_parquet_spark.functions import udfs  # noqa: F401
    from kafka_to_parquet_spark.sources import kafka_analog  # noqa: F401
    from kafka_to_parquet_spark.sources import generator  # noqa: F401
    from kafka_to_parquet_spark.sources import partitioned  # noqa: F401
    from kafka_to_parquet_spark.sources import formats  # noqa: F401
    from kafka_to_parquet_spark.sources import avro_codec  # noqa: F401
    from kafka_to_parquet_spark.sinks import maintenance  # noqa: F401
    from kafka_to_parquet_spark.sinks import parquet_batch  # noqa: F401
    from kafka_to_parquet_spark.streaming import windows as swin  # noqa: F401
    from kafka_to_parquet_spark.streaming import stateful  # noqa: F401
    from kafka_to_parquet_spark.llm import clustering  # noqa: F401
    from kafka_to_parquet_spark.llm import components  # noqa: F401
    from kafka_to_parquet_spark.llm import corpus_stats  # noqa: F401
    from kafka_to_parquet_spark.llm import dedup  # noqa: F401
    from kafka_to_parquet_spark.llm import minhash  # noqa: F401
    from kafka_to_parquet_spark.llm import search  # noqa: F401
    from kafka_to_parquet_spark.llm import similarity  # noqa: F401
    from kafka_to_parquet_spark.llm import multimodal  # noqa: F401
    from kafka_to_parquet_spark.llm import linalg  # noqa: F401
    from kafka_to_parquet_spark.llm import pipeline  # noqa: F401
    from kafka_to_parquet_spark.operators import batch7  # noqa: F401
    from kafka_to_parquet_spark.operators import batch8  # noqa: F401
    from kafka_to_parquet_spark.operators import batch9  # noqa: F401
    from kafka_to_parquet_spark.operators import batch10  # noqa: F401
    from kafka_to_parquet_spark.operators import batch11  # noqa: F401
    from kafka_to_parquet_spark.operators import batch12  # noqa: F401
