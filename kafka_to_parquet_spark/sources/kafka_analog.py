"""Brokerless Kafka-record analog + reference-parity (R) queries.

The reference's data model is a Kafka record stream (SURVEY §1.1). The
test container has no broker, so we derive a stream-shaped DataFrame
with the Kafka source's columns from the deterministic ``events``
table: ``partition`` = event_id % 4, ``offset`` = event_id, ``key`` =
"Key {i}" (the reference producer's key shape, main.rs:77), ``value`` =
the JSON props payload — with 'error' events mapped to NULL to exercise
the reference's missing/invalid-payload path (main.rs:240-247).

All (R)-tier declared queries that operate on the record stream live
here: q_kafka_scan, q_decode_utf8, q_project_payload, q_count_batcher,
q_str_concat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.sources.kafka import payload_column
from kafka_to_parquet_spark.tables import load

N_PARTITIONS = 4
BATCH_SIZE = 100  # reference: --num-messages doubles as batch size (main.rs:358-364)

# DuckDB fragment mirroring kafka_records() — prefixed into the (R)
# oracles below. "offset"/"partition"/"timestamp"/"value" are quoted:
# reserved-ish words in ANSI/DuckDB.
_ANALOG_SQL = f"""
SELECT CAST(event_id AS BIGINT)                 AS "offset",
       CAST(event_id % {N_PARTITIONS} AS INTEGER)            AS "partition",
       concat('Key ', CAST(event_id AS VARCHAR)) AS "key",
       CASE WHEN event_type = 'error' THEN NULL ELSE props END AS "value",
       ts                                        AS "timestamp"
FROM events
"""


def with_batch_id(df: DataFrame, batch_size: int = BATCH_SIZE) -> DataFrame:
    """S4's batch-id assignment as a reusable op (single source of
    truth — q_count_batcher and the parquet sink both use it):
    batch_id = floor((row_number per partition by offset − 1) / N).
    Requires ``partition`` and ``offset`` columns."""
    w = Window.partitionBy("partition").orderBy("offset")
    return df.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(batch_size)).cast("long"),
    )


def kafka_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-shaped record stream (batch form)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("long").alias("offset"),
        (F.col("event_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.concat(F.lit("Key "), F.col("event_id").cast("string")).alias("key"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("value"),
        F.col("ts").alias("timestamp"),
    )


@query("q_kafka_scan", oracle=_ANALOG_SQL)
def q_kafka_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 analog: full scan of the record stream (main.rs:203-229,
    236-270). One Spark task per source partition; with a real broker
    this is kafka.kafka_stream() — identical downstream plan."""
    return kafka_records(spark, sf_dir)


@query(
    "q_decode_utf8",
    oracle=f"""
SELECT "offset", "partition", coalesce("value", '') AS b
FROM ({_ANALOG_SQL})
""",
)
def q_decode_utf8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: payload decode; None/invalid-UTF-8 → "" (main.rs:240-247,
    ``kafka.payload_column``) — row count preserved."""
    rec = kafka_records(spark, sf_dir)
    return rec.select("offset", "partition", payload_column())


@query(
    "q_project_payload",
    oracle=f"""SELECT coalesce("value", '') AS b FROM ({_ANALOG_SQL})""",
)
def q_project_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection to the payload-only single-column schema — the
    reference's entire persisted model (REQUIRED column ``b``,
    main.rs:113-117; all other fields logged and dropped,
    main.rs:249-255). Catalyst prunes the parquet scan to the columns
    feeding ``value``."""
    rec = kafka_records(spark, sf_dir)
    return rec.select(payload_column())


@query(
    "q_count_batcher",
    oracle=f"""
SELECT "offset", "partition",
       CAST(floor((row_number() OVER (PARTITION BY "partition" ORDER BY "offset") - 1)
                  / {BATCH_SIZE}) AS BIGINT) AS batch_id
FROM ({_ANALOG_SQL})
""",
)
def q_count_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the reference's count-based batcher (buffer N payloads →
    flush one file, main.rs:232-267) in its batch formulation:
    batch_id = floor((row_number per partition by offset − 1) / N).
    Per-partition counters never collide across partitions — same
    reason the reference's per-task counter is safe (SURVEY §3.1).
    Scale note: window is partitioned by source partition, so state is
    bounded per partition and shuffles hash-partition on the same key
    a real Kafka topic would."""
    rec = kafka_records(spark, sf_dir)
    return with_batch_id(rec, BATCH_SIZE).select("offset", "partition", "batch_id")


@query(
    "q_str_concat",
    oracle=f"""
SELECT DISTINCT
       concat('output/partition_', CAST("partition" AS VARCHAR),
              '_batch_', CAST(batch_id AS VARCHAR), '.parquet') AS path
FROM (
  SELECT "partition",
         CAST(floor((row_number() OVER (PARTITION BY "partition" ORDER BY "offset") - 1)
                    / {BATCH_SIZE}) AS BIGINT) AS batch_id
  FROM ({_ANALOG_SQL})
)
""",
)
def q_str_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string concat — the one scalar expression the reference
    evaluates (get_parquet_path, main.rs:274-283:
    "output/partition_{p}_batch_{b}.parquet")."""
    batched = q_count_batcher(spark, sf_dir)
    return batched.select(
        F.concat(
            F.lit("output/partition_"),
            F.col("partition").cast("string"),
            F.lit("_batch_"),
            F.col("batch_id").cast("string"),
            F.lit(".parquet"),
        ).alias("path")
    ).distinct()


@query(
    "q_consumer_lag",
    oracle=f"""
WITH r AS (
  SELECT "partition", "offset",
         row_number() OVER (PARTITION BY "partition" ORDER BY "offset") AS rk
  FROM ({_ANALOG_SQL})
),
s AS (
  SELECT "partition", CAST(count(*) AS BIGINT) AS n_msgs,
         CAST(max("offset") AS BIGINT) AS end_offset
  FROM r GROUP BY "partition"
)
SELECT s."partition", s.n_msgs, s.end_offset,
       CAST(s.n_msgs // {BATCH_SIZE} AS BIGINT) AS batches_committed,
       CAST(c."offset" AS BIGINT) AS committed_offset,
       CAST(s.n_msgs % {BATCH_SIZE} AS BIGINT) AS uncommitted
FROM s LEFT JOIN r c
  ON c."partition" = s."partition"
 AND c.rk = (s.n_msgs // {BATCH_SIZE}) * {BATCH_SIZE}
ORDER BY s."partition"
""",
)
def q_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-adjacent observability: the consumer-group lag report for the
    reference's commit discipline. The reference commits offsets only
    AFTER a full {BATCH_SIZE}-record batch is flushed to parquet
    (main.rs:256-267 buffers, then commits) — so at any instant each
    partition has ``n DIV {BATCH_SIZE}`` committed batches, its
    committed offset is the offset of the last record of the last FULL
    batch, and ``n mod {BATCH_SIZE}`` records are consumed-but-
    uncommitted: exactly the replay window a crash would reprocess.
    This query materializes that per-partition ledger — the
    ``kafka-consumer-groups --describe`` view of the analog stream.

    Engine stability: offsets, ranks and counts are exact integers;
    committed_offset is NULL (not 0) for a partition that never filled
    a batch — the LEFT JOIN misses rank 0.

    Shape: the rank window partitions by source partition (the Kafka
    consumption model — state bounded per partition), the summary is a
    |partitions|-row aggregate, and the rank→offset lookup joins that
    tiny summary back on (partition, rank). At 100 TB the only
    full-data stage is the per-partition window, which a real broker
    source gets for free from its per-partition ordering."""
    rec = kafka_records(spark, sf_dir)
    w = Window.partitionBy("partition").orderBy("offset")
    r = rec.select("partition", "offset", F.row_number().over(w).alias("rk"))
    s = r.groupBy("partition").agg(
        F.count("*").cast("long").alias("n_msgs"),
        F.max("offset").cast("long").alias("end_offset"),
    )
    c = r.select(
        F.col("partition").alias("p2"),
        F.col("rk").alias("rk2"),
        F.col("offset").alias("committed_offset"),
    )
    return (
        s.join(
            c,
            (F.col("partition") == F.col("p2"))
            & (F.col("rk2") == (F.expr(f"n_msgs DIV {BATCH_SIZE}") * BATCH_SIZE)),
            "left",
        )
        .select(
            "partition",
            "n_msgs",
            "end_offset",
            F.expr(f"CAST(n_msgs DIV {BATCH_SIZE} AS BIGINT)").alias(
                "batches_committed"
            ),
            F.col("committed_offset").cast("long"),
            F.expr(f"CAST(n_msgs % {BATCH_SIZE} AS BIGINT)").alias("uncommitted"),
        )
        .orderBy("partition")
    )
