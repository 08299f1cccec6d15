"""Structured Streaming ingestion → Bronze.

Replaces the reference's hand-rolled Kafka batch consumer with manual
OffsetAndMetadata commits (reference: dag_generator.py:362-473 — offsets
tracked at :408-412, committed after write at :453-455) with checkpointed
Structured Streaming: ``Trigger.AvailableNow`` gives the same
"consume everything new, exactly once, then stop" batch semantics with a
strictly stronger guarantee (atomic offset+output commit via checkpoint +
parquet sink transactionality). Every writer here runs with that trigger:
each call drains what is new and stops, so an orchestrator schedules it like
a batch job.

The file-stream path is exercised in tests; the Kafka path builds the same
plan against the kafka source (the connector jar isn't in this container, so
it is construct-only here — the option surface mirrors the reference's
topic/group/broker config, models.py:56-63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def with_stream_lineage(df: DataFrame, pipeline_id: str, schema_version: int) -> DataFrame:
    """Same lineage columns as batch Bronze (reference
    bronze_ingestion.py:190-196) so downstream layers are source-agnostic."""
    return (
        df.withColumn("_ingestion_date", F.current_date().cast("string"))
        .withColumn("_ingestion_timestamp", F.current_timestamp())
        .withColumn("_pipeline_id", F.lit(pipeline_id))
        .withColumn("_schema_version", F.lit(schema_version))
    )


def stream_dir_to_bronze(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    bronze_path: str,
    checkpoint_path: str,
    pipeline_id: str,
    fmt: str = "json",
    schema_version: int = 1,
) -> StreamingQuery:
    """Incrementally ingest files landing in a directory, exactly-once.

    Each invocation processes only files not yet recorded in the checkpoint —
    the streaming twin of the reference's "all-new messages per DAG run"
    semantics (5 runs → 48,000 records, zero duplicates; reference
    tex:165-166). Scale: source listing is incremental; the parquet sink
    commits atomically per micro-batch.
    """
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    stream = getattr(reader, fmt)(source_dir)
    lineage = with_stream_lineage(stream, pipeline_id, schema_version)
    return (
        lineage.writeStream.format("parquet")
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("_ingestion_date")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_to_table(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    keys: list[str],
    order_cols: list[str],
) -> StreamingQuery:
    """Streaming upsert: each micro-batch is CDC-merged (latest wins per
    key) into a parquet table via foreachBatch.

    foreachBatch is the escape hatch for sinks without native streaming
    support; the merge itself is the engine's upsert operator, so batch and
    streaming share one dedup semantics. The full-table rewrite per batch is
    the honest parquet limitation — on a real deployment the same code
    targets a Delta/Iceberg MERGE.
    """
    from autonomus_datapipeline_spark.operators.cdc import upsert_latest_wins

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            base = spark.read.parquet(table_path)
            exists = True
        except Exception:  # noqa: BLE001 — first batch: table absent
            exists = False
        if exists:
            merged = upsert_latest_wins(base, batch_df, keys, order_cols)
        else:
            merged = upsert_latest_wins(
                batch_df.limit(0), batch_df, keys, order_cols
            )
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(table_path)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema: T.StructType | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source → parsed value + the reference's metadata columns
    (_kafka_topic/_kafka_partition/_kafka_offset/_kafka_timestamp — reference
    dag_generator.py:400-406). Offsets live in the checkpoint, not a consumer
    group (exactly-once without manual commits)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_records(raw, value_schema)


def parse_kafka_records(
    raw: DataFrame, value_schema: T.StructType | None = None
) -> DataFrame:
    """Kafka record parsing, factored out so it is testable on any DataFrame
    with the kafka source shape (topic/partition/offset/timestamp/value):
    metadata columns renamed to the reference's _kafka_* names and the JSON
    value parsed against an explicit schema (single from_json pass)."""
    out = raw.select(
        F.col("topic").alias("_kafka_topic"),
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
        F.col("timestamp").alias("_kafka_timestamp"),
        F.col("value").cast("string").alias("_raw_value"),
    )
    if value_schema is not None:
        out = out.withColumn(
            "_parsed", F.from_json("_raw_value", value_schema)
        ).select("_parsed.*", *[c for c in out.columns if c != "_raw_value"])
    return out
