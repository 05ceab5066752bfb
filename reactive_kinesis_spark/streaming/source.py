"""Stream source builders (S1/S2 in SURVEY.md §2.1).

The reference starts a KCL worker with one record processor per shard
(consumer/KinesisConsumer.scala:124-171,207-226); in Spark the source
connector's partitions ARE the shards and the micro-batch planner replaces
the per-shard manager. These builders produce streaming DataFrames with the
canonical EVENT_SCHEMA from files or the rate source; the Kinesis sources
(``kinesis_live``, fed by ``ConsumerConfig.reader_options()``, and
``kinesis_replay``) emit the same schema, so every downstream operator is
source-agnostic.

Rate control: the reference caps fetches at ``maxRecords`` per GetRecords
(reference.conf:479-482) and relies on blocking dispatch for backpressure
(ConsumerProcessingManager.scala:107-121). Spark's pull model makes
backpressure implicit; the per-trigger caps (``maxFilesPerTrigger`` /
connector rate options) are the tuning knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactive_kinesis_spark.schemas import EVENT_SCHEMA


def file_stream_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of EVENT_SCHEMA records from a directory — the test
    and replay source (the reference's integration harness seeds a stream
    the same way, it/.../common/KinesisSuite.scala:283-302)."""
    reader = spark.readStream.schema(EVENT_SCHEMA).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def rate_stream_source(
    spark: SparkSession,
    rows_per_second: int = 1_000,
    num_shards: int = 2,
    stream_name: str = "rate-stream",
) -> DataFrame:
    """Synthetic EVENT_SCHEMA stream from the built-in rate source —
    sequential integer payloads per shard, the shape of the reference's
    reliability test (it/.../SimpleKinesisProducer pumping sequential ints,
    sample.conf:10-22)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    shard = (F.col("value") % num_shards).cast("string")
    return rate.select(
        F.lit(stream_name).alias("stream_name"),
        F.concat(F.lit("shardId-"), F.lpad(shard, 12, "0")).alias("shard_id"),
        shard.alias("partition_key"),
        F.lpad((F.col("value")).cast("string"), 20, "0").alias("sequence_number"),
        F.lit(0).cast("long").alias("sub_sequence_number"),
        F.col("value").cast("string").cast("binary").alias("payload"),
        F.col("timestamp").alias("approximate_arrival_timestamp"),
    )
