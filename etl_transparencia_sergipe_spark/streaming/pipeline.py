"""Streaming sources/sinks: parquet-backed event and file streams, the
one availableNow foreachBatch driver the ingest sinks run under, a
memory-sink test harness, and the foreachBatch hive-partitioned sink
that mirrors the reference's
``data/processed/{cidade}/{cidade}_royalties_{ano}_{mes}.csv`` layout
(aracaju_barra_pirambu_scraper.py:289-291) as
``{sink}/ingest_batch=*/event_type=*/event_date=*`` partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int = 1) -> DataFrame:
    """events table as a file stream (one file per micro-batch by default —
    the 'lote' batch-windowing knob, pacatuba_scraper.py:405-428)."""
    import os

    from ..sources.catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The ts encoding varies across generator versions (nanos long vs micros
    # timestamp): streams need an explicit schema, so take it from the
    # parquet footer of the actual file instead of hardcoding one.
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # FileStreamSource requires a directory; select just the events file
    # from the sf dir with a glob filter.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def file_stream(spark: SparkSession, src_dir: str,
                max_files_per_trigger: int = 1) -> DataFrame:
    """A parquet directory as a file stream (one file per micro-batch by
    default — each file is an ingest 'lote')."""
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def ingest_files(spark: SparkSession, src_dir: str, sink,
                 checkpoint_dir: str, max_files_per_trigger: int = 1):
    """Drive the foreachBatch ``sink`` over every file of ``src_dir`` to
    completion (availableNow); returns the finished query handle."""
    q = (
        file_stream(spark, src_dir, max_files_per_trigger).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def overwrite_batch(df: DataFrame, path: str, epoch: int) -> None:
    """Write one micro-batch's output rows under ``batch_id=<epoch>``,
    replacing only that partition, so a replayed epoch rewrites its own
    output (the epoch_store.write contract, for the sinks' flags,
    matches and drift tables)."""
    (df.withColumn("batch_id", F.lit(int(epoch)))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id")
     .parquet(path))


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming frame to completion synchronously into a memory
    sink; returns the query handle (caller reads ``SELECT * FROM name``)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


def foreach_batch_partitioned_sink(out_dir: str):
    """foreachBatch sink writing hive partitions by (event_type,
    event_date) under each epoch's own ``ingest_batch`` partition
    (epoch_store.write) — a replayed epoch overwrites only its own rows,
    the streaming analog of the reference re-running a month and
    overwriting its CSV (file_utils.py:57)."""
    from etl_transparencia_sergipe_spark.operators import epoch_store

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_store.write(batch_df.withColumn("event_date",
                                              F.to_date("ts")),
                          out_dir, epoch_id,
                          partition_by=["event_type", "event_date"])

    return write_batch
