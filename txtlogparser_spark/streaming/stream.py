"""Structured Streaming variant of the pipeline (S3: continuous refresh).

The reference recomputes on every file change (OutputData.cpp:98-110
reloadFiles → full recompute). The streaming engine replaces recompute with
incremental processing: `readStream` over the sequences table directory
(file-arrival source; swap for Kafka/Iceberg incremental scan in
production), the batch plan itself (`LogPipeline.run` on each micro-batch:
per-row projections, filters and a broadcast join compose identically in
streaming), and per-micro-batch sink + metrics writes via `foreachBatch`.

Aggregates (A1-A3) are maintained incrementally: `foreachBatch` appends
per-batch partial counts; the exact totals are a trivial sum at read time
(partial+final aggregation moved to the storage layer, which keeps the
stream stateless and horizontally scalable — no unbounded state store).
A watermarked event-time rollup is provided for time-bucketed routing
metrics when rows carry timestamps.
"""

from __future__ import annotations

import os
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from txtlogparser_spark.plans.pipeline import LogPipeline


class StreamingLogPipeline:
    """Streaming wrapper around a LogPipeline's `run()`."""

    def __init__(self, pipe: LogPipeline) -> None:
        self.pipe = pipe

    def read_stream(self, path: str, schema: Optional[str] = None) -> DataFrame:
        reader = self.pipe.spark.readStream
        if schema is None:
            # infer from the existing static data (directory must be non-empty)
            schema = self.pipe.spark.read.parquet(path).schema
        return reader.schema(schema).option("maxFilesPerTrigger", 8).parquet(path)

    def routed_stream(self, stream: DataFrame) -> DataFrame:
        """`LogPipeline.run` on the stream or one micro-batch of it: the
        batch plan transfers verbatim."""
        return self.pipe.run(stream)

    def start(
        self,
        in_path: str,
        out_dir: str,
        *,
        checkpoint: Optional[str] = None,
        available_now: bool = True,
    ):
        """Start the stream: per-batch routed append + partial metrics.

        `available_now` drains the current backlog then stops (test/batch
        parity mode); continuous mode runs until stopped.
        """
        os.makedirs(out_dir, exist_ok=True)
        process_batch = self.batch_writer(out_dir)

        stream = self.read_stream(in_path)
        writer = (
            stream.writeStream.foreachBatch(process_batch)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(out_dir, "_checkpoint"),
            )
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def batch_writer(self, out_dir: str):
        """The foreachBatch function `start` installs — exposed so the
        at-least-once replay contract (same batch_id rewrites, never
        duplicates) is directly testable."""
        routed_sink = os.path.join(out_dir, "routed")
        metrics_sink = os.path.join(out_dir, "filter_metrics_partial")

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            # foreachBatch is at-least-once: a failure between the two
            # writes (or after either committed) replays the SAME
            # batch_id on restart. Both sinks are therefore partitioned
            # by batch_id and written with DYNAMIC partition overwrite —
            # a replay rewrites exactly its own batch_id=N partition
            # instead of appending a duplicate, so routed rows are never
            # doubled and filter_totals' partial sums stay exact without
            # any read-time dedup.
            if batch_df.isEmpty():
                return
            routed = self.routed_stream(batch_df).persist()
            try:
                (
                    routed.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(routed_sink)
                )
                (
                    self.pipe.filter_counts(routed)
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(metrics_sink)
                )
            finally:
                routed.unpersist()

        return process_batch

    @staticmethod
    def filter_totals(spark: SparkSession, out_dir: str) -> DataFrame:
        """Exact running totals from the partial-counts sink."""
        partial = spark.read.parquet(
            os.path.join(out_dir, "filter_metrics_partial")
        )
        return partial.groupBy("filter_id").agg(
            F.sum("occurrence_count").alias("occurrence_count"),
            F.sum("line_count").alias("line_count"),
        )
