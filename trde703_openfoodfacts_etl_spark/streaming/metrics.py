"""Streaming observability: watermarked windowed metrics over the change feed.

State correctness never needs a watermark — LWW on (ts, lsn) is
order-independent, so late events are handled by the merge itself
(SURVEY.md §2.9). The watermark only bounds state for *metrics* aggregations:
events/sec per window, op mix, late-event counts — the per-partition
throughput/skew feed the north rule asks for.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def windowed_op_metrics(stream_df, window: str = "1 minute", watermark: str = "5 minutes"):
    """events per (window, op) with late-data bound — append-mode safe."""
    return (
        stream_df.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact distinct is unsupported on streams; HLL sketch is the
            # scale-correct choice anyway
            F.approx_count_distinct("conv_id").alias("n_conversations"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "op",
            "n_events",
            "n_conversations",
        )
    )


def session_window_metrics(stream_df, gap: str = "30 minutes", watermark: str = "1 hour"):
    """Per-conversation activity sessions on the live stream:
    ``session_window`` groups events separated by < gap into one session —
    the streaming-native sessionization (batch analog: q16_sessionize)."""
    return (
        stream_df.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("s"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "conv_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def drain_to_memory(spark, segments_dir: str, source_schema, checkpoint_dir: str,
                    query_name: str, plan, output_mode: str = "append"):
    """Run ``plan(stream)`` over everything currently in the WAL dir
    (available-now trigger + memory sink: synchronous for tests/bench; a
    production run writes to a metrics topic/table instead) and return the
    sink table."""
    stream = spark.readStream.schema(source_schema).parquet(segments_dir)
    q = (
        plan(stream).writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_session_stream(spark, segments_dir: str, source_schema, checkpoint_dir: str,
                       query_name: str = "feed_sessions",
                       gap: str = "30 minutes", watermark: str = "1 hour"):
    return drain_to_memory(
        spark, segments_dir, source_schema, checkpoint_dir, query_name,
        lambda s: session_window_metrics(s, gap, watermark),
    )


def run_metrics_stream(spark, segments_dir: str, source_schema, checkpoint_dir: str,
                       query_name: str = "feed_metrics",
                       window: str = "1 minute", watermark: str = "5 minutes"):
    """Drive the windowed op metrics through :func:`drain_to_memory`."""
    return drain_to_memory(
        spark, segments_dir, source_schema, checkpoint_dir, query_name,
        lambda s: windowed_op_metrics(s, window, watermark),
    )
