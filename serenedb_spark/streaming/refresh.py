"""Structured-Streaming index maintenance — the reference's ingestion path
(WAL append → background refresh loop making writes searchable;
server/search/search_db_wal.cpp, server/search/task.h:32-43) re-expressed
as ``readStream → foreachBatch(SearchTable.insert)``.

The micro-batch id plays the reference's monotonic tick
(tick_domain.h:29-45): batches are applied in order and a read after any
batch sees a consistent snapshot. ``Trigger.AvailableNow`` is the
equivalent of ``VACUUM (REFRESH_TABLE t)`` — drain everything pending,
then stop (tests/sqllogic/sdb/pg/index/basic.test:17).

Also provides the watermarked windowed-aggregation shape over the events
stream — the Spark-native feature the reference lacks (SURVEY §2.12 calls
this the tasteful-extension slot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_into_search_table(
    stream_df: DataFrame,
    table,
    checkpoint: str,
    available_now: bool = True,
):
    """Pipe a streaming DataFrame into any table with ``insert`` (a
    SearchTable, or a DiskSearchTable for durable ingest): each
    micro-batch is one insert (one tick). Returns the StreamingQuery;
    with ``available_now`` the caller should ``awaitTermination()`` then
    read ``table.index()`` for the refreshed snapshot.

    On a DiskSearchTable each batch lands as ONE committed parquet
    segment (segment write, then an atomic manifest flip), so a crash
    mid-batch leaves the previous snapshot; vacuum after recovery."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        table.insert(batch)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream:
    late rows beyond the watermark are dropped, state is bounded — the
    100 TB-safe streaming aggregate. Works on batch DataFrames too
    (identical plan minus state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
