"""Structured-Streaming layer (SURVEY §2.10).

The reference's streaming semantics are batch-with-watermark; the
idiomatic Spark forms are:

- file-stream source over a drop-zone directory (``readStream``),
- ``withWatermark`` for the 1-hour late-data overlap (:191-198),
- the SAME window builders as the batch queries (plans/windows.py),
- streaming dedup (``dropDuplicatesWithinWatermark``, bounded state)
  replacing the cross-page ``processed_order_ids`` set (:285-347),
- a ``foreachBatch`` upsert sink reusing the MERGE rewrite — the
  idempotent-write contract of :572-583.

Tests assert availableNow-trigger streaming == the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from shopify_youtube_etl_spark.operators.upsert import ParquetTable


def read_event_stream(
    spark: SparkSession, path: str, schema, watermark_delay: str = "1 hour"
) -> DataFrame:
    """File-stream source with the reference's 1 h late-data tolerance."""
    return (
        spark.readStream.schema(schema).json(path).withWatermark("ts", watermark_delay)
    )


def streaming_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming keep-one-per-key — the distributed form of the
    driver-memory ``processed_order_ids`` set (:285-347).

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), NOT plain
    ``dropDuplicates``: with keys like ``['event_id']`` that exclude the
    event-time column, ``dropDuplicates`` state is never evicted even
    with ``withWatermark`` set (eviction only happens when the
    event-time column is part of the key subset) — unbounded state at
    100 TB.  ``dropDuplicatesWithinWatermark`` evicts a key's state once
    the watermark passes its event time + delay, so state is bounded by
    the late-data window (ADVICE round 1).  Requires ``withWatermark``
    on ``events`` (read_event_stream sets it)."""
    return events.dropDuplicatesWithinWatermark(keys)


def foreach_batch_upsert(table: ParquetTable, keys: list[str]):
    """foreachBatch sink: MERGE each micro-batch into a parquet table —
    idempotent on re-delivery (exactly-once effect on keys), the Spark
    form of the reference's staging→MERGE discipline (:558-590).

    The write is the segment-pruned keyed merge (r7 verdict #1): each
    micro-batch rewrites only the segments its keys can touch and lands
    itself as a fresh stats-bearing segment, so the per-batch sink cost
    is O(batch + intersecting segments) — a streaming sink that
    rewrote the whole table per micro-batch would be the exact write
    amplification the merge exists to remove."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert_matching(batch_df.dropDuplicates(keys), keys, auto_compact_at=64)

    return _sink


def write_with_upsert(
    stream_df: DataFrame, table: ParquetTable, keys: list[str], checkpoint: str
) -> DataStreamWriter:
    return (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(foreach_batch_upsert(table, keys))
    )


def enrich_stream(events: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static dimension enrichment — the lookup every streaming
    ETL does on arrival (the reference does it driver-side per page;
    here it's a broadcast hash join planned once per micro-batch, so
    the static side never shuffles the stream).  The static side is
    re-read each batch by Structured Streaming's contract, so a dim
    table updated between batches is picked up automatically; at 100 TB
    keep the dim broadcast-sized or pre-bucket it on the key."""
    return events.join(F.broadcast(dim), key, "left")


def two_level_window_agg(events: DataFrame) -> DataFrame:
    """CHAINED stateful aggregation (Spark 3.5+ multiple-stateful-
    operator support): 15-minute tumbling partials re-aggregated into
    hourly windows INSIDE one streaming query — ``window_time()`` gives
    the first window's event-time column so the second ``window()``
    can treat finalized 15-min rows as events.  The scale point: the
    hourly state operates on 4 rows/hour instead of raw events, the
    same partial→final cascade batch Catalyst builds automatically,
    made explicit across streaming state boundaries.  Works in append
    mode only (each level emits when the watermark closes it)."""
    quarter = (
        events.groupBy(F.window("ts", "15 minutes").alias("w15"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
    )
    return (
        quarter.groupBy(F.window(F.window_time("w15"), "1 hour").alias("w"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("value_sum"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n_events",
            "total_value",
        )
    )
