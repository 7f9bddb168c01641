"""Structured-Streaming ingest: the NRT indexing path.

The reference's near-real-time model — bulk requests buffer into an
in-memory segment published by refresh (default 1 s,
``server/src/main/java/org/elasticsearch/index/IndexSettings.java:252-255``),
with the translog guaranteeing durability between refreshes — maps onto
Structured Streaming directly:

    micro-batch            = one `_bulk`
    foreachBatch commit    = refresh (segments become searchable)
    checkpointLocation     = translog + seqno checkpoints (exactly-once
                             replay of uncommitted batches)
    trigger interval       = index.refresh_interval

Streamed corpora are **data streams** in the reference's sense
(``server/.../cluster/metadata/DataStream.java:48``): append-only,
timestamp-keyed — update semantics stay with the batch upsert path.

Each micro-batch builds complete immutable segments through the SAME
segment builder as the batch path (one shuffle, per-partition postings
build), with segment ids namespaced by batch so doc ids never collide:
``seg = (batch_id + 1) * num_partitions + pid`` and doc ids carry the seg
base. A batch's commit is its segments' manifests plus the index meta's
doc totals (``_commit_meta``); each segment carries its own term
dictionary, so there is no term-stats table to fold, and a replayed batch
rebuilds nothing its manifests already committed. Background tiered merge
(operators/merge.py) compacts the accumulating small segments — the
streaming analog of ES's merge policy.

Also here: watermarked event-time windowed aggregation
(``windowed_event_counts``) — the streaming date_histogram.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import METRICS_SCHEMA, segment_builder
from ..sources import index_store as store


def _commit_meta(index_dir: str, analyzer: str, num_partitions: int) -> None:
    """Per-batch commit: the index meta's doc totals (``store.doc_totals``
    over the live segments, merged ones included). The batch's segments
    carry their own term dictionaries, so there are no term stats to fold
    and a replayed batch has nothing to double-count."""
    # UPDATE the persisted meta, never rebuild it: a fresh IndexMeta here
    # would clobber analyzer_config/index_sort/num_shards/settings/seg_map
    # (and custom k1/b) that create_index or a background merge persisted
    try:
        meta = store.IndexMeta.load(index_dir)
    except FileNotFoundError:
        meta = store.IndexMeta(analyzer=analyzer, num_partitions=num_partitions)
    meta.doc_count, meta.sum_dl = store.doc_totals(index_dir)
    meta.save(index_dir)


def start_indexing_stream(
    spark: SparkSession,
    pages_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    num_partitions: int = 8,
    analyzer: str = "standard",
    trigger: dict | None = None,
):
    """pages stream → per-batch segment build. Returns the StreamingQuery.

    trigger: e.g. {"processingTime": "1 second"} (the refresh interval) or
    {"availableNow": True} (drain-and-stop, used in tests)."""
    os.makedirs(index_dir, exist_ok=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # seg ids must stay below the op-batch namespace, and the mapping
        # must be a pure function of batch_id (checkpoint REPLAY of a
        # half-written batch has to regenerate the same ids for the
        # manifest dedupe to make it idempotent) — so exhaustion is a loud
        # error, not a wrap-around
        if (batch_id + 2) * num_partitions > store.OPS_SEG_BASE:
            raise ValueError(
                f"streaming segment namespace exhausted at micro-batch "
                f"{batch_id} (num_partitions={num_partitions} allows "
                f"{store.OPS_SEG_BASE // num_partitions - 1} batches); "
                "use a longer trigger interval, fewer partitions, or "
                "rebuild the index")
        cols = [c for c in batch_df.columns if c != "html"]
        routed = batch_df.select(*cols).withColumn(
            "pid",
            (
                F.lit((batch_id + 1) * num_partitions)
                + F.pmod(F.xxhash64("url"), F.lit(num_partitions))
            ).cast("int"),
        )
        routed.groupBy("pid").applyInPandas(
            segment_builder(index_dir, analyzer), METRICS_SCHEMA
        ).collect()
        _commit_meta(index_dir, analyzer, num_partitions)

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming date_histogram
    with bounded state: events later than `watermark` behind the max seen
    event time are dropped and their windows finalized."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("doc_count"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "doc_count",
            "sum_value",
        )
    )
