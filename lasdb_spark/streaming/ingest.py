"""Continuous point-cloud ingest via Structured Streaming.

The reference ingests directories of LAS files in a sequential client
loop (pipeline/import_data.py:101-139). The streaming-native version:
new point files land in a directory, each micro-batch is quantized,
Morton-encoded and appended to the stored layout; a periodic
compaction pass restores the global key order that makes range pruning
sharp.

Scale shape: encode is map-only (native Columns, no shuffle), so a
micro-batch writes in one pass. Appended files are each key-sorted but
overlap in key range; query pruning still works (per-file row-group
stats) just with more false-positive files, and
``compact_dataset`` (lasdb_spark.operators.ingest) periodically
re-ranges. This is the standard LSM-ish ingest curve: O(1) append,
amortized re-sort.

Metadata note: a stream cannot compute dataset-wide metadata up front
— supply a ``DatasetMeta`` from a prior batch pass (or operator
config, as the reference's JSON scripts do). The grid must cover all
future points: pick offsets/bbox from the tile scheme, not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ingest import DatasetMeta, attach_sfc, record_path
from ..sources.las import POINT_SCHEMA


def read_point_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of raw points (one new file = one batch)."""
    return spark.readStream.schema(POINT_SCHEMA).parquet(path)


def stream_ingest_points(
    stream: DataFrame,
    meta: DatasetMeta,
    base_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Encode + append a point stream into the flat layout.

    Returns the started StreamingQuery; with ``available_now`` the
    query drains everything currently in the source and stops (the
    batch-backfill pattern); otherwise it runs until stopped."""
    # no per-batch sort: Structured Streaming forbids sorting on
    # append streams, so batch files land key-unsorted (row-group
    # stats still prune, just more coarsely) until compact_dataset
    # restores the global range order.
    enc = attach_sfc(stream, meta).select("x", "y", "z", "sfc_key")
    writer = (
        enc.writeStream.format("parquet")
        .option("path", record_path(base_path, meta.name))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
