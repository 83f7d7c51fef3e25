"""Continuous ingest: a Structured Streaming source upserted into a
:class:`~vectra_py_spark.index.SparkVectorIndex`.

The reference's ingest is a blocking per-document call
(``local_document_index.py`` upsert path); its explicit scale ceiling is
one process's memory. The Spark-native shape is a stream:
``readStream`` (files landing in a drop directory, Kafka, …) →
``foreachBatch`` → :meth:`SparkVectorIndex.merge_batch` — each
micro-batch is one distributed MERGE job, checkpointing gives
exactly-once per batch id, and ``Trigger.AvailableNow`` turns the same
query into an incremental batch backfill (process everything new, then
stop — the cron-friendly mode).

100 TB notes: merge_batch rewrites the touched buckets (plain-Parquet MERGE);
on a real deployment the same ``foreachBatch`` body becomes a Delta
MERGE (file-level rewrite only) or an append-only table compacted by
`sources/maintenance.py`. The streaming plumbing — trigger, checkpoint,
batch contract — is identical in all three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from vectra_py_spark.index import SparkVectorIndex

__all__ = ["stream_upsert"]


def stream_upsert(
    index: SparkVectorIndex,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query that MERGEs every micro-batch of items
    (``id``, ``vector``[, ``metadata``…]) into ``index``.

    ``available_now=True`` (default) drains whatever is currently in
    the source and stops — call repeatedly for incremental backfills;
    ``False`` runs continuously on the default trigger.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        index.merge_batch(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"stream_upsert_{id(index)}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
