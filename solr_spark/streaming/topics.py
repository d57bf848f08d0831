"""Solr streaming/continuous semantics on Structured Streaming.

Reference mapping (SURVEY.md §2.9):

- ``topic``  (solrj io/stream/TopicStream.java, 554 LoC): incremental
  pub/sub over an index — Solr checkpoints the max ``_version_`` per shard
  and each call returns only newer docs. Spark: ``readStream`` over the
  table's directory with a checkpointLocation — offsets tracking IS the
  version checkpoint, handled by the engine.
- ``daemon`` (io/stream/DaemonStream.java): run a wrapped expression
  repeatedly on an interval inside Solr. Spark: the same query with
  ``trigger(processingTime=...)``; ``availableNow`` gives the run-once
  batch-drain mode.
- ``update``/``commit`` streams (io/stream/UpdateStream.java,
  CommitStream.java): sink a tuple stream into a collection with batched
  commits. Spark: ``foreachBatch`` writing a new segment GENERATION per
  micro-batch through the same build_segments used for batch indexing —
  each micro-batch commit = a Lucene soft commit publishing a new
  generation; ``merge_index`` is the background merge policy. Exactly the
  Solr update→flush→merge lifecycle, checkpointed both by Spark's offsets
  and by our per-partition manifests.
- Watermarked windows: Solr has no event-time semantics; provided here
  because a Spark-native engine gets them for free
  (``windowed_event_counts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def topic_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    fmt: str = "parquet",
    predicate=None,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Incremental reader over a growing table directory (the `topic`).

    Each trigger sees only files appended since the checkpoint — the same
    contract as TopicStream's version checkpointing, minus the HTTP.
    ``max_files_per_trigger=1`` gives one micro-batch per appended file
    (the shape the cross-batch dedup-store tests drive)."""
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    return stream.where(predicate) if predicate is not None else stream


def daemon_query(
    stream: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    interval: str | None = None,
) -> StreamingQuery:
    """`daemon(...)`: run the wrapped stream repeatedly.

    interval=None runs availableNow (drain everything once, then stop) —
    the mode tests use; an interval string gives the resident daemon."""
    writer = stream.writeStream.foreachBatch(sink_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def incremental_index_sink(
    index_dir: str,
    n_partitions: int = 8,
    analyzer: str = "simple",
    id_col: str = "docid",
    text_col: str = "content",
):
    """foreachBatch sink: every micro-batch becomes a new segment GENERATION.

    batch_id maps to the generation number, so replays of a failed batch hit
    the manifest-resume path (already-committed partitions are skipped) —
    exactly-once segment publication on top of Spark's at-least-once
    foreachBatch contract. A micro-batch within build_segments' driver
    limits is built on the driver after its bounded collect (one Spark
    job, two if a doc is longer than 16 KiB); a larger one is the Spark
    build. The generation is marked
    complete once all its partitions are written, and becomes searchable
    at the next finalize_index, the commit. Run merge_index periodically
    to compact generations (the TieredMergePolicy role)."""
    from solr_spark.index.segments import build_segments

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        build_segments(
            batch_df,
            index_dir,
            n_partitions=n_partitions,
            analyzer=analyzer,
            generation=int(batch_id),
            id_col=id_col,
            text_col=text_col,
        )

    return sink


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts over an event stream:
    (window, event_type, n, total). Late rows beyond the watermark drop."""
    w = F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )
