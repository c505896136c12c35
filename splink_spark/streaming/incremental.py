"""Streaming incremental linkage — micro-batch scoring of new records.

The reference is batch-only; its nearest concept is
``find_matches_to_new_records`` (reference: splink/linker.py). Here
that operator becomes a Structured Streaming sink: each micro-batch of
new records is scored against the static (persisted) base via the same
broadcast-join path, and appended to a parquet edge log.

New records are broadcast into the blocking key join per micro-batch,
so the base's key table does not shuffle for it. With several rules the
kept pairs are attached to the base by uid, and once the base is too
big to broadcast that attach shuffles the base once per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from splink_spark.plans.linker import Linker


def stream_matches_to_new_records(
    linker: Linker,
    new_records_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    threshold_match_probability: float = 0.5,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Score a stream of new records against the linker's base.

    ``new_records_stream`` must be a streaming DataFrame with the same
    schema as the base input. Output: append-mode parquet of match
    edges. Checkpointed — restart-safe (exactly-once per micro-batch).
    """

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        preds = linker.find_matches_to_new_records(
            batch_df,
            threshold_match_probability=threshold_match_probability,
        )
        preds.write.mode("append").parquet(output_path)

    writer = (
        new_records_stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    pages_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    event_time_col: str = "warc_ts",
    watermark: str = "10 minutes",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup: emit only first-seen documents by content
    fingerprint, with late-data bounds.

    State discipline at web-crawl scale: an unbounded
    ``dropDuplicates`` would grow state forever; the watermark on the
    crawl timestamp bounds it — a fingerprint re-arriving later than
    the watermark is admitted as a new document (exactly the recrawl
    semantics a training-data pipeline wants: near-in-time duplicates
    are the crawler echo, far-in-time ones are a fresh snapshot worth
    keeping for dedup DOWNSTREAM in batch).

    Uses dropDuplicatesWithinWatermark (Spark 3.5+): dedup keyed on the
    fingerprint only, state expired by event time.
    """
    from pyspark.sql import functions as F

    from splink_spark.functions.text import doc_fingerprint

    fp = pages_stream.withColumn(
        "fingerprint", doc_fingerprint(text_col)
    ).withWatermark(event_time_col, watermark)
    deduped = fp.dropDuplicatesWithinWatermark(["fingerprint"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(
    events_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watermarked tumbling-window counts over an event stream —
    the canonical late-data-tolerant streaming aggregation
    (readStream -> withWatermark -> window groupBy -> append sink).

    Events later than ``watermark_delay`` behind the max observed
    timestamp are dropped; a window's row is emitted exactly once,
    when the watermark passes its end (append mode), so the parquet
    sink never needs upserts. State per key x open window is bounded
    by the watermark — constant memory at any stream length.
    """
    from pyspark.sql import functions as F

    agg = (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(
    events_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = "value",
    gap_minutes: float = 30.0,
    watermark_delay: str = "30 minutes",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming gap-based sessionization — the streaming mirror of
    ``operators.sessions.sessionize`` + ``session_stats``, built on
    Spark's native ``session_window`` (dynamic-gap session windows
    merged by the state store, not a custom stateful UDF).

    Semantics match the batch operator: a session extends while
    consecutive events are within ``gap_minutes`` of each other; its
    row (user, session start/end, n_events, duration_us, sum_value)
    is emitted exactly once, when the watermark passes the session's
    close (append mode). ``duration_us`` is last-minus-first event
    time in integer microseconds — session_window's ``end`` includes
    the trailing gap, so the span is aggregated from the event
    timestamps themselves, exactly like the batch ``session_stats``.

    State per (user, open session) is bounded by the watermark:
    events later than ``watermark_delay`` are dropped and a closed
    session's state is evicted — constant memory at any stream
    length, the property a driver-side batch window would not have.
    """
    from pyspark.sql import functions as F

    gap_expr = f"{int(gap_minutes * 60)} seconds"
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    ]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    agg = (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap_expr).alias("sw"),
        )
        .agg(*aggs)
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "duration_us",
            *(["sum_value"] if value_col else []),
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_cluster_assignments(
    spark, state_path: str
) -> "DataFrame | None":
    """Read the newest versioned assignment snapshot under
    ``state_path`` (written by ``stream_incremental_clusters``), or
    None before the first batch."""
    import os

    if not os.path.isdir(state_path):
        return None
    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(state_path)
        if d.startswith("v=")
    ]
    if not versions:
        return None
    return spark.read.parquet(
        os.path.join(state_path, f"v={max(versions)}")
    )


def stream_incremental_clusters(
    edges_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    src: str = "unique_id_l",
    dst: str = "unique_id_r",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming transitive clustering: maintain a (unique_id,
    cluster_id) assignment table as match edges arrive, each
    micro-batch folded in via ``incremental_connected_components`` —
    the delta-graph CC runs over the clusters the batch TOUCHES, never
    over the full historical edge set, and labels stay identical to a
    full batch re-run (min-member-id invariant).

    State is a versioned parquet snapshot per micro-batch
    (``state_path/v=<batch_id>``): the overwrite of a batch's own
    version directory is idempotent under checkpoint replay, so the
    stream is restart-safe; ``latest_cluster_assignments`` reads the
    current table. reference: n/a (splink is batch-only; this is the
    north-rule streaming counterpart of O15)."""
    import os

    from pyspark.sql import functions as F

    from splink_spark.operators.cluster import (
        incremental_connected_components,
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        prior = latest_cluster_assignments(spark, state_path)
        if prior is None:
            prior = (
                batch_df.select(F.col(src).alias("unique_id"))
                .limit(0)
                .withColumn("cluster_id", F.col("unique_id"))
            )
        updated = incremental_connected_components(
            prior, batch_df, src=src, dst=dst
        )
        updated.write.mode("overwrite").parquet(
            os.path.join(state_path, f"v={batch_id}")
        )

    writer = (
        edges_stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
