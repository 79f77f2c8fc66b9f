"""Streaming surface.

The reference has NO streaming operators (SURVEY.md §2.11 — it is a
synchronous request/response Flask service, ``pdf_api/app.py:67-69``), and
the north_rule mandates *batch* with checkpoint resume, which lineage.py
implements. This module provides the idiomatic streaming extensions:
incremental extraction of newly-arrived transcript files with
``Trigger.AvailableNow`` over the exact same kernel (useful when the
transcripts table is continuously appended), an event-time windowed
extraction-rate aggregation with a watermark for late turns, and a custom
stateful per-conversation rollup (``stateful.py``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..pipeline import extract_turns
from ..sources import TRANSCRIPT_SPARK_SCHEMA


def incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
):
    """readStream → same extraction kernel → parquet sink, available-now.

    Exactly-once via the streaming checkpoint; per-turn extraction is
    stateless so no watermark/state store is needed. Returns the started
    query; callers use ``q.awaitTermination()`` (available-now terminates
    after draining the backlog).
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    extracted = extract_turns(stream, cfg, salt=False)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_kind_counts(
    extracted: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts per payload kind, late-data-aware.

    The watermark bounds state: a window's aggregate finalizes (and, in
    append mode, is emitted exactly once) when the watermark passes its
    end, and late turns are DROPPED rather than reopening finalized state —
    the standard late-data contract for an unbounded transcripts stream
    (at 10^12 turns the state store can never hold open-ended windows).
    Spark evaluates this with two watermark values per batch (verified
    against the checkpoint offsets log): incoming rows are filtered
    against the PREVIOUS batch's committed watermark while state eviction
    uses the current batch's, so a straggler is guaranteed dropped once
    the watermark that passed it has been committed. Works on the
    streaming extraction output (``ts`` is the event time and passes
    through the kernel).
    """
    w = F.window("ts", window_duration)
    return (
        extracted.withWatermark("ts", watermark_delay)
        .groupBy(w.alias("win"), "payload_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("extraction_ok"), 0).otherwise(1)).alias("n_fail"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "payload_kind",
            "n_turns",
            "n_fail",
        )
    )


def windowed_extraction_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
):
    """readStream → extraction kernel → watermarked windowed agg → append
    parquet sink. ``maxFilesPerTrigger=1`` so each arriving file is its own
    micro-batch and the watermark advances between files (the late-data
    semantics are observable, not collapsed into one batch)."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    rates = windowed_kind_counts(
        extract_turns(stream, cfg, salt=False), window_duration, watermark_delay
    )
    return (
        rates.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
