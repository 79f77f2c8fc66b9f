"""Structured Streaming surface: incremental extraction over newly-arrived
transcript files with Trigger.AvailableNow (pdf_parser_spark.streaming).

The reference has no streaming (SURVEY.md §2.11); this is the idiomatic
append-only extension over the identical kernel. The test checks
exactly-once across two incremental batches via the streaming checkpoint.
"""
from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from pdf_parser_spark.streaming import incremental_extraction


def _write_slice(df, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, schema=TRANSCRIPT_SCHEMA, preserve_index=False), path
    )


def test_incremental_extraction_exactly_once(spark, transcripts_pdf, tmp_path):
    work = str(tmp_path / "stream")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"

    first, second = transcripts_pdf.iloc[:300], transcripts_pdf.iloc[300:]
    _write_slice(first, f"{in_dir}/batch1.parquet")

    q = incremental_extraction(spark, in_dir, out_dir, ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == len(first)

    # new file arrives; available-now drains ONLY the backlog delta
    _write_slice(second, f"{in_dir}/batch2.parquet")
    q2 = incremental_extraction(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination()

    out = spark.read.parquet(out_dir)
    assert out.count() == len(transcripts_pdf)  # no reprocessing duplicates
    dup = out.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    assert dup == 0
    kinds = {r["payload_kind"] for r in out.select("payload_kind").distinct().collect()}
    assert "plain" in kinds and "html" in kinds

    shutil.rmtree(work, ignore_errors=True)


def test_stateful_conversation_progress(spark, transcripts_pdf, tmp_path):
    """applyInPandasWithState: per-conversation cumulative rollup whose
    state survives across two AvailableNow runs via the checkpoint — a
    conversation split across the two input batches must report CUMULATIVE
    counts in its second-run row."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline import extract_turns
    from pdf_parser_spark.sources import TRANSCRIPT_SPARK_SCHEMA
    from pdf_parser_spark.streaming.stateful import conversation_progress

    work = str(tmp_path / "state_stream")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"

    first, second = transcripts_pdf.iloc[:300], transcripts_pdf.iloc[300:]
    _write_slice(first, f"{in_dir}/batch1.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(in_dir)
        )
        progress = conversation_progress(extract_turns(stream, salt=False))

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            progress.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    _write_slice(second, f"{in_dir}/batch2.parquet")
    run_once()

    out = spark.read.parquet(out_dir).toPandas()
    # latest row per conversation = cumulative truth vs the batch input
    latest = (
        out.sort_values("batch_id").groupby("conv_id").last().reset_index()
    )
    want = (
        transcripts_pdf.groupby("conv_id")
        .agg(n_turns=("turn_idx", "size"), max_turn_idx=("turn_idx", "max"))
        .reset_index()
    )
    merged = latest.merge(want, on="conv_id", suffixes=("", "_want"))
    assert len(merged) == len(want)
    assert (merged["n_turns"] == merged["n_turns_want"]).all()
    assert (merged["max_turn_idx"] == merged["max_turn_idx_want"]).all()
    # at least one conversation genuinely spanned both runs (state carried)
    both = set(first["conv_id"]) & set(second["conv_id"])
    assert both
    import shutil

    shutil.rmtree(work, ignore_errors=True)


def test_windowed_agg_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windowed extraction rates with a watermark: a straggler
    later than the delay behind the COMMITTED watermark must be DROPPED
    (its finalized window neither merges it nor re-emits); an in-watermark
    straggler must merge before finalization. maxFilesPerTrigger=1 makes
    each file a micro-batch so the watermark genuinely advances between
    arrivals. Note Spark's two-watermark rule (verified via the
    checkpoint's offsets log): late-row FILTERING uses the previous
    batch's watermark while EVICTION uses the current one — so the drop
    case needs the straggler to arrive a batch after the watermark passed
    it."""
    import pandas as pd

    from pdf_parser_spark.streaming import windowed_extraction_rates

    work = str(tmp_path / "wstream")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"

    def rows(specs):
        return pd.DataFrame(
            [
                {
                    "conv_id": f"c{i}", "turn_idx": 0, "role": "user",
                    "text": f"plain turn {i}", "tool": None,
                    "ts": pd.Timestamp(t),
                }
                for i, t in enumerate(specs)
            ]
        ).astype({"turn_idx": "int32"})

    # batch 0: three windows open; watermark after = 10:09 - 2m = 10:07
    _write_slice(rows(["2026-01-01 10:00:10", "2026-01-01 10:01:20",
                       "2026-01-01 10:09:00"]), f"{in_dir}/01.parquet")
    # batch 1 (filter wm 10:07): 10:09:30 is NOT late -> merges into the
    # open 10:09 window; 10:20 advances the watermark to 10:18, evicting
    # and emitting w10:00(1), w10:01(1), w10:09(2)
    _write_slice(rows(["2026-01-01 10:09:30", "2026-01-01 10:20:00"]),
                 f"{in_dir}/02.parquet")
    # batch 2 (filter wm 10:18): 10:00:30 is 18 min late -> DROPPED; its
    # already-emitted window must not change or re-emit
    _write_slice(rows(["2026-01-01 10:00:30", "2026-01-01 10:30:00"]),
                 f"{in_dir}/03.parquet")
    # the file source orders its backlog by MODIFICATION TIME; three files
    # written within one filesystem timestamp granule can swap micro-batch
    # order (observed flake) — pin strictly increasing mtimes
    base = os.stat(f"{in_dir}/01.parquet").st_mtime
    for i, name in enumerate(["01.parquet", "02.parquet", "03.parquet"]):
        os.utime(f"{in_dir}/{name}", (base + 10 * i, base + 10 * i))
    windowed_extraction_rates(spark, in_dir, out_dir, ckpt).awaitTermination()
    # a second run pushes the watermark further (finalizes w10:20)
    _write_slice(rows(["2026-01-01 10:40:00"]), f"{in_dir}/04.parquet")
    windowed_extraction_rates(spark, in_dir, out_dir, ckpt).awaitTermination()

    out = spark.read.parquet(out_dir).toPandas()
    got = {
        str(r["window_start"])[11:16]: int(r["n_turns"]) for _, r in out.iterrows()
    }
    assert got["10:00"] == 1  # the 18-min-late straggler was dropped
    assert got["10:01"] == 1
    assert got["10:09"] == 2  # the in-watermark straggler merged pre-eviction
    assert got["10:20"] == 1
    # append-mode exactly-once: every finalized window emitted exactly once
    assert out.groupby(["window_start", "payload_kind"]).size().max() == 1
    assert (out["payload_kind"] == "plain").all() and (out["n_fail"] == 0).all()
    import shutil

    shutil.rmtree(work, ignore_errors=True)


def test_streaming_exact_dedup_first_arrival_wins(spark, tmp_path):
    """Checkpointed per-hash state: in-batch ties break by (conv_id,
    turn_idx); a later micro-batch re-presenting a claimed hash emits
    NOTHING (no re-claim after restart either); novel hashes still claim."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import TRANSCRIPT_SPARK_SCHEMA
    from pdf_parser_spark.streaming.stateful import streaming_exact_dedup

    work = str(tmp_path / "dedup_stream")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"

    def rows(items):
        return pd.DataFrame(
            [
                {
                    "conv_id": c, "turn_idx": t, "role": "user",
                    "text": x, "tool": "", "ts": pd.Timestamp("2026-01-01"),
                }
                for c, t, x in items
            ]
        )

    # batch1: "x" duplicated in-batch (conv_b arrives "before" conv_a by
    # sort, so (a,...) vs (b,...): conv_a:5 < conv_b:1 lexicographically)
    _write_slice(rows([("conv_b", 1, "x"), ("conv_a", 5, "x"), ("conv_c", 2, "y")]),
                 f"{in_dir}/batch1.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(in_dir)
        )
        claims = streaming_exact_dedup(stream)

        def sink(batch_df, batch_id):
            batch_df.withColumn("run", F.lit(batch_id)).write.mode("append").parquet(
                out_dir
            )

        q = (
            claims.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out_dir).toPandas()
    assert len(first) == 2  # one claim per distinct text
    wins = {r["conv_id"] for _, r in first.iterrows()}
    assert wins == {"conv_a", "conv_c"}  # tie broken by (conv_id, turn_idx)

    # batch2: "x" again (already claimed -> silent) + novel "z"
    _write_slice(rows([("conv_d", 1, "x"), ("conv_e", 1, "z")]),
                 f"{in_dir}/batch2.parquet")
    run_once()
    allc = spark.read.parquet(out_dir).toPandas()
    assert len(allc) == 3
    assert allc["content_md5"].is_unique  # never re-claimed across runs
    assert set(allc["conv_id"]) == {"conv_a", "conv_c", "conv_e"}

    import shutil

    shutil.rmtree(work, ignore_errors=True)
