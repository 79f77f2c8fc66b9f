"""The Spark extraction pipeline (SURVEY.md §3.4 target lifecycle).

    read transcripts (conv_id, turn_idx, role, text, tool, ts) through
      sources.read_payload (per-job split size + salt verdict)
      → [resume anti-join — see lineage.py]
      → mapInPandas(extract kernel) DIRECTLY on scan partitions — ONE
        Arrow-batched Python crossing; all per-payload work (sniff, html
        strip, pdf parse, layout, NMS, dedup) happens inside the batch,
        JVM↔Python only at batch boundaries
      → repartitionByRange(conv_id)   (BASELINE.json:14)
      → window-ordered reassembly: row_number over (conv_id ORDER BY turn_idx)
      → write + lineage

Scale notes (100 TB / 1000 executors):
- The only wide exchange is the post-kernel range repartition, which moves
  the EXTRACTED rows (much smaller than the raw payloads for html/pdf kinds;
  the heavy payload column is dropped before the shuffle unless the caller
  asks to keep it). The kernel runs on scan partitions directly: the 16 MB
  split ceiling bounds per-task payload regardless of conversation skew, so
  the pre-kernel salt shuffle (which moved the ENTIRE payload corpus once —
  100 TB through the network at target scale) buys nothing extraction needs.
  ``extract_turns(salt=True)`` remains available for sources whose per-ROW
  kernel cost is wildly skewed (salting redistributes rows, splits cannot).
  Measured at x64/x256 local corpora: no-salt is 30% faster at 32 cores and
  never slower at 8 (scripts in BENCH/BASELINE.md).
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` should be lowered
  (256–1024) when payloads are MBs; see session_defaults().
- AQE coalesces the post-shuffle partitions when kinds skew small.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT_CONFIG, ExtractConfig
from .kernels.extract import extract_batch
from .sources import TRANSCRIPT_SPARK_SCHEMA, read_payload

__all__ = [
    "SPANS_TYPE",
    "RESULT_SCHEMA",
    "session_defaults",
    "extract_turns",
    "extract_with_fallback",
    "reassemble",
    "run_extraction",
]

SPANS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    )
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("extraction_ok", T.BooleanType(), False),
    ]
)


def session_defaults(builder, cpus: int | None = None):
    """Apply the engine's recommended session config to a builder."""
    b = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payload rows can be multi-KB..MB; bound Arrow batch memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # payload tables carry ~100x more kernel work per scanned byte than
        # typical relational data: default 128 MB splits make the scan (and
        # the shuffle-write feeding the kernel) a handful of tasks that
        # serialize ahead of the parallel extraction — 16 MB keeps scan
        # parallelism >= core count even for modest inputs; AQE re-coalesces
        # downstream exchanges so small splits cost nothing after the kernel
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # the engine caches only short-lived intermediates (the extracted
        # rows between the kernel and the range exchange — see reassemble);
        # columnar-cache compression costs one compress + two decompress
        # passes over that text within a single job (measured 2x the whole
        # reassembly phase) and saves memory we don't need saved
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    if cpus:
        b = b.config("spark.sql.shuffle.partitions", str(max(2, cpus)))
    return b


def _kernel_factory(cfg: ExtractConfig, keep_payload: bool):
    out_cols = [f.name for f in RESULT_SCHEMA.fields]
    if keep_payload:
        out_cols = out_cols + ["text"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = extract_batch(pdf, cfg)
            yield res[out_cols]

    return kernel


def extract_turns(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt: bool = False,
    keep_payload: bool = False,
) -> DataFrame:
    """transcripts DataFrame → extraction results (unordered).

    The kernel runs on scan partitions directly: extraction is stateless
    per turn and ``spark.sql.files.maxPartitionBytes`` (at most 16 MB, see
    session_defaults and sources.read_payload) bounds per-task payload, so hot-conversation skew
    (BASELINE.json:14) is already capped by split granularity — no
    conversation can pin a task to more than one split's bytes.

    ``salt=True`` additionally redistributes rows by hash(conv_id,
    turn_idx) before the kernel. That moves the FULL payload through one
    extra shuffle (at 100 TB: the whole corpus over the network), so it is
    opt-in: for sources whose per-ROW kernel cost is skewed enough that
    byte-balanced splits still produce unbalanced tasks, and for inputs
    too small to fill one wave of cores even at the floor split size
    (``run_extraction``/``run_job`` take it from ``sources.read_payload``
    — never at production scale, and never when the input size is
    unknown).
    """
    from . import ship_package

    ship_package(df.sparkSession)
    if salt:
        df = df.repartition(F.xxhash64("conv_id", "turn_idx"))
    schema = RESULT_SCHEMA
    if keep_payload:
        schema = T.StructType(
            RESULT_SCHEMA.fields + [T.StructField("text", T.StringType(), True)]
        )
    return df.mapInPandas(_kernel_factory(cfg, keep_payload), schema=schema)


def reassemble(extracted: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Range-repartition + window-ordered reassembly (W1, SURVEY.md §2.6).

    The range key is ``conv_id`` ALONE: RangePartitioning(conv_id) satisfies
    the window's ClusteredDistribution(conv_id), so the window needs only a
    partition-local Sort on (conv_id, turn_idx) — ONE exchange total, and
    the output is globally ordered by (conv_id, turn_idx). Ranging on
    (conv_id, turn_idx) instead would let one conversation straddle a range
    boundary, forcing Catalyst to insert a second, hash exchange for the
    window (verified via .explain — tests/test_plan_shapes.py pins this).

    The input is persisted first: RangePartitioner runs a SAMPLING JOB over
    its child to pick boundaries, and without a persist that sample pass
    re-executes the upstream extraction kernel — the whole Python kernel ran
    TWICE per job (measured: 244 core-s at local[2] vs 104 core-s of kernel
    cost for 320k turns). Extracted rows are small (payload column already
    dropped), so MEMORY_AND_DISK is cheap relative to one kernel pass.
    """
    from pyspark import StorageLevel

    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    if num_partitions:
        ranged = extracted.repartitionByRange(num_partitions, "conv_id")
    else:
        ranged = extracted.repartitionByRange("conv_id")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return ranged.withColumn("turn_seq", F.row_number().over(w))


def extract_with_fallback(
    df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, salt: bool = False
) -> DataFrame:
    """Two-pass fallback replan as a DataFrame program (SURVEY.md §4.1: the
    reference retries failed extractions with the other method,
    ``pdf_image_extractor.py:761-821`` — no Catalyst analog, so it is a
    second pass over the failed subset).

    Pass 1 runs the strict kernel WITHOUT the payload column (the payload
    never crosses Arrow back out of the kernel, so the kernel output stays
    small enough to persist at corpus scale); the rare failed rows are then
    re-joined to the SOURCE by key — a broadcast hash join of the tiny error
    set against a streamed source scan, no shuffle of either side — and
    re-extracted as plain text (identity + full-range span); results union
    back. Row-for-row equal to running the kernel once with
    ``cfg.fallback_plain=True`` (tests pin this), but expressed as the
    filter → rescue-join → unionByName plan the reference's control flow
    maps to.

    PRECONDITION: ``(conv_id, turn_idx)`` is unique in ``df`` — it is the
    transcripts table's primary key (TRANSCRIPT_SPARK_SCHEMA; the turn id).
    Duplicate keys would fan out rows at the rescue join and break the
    pinned row-for-row equivalence with the single-pass kernel. The
    extraction kernel itself is duplicate-safe (per-row), so a caller with
    a non-keyed source must dedup it before this operator, not after.

    ``first`` is persisted because it feeds two sub-plans of one action
    (ok_rows and the error set) and Spark has no cross-branch CSE — without
    it the extraction kernel executes twice per materialization. The persist
    lives until the consuming action finishes; callers running many queries
    per session should ``spark.catalog.clearCache()`` between actions.
    """
    from pyspark import StorageLevel

    # ``salt`` applies to the KERNEL branch only — the rescue join's source
    # re-scan must stay shuffle-free (broadcast join against a streamed scan)
    first = extract_turns(df, cfg, salt=salt).persist(StorageLevel.MEMORY_AND_DISK)
    ok_rows = first.filter(F.col("payload_kind") != "error")
    err = first.filter(F.col("payload_kind") == "error")
    src = df.select("conv_id", "turn_idx", F.col("text").alias("_payload"))
    # error rows are the broadcast side: the reference's fallback fires on
    # the rare 0-result files (pdf_image_extractor.py:761-821), so the set
    # is driver-sized; the source is streamed, never shuffled or cached.
    err2 = src.join(F.broadcast(err), ["conv_id", "turn_idx"], "inner")
    result_cols = [f.name for f in RESULT_SCHEMA.fields]
    rescued = err2.filter(
        F.col("_payload").isNotNull() & (F.col("_payload") != "")
    ).select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.lit("plain").alias("payload_kind"),
        F.col("_payload").alias("extracted_text"),
        F.array(
            F.struct(
                F.lit(0).cast("int").alias("start"),
                F.length("_payload").cast("int").alias("end"),
            )
        ).alias("spans"),
        F.lit(1).cast("int").alias("n_blocks"),
        F.lit(True).alias("extraction_ok"),
    )
    kept_err = err2.filter(
        F.col("_payload").isNull() | (F.col("_payload") == "")
    ).select(*result_cols)
    return ok_rows.unionByName(rescued).unionByName(kept_err)


def run_extraction(
    spark: SparkSession,
    input_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """Read → extract → reassemble. Write/lineage live in lineage.py.

    The returned DataFrame is bound to the per-job session that
    ``sources.read_payload`` scans under, carrying this input's split
    size; the caller's session conf is never touched, so concurrent jobs
    in one application can't inherit another input's tuning."""
    df, salt = read_payload(spark, input_path, TRANSCRIPT_SPARK_SCHEMA, num_partitions)
    return reassemble(extract_turns(df, cfg, salt=salt), num_partitions)
