"""Per-partition lineage + idempotent checkpoint resume (S11 + J4).

Required by the north_rule (BASELINE.json:14): "writes results back ... with
per-partition lineage rows (input snapshot id, partition hash, turn count,
extraction-failure count) enabling idempotent resume from the last committed
checkpoint". The reference has nothing like this (it is stateless
request/response, ``pdf_api/api/routes.py:73-92``).

Design:
- The unit of commitment is a *bucket*: ``pmod(xxhash64(conv_id), n_buckets)``.
  All turns of one conversation land in one bucket, so a committed bucket is
  a complete, self-contained slice of output.
- Results are written ``partitionBy("bucket")`` with dynamic partition
  overwrite: re-processing a bucket atomically replaces exactly its own
  files — a crashed run can be re-run blindly (idempotence).
- The lineage table is appended once per successful run with one row per
  bucket. Resume = left-anti join of input buckets against committed
  lineage buckets for the same input snapshot (broadcast: lineage is tiny).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from .config import DEFAULT_CONFIG, ExtractConfig
from .pipeline import extract_turns
from .sources import TRANSCRIPT_SPARK_SCHEMA, read_payload

__all__ = [
    "with_bucket",
    "cluster_by_bucket",
    "committed_buckets",
    "run_job",
    "LINEAGE_SCHEMA",
]

DEFAULT_BUCKETS = 64

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("input_snapshot_id", T.StringType(), False),
        T.StructField("partition_hash", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("turn_count", T.LongType(), False),
        T.StructField("extraction_failure_count", T.LongType(), False),
        T.StructField("committed_at_run", T.StringType(), False),
    ]
)


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def cluster_by_bucket(
    extracted: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bucket-aligned reassembly for the WRITE path: one hash exchange on
    the lineage bucket key serves BOTH the window's clustering and the
    bucketed output layout — no persist, no sampling pass, single kernel
    execution.

    ``pipeline.reassemble`` (the standalone path) range-partitions for a
    globally ordered result, which costs a persist of the full extracted
    output (RangePartitioner SAMPLES its child) plus an exchange whose
    ordering the bucketed ``partitionBy("bucket")`` write then destroys
    anyway. Here the window partitions by ``(bucket, conv_id)`` —
    semantically identical to ``conv_id`` alone since bucket is a pure
    function of conv_id — so Catalyst accepts hashpartitioning(bucket) as
    satisfying the window's required clustering and plans ONE exchange and
    a partition-local sort (pinned by ``test_cluster_by_bucket_plan``).
    Measured at x256/local[32] (interleaved 3-pair A/B): wall PARITY with
    the range shape — at bench scale the persisted output fits RAM, so
    the sample pass re-reads cheap columnar cache. The win is at
    production scale, where the range shape's MEMORY_AND_DISK persist
    materializes the entire extracted corpus (at 100 TB: storage-memory
    thrash + disk spill purely to feed a boundary sampler) while this
    shape streams kernel output straight into its single exchange.
    ``turn_seq`` values are row-for-row identical to ``reassemble``'s
    (same partition-by set modulo the redundant bucket, same ordering).
    """
    bucketed = with_bucket(extracted, n_buckets)
    if num_partitions:
        bucketed = bucketed.repartition(num_partitions, "bucket")
    else:
        bucketed = bucketed.repartition("bucket")
    w = Window.partitionBy("bucket", "conv_id").orderBy("turn_idx")
    return bucketed.withColumn("turn_seq", F.row_number().over(w))


def committed_buckets(
    spark: SparkSession, lineage_path: str, snapshot_id: str
) -> DataFrame:
    """Distinct committed bucket ids for a snapshot (empty if no lineage yet)."""
    try:
        lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    except AnalysisException:
        return spark.createDataFrame([], "bucket int")
    return (
        lin.filter(F.col("input_snapshot_id") == snapshot_id)
        .select("bucket")
        .distinct()
    )


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    snapshot_id: str,
    run_id: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> dict:
    """Resumable extraction job. Returns summary counters.

    Safe to re-run after a crash: committed buckets are skipped via the
    lineage anti-join; partially-written buckets (data files without a
    lineage row) are atomically rewritten by dynamic partition overwrite.

    Runs under the per-job session ``sources.read_payload`` scans with:
    the scan sizing lives in the job's own SQLConf and dynamic overwrite
    is a write option, so the caller's session is never mutated.

    Reassembly is bucket-aligned (``cluster_by_bucket``): one hash
    exchange on the lineage bucket key serves the window AND the bucketed
    write — the standalone ``pipeline.reassemble`` range shape would add
    a persist + sampling pass for a global order the ``partitionBy``
    write discards anyway.
    """
    turns, salt = read_payload(spark, input_path, TRANSCRIPT_SPARK_SCHEMA, num_partitions)
    spark = turns.sparkSession
    turns = with_bucket(turns, n_buckets)

    done = committed_buckets(spark, lineage_path, snapshot_id)
    todo = turns.join(F.broadcast(done), "bucket", "left_anti")

    extracted = extract_turns(todo.drop("bucket"), cfg, salt=salt)
    result = cluster_by_bucket(extracted, n_buckets, num_partitions)

    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(output_path)
    )

    out = spark.read.parquet(output_path)
    out = out.join(F.broadcast(done), "bucket", "left_anti")
    lineage_rows = (
        out.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum(
                F.when(F.col("extraction_ok"), F.lit(0)).otherwise(F.lit(1))
            ).alias("extraction_failure_count"),
        )
        .select(
            F.lit(snapshot_id).alias("input_snapshot_id"),
            F.md5(F.concat_ws(":", F.lit(snapshot_id), F.col("bucket"))).alias(
                "partition_hash"
            ),
            F.col("bucket").cast("int"),
            F.col("turn_count").cast("long"),
            F.col("extraction_failure_count").cast("long"),
            F.lit(run_id).alias("committed_at_run"),
        )
    )
    lineage_rows.write.mode("append").parquet(lineage_path)

    committed = spark.read.parquet(lineage_path).filter(
        F.col("input_snapshot_id") == snapshot_id
    )
    agg = committed.agg(
        F.countDistinct("bucket").alias("buckets"),
        F.sum("turn_count").alias("turns"),
        F.sum("extraction_failure_count").alias("failures"),
    ).collect()[0]
    return {
        "buckets_committed": agg["buckets"],
        "turns": agg["turns"],
        "failures": agg["failures"],
    }
