"""Physical-plan shape tests (SURVEY.md §4.3): the plan IS the product at
100 TB, so pin its load-bearing properties with .explain assertions.

- predicate pushdown + column pruning reach the parquet scan,
- small dims broadcast,
- the reassembly does ONE exchange (range on conv_id; no second hash
  exchange for the window),
- relational glue stays in whole-stage codegen.
"""
from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pdf_parser_spark.pipeline import extract_turns, reassemble
from pdf_parser_spark.plans import (
    count_exchanges,
    has_pushed_filter,
    is_broadcast_join,
    physical_plan,
)

SF = "/root/testdata/sf0.001"

import pytest


@pytest.fixture(autouse=True)
def _cold_cache(spark):
    """Plan shapes assume a cold cache: a persist left by an earlier test
    (e.g. extract_with_fallback's kernel persist) substitutes an
    InMemoryTableScan into any later plan with a matching subtree and
    collapses its exchanges."""
    spark.catalog.clearCache()
    yield


def test_q1_pushdown_and_pruning(spark):
    df = entrymod.q_q1_pricing_summary(spark, SF)
    plan = physical_plan(df)
    assert has_pushed_filter(df, "LessThanOrEqual(l_shipdate")
    # column pruning: payload-irrelevant columns never leave the scan
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines and "l_orderkey" not in schema_lines[0]
    assert "l_partkey" not in schema_lines[0]


def test_q3_broadcasts_dims(spark):
    df = entrymod.q_q3_top_orders(spark, SF)
    assert is_broadcast_join(df)
    assert "SortMergeJoin" not in physical_plan(df)


def test_reassembly_single_exchange(spark, transcripts_parquet):
    raw = spark.read.parquet(transcripts_parquet)
    extracted = extract_turns(raw, salt=False)
    out = reassemble(extracted, num_partitions=4)
    plan = physical_plan(out)
    # exactly one post-kernel exchange: the range repartition; the window
    # reuses its clustering (no hashpartitioning(conv_id) exchange)
    n_exchange = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l
    )
    assert n_exchange == 1, plan
    assert "rangepartitioning" in plan.lower()
    assert plan.lower().count("hashpartitioning(conv_id") == 0


def test_salted_pipeline_two_exchanges(spark, transcripts_parquet):
    raw = spark.read.parquet(transcripts_parquet)
    out = reassemble(extract_turns(raw, salt=True), num_partitions=4)
    plan = physical_plan(out)
    n_exchange = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l
    )
    assert n_exchange == 2, plan  # salt + range, nothing else


def test_relational_glue_codegen(spark):
    # AQE materializes the final plan at execution; codegen-mode explain then
    # reports the fused subtrees — the scan/filter/agg glue must be in them
    df = entrymod.q_q1_pricing_summary(spark, SF)
    df.collect()
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    n = int(codegen.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 2, codegen[:200]
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert simple.count("*(") >= 2  # codegen'd stage markers in the final plan


def test_lineage_resume_join_broadcasts(spark, transcripts_parquet):
    from pdf_parser_spark.lineage import with_bucket

    raw = with_bucket(spark.read.parquet(transcripts_parquet))
    done = spark.createDataFrame([(1,), (2,)], "bucket int")
    todo = raw.join(F.broadcast(done), "bucket", "left_anti")
    assert "BroadcastNestedLoopJoin" not in physical_plan(todo)
    assert "Broadcast" in physical_plan(todo)


def test_fallback_kernel_runs_once(spark, transcripts_parquet):
    """extract_with_fallback's pass-1 output feeds two sub-plans (ok_rows +
    error set); the persist must be in the plan (InMemoryTableScan) so the
    extraction kernel executes once, and the rescue join must broadcast the
    tiny error side instead of shuffling the source."""
    from pdf_parser_spark.pipeline import extract_with_fallback

    out = extract_with_fallback(spark.read.parquet(transcripts_parquet))
    plan = physical_plan(out)
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_near_dup_buckets_computed_once(spark):
    """The SRP bucket columns must come from the vectorized numpy kernel
    (one MapInPandas crossing) AND from a cached projection — recomputing
    them per consumer was measured at ~8x the query cost, and the old
    per-bit HOF-fold plan (aggregate over zip_with per plane) was 39% of
    the whole bench suite."""
    import __spark_entry__ as em

    df = em.q_embedding_near_dup(spark, SF)
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" in plan  # bucket projection is the numpy kernel
    # (zip_with still legitimately appears once: the exact-cosine verify
    # over the candidate pairs — a candidates-only cost, not per-corpus-row)


def test_ivf_broadcasts_centroids(spark):
    """IVF assignment must broadcast the k centroids, never shuffle or
    cartesian the corpus side."""
    import __spark_entry__ as em

    for q in (em.q_ivf_assign, em.q_ivf_train_step):
        plan = physical_plan(q(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join via bucketing: both sides bucketed by the join key
    into the same bucket count must join with ZERO Exchange operators —
    the write-once-shuffle-never layout decision for the 10^12-turn table.
    With sortBy the per-task Sort disappears too."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources.bucketing import read_bucketed, write_bucketed

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "source", "text"
    )
    feats = docs.select("doc_id", F.length("text").alias("n_chars"))
    try:
        write_bucketed(docs, "b_docs", "doc_id", 4,
                       str(tmp_path / "b_docs"), sort_by="doc_id")
        write_bucketed(feats, "b_feats", "doc_id", 4,
                       str(tmp_path / "b_feats"), sort_by="doc_id")
        joined = read_bucketed(spark, "b_docs").join(
            read_bucketed(spark, "b_feats").hint("merge"), "doc_id"
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        n = joined.count()
        assert n == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_feats")


def test_ivf_probe2_superset_recall(spark):
    """nprobe=2 must probe a SUPERSET of nprobe=1's candidates: its top-k
    cosine scores dominate pointwise (the recall knob can only help)."""
    import __spark_entry__ as em
    from pdf_parser_spark.operators.similarity import ivf_probe_topk

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    one = [r["cosine"] for r in ivf_probe_topk(emb, nprobe=1).collect()]
    two = [r["cosine"] for r in ivf_probe_topk(emb, nprobe=2).collect()]
    assert len(two) == len(one)
    assert all(b >= a for a, b in zip(one, two))


def test_aqe_splits_skewed_join_partition(spark):
    """Residual-skew safety net behind the salt: with AQE's skew-join on
    (session default), a join partition blown up by one hot key is SPLIT at
    runtime — the executed adaptive plan carries the skew=true marker
    instead of serializing the whole stage behind one task. Thresholds are
    lowered to make the fixture-scale hot key (half the rows on k=0)
    trigger the same path a 100 TB hot conversation would."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(400000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 128), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(50000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        j = big.join(right, "k")
        assert len(j.collect()) == 225000  # execute THIS df so AQE finalizes
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_verify_uses_doc_level_arrays(spark):
    """The exact-Jaccard verify must intersect per-doc shingle arrays
    (array_intersect over the single agg), not re-join the exploded
    shingle stream per candidate side."""
    import __spark_entry__ as em

    plan = physical_plan(em.q_minhash_lsh_pairs(spark, SF))
    assert "array_intersect" in plan
    assert "collect_set" in plan


def test_adaptive_split_bytes_policy():
    """Pure-math pins for scan_plan's two decisions (no session needed)."""
    from pdf_parser_spark.sources import adaptive_split_bytes

    MB = 1024 * 1024
    # production scale: far above the cap at any real cluster width
    assert adaptive_split_bytes(100 * 1024 * 1024 * MB, 32000) == 16 * MB
    # bench scale: 211 MB over 8 cores -> ~3 waves of ~8.8 MB splits
    assert 8 * MB < adaptive_split_bytes(211 * MB, 8) < 10 * MB
    # tiny inputs clamp to the 4 MB floor, never below
    assert adaptive_split_bytes(10 * MB, 32) == 4 * MB
    assert adaptive_split_bytes(0, 8) == 4 * MB
    # degenerate cpus falls back to the session cap
    assert adaptive_split_bytes(211 * MB, 0) == 16 * MB


def test_scan_plan_salts_only_underfilled_inputs(transcripts_parquet):
    """The auto-salt fires exactly when floor splits < cores: the sf0.001
    fixture (~1 MB) cannot fill 32 cores (salt), but trivially fills 1
    core-equivalent (no salt at cpus=1). Pure decision — no session."""
    from pdf_parser_spark.sources import scan_plan

    split32, salt32 = scan_plan(transcripts_parquet, 32)
    split1, salt1 = scan_plan(transcripts_parquet, 1)
    assert salt32 is True
    assert salt1 is False
    # split is a real byte count either way
    assert split32 >= 4 * 1024 * 1024
    assert split1 >= 4 * 1024 * 1024


def test_scan_plan_object_store_paths_never_salt():
    """The r04 scale hazard: an unstat-able input (object store, missing
    path) must be treated as PRODUCTION-LARGE — session-default 16 MB
    splits, salt False — never as size-0 (which would re-enable the
    full-payload pre-kernel shuffle at exactly 100 TB scale)."""
    from pdf_parser_spark.sources import _SPLIT_MAX, scan_plan

    for path in (
        "s3://corpus-bucket/transcripts/",
        "s3a://corpus-bucket/transcripts",
        "hdfs://namenode:8020/warehouse/transcripts",
        "abfss://fs@acct.dfs.core.windows.net/transcripts",
        "/no/such/local/path",
    ):
        split, salt = scan_plan(path, 32000)
        assert salt is False, path
        assert split == _SPLIT_MAX, path
    # file:// URIs that ARE stat-able still size adaptively
    import os
    split, salt = scan_plan("file://" + os.path.join(SF, "documents.parquet"), 1)
    assert salt is False and split >= 4 * 1024 * 1024


def test_run_extraction_leaves_caller_conf_untouched(spark, transcripts_parquet, tmp_path):
    """Per-job conf isolation (r04 ADVICE #2): run_extraction plans against
    its own job_session, so the caller's maxPartitionBytes is unchanged
    even AFTER materialization — and the job's own session carries the
    adaptive split. run_job likewise leaves the caller's split size and
    partition-overwrite mode as they were (dynamic overwrite is a write
    option, not session conf)."""
    from pdf_parser_spark.lineage import run_job
    from pdf_parser_spark.pipeline import run_extraction

    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    overwrite = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    out = run_extraction(spark, transcripts_parquet, num_partitions=4)
    job_conf = out.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
    assert out.count() > 0  # materialize under the job session
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before
    assert int(job_conf) >= 4 * 1024 * 1024
    spark.catalog.clearCache()

    r = run_job(
        spark, transcripts_parquet, str(tmp_path / "out"), str(tmp_path / "lineage"),
        snapshot_id="conf", run_id="run1", n_buckets=8, num_partitions=4,
    )
    assert r["turns"] > 0
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == overwrite


def test_job_session_isolated_and_inherits_runtime_conf(spark):
    """job_session must (a) carry the caller's RUNTIME spark.sql tuning —
    newSession alone only inherits builder-time conf — and (b) keep its
    split-size conf invisible to the caller."""
    from pdf_parser_spark.sources import job_session

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        s2 = job_session(spark, split_bytes=12345678)
        assert s2.conf.get("spark.sql.shuffle.partitions") == "7"
        assert s2.conf.get("spark.sql.files.maxPartitionBytes") == "12345678"
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") != "12345678"
        assert s2.sparkContext is spark.sparkContext
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_bpe_count_no_shuffle(spark):
    """The exact-BPE column must ride the scan partitions (one MapInPandas
    crossing, ZERO exchanges) — a shuffle ahead of a per-row kernel column
    would move the payload corpus for nothing."""
    from pdf_parser_spark.operators.text_stats import with_bpe_token_count

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    )
    plan = physical_plan(with_bpe_token_count(docs))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
