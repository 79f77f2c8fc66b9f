"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` register every implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing).

Oracle strategy:
- Relational operators: ANSI SQL over the pre-registered testdata views.
- Kernel operators (extraction, NMS): the oracle reads a *golden parquet*
  produced by the single-node pandas runner (the SAME kernel code the Spark
  UDFs wrap — SURVEY.md §7.1), so the driver's value-hash compare IS the
  north metric: distributed output == single-node golden, per turn.
- Hash/float portability: md5-hex everywhere (identical in Spark and
  DuckDB); money/quantity aggregates in exact integer cents (no float-sum
  order sensitivity); float similarity scores computed with identical
  sequential fold order on both sides and rounded to 6 decimals.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_parser_spark import golden as G
from pdf_parser_spark.caching import track
from pdf_parser_spark.functions import pdf_date_parse
from pdf_parser_spark.operators import (
    dedup,
    images_op,
    multimodal,
    nms,
    similarity,
    text_stats,
)
from pdf_parser_spark.operators.text_stats import _LANG_MARKERS
from pdf_parser_spark.pipeline import extract_with_fallback, reassemble, run_extraction
from pdf_parser_spark.sources import TRANSCRIPT_SPARK_SCHEMA, read_payload

ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness sf
SEP = "\x1f"


# Per-row-compute-heavy tables (shingling, hashing, regex cascades, vector
# kernels run at scan speed over these). Parquet scan parallelism is bounded
# by row-group count; at bench scale each is ONE sub-MB file = one row group
# = one task, serializing the whole map side on a single core. They are read
# through the extraction path's scan policy (sources.read_payload): when even
# floor-sized splits cannot fill one wave, ONE explicit repartition beats 31
# idle cores; at production scale the salt is False by construction and the
# read stays shuffle-free.
_PAYLOAD_TABLES = frozenset({"documents", "embeddings"})


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    p = os.path.join(sf_dir, f"{name}.parquet")
    if name not in _PAYLOAD_TABLES:
        return spark.read.parquet(p)
    df, salt = read_payload(spark, p)
    return df.repartition(spark.sparkContext.defaultParallelism) if salt else df


def _cents(col) -> Column:
    return F.round(col * 100).cast("long")


# ===================================================== extraction (kernel) ==

def q_extract_turns_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full pipeline (salt → mapInPandas kernel → range repartition
    → window reassembly); compared per-turn against the single-node golden."""
    out = run_extraction(spark, G.ensure_transcripts(sf_dir), num_partitions=16)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "payload_kind",
        "extracted_text",
        F.to_json("spans").alias("spans_json"),
        "n_blocks",
        "extraction_ok",
        "turn_seq",
    )


def q_extract_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_extraction(spark, G.ensure_transcripts(sf_dir), num_partitions=16)
    return out.groupBy("payload_kind").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.length("extracted_text")).cast("long").alias("sum_chars"),
        F.sum(F.when(F.col("extraction_ok"), 0).otherwise(1)).cast("long").alias("n_fail"),
    )


def q_extract_reassembly_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation md5 over turn-ordered extracted text — any ordering or
    content divergence anywhere in the conversation flips the digest."""
    out = run_extraction(spark, G.ensure_transcripts(sf_dir), num_partitions=16)
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("turn_seq"), F.col("extracted_text")))),
        lambda s: s["extracted_text"],
    )
    return out.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.max("turn_seq").cast("long").alias("max_seq"),
        F.md5(F.concat_ws(SEP, ordered_texts)).alias("digest"),
    )


def q_fallback_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback replan (§4.1): second extraction pass over failed rows as a
    filter → rescue-kernel → unionByName plan; vs the single-pass golden
    run with cfg.fallback_plain=True."""
    df, salt = read_payload(spark, G.ensure_transcripts(sf_dir), TRANSCRIPT_SPARK_SCHEMA)
    out = reassemble(extract_with_fallback(df, salt=salt), num_partitions=16)
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "payload_kind", "extracted_text",
        F.to_json("spans").alias("spans_json"), "n_blocks", "extraction_ok",
        "turn_seq",
    )


def q_o5_turn_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated O5 range slice (``pdfplumber/pdf_page_extractor.py:101-135``
    extracts a page_range=(start,end); the per-conversation analog slices a
    turn range): BETWEEN filter ahead of the projection, pushed to the scan
    of the extraction output."""
    out = run_extraction(spark, G.ensure_transcripts(sf_dir), num_partitions=16)
    return out.filter(F.col("turn_idx").between(1, 3)).select(
        "conv_id", "turn_idx", "payload_kind", "extracted_text"
    )


def q_d4_nms_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy keep-largest NMS (D4) via applyInPandas vs the numpy golden."""
    boxes = spark.read.parquet(G.ensure_nms_boxes(sf_dir))
    return nms.nms_filter(boxes).select("doc_id", "page", "img_idx", "kept")


def _transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts corpus with the job's scan policy (sources.read_payload):
    adaptive split sizing, applied through a per-job session so the
    caller's conf is untouched. Split sizing ONLY — the salt verdict is
    dropped: a pre-kernel repartition would embed an Exchange into EVERY
    branch derived from this df (e.g. the fallback rescue join's source
    re-scan would pay a payload shuffle it never needs)."""
    df, _salt = read_payload(spark, G.ensure_transcripts(sf_dir), TRANSCRIPT_SPARK_SCHEMA)
    return df


def q_image_records_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship digital-PDF output: per-embedded-image rows
    with bounds/NMS/dedup provenance + K2 crop-render md5 (S6→F2/F3→D4→D1→K2),
    compared against the single-node kernel golden. Also carries the X5
    content-addressed filename (``img{i}_{md5[:8]}.{ext}``,
    ``pdfplumber/smart_pdf_extractor.py:261``) for kept rows — folded in
    from the former x5_content_names entry so the registry fits the
    driver's 50-row correctness cap without losing the X5 check."""
    from pdf_parser_spark.functions import content_name

    recs = images_op.image_records(_transcripts_df(spark, sf_dir))
    return recs.withColumn(
        "file_name",
        F.when(
            F.col("kept"),
            content_name(
                F.lit("img"), F.col("img_idx"), F.col("content_md5"), F.lit("png")
            ),
        ),
    )


def q_k1_page_renders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-page K1/K4 render records for vector/scanned turns."""
    return images_op.page_renders(_transcripts_df(spark, sf_dir))


def q_forced_vector_renders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """force_mode override (pdf_image_extractor.py:67-71, routes.py:131):
    ``force_kind='vector'`` pushes EVERY parseable PDF through the
    whole-page render path, so turns the classifier routes to the
    digital-image pipeline or the text path now emit render records too —
    the dispatch flip the served product's force_mode performs."""
    from pdf_parser_spark.config import ExtractConfig

    cfg = ExtractConfig(force_kind="vector")
    return images_op.page_renders(_transcripts_df(spark, sf_dir), cfg)


def q_image_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + A6 + A8 + F9 in ONE driver-checked entry (the r03 verdict's
    registry-curation ask: the driver caps correctness rows at 50, so the
    four single-histogram queries share one slot as labeled arms):

    - ``a5_page``: per-page kept-image histogram (A5 —
      ``smart_pdf_extractor.py:368-379``)
    - ``a6_format``: format histogram over kept images (A6 — ``:381-389``)
    - ``a8_drop_reason``: extraction-outcome histogram (A8 analog, ``:411-420``)
    - ``f9_first3``: has-images probe over the first 3 pages (F9 —
      ``pdf_api/core/pdf_image_extractor.py:655-704``) — one row per
      admitted turn, n = its image-record count on pages 0..2

    One image-records kernel pass persisted, four cheap aggregation arms."""
    recs = track(images_op.image_records(_transcripts_df(spark, sf_dir)).persist())
    n = F.count("*").cast("long").alias("n")
    a5 = (
        recs.filter(F.col("kept"))
        .groupBy(F.col("page").cast("string").alias("key"))
        .agg(n)
        .select(F.lit("a5_page").alias("metric"), "key", "n")
    )
    a6 = (
        recs.filter(F.col("kept"))
        .groupBy(F.col("format").alias("key"))
        .agg(n)
        .select(F.lit("a6_format").alias("metric"), "key", "n")
    )
    a8 = (
        recs.groupBy(F.col("drop_reason").alias("key"))
        .agg(n)
        .select(F.lit("a8_drop_reason").alias("metric"), "key", "n")
    )
    f9 = (
        recs.filter(F.col("page") <= 2)
        .groupBy(F.concat_ws("|", "conv_id", "turn_idx").alias("key"))
        .agg(n)
        .select(F.lit("f9_first3").alias("metric"), "key", "n")
    )
    return a5.unionByName(a6).unionByName(a8).unionByName(f9).orderBy("metric", "key")


def q_analysis_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyzer's nested ``analysis_result`` envelope per PDF turn
    (``pdf_api/core/pdf_analyzer.py:51-103``): pages_info is a genuine
    ArrayType(StructType) column in the plan (pytest pins the nested
    schema); the registered output serializes it with F.to_json so the
    driver's value-hash compares it byte-for-byte against the golden's
    json.dumps — same recipe as the spans column."""
    env = images_op.analysis_records(_transcripts_df(spark, sf_dir))
    # X2 on the REAL parsed /Info value: metadata['CreationDate'] (null-safe
    # map access) through pdf_date_parse; the golden computes the same via
    # python strptime — decoder and formatter share no code across engines
    creation = F.coalesce(
        F.date_format(
            pdf_date_parse(F.col("metadata")["CreationDate"]),
            "yyyy-MM-dd HH:mm:ss",
        ),
        F.lit(""),
    )
    return env.select(
        "conv_id",
        "turn_idx",
        "page_count",
        F.to_json("pages_info").alias("pages_info_json"),
        "total_text_chars",
        "total_images",
        "total_vectors",
        "pdf_type",
        F.to_json("metadata").alias("metadata_json"),
        creation.alias("creation_date"),
    )


# ======================================================== relational parity ==

def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1/A2 scan→filter→agg) in exact integer cents."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    base = _cents(F.col("l_extendedprice"))
    disc = _cents(F.col("l_discount"))
    tax = _cents(F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.sum(base).cast("long").alias("sum_base_cents"),
            F.sum(base * (100 - disc)).cast("long").alias("sum_disc_e4"),
            F.sum(base * (100 - disc) * (100 + tax)).cast("long").alias("sum_charge_e6"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k (J5 broadcast on the small dim side)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    rev = F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(rev.cast("long").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_region_supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum(_cents(F.col("s_acctbal"))).cast("long").alias("acctbal_cents"),
        )
        .orderBy("r_name")
    )


def q_a2_first3_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's limit-before-aggregate sampling (first 3 pages ≙ first
    3 line numbers — ``pdf_api/core/pdf_analyzer.py:66``)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    return li.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


def q_a3_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way CASE classification over aggregated counts (A3 shape —
    ``pdf_api/core/pdf_analyzer.py:118-139``)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
    )
    klass = (
        F.when(F.col("n_events") > 70, F.lit("power"))
        .when((F.col("n_purchase") > 15) & (F.col("n_view") < 12), F.lit("buyer"))
        .when(F.col("n_purchase") > 15, F.lit("engaged"))
        .otherwise(F.lit("casual"))
    )
    return (
        per_user.select(klass.alias("user_class"))
        .groupBy("user_class")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("user_class")
    )


def q_a10_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (A10 — absent in the reference, free in
    Spark/DuckDB): per (event_type, value-band) counts + subtotals + grand
    total, exact integer value sums."""
    ev = _t(spark, sf_dir, "events")
    band = F.when(F.col("value") < 100, F.lit("lo")).when(
        F.col("value") < 250, F.lit("mid")
    ).otherwise(F.lit("hi"))
    return (
        ev.select("event_type", band.alias("band"), _cents(F.col("value")).alias("vc"))
        .rollup("event_type", "band")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("vc").cast("long").alias("value_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("band"), F.lit("ALL")).alias("band"),
            "n",
            "value_cents",
        )
        .orderBy("event_type", "band")
    )


def q_a7_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual width_bucket histogram (A7 — ``smart_pdf_extractor.py:391-409``)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 200, F.lit("small(<200)"))
        .when(F.col("n_chars") <= 400, F.lit("medium(200-400)"))
        .otherwise(F.lit("large(>400)"))
    )
    return (
        docs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("bucket")
    )


def q_w3_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number()==1 first-occurrence dedup (W3/D1 ordering semantics)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "event_id")
        .orderBy("event_type")
    )


def q_o3_top5_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (O1/O3)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(5)
    )


def q_j1_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range theta self-join (J1 — ``_is_overlap`` as a join pred)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", F.col("value").alias("v"))
    a, b = ev.alias("a"), ev.alias("b")
    cond = (
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.v") <= F.col("b.v") + 5)
        & (F.col("b.v") <= F.col("a.v") + 5)
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("event_type")
    )


def q_x2_pdf_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 'D:YYYYMMDDHHmmSS' date parse (X2)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_id",
        F.concat(F.lit("D:"), F.date_format("ts", "yyyyMMddHHmmss")).alias("pdf_date"),
    )
    return d.select(
        "event_id",
        "pdf_date",
        F.date_format(pdf_date_parse(F.col("pdf_date")), "yyyy-MM-dd HH:mm:ss").alias("parsed"),
    )


# ============================================================ dedup suite ==

def _doubled_docs(spark: SparkSession, sf_dir: str, exact: bool) -> DataFrame:
    """documents ∪ shifted copies (exact or 15-char-truncated) — guarantees
    the dedup/near-dup operators have real positives to find."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    if exact:
        copy = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    else:
        copy = docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, 1, length(text) - 15)").alias("text"),
        )
    return docs.unionByName(copy)


def q_d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup.exact_dedup(_doubled_docs(spark, sf_dir, exact=True))
        .select("doc_id", "content_md5")
        .orderBy("doc_id")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _doubled_docs(spark, sf_dir, exact=False),
        k=3, num_hashes=8, bands=4, jaccard_threshold=0.6, max_bucket=50,
    )


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: the truncated copies (ids +1000000) arrive as
    the new batch and are near-dup-matched against the existing documents
    corpus via a band-table JOIN — no corpus self-join. The daily-crawl
    shape of minhash_lsh_pairs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 15)").alias("text"),
    )
    return dedup.minhash_lsh_pairs_incremental(
        new, docs, k=3, num_hashes=8, bands=4,
        jaccard_threshold=0.6, max_bucket=50,
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir, exact=False), k=3, threshold=0.5
    )


def q_simhash_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both simhash widths in one driver-checked entry (registry curation —
    see q_image_histograms): the 32-bit digest plus the standard-width
    64-bit digest as the 4x16-bit chunks the Hamming-pair operator bands
    on. Each arm is the unmodified operator; one equi-join on id."""
    docs = _t(spark, sf_dir, "documents")
    s32 = dedup.simhash(docs, bits=32).withColumnRenamed("simhash", "simhash32")
    s64 = dedup.simhash64_chunks(docs)
    return s32.join(s64, "id").orderBy("id")


def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=3 near-dup pairs over simhash64 via pigeonhole chunk banding
    (what a dedup pipeline actually does with simhash)."""
    return dedup.simhash_hamming_pairs(
        _doubled_docs(spark, sf_dir, exact=False), max_hamming=3, max_bucket=50
    )


def q_fingerprint48(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats.fingerprint(_t(spark, sf_dir, "documents"))


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the Hamming<=3 simhash near-dup graph by
    BOTH algorithms in one driver-checked entry (registry curation — the
    r05 slot freed here holds decontamination_hits): min-label propagation
    (`component`) and large-star/small-star contraction (`component_star`,
    Kiveris et al. — the web-scale path: O(log n) rounds regardless of
    graph diameter). The oracle emits the recursive-CTE reachability-min
    labelling for both columns, so the driver's hash check asserts the two
    algorithms agree with the oracle AND each other. A dedup pipeline
    keeps one doc per COMPONENT — pairs alone under-dedup transitive
    duplicate chains."""
    nodes, edges = _neardup_graph(spark, sf_dir)
    lp = dedup.connected_components(nodes, edges)
    star = dedup.connected_components_star(nodes, edges).withColumnRenamed(
        "component", "component_star"
    )
    return lp.join(star, "id").orderBy("id")


def _neardup_graph(spark: SparkSession, sf_dir: str):
    """(nodes, edges) of the Hamming<=3 simhash near-dup graph. Edges are
    persisted (tracked): both CC algorithms eagerly checkpoint their edge
    transforms up front, so without the persist the whole banding join
    would execute once PER algorithm."""
    from pyspark import StorageLevel

    docs = _doubled_docs(spark, sf_dir, exact=False)
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = track(
        dedup.simhash_hamming_pairs(docs, max_hamming=3, max_bucket=50)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return nodes, edges


def _eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crafted eval-set fixture with KNOWN planted contamination: every
    31st corpus doc leaks a 30-word window (words 11-40) into the eval set
    (ids +5000000 — each MUST be flagged against its source doc), and
    every 29th doc contributes its word-REVERSED text (ids +6000000 — no
    forward 13-gram survives reversal, so these must never match)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    planted = docs.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.array_join(F.slice(toks, 11, 30), " ").alias("text"),
    )
    clean = docs.filter(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    return planted.unionByName(clean)


def q_decontamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (corpus 13-grams vs a broadcast eval set)
    over the planted-contamination fixture."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.decontamination_hits(docs, _eval_docs(spark, sf_dir), k=13)


def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final act: keep exactly ONE doc per near-dup
    component (the min id — same first-wins rule as D1), emitting survivor
    rows with their duplicate count. Uses label propagation alone — the
    merged two-algorithm entry exists to pin algorithm agreement, which
    this query need not re-prove."""
    nodes, edges = _neardup_graph(spark, sf_dir)
    comp = dedup.connected_components(nodes, edges)
    return (
        comp.groupBy("component")
        .agg(F.count("*").cast("long").alias("n_members"))
        .select(
            F.col("component").alias("doc_id"),
            F.col("n_members"),
        )
        .orderBy("doc_id")
    )


# =========================================================== text analysis ==

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token stats + BPE-ish regex counts (letter/digit/symbol
    runs, ~4-char subword estimate) + the PII scan arm (email/phone/IPv4
    hit counts, redacted-text md5) + the EXACT BPE count (broadcast merge
    table, one mapInPandas crossing — r05; the estimate column stays for
    comparison) in one scan — the former token_stats and
    subword_token_stats entries merged (registry curation to the driver's
    50-row cap)."""
    enriched = text_stats.with_bpe_token_count(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return text_stats.token_profile(enriched, passthrough=("n_bpe_tokens",))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition + structure quality signals with the published
    pass thresholds — the quality-depth arm next to quality_score's
    length/space bands (r03 verdict depth gap #3)."""
    return text_stats.gopher_signals(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_lang_id_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(text_stats.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("lang_pred")
    )


def q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup: micro-int quality_score sum + how many
    docs clear the full Gopher gate (the r03 depth ask: the rollup a
    pipeline dashboard reads hourly)."""
    docs = _t(spark, sf_dir, "documents")
    q = text_stats.quality_score(F.col("text"))
    sig = text_stats.gopher_signal_cols(F.col("text"))
    return (
        docs.select(
            "source",
            F.round(q * 1000000).cast("long").alias("q_micro"),
            text_stats.gopher_pass_col(sig).cast("int").alias("gp"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q_micro").cast("long").alias("quality_micro_sum"),
            F.sum("gp").cast("long").alias("gopher_pass_n"),
        )
        .orderBy("source")
    )


# ============================================================== similarity ==

def q_training_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style corpus filter chain — the operators a
    training-data pipeline stacks: language-ID == 'en', quality score >=
    0.7, exact-dedup survivor, token count in [20, 1000], plus the Gopher
    repetition gates (symbol flood, duplicate lines, top-bigram share).
    All JVM-side column expressions + one window; scan-speed at corpus
    scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), " +"))
    sig = text_stats.gopher_signal_cols(F.col("text"))
    enriched = docs.select(
        "doc_id",
        "source",
        "text",
        text_stats.lang_id(F.col("text")).alias("lang_pred"),
        F.round(text_stats.quality_score(F.col("text")) * 1000000)
        .cast("long")
        .alias("q_micro"),
        toks.cast("int").alias("n_tokens"),
        sig["symbol_ratio"].alias("symbol_ratio"),
        sig["dup_line_frac"].alias("dup_line_frac"),
        sig["top_bigram_frac"].alias("top_bigram_frac"),
    )
    survivors = dedup.exact_dedup(enriched)
    return (
        survivors.filter(
            (F.col("lang_pred") == "en")
            & (F.col("q_micro") >= 700000)
            & F.col("n_tokens").between(20, 1000)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("dup_line_frac") < 0.3)
            & (F.col("top_bigram_frac") < 0.2)
        )
        .select(
            "doc_id", "source", "lang_pred", "q_micro", "n_tokens",
            "symbol_ratio", "dup_line_frac", "top_bigram_frac",
        )
        .orderBy("doc_id")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_srp_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    return (
        similarity.with_srp_buckets(emb, "embedding", [("bucket", 4, 0)], dims=64)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("bucket")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, planes=4, dims=64
    )


def _doubled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ slightly-perturbed copies (dim 1 += 0.05): deterministic
    near-duplicate positives for the cosine near-dup operator."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        _doubled_embeddings(spark, sf_dir),
        threshold=0.9, planes=10, n_tables=4, dims=64, max_bucket=200,
    )


def q_embedding_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus embedding near-dup: the perturbed copies arrive as
    the new batch and are matched against the corpus via an SRP bucket
    JOIN per plane family — no corpus self-join (the ANN ingestion
    shape, mirroring minhash_incremental)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    new = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return similarity.embedding_near_dup_incremental(
        new, emb, threshold=0.9, planes=10, n_tables=4, dims=64, max_bucket=200,
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (broadcast-join argmin over 8 centroids)."""
    return similarity.ivf_assign(_t(spark, sf_dir, "embeddings"), n_cells=8)


def q_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means for the IVF quantizer. Every round is deterministic
    fixed-point (see similarity.ivf_train), so the fixed n_iters=3 loop
    unrolls mechanically into three chained CTE blocks of the
    ivf_train_step template — _ivf_train_sql(3) is the full hash oracle
    (rows+schema+values), closing the board's last rows-only cell."""
    return similarity.ivf_train(_t(spark, sf_dir, "embeddings"), n_cells=8, n_iters=3)


def q_ivf_probe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with nprobe=2 — the recall knob: scan the two cells whose
    centroids are nearest the query instead of one, recovering boundary
    neighbors at 2x the (cell-sized) scan cost."""
    return similarity.ivf_probe_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, n_cells=8, nprobe=2
    )


def q_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration (seed -> assign -> exact fixed-point mean) — the
    single-round k-means update as one declarative query with a full SQL
    oracle; the multi-round loop stays in ivf_train (rows-only by design)."""
    return similarity.ivf_train_step(_t(spark, sf_dir, "embeddings"), n_cells=8)


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe=1 probe: cosine top-k within the query's cell only."""
    return similarity.ivf_probe_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=10, n_cells=8
    )


# =============================================================== multimodal ==

def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = multimodal.media_features(multimodal.as_media_table(docs))
    # decode_ok must be FALSE here: the payloads are UTF-8 text, never PNG —
    # the flag proves the fabricated-pixel fallback is visible, not silent
    return feats.select(
        "media_id", "n_bytes", "content_md5", "width", "height", "decode_ok",
        "decode_status",
    )


def q_d3_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 perceptual near-dup filter per group via applyInPandas, with F5/F6
    mostly-white/black flags, vs the single-node kernel golden."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        F.pmod(F.col("doc_id"), F.lit(40)).alias("group_id"),
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    copy = docs.select(
        F.pmod(F.col("doc_id"), F.lit(40)).alias("group_id"),
        (F.col("doc_id") + 1000000).alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return multimodal.perceptual_dedup(base.unionByName(copy))


def q_media_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-pixel media features: page-render PNGs decoded by the
    from-scratch PNG reader. The oracle is the independently recorded render
    dimensions (px_w/px_h from the render-record kernel), so a decoder bug —
    wrong IHDR parse, wrong unfilter — breaks the hash; this cross-checks
    the decoder, not just the Arrow plumbing."""
    rm = images_op.render_media(_transcripts_df(spark, sf_dir))
    feats = multimodal.media_features_keyed(
        rm.filter(F.col("variant") == "full").select(
            "conv_id", "turn_idx", "page", F.col("png").alias("payload")
        ),
        key_cols=["conv_id", "turn_idx", "page"],
    )
    # decode_ok TRUE for every row: a decoder regression that silently fell
    # back to fabricated pixels would flip it and break the oracle hash
    return feats.select(
        "conv_id", "turn_idx", "page", "n_bytes", "content_md5", "width",
        "height", "decode_ok", "decode_status",
    )


def q_media_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-JPEG media features: the downsampled 'jpeg' render variants are
    decoded by the from-scratch baseline JPEG reader (huffman + IDCT,
    kernels/jpeg.py). Oracle = encode-side facts (len/md5/target dims) from
    the golden, so the reported width/height must come out of a correct
    SOF0 parse + scan assembly; decode_ok=TRUE pins that no variant fell
    back to fabricated pixels. Reference behavior: the pixel filters run on
    PIL-decoded images of any format
    (pdfplumber/pdf_image_extractor_improved.py:77-124)."""
    rm = images_op.render_media(_transcripts_df(spark, sf_dir))
    feats = multimodal.media_features_keyed(
        rm.filter(F.col("variant") == "jpeg").select(
            "conv_id", "turn_idx", "page", F.col("png").alias("payload")
        ),
        key_cols=["conv_id", "turn_idx", "page"],
    )
    return feats.select(
        "conv_id", "turn_idx", "page", "n_bytes", "content_md5", "width",
        "height", "mean_luma", "decode_ok", "decode_status",
    )


def q_d3_render_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/F5/F6 over REAL pixels: per page-render group (full + K7
    text-stripped + byte-identical dup), perceptual keep mask and
    mostly-white/black flags computed from actually-decoded PNG rasters."""
    rm = images_op.render_media(_transcripts_df(spark, sf_dir))
    media = rm.select(
        F.concat_ws("|", "conv_id", "turn_idx", "page").alias("group_id"),
        F.col("media_ord").cast("long").alias("media_id"),
        F.col("png").alias("payload"),
    )
    return multimodal.perceptual_dedup(media)


# ============================================================== registries ==

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_turns_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_turns_full": q_extract_turns_full,
        "extract_kind_stats": q_extract_kind_stats,
        "extract_reassembly_digest": q_extract_reassembly_digest,
        "fallback_extraction": q_fallback_extraction,
        "d4_nms_filter": q_d4_nms_filter,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_top_orders": q_q3_top_orders,
        "region_supplier_rollup": q_region_supplier_rollup,
        "a2_first3_totals": q_a2_first3_totals,
        "a3_classification": q_a3_classification,
        "a7_size_buckets": q_a7_size_buckets,
        "a10_rollup_events": q_a10_rollup_events,
        "w3_first_occurrence": q_w3_first_occurrence,
        "o3_top5_docs": q_o3_top5_docs,
        "j1_overlap_pairs": q_j1_overlap_pairs,
        "x2_pdf_date_roundtrip": q_x2_pdf_date_roundtrip,
        "d1_exact_dedup": q_d1_exact_dedup,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_incremental": q_minhash_incremental,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_digests": q_simhash_digests,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        # label-prop and star-contraction components merged into ONE entry
        # (both labellings, joined on id — the hash check pins their
        # agreement); the freed slot holds decontamination_hits
        "neardup_components": q_neardup_components,
        "neardup_survivors": q_neardup_survivors,
        "decontamination_hits": q_decontamination_hits,
        "fingerprint48": q_fingerprint48,
        # subword_token_stats merged into token_stats (one projection);
        # the freed slot holds gopher_quality
        "token_stats": q_token_stats,
        "gopher_quality": q_gopher_quality,
        "lang_id_histogram": q_lang_id_histogram,
        "quality_by_source": q_quality_by_source,
        "training_pipeline_filter": q_training_pipeline_filter,
        "cosine_topk": q_cosine_topk,
        "srp_bucket_histogram": q_srp_bucket_histogram,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_neardup_incremental": q_embedding_neardup_incremental,
        "ivf_assign": q_ivf_assign,
        # ivf_train_step retired from the registry: ivf_train is now fully
        # hash-oracled via the unrolled CTE chain of the same template (and
        # equals the step at n_iters=1); ivf_probe_topk likewise folded into
        # ivf_probe2_topk (same operator, nprobe knob — the superset-
        # domination pytest still exercises nprobe=1). Registry curation to
        # the driver's 50-row cap, r03 verdict #1.
        "ivf_train": q_ivf_train,
        "ivf_probe2_topk": q_ivf_probe2_topk,
        "media_features": q_media_features,
        "media_features_png": q_media_features_png,
        "media_features_jpeg": q_media_features_jpeg,
        "d3_perceptual_dedup": q_d3_perceptual_dedup,
        "d3_render_dedup": q_d3_render_dedup,
        "image_records_full": q_image_records_full,
        "k1_page_renders": q_k1_page_renders,
        "forced_vector_renders": q_forced_vector_renders,
        # a5/a6/a8/f9 merged into image_histograms; x5 folded into
        # image_records_full's file_name column (registry curation)
        "image_histograms": q_image_histograms,
        "analysis_envelope": q_analysis_envelope,
        "o5_turn_slice": q_o5_turn_slice,
    }


# ------------------------------------------------------- oracle SQL builders

def _golden_path() -> str:
    return G.ensure_golden(ORACLE_SF_DIR)


def _nms_golden_path() -> str:
    return G.ensure_nms_golden(ORACLE_SF_DIR)


_DOUBLED_EXACT = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents"
)
_DOUBLED_TRUNC = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, substr(text, 1, length(text) - 15) AS text "
    "FROM documents"
)

_SHINGLE_CTES = """
toks AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM docs2),
sh AS (
  SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(w) - 2, 0) + 1)) AS u(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
)
"""


def _minhash_sql() -> str:
    # mirrors dedup.minhash_signature: ONE md5 per shingle, chunked into 8
    # disjoint 4-hex substrings, min per chunk
    mh = ",\n    ".join(
        f"min(substr(md5(shingle), {s * 4 + 1}, 4)) AS mh{s}" for s in range(8)
    )
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT id, '{b}|' || mh{2 * b} || '|' || mh{2 * b + 1} AS band FROM sig"
        for b in range(4)
    )
    return f"""
WITH docs2 AS ({_DOUBLED_TRUNC}),
{_SHINGLE_CTES},
sig AS (SELECT id, {mh} FROM sh GROUP BY id),
stacked AS (
  {bands}
),
ok_bands AS (SELECT band FROM stacked GROUP BY band HAVING count(*) <= 50),
st2 AS (SELECT s.* FROM stacked s JOIN ok_bands USING (band)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM st2 a JOIN st2 b USING (band) WHERE a.id < b.id
),
inter AS (
  SELECT id_a, id_b, count(*) AS i
  FROM cand
  JOIN sh sa ON sa.id = id_a
  JOIN sh sb ON sb.id = id_b AND sa.shingle = sb.shingle
  GROUP BY id_a, id_b
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
SELECT id_a, id_b, round(i / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
FROM inter JOIN counts ca ON ca.id = id_a JOIN counts cb ON cb.id = id_b
WHERE round(i / (ca.n_sh + cb.n_sh - i), 6) >= 0.6
ORDER BY id_a, id_b
"""


def _minhash_incremental_sql() -> str:
    # batch (ids >= 1000000, truncated copies) vs corpus (documents):
    # candidates from a band JOIN, band cap on the corpus side only
    mh = ",\n    ".join(
        f"min(substr(md5(shingle), {s * 4 + 1}, 4)) AS mh{s}" for s in range(8)
    )
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT id, '{b}|' || mh{2 * b} || '|' || mh{2 * b + 1} AS band FROM sig"
        for b in range(4)
    )
    return f"""
WITH docs2 AS ({_DOUBLED_TRUNC}),
{_SHINGLE_CTES},
sig AS (SELECT id, {mh} FROM sh GROUP BY id),
stacked AS (
  {bands}
),
stc AS (SELECT * FROM stacked WHERE id < 1000000),
stn AS (SELECT * FROM stacked WHERE id >= 1000000),
ok_bands AS (SELECT band FROM stc GROUP BY band HAVING count(*) <= 50),
stc2 AS (SELECT s.* FROM stc s JOIN ok_bands USING (band)),
cand AS (
  SELECT DISTINCT n.id AS id_new, c.id AS id_corpus
  FROM stn n JOIN stc2 c USING (band)
),
inter AS (
  SELECT id_new, id_corpus, count(*) AS i
  FROM cand
  JOIN sh sa ON sa.id = id_new
  JOIN sh sb ON sb.id = id_corpus AND sa.shingle = sb.shingle
  GROUP BY id_new, id_corpus
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
SELECT id_new, id_corpus, round(i / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
FROM inter JOIN counts ca ON ca.id = id_new JOIN counts cb ON cb.id = id_corpus
WHERE round(i / (ca.n_sh + cb.n_sh - i), 6) >= 0.6
ORDER BY id_new, id_corpus
"""


def _ngram_sql() -> str:
    return f"""
WITH docs2 AS ({_DOUBLED_TRUNC}),
{_SHINGLE_CTES},
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
SELECT id_a, id_b, round(i / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
FROM inter JOIN counts ca ON ca.id = id_a JOIN counts cb ON cb.id = id_b
WHERE round(i / (ca.n_sh + cb.n_sh - i), 6) >= 0.5
ORDER BY id_a, id_b
"""


def _simhash64_ctes(docs_from: str) -> str:
    """CTEs toks->h->sums->ch producing (id, c0..c3) 16-bit simhash chunks,
    mirroring dedup.simhash64_chunks."""
    hs = ",\n         ".join(
        f"CAST(concat('0x', substr(md5(tok), {4 * j + 1}, 4)) AS BIGINT) AS h{j}"
        for j in range(4)
    )
    sums = ",\n    ".join(
        f"sum((h{j} >> {r}) & 1) AS s{j}_{r}" for j in range(4) for r in range(16)
    )
    chunks = ",\n    ".join(
        " + ".join(
            f"(CASE WHEN s{j}_{r} * 2 > n THEN CAST({1 << r} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for r in range(16)
        )
        + f" AS c{j}"
        for j in range(4)
    )
    return f"""
toks AS (
  SELECT doc_id AS id, tok
  FROM {docs_from}, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE length(tok) > 0),
h AS (SELECT id, {hs} FROM toks),
sums AS (SELECT id, count(*) AS n,
    {sums}
  FROM h GROUP BY id),
ch AS (SELECT id,
    {chunks}
  FROM sums)
"""


def _simhash_digests_sql() -> str:
    """32-bit digest + 64-bit chunk digest in one statement: the 64-bit
    CTEs contribute toks (shared) and ch; the 32-bit arm rebuilds its own
    hash/sum pyramid over the same token stream."""
    sums32 = ",\n    ".join(f"sum((h32 >> {b}) & 1) AS t{b}" for b in range(32))
    terms32 = " + ".join(
        f"(CASE WHEN t{b} * 2 > n THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return f"""
WITH {_simhash64_ctes('documents')},
h32 AS (SELECT id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h32
        FROM toks),
agg32 AS (SELECT id, count(*) AS n,
    {sums32}
  FROM h32 GROUP BY id),
s32 AS (SELECT id, CAST({terms32} AS BIGINT) AS simhash32 FROM agg32)
SELECT s32.id, simhash32, c0, c1, c2, c3
FROM s32 JOIN ch ON s32.id = ch.id ORDER BY s32.id
"""


def _simhash_hamming_sql(max_hamming: int = 3, max_bucket: int = 50) -> str:
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT id, {j} AS band_idx, c{j} AS band_val FROM ch" for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ca.c{j}, cb.c{j}))" for j in range(4))
    return f"""
WITH docs2 AS ({_DOUBLED_TRUNC}),
{_simhash64_ctes('docs2')},
bands AS (
  {bands}
),
ok AS (SELECT band_idx, band_val FROM bands GROUP BY 1, 2
       HAVING count(*) <= {max_bucket}),
b2 AS (SELECT b.* FROM bands b JOIN ok USING (band_idx, band_val)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM b2 a JOIN b2 b USING (band_idx, band_val) WHERE a.id < b.id)
SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming
FROM cand JOIN ch ca ON ca.id = id_a JOIN ch cb ON cb.id = id_b
WHERE {ham} <= {max_hamming}
ORDER BY id_a, id_b
"""


def _neardup_components_sql(max_hamming: int = 3, max_bucket: int = 50) -> str:
    bands = "\n  UNION ALL\n  ".join(
        f"SELECT id, {j} AS band_idx, c{j} AS band_val FROM ch" for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ca.c{j}, cb.c{j}))" for j in range(4))
    return f"""
WITH RECURSIVE docs2 AS ({_DOUBLED_TRUNC}),
{_simhash64_ctes('docs2')},
bands AS (
  {bands}
),
ok AS (SELECT band_idx, band_val FROM bands GROUP BY 1, 2
       HAVING count(*) <= {max_bucket}),
b2 AS (SELECT b.* FROM bands b JOIN ok USING (band_idx, band_val)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM b2 a JOIN b2 b USING (band_idx, band_val) WHERE a.id < b.id),
edges AS (
  SELECT id_a, id_b
  FROM cand JOIN ch ca ON ca.id = id_a JOIN ch cb ON cb.id = id_b
  WHERE {ham} <= {max_hamming}),
sym AS (SELECT id_a AS x, id_b AS y FROM edges
        UNION ALL SELECT id_b AS x, id_a AS y FROM edges),
nodes AS (SELECT DISTINCT doc_id AS id FROM docs2),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT s.y AS id, reach.r AS r FROM reach JOIN sym s ON s.x = reach.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS component,
       CAST(min(r) AS BIGINT) AS component_star
FROM reach GROUP BY id ORDER BY id
"""


def _decontamination_sql(k: int = 13) -> str:
    """Mirror of dedup.decontamination_hits over the planted fixture
    (_eval_docs): DuckDB 1-based inclusive list slicing w[i:i+k-1] is the
    k-word shingle; planted eval docs are words 11-40 of every 31st corpus
    doc, clean ones the word-reversed text of every 29th."""
    km1 = k - 1
    return f"""
WITH ev_src AS (
  SELECT doc_id + 5000000 AS eval_id,
         array_to_string((string_split(text, ' '))[11:40], ' ') AS text
  FROM documents WHERE doc_id % 31 = 0
  UNION ALL
  SELECT doc_id + 6000000 AS eval_id,
         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 29 = 0
),
ev_toks AS (SELECT eval_id, string_split(text, ' ') AS w FROM ev_src),
ev_sh AS (
  SELECT DISTINCT eval_id, array_to_string(w[i:i+{km1}], ' ') AS shingle
  FROM ev_toks, UNNEST(range(1, greatest(len(w) - {km1}, 0) + 1)) AS u(i)
  WHERE length(array_to_string(w[i:i+{km1}], ' ')) > 0
),
ctoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
csh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+{km1}], ' ') AS shingle
  FROM ctoks, UNNEST(range(1, greatest(len(w) - {km1}, 0) + 1)) AS u(i)
  WHERE length(array_to_string(w[i:i+{km1}], ' ')) > 0
),
j AS (
  SELECT c.doc_id AS corpus_id, e.eval_id,
         count(DISTINCT c.shingle) AS n_matched
  FROM csh c JOIN ev_sh e USING (shingle)
  GROUP BY 1, 2
),
evn AS (SELECT eval_id, count(*) AS n_eval FROM ev_sh GROUP BY eval_id)
SELECT corpus_id, j.eval_id, CAST(n_matched AS BIGINT) AS n_matched,
       round(n_matched / CAST(n_eval AS DOUBLE), 6) AS eval_frac
FROM j JOIN evn ON j.eval_id = evn.eval_id
WHERE n_matched >= 1
ORDER BY corpus_id, j.eval_id
"""


def _ivf_train_sql(n_iters: int = 3, n_cells: int = 8, dims: int = 64) -> str:
    """Unrolled Lloyd loop: ``n_iters`` chained CTE blocks of the exact
    ivf_train_step template. Each round is deterministic (fixed-point means,
    l2sq rounded to 6, ties to lower cell), so chaining is mechanical:
    round i assigns against centroids c{i-1} and emits c{i}; empty cells
    carry the previous centroid via a LEFT JOIN COALESCE. The summary takes
    n_members from the LAST assignment and the norm from the LAST centroids
    — the same convention ivf_train_step uses for one round."""
    l2 = (
        "round(list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, {dims + 1}), "
        "i -> (e.v[i] - {c}.cv[i]) * (e.v[i] - {c}.cv[i]))), "
        "(acc, x) -> acc + x), 6)"
    )
    blocks = [
        f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < {n_cells})"""
    ]
    for i in range(1, n_iters + 1):
        p = f"c{i - 1}"
        blocks.append(
            f"""d{i} AS (
  SELECT e.vec_id, {p}.cell, {l2.format(c=p)} AS l2sq
  FROM e, {p}),
a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2sq, cell) AS rn
    FROM d{i}) WHERE rn = 1),
s{i} AS (
  SELECT a{i}.cell, i AS dim,
         sum(CAST(round(e.v[i] * 1000000) AS BIGINT)) AS ssum,
         count(*) AS n
  FROM e JOIN a{i} USING (vec_id), UNNEST(range(1, {dims + 1})) AS u(i)
  GROUP BY a{i}.cell, i),
m{i} AS (
  SELECT cell, array_agg(md ORDER BY dim) AS cv
  FROM (SELECT cell, dim, CAST(ssum AS DOUBLE) / (n * 1000000.0) AS md FROM s{i})
  GROUP BY cell),
c{i} AS (
  SELECT {p}.cell, COALESCE(m{i}.cv, {p}.cv) AS cv
  FROM {p} LEFT JOIN m{i} ON {p}.cell = m{i}.cell)"""
        )
    last = n_iters
    return (
        "WITH "
        + ",\n".join(blocks)
        + f""",
members AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
            FROM a{last} GROUP BY cell)
SELECT members.cell, n_members,
       round(sqrt(list_reduce(list_prepend(0.0,
           list_transform(c{last}.cv, x -> x * x)), (acc, v) -> acc + v)), 6)
           AS centroid_norm
FROM members JOIN c{last} ON members.cell = c{last}.cell
ORDER BY members.cell
"""
    )


_TOKEN_STATS_BASE_SQL = """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_tokens,
                   CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS INTEGER)
                     AS n_distinct_tokens,
                   round((length(trim(text))
                          - (len(string_split_regex(trim(text), ' +')) - 1))
                         / greatest(len(string_split_regex(trim(text), ' +')), 1), 6)
                     AS avg_token_len,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_words,
                   CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numbers,
                   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]+')) AS INTEGER) AS n_punct,
                   CAST(list_reduce(list_prepend(0,
                        list_transform(regexp_extract_all(text, '[A-Za-z]+'),
                                       w -> (length(w) + 3) // 4)),
                        (acc, v) -> acc + v) AS INTEGER) AS n_subwords,
                   -- PII scan arm (text_stats._PII_PATTERNS, same order;
                   -- DuckDB regexp_replace needs the 'g' flag to match
                   -- Spark's replace-all semantics)
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                        AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(text,
                        '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS INTEGER) AS n_phone,
                   CAST(len(regexp_extract_all(text,
                        '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<email>', 'g'),
                        '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<phone>', 'g'),
                        '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<ipv4>', 'g'))
                     AS redacted_md5
            FROM documents
        """


def _token_stats_sql() -> str:
    """token_stats oracle: the SQL-expressible columns keep their
    independent DuckDB mirror; the exact-BPE arm joins the golden parquet
    produced by the single-node kernel (kernels.bpe -- the SAME function
    the Spark mapInPandas wrapper broadcasts), the K5 two-harness
    pattern."""
    return (
        "WITH base AS (" + _TOKEN_STATS_BASE_SQL + ")\n"
        "SELECT base.*, bpe.n_bpe_tokens\n"
        "FROM base JOIN '" + G.ensure_bpe_golden(ORACLE_SF_DIR) + "' bpe\n"
        "  USING (doc_id)"
    )


def _fingerprint_sql() -> str:
    return """
WITH toks AS (
  SELECT DISTINCT doc_id AS id, tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE length(tok) > 0
),
h AS (SELECT id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS hv FROM toks)
SELECT id, CAST(sum(hv) % 281474976710656 AS BIGINT) AS fingerprint
FROM h GROUP BY id ORDER BY id
"""


def _lang_score_cols() -> str:
    # token-membership counts over the once-split token list `tk` (Latin
    # marker scores) + per-script character-class removal counts over
    # `text` — mirrors the Spark side's single split + per-language array
    # filter and its regexp_replace script counting (same literal-codepoint
    # character classes; see text_stats.script_char_class)
    from pdf_parser_spark.operators.text_stats import _SCRIPT_RANGES, script_char_class

    def score(markers: list[str]) -> str:
        in_list = ", ".join(f"'{m}'" for m in markers)
        return f"CAST(len(list_filter(tk, t -> t IN ({in_list}))) AS INTEGER)"

    cols = [f"{score(ms)} AS s_{lang}" for lang, ms in _LANG_MARKERS.items()]
    for key in _SCRIPT_RANGES:
        cls = script_char_class(key)
        cols.append(
            f"CAST(length(text) - length(regexp_replace(text, '{cls}', '', 'g'))"
            f" AS INTEGER) AS c_{key}"
        )
    cols.append(
        "CAST(length(replace(text, ' ', '')) AS INTEGER) AS c_nonspace"
    )
    return ",\n    ".join(cols)


def _lang_case() -> str:
    """Two-stage CASE mirroring text_stats.lang_id: script dominance
    (>=30% of non-space chars; argmax ties to earlier; zh/ja on kana
    share) then Latin marker argmax — generated from the SAME marker dict
    and script order as the Spark expression so the arms cannot drift."""
    from pdf_parser_spark.operators.text_stats import _SCRIPT_ORDER

    svar = {k: f"c_{k}" for k in _SCRIPT_ORDER}
    svar["cjk"] = "(c_han + c_kana)"
    all_s = ", ".join(svar[k] for k in _SCRIPT_ORDER)
    script_arms = []
    for i in range(len(_SCRIPT_ORDER) - 1, 0, -1):
        k = _SCRIPT_ORDER[i]
        prefix = ", ".join(svar[x] for x in _SCRIPT_ORDER[:i])
        pm = f"greatest({prefix})" if i > 1 else prefix
        script_arms.append(f"WHEN {svar[k]} > {pm} THEN '{k}'")
    script_case = (
        "CASE " + "\n      ".join(script_arms)
        + "\n      WHEN c_kana > 0 AND c_kana * 20 >= c_han THEN 'ja'"
        + "\n      ELSE 'zh' END"
    )
    langs = list(_LANG_MARKERS)
    all_l = ", ".join(f"s_{l}" for l in langs)
    latin_arms = [f"WHEN greatest({all_l}) = 0 THEN 'und'"]
    for i in range(len(langs) - 1, 0, -1):
        prefix = ", ".join(f"s_{x}" for x in langs[:i])
        pm = f"greatest({prefix})" if i > 1 else prefix
        latin_arms.append(f"WHEN s_{langs[i]} > {pm} THEN '{langs[i]}'")
    latin_case = (
        "CASE " + "\n      ".join(latin_arms) + f"\n      ELSE '{langs[0]}' END"
    )
    return f"""CASE
    WHEN greatest({all_s}) > 0
     AND greatest({all_s}) * 10 >= c_nonspace * 3
    THEN {script_case}
    ELSE {latin_case} END"""


def _lang_sql() -> str:
    return f"""
WITH p AS (SELECT text, string_split_regex(trim(text), ' +') AS tk FROM documents),
s AS (SELECT {_lang_score_cols()} FROM p),
c AS (SELECT {_lang_case()} AS lang_pred FROM s)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY lang_pred ORDER BY lang_pred
"""


_QUALITY_MICRO = """CAST(round(round(
    (CASE WHEN length(text) >= 200 THEN 1.0
          WHEN length(text) >= 50 THEN 0.6 ELSE 0.2 END) * 0.6
    + (CASE WHEN (length(text) - length(replace(text, ' ', '')))
              / greatest(length(text), 1) >= 0.08
        AND (length(text) - length(replace(text, ' ', '')))
              / greatest(length(text), 1) <= 0.30
        THEN 1.0 ELSE 0.5 END) * 0.4, 6) * 1000000) AS BIGINT)"""


def _training_pipeline_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source, text, string_split_regex(trim(text), ' +') AS tk,
         len(string_split_regex(trim(text), ' +')) AS n_tokens
  FROM documents),
s AS (SELECT *, {_lang_score_cols()} FROM base),
c AS (
  SELECT doc_id, source, text, n_tokens,
         {_lang_case()} AS lang_pred,
         {_QUALITY_MICRO} AS q_micro
  FROM s),
d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM c),
g AS (SELECT doc_id, symbol_ratio, dup_line_frac, top_bigram_frac
      FROM ({_gopher_sql("documents")}))
SELECT d.doc_id, source, lang_pred, q_micro, CAST(n_tokens AS INTEGER) AS n_tokens,
       symbol_ratio, dup_line_frac, top_bigram_frac
FROM d JOIN g ON d.doc_id = g.doc_id
WHERE rn = 1 AND lang_pred = 'en' AND q_micro >= 700000
  AND n_tokens BETWEEN 20 AND 1000
  AND symbol_ratio < 0.1 AND dup_line_frac < 0.3 AND top_bigram_frac < 0.2
ORDER BY d.doc_id
"""


def _gopher_sql(docs_from: str) -> str:
    """DuckDB mirror of text_stats.gopher_signals. The mode count uses
    UNNEST + GROUP BY (oracle-side clarity) instead of Spark's sorted-run
    fold — same number by construction; docs with <2 words LEFT-JOIN to a
    COALESCE(0). Parameterized on the source relation so the pytest parity
    check can run it over a temp table of crafted multi-line docs."""
    from pdf_parser_spark.operators.text_stats import _GOPHER_STOPWORDS

    stop_list = ", ".join(f"'{m}'" for m in _GOPHER_STOPWORDS)
    return rf"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), ' +') AS tk,
         string_split(text, chr(10)) AS ln,
         -- C4 line rules: terminal punctuation, >= 3 words, no javascript.
         -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
         -- array_join([]) is '' — normalize to the Spark side.
         COALESCE(array_to_string(
             list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '[.!?"”] *$')
                              AND len(regexp_extract_all(l, '[^ ]+')) >= 3
                              AND NOT regexp_matches(l, '(?i)javascript')),
             chr(10)), '') AS ctext,
         len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '[.!?"”] *$')
                              AND len(regexp_extract_all(l, '[^ ]+')) >= 3
                              AND NOT regexp_matches(l, '(?i)javascript')))
           AS n_ckept
  FROM {docs_from}),
bg AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
              ELSE [] END AS bigrams
  FROM base),
bcnt AS (
  SELECT doc_id, b, count(*) AS c
  FROM (SELECT doc_id, unnest(bigrams) AS b FROM bg) GROUP BY doc_id, b),
btop AS (SELECT doc_id, max(c) AS best FROM bcnt GROUP BY doc_id),
sig AS (
  SELECT doc_id,
         CAST(len(tk) AS INTEGER) AS n_words,
         round(list_reduce(list_prepend(0, list_transform(tk, w -> length(w))),
               (a, b) -> a + b) / greatest(len(tk), 1), 6) AS mean_word_len,
         round(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
               / greatest(len(tk), 1), 6) AS alpha_word_frac,
         round(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '…', '')))
                + (length(text) - length(replace(text, '...', ''))) // 3)
               / greatest(len(tk), 1), 6) AS symbol_ratio,
         round(len(list_filter(ln, l -> regexp_matches(l, '^ *[-*•]')))
               / len(ln), 6) AS bullet_line_frac,
         round(len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…) *$')))
               / len(ln), 6) AS ellipsis_line_frac,
         round((len(ln) - len(list_distinct(ln))) / len(ln), 6) AS dup_line_frac,
         CAST(len(list_filter([{stop_list}],
              m -> list_contains(tk, m))) AS INTEGER) AS stop_hits,
         round(n_ckept / len(ln), 6) AS c4_kept_line_frac,
         CAST(len(regexp_extract_all(ctext, '[.!?]')) AS INTEGER)
           AS c4_n_sentences,
         md5(ctext) AS c4_clean_md5,
         (len(regexp_extract_all(ctext, '[.!?]')) >= 5
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, chr(123))) AS c4_pass,
         CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n_bigrams
  FROM base)
SELECT sig.doc_id, n_words, mean_word_len, alpha_word_frac, symbol_ratio,
       bullet_line_frac, ellipsis_line_frac, dup_line_frac,
       round(COALESCE(best, 0) / greatest(n_bigrams, 1), 6) AS top_bigram_frac,
       stop_hits, c4_kept_line_frac, c4_n_sentences, c4_clean_md5, c4_pass,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio < 0.1
        AND bullet_line_frac < 0.9
        AND ellipsis_line_frac < 0.3
        AND alpha_word_frac > 0.8
        AND dup_line_frac < 0.3
        AND round(COALESCE(best, 0) / greatest(n_bigrams, 1), 6) < 0.2
        AND stop_hits >= 2) AS gopher_pass
FROM sig LEFT JOIN btop ON sig.doc_id = btop.doc_id
ORDER BY sig.doc_id
"""


def _dot_sql(a: str, b: str, dims: int) -> str:
    prods = (
        f"list_transform(range(1, {dims + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    return f"list_reduce(list_prepend(0.0, {prods}), (acc, v) -> acc + v)"


def _norm_sql(a: str) -> str:
    sq = f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"sqrt(list_reduce(list_prepend(0.0, {sq}), (acc, v) -> acc + v))"


def _cosine_sql() -> str:
    cos = (
        f"round({_dot_sql('embedding', 'qvec', 64)} / "
        f"({_norm_sql('embedding')} * {_norm_sql('qvec')}), 6)"
    )
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {cos} AS cosine
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def _srp_bits_sql(vec: str, planes: int, dims: int, plane_offset: int = 0) -> str:
    from pdf_parser_spark.operators.similarity import _md5_nibble

    bit_exprs = []
    for p in range(plane_offset, plane_offset + planes):
        terms = ", ".join(
            f"CAST({vec}[{d + 1}] AS DOUBLE) * "
            f"{'1.0' if int(_md5_nibble(p, d), 16) % 2 == 0 else '-1.0'}"
            for d in range(dims)
        )
        fold = f"list_reduce(list_prepend(0.0, [{terms}]), (acc, v) -> acc + v)"
        bit_exprs.append(f"(CASE WHEN {fold} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bit_exprs)


def _srp_hist_sql() -> str:
    return f"""
WITH b AS (SELECT {_srp_bits_sql('embedding', 4, 64)} AS bucket FROM embeddings)
SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket ORDER BY bucket
"""


def _ann_lsh_sql() -> str:
    cos = (
        f"round({_dot_sql('embedding', 'qvec', 64)} / "
        f"({_norm_sql('embedding')} * {_norm_sql('qvec')}), 6)"
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, {_srp_bits_sql('embedding', 4, 64)} AS bucket FROM embeddings),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, {cos} AS cosine
FROM b, q
WHERE bucket = qbucket AND vec_id != 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


_IVF_ASSIGN_CTES = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_reduce(list_prepend(0.0,
             list_transform(range(1, 65),
                 i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
             (acc, x) -> acc + x), 6) AS l2sq
  FROM e, c),
assign AS (
  SELECT vec_id, cell, l2sq,
         row_number() OVER (PARTITION BY vec_id ORDER BY l2sq, cell) AS rn
  FROM d)
"""


def _near_dup_incremental_sql(
    planes: int = 10, n_tables: int = 4, max_bucket: int = 200
) -> str:
    cos = (
        f"round({_dot_sql('va', 'vb', 64)} / "
        f"({_norm_sql('va')} * {_norm_sql('vb')}), 6)"
    )
    bucket_cols = ",\n       ".join(
        f"{_srp_bits_sql('embedding', planes, 64, plane_offset=t * planes)} AS b{t}"
        for t in range(n_tables)
    )
    def stacked(src):
        return "\n  UNION ALL\n  ".join(
            f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM {src}"
            for t in range(n_tables)
        )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings),
pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_prepend(embedding[1] + 0.05, embedding[2:64]) AS embedding
  FROM base),
bc AS (SELECT vec_id, embedding, {bucket_cols} FROM base),
bn AS (SELECT vec_id, embedding, {bucket_cols} FROM pert),
stc AS (
  {stacked('bc')}
),
stn AS (
  {stacked('bn')}
),
ok AS (SELECT t, bucket FROM stc GROUP BY 1, 2 HAVING count(*) <= {max_bucket}),
stc2 AS (SELECT s.* FROM stc s JOIN ok USING (t, bucket)),
cand AS (
  SELECT DISTINCT n.vec_id AS id_new, c.vec_id AS id_corpus
  FROM stn n JOIN stc2 c USING (t, bucket)
),
v AS (
  SELECT cand.id_new, cand.id_corpus,
         nn.embedding AS va, cc.embedding AS vb
  FROM cand
  JOIN bn nn ON nn.vec_id = cand.id_new
  JOIN bc cc ON cc.vec_id = cand.id_corpus
)
SELECT id_new, id_corpus, {cos} AS cosine
FROM v
WHERE {cos} >= 0.9
ORDER BY id_new, id_corpus
"""


def _ivf_assign_sql() -> str:
    return f"""
WITH {_IVF_ASSIGN_CTES}
SELECT vec_id, cell, l2sq FROM assign WHERE rn = 1 ORDER BY vec_id
"""


def _ivf_probe_sql(nprobe: int = 1) -> str:
    cos = (
        f"round({_dot_sql('v', 'qv', 64)} / "
        f"({_norm_sql('v')} * {_norm_sql('qv')}), 6)"
    )
    return f"""
WITH {_IVF_ASSIGN_CTES},
a AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
ev AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN a USING (vec_id)),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qd AS (
  SELECT c.cell AS qcell,
         round(list_reduce(list_prepend(0.0,
             list_transform(range(1, 65),
                 i -> (qv.qv[i] - c.cv[i]) * (qv.qv[i] - c.cv[i]))),
             (acc, x) -> acc + x), 6) AS d
  FROM qv, c),
qcells AS (SELECT qcell FROM qd ORDER BY d, qcell LIMIT {nprobe}),
q AS (SELECT qv.qv, qcells.qcell FROM qv, qcells)
SELECT ev.vec_id, {cos} AS cosine
FROM ev JOIN q ON ev.cell = q.qcell
WHERE ev.vec_id != 0
ORDER BY cosine DESC, ev.vec_id ASC
LIMIT 10
"""


def _near_dup_sql(planes: int = 10, n_tables: int = 4, max_bucket: int = 200) -> str:
    cos = (
        f"round({_dot_sql('va', 'vb', 64)} / "
        f"({_norm_sql('va')} * {_norm_sql('vb')}), 6)"
    )
    bucket_cols = ",\n       ".join(
        f"{_srp_bits_sql('embedding', planes, 64, plane_offset=t * planes)} AS b{t}"
        for t in range(n_tables)
    )
    stacked = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM b" for t in range(n_tables)
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings),
pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_prepend(embedding[1] + 0.05, embedding[2:64]) AS embedding
  FROM base),
all2 AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
b AS (SELECT vec_id, embedding,
       {bucket_cols}
      FROM all2),
stacked AS (
  {stacked}
),
ok AS (SELECT t, bucket FROM stacked GROUP BY 1, 2 HAVING count(*) <= {max_bucket}),
s2 AS (SELECT s.* FROM stacked s JOIN ok USING (t, bucket)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM s2 a JOIN s2 c USING (t, bucket) WHERE a.vec_id < c.vec_id),
pairs AS (
  SELECT id_a, id_b, ea.embedding AS va, eb.embedding AS vb
  FROM cand JOIN all2 ea ON ea.vec_id = id_a JOIN all2 eb ON eb.vec_id = id_b)
SELECT id_a, id_b, {cos} AS cosine
FROM pairs
WHERE {cos} >= 0.9
ORDER BY id_a, id_b
"""


def oracle_sql() -> dict[str, str]:
    golden = _golden_path()
    nms_golden = _nms_golden_path()
    img_golden = G.ensure_image_records_golden(ORACLE_SF_DIR)
    render_golden = G.ensure_page_renders_golden(ORACLE_SF_DIR)
    perceptual_golden = G.ensure_perceptual_golden(ORACLE_SF_DIR)
    return {
        "d3_perceptual_dedup": f"""
            SELECT group_id, media_id, kept, is_mostly_white, is_mostly_black
            FROM '{perceptual_golden}'
        """,
        "image_records_full": f"""
            SELECT conv_id, turn_idx, page, img_idx, x0, y0, x1, y1, px_w, px_h,
                   content_md5, size_bytes, format, color_mode, kept,
                   drop_reason, crop_md5,
                   CASE WHEN kept THEN 'img' || img_idx || '_'
                        || substr(content_md5, 1, 8) || '.png' END AS file_name
            FROM '{img_golden}'
        """,
        "analysis_envelope": f"""
            SELECT conv_id, turn_idx, page_count, pages_info_json,
                   total_text_chars, total_images, total_vectors, pdf_type,
                   metadata_json, creation_date
            FROM '{G.ensure_analysis_golden(ORACLE_SF_DIR)}'
        """,
        "k1_page_renders": f"""
            SELECT conv_id, turn_idx, page, renderer, px_w, px_h, png_md5, png_bytes
            FROM '{render_golden}'
        """,
        "forced_vector_renders": f"""
            SELECT conv_id, turn_idx, page, renderer, px_w, px_h, png_md5, png_bytes
            FROM '{G.ensure_forced_renders_golden(ORACLE_SF_DIR)}'
        """,
        "image_histograms": f"""
            SELECT 'a5_page' AS metric, CAST(page AS VARCHAR) AS key,
                   CAST(count(*) AS BIGINT) AS n
            FROM '{img_golden}' WHERE kept GROUP BY page
            UNION ALL
            SELECT 'a6_format', format, CAST(count(*) AS BIGINT)
            FROM '{img_golden}' WHERE kept GROUP BY format
            UNION ALL
            SELECT 'a8_drop_reason', drop_reason, CAST(count(*) AS BIGINT)
            FROM '{img_golden}' GROUP BY drop_reason
            UNION ALL
            SELECT 'f9_first3', conv_id || '|' || turn_idx,
                   CAST(count(*) AS BIGINT)
            FROM '{img_golden}' WHERE page <= 2 GROUP BY conv_id, turn_idx
            ORDER BY metric, key
        """,
        "media_features_png": f"""
            SELECT conv_id, turn_idx, page,
                   png_bytes AS n_bytes,
                   png_md5 AS content_md5,
                   px_w AS width,
                   px_h AS height,
                   TRUE AS decode_ok,
                   'ok' AS decode_status
            FROM '{render_golden}'
        """,
        "media_features_jpeg": f"""
            SELECT conv_id, turn_idx, page, n_bytes, content_md5,
                   width, height, mean_luma, TRUE AS decode_ok,
                   'ok' AS decode_status
            FROM '{G.ensure_jpeg_media_golden(ORACLE_SF_DIR)}'
        """,
        "d3_render_dedup": f"""
            SELECT group_id, media_id, kept, is_mostly_white, is_mostly_black
            FROM '{G.ensure_render_perceptual_golden(ORACLE_SF_DIR)}'
        """,
        "embedding_near_dup": _near_dup_sql(),
        "embedding_neardup_incremental": _near_dup_incremental_sql(),
        "ivf_assign": _ivf_assign_sql(),
        "ivf_probe2_topk": _ivf_probe_sql(nprobe=2),
        "extract_turns_full": f"""
            SELECT conv_id, turn_idx, role, tool, payload_kind, extracted_text,
                   spans_json, n_blocks, extraction_ok, turn_seq
            FROM '{golden}'
        """,
        "extract_kind_stats": f"""
            SELECT payload_kind,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(length(extracted_text)) AS BIGINT) AS sum_chars,
                   CAST(sum(CASE WHEN extraction_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
            FROM '{golden}' GROUP BY payload_kind
        """,
        "extract_reassembly_digest": f"""
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(max(turn_seq) AS BIGINT) AS max_seq,
                   md5(string_agg(extracted_text, chr(31) ORDER BY turn_seq)) AS digest
            FROM '{golden}' GROUP BY conv_id
        """,
        "d4_nms_filter": f"SELECT doc_id, page, img_idx, kept FROM '{nms_golden}'",
        "fallback_extraction": f"""
            SELECT conv_id, turn_idx, role, tool, payload_kind, extracted_text,
                   spans_json, n_blocks, extraction_ok, turn_seq
            FROM '{G.ensure_golden_fallback(ORACLE_SF_DIR)}'
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                        * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey
            ORDER BY revenue_e4 DESC, o_orderkey ASC
            LIMIT 10
        """,
        "region_supplier_rollup": """
            SELECT r_name,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "a2_first3_totals": """
            SELECT l_orderkey,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey
        """,
        "a3_classification": """
            WITH per_user AS (
              SELECT user_id, count(*) AS n_events,
                     sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
                     sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view
              FROM events GROUP BY user_id
            ),
            c AS (
              SELECT CASE
                WHEN n_events > 70 THEN 'power'
                WHEN n_purchase > 15 AND n_view < 12 THEN 'buyer'
                WHEN n_purchase > 15 THEN 'engaged'
                ELSE 'casual' END AS user_class
              FROM per_user)
            SELECT user_class, CAST(count(*) AS BIGINT) AS n
            FROM c GROUP BY user_class ORDER BY user_class
        """,
        "a7_size_buckets": """
            WITH b AS (
              SELECT CASE WHEN n_chars < 200 THEN 'small(<200)'
                          WHEN n_chars <= 400 THEN 'medium(200-400)'
                          ELSE 'large(>400)' END AS bucket
              FROM documents)
            SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket ORDER BY bucket
        """,
        "a10_rollup_events": """
            WITH b AS (
              SELECT event_type,
                     CASE WHEN value < 100 THEN 'lo'
                          WHEN value < 250 THEN 'mid' ELSE 'hi' END AS band,
                     CAST(round(value * 100) AS BIGINT) AS vc
              FROM events)
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(band, 'ALL') AS band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS value_cents
            FROM b
            GROUP BY ROLLUP (event_type, band)
            ORDER BY event_type, band
        """,
        "w3_first_occurrence": """
            SELECT event_type, event_id FROM (
              SELECT event_type, event_id,
                     row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1 ORDER BY event_type
        """,
        "o3_top5_docs": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 5
        """,
        "j1_overlap_pairs": """
            SELECT a.event_type AS event_type, CAST(count(*) AS BIGINT) AS n_pairs
            FROM events a JOIN events b
              ON a.event_type = b.event_type
             AND a.event_id < b.event_id
             AND a.value <= b.value + 5
             AND b.value <= a.value + 5
            GROUP BY a.event_type ORDER BY event_type
        """,
        "x2_pdf_date_roundtrip": """
            WITH d AS (
              SELECT event_id, 'D:' || strftime(ts, '%Y%m%d%H%M%S') AS pdf_date FROM events)
            SELECT event_id, pdf_date,
                   strftime(strptime(substr(pdf_date, 3, 14), '%Y%m%d%H%M%S'),
                            '%Y-%m-%d %H:%M:%S') AS parsed
            FROM d
        """,
        "d1_exact_dedup": f"""
            WITH docs2 AS ({_DOUBLED_EXACT}),
            d AS (
              SELECT doc_id, md5(text) AS content_md5,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM docs2)
            SELECT doc_id, content_md5 FROM d WHERE rn = 1 ORDER BY doc_id
        """,
        "minhash_lsh_pairs": _minhash_sql(),
        "minhash_incremental": _minhash_incremental_sql(),
        "ngram_jaccard_pairs": _ngram_sql(),
        "simhash_digests": _simhash_digests_sql(),
        "simhash_hamming_pairs": _simhash_hamming_sql(),
        "neardup_components": _neardup_components_sql(),
        "decontamination_hits": _decontamination_sql(),
        "neardup_survivors": f"""
            WITH comp AS ({_neardup_components_sql()})
            SELECT CAST(component AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM comp GROUP BY component ORDER BY doc_id
        """,
        "ivf_train": _ivf_train_sql(3),
        "o5_turn_slice": f"""
            SELECT conv_id, turn_idx, payload_kind, extracted_text
            FROM '{golden}' WHERE turn_idx BETWEEN 1 AND 3
        """,
        "fingerprint48": _fingerprint_sql(),
        "token_stats": _token_stats_sql(),
        "gopher_quality": _gopher_sql("documents"),
        "lang_id_histogram": _lang_sql(),
        "training_pipeline_filter": _training_pipeline_sql(),
        "quality_by_source": f"""
            WITH q AS (
              SELECT doc_id, source,
                CASE WHEN length(text) >= 200 THEN 1.0
                     WHEN length(text) >= 50 THEN 0.6 ELSE 0.2 END AS len_score,
                (length(text) - length(replace(text, ' ', '')))
                  / greatest(length(text), 1) AS space_ratio
              FROM documents),
            q2 AS (
              SELECT doc_id, source,
                round(len_score * 0.6
                      + (CASE WHEN space_ratio >= 0.08 AND space_ratio <= 0.30
                              THEN 1.0 ELSE 0.5 END) * 0.4, 6) AS quality
              FROM q),
            g AS (SELECT doc_id, gopher_pass FROM ({_gopher_sql("documents")}))
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT)
                     AS quality_micro_sum,
                   CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
                     AS gopher_pass_n
            FROM q2 JOIN g ON q2.doc_id = g.doc_id
            GROUP BY source ORDER BY source
        """,
        "cosine_topk": _cosine_sql(),
        "srp_bucket_histogram": _srp_hist_sql(),
        "ann_lsh_topk": _ann_lsh_sql(),
        "media_features": """
            -- greatest(n, 1) mirrors the kernel's max(1, len(data)) clamp so
            -- an empty payload predicts 17x16 on both sides
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   md5(text) AS content_md5,
                   CAST(16 + (greatest(octet_length(encode(text)), 1) % 48) AS INTEGER) AS width,
                   CAST(16 + ((greatest(octet_length(encode(text)), 1) // 7) % 48) AS INTEGER) AS height,
                   FALSE AS decode_ok,
                   'unknown_format' AS decode_status
            FROM documents
        """,
    }
