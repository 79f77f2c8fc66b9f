#!/usr/bin/env python3
"""End-to-end benchmark of the extraction engine, run from the repo root:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 8 --trace 0

Workloads (see README.md in this directory for why each exists):

- ``extract_mixed``  ``lineage.run_job`` over the datagen payload mix
- ``registry``       passes over six headline ``__spark_entry__`` queries

One process drives the engine's public entry points in a ``local[nproc]``
session. Every run checks the outputs: extraction output per turn against
the single-node golden plus the lineage sums; registry results against
their DuckDB oracles. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (Spark's SQL and stage metrics for the
executions the run started, spans around the engine calls, and a
single-process kernel-only pass). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# The registry workload: six of the 18 bench.py headline queries, one per
# operator module (dedup, similarity, text_stats, nms, multimodal) plus one
# relational scan and aggregation, which moves only with session
# configuration. The other twelve repeat an operator module already here,
# and their warm-up pass and oracle checks would not fit the benchmark's
# time budget (about 50 runs in an hour on 4 cores).
REGISTRY = [
    "q1_pricing_summary",
    "minhash_lsh_pairs",
    "cosine_topk",
    "token_stats",
    "d4_nms_filter",
    "media_features",
]

# Sizes. Extraction corpora are generate_transcripts_multi over a seeded
# documents table of n_docs rows, replicated mult times (40,000 turns: half
# of sf0.1 x16, which does not fit the time budget; the kernels are still
# ~43% of wall_s); the registry tables are at scale factor sf. "smoke"
# sizes are for the fast test only.
WORKLOADS = {
    "extract_mixed": {"n_docs": 5000, "mult": 8},
    "registry": {"sf": 0.1},
}
SMOKE = {
    "extract_mixed": {"n_docs": 50, "mult": 4},
    "registry": {"sf": 0.001},
}
KERNEL_SAMPLE = 2000  # turns in the kernel-only pass
RERUNS = 3  # idempotent re-runs after each timed run_job; rerun_s is their median
MIN_PASSES = 2  # timed registry passes per run; rerun_s is the median of all but the first
DEADLINE_S = 120.0  # stop starting timed iterations after this much run time

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "turns/s",
    "rerun_s": "s",
    "core_s": "CPU-s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        from perfbench.probes import ProcTree, Spans

        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.t_start = time.perf_counter()
        self.scratch = os.path.join(WORK, f"run-{os.getpid()}")
        self.tree = ProcTree()
        self.spans = Spans(f"{args.workload}-seed{args.seed}-{os.getpid()}", args.trace == 1)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = None

    # ------------------------------------------------------------- session
    def driver_memory_gb(self) -> int:
        with open("/proc/meminfo") as f:
            total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        return max(1, min(4, int(total_kb / 2**20 * 0.2)))

    def start_session(self):
        from pyspark.sql import SparkSession

        from pdf_parser_spark import ship_package
        from pdf_parser_spark.pipeline import session_defaults

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{self.driver_memory_gb()}g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # a fixed heap: peak RSS then reflects the run, not when the
            # JVM chose to grow its heap
            "spark.driver.extraJavaOptions": f"-Xms{self.driver_memory_gb()}g",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            # keep every execution and stage of the run readable for the trace
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        }
        b = session_defaults(
            SparkSession.builder.master(f"local[{self.cores}]").appName("perfbench"),
            cpus=self.cores,
        )
        for k, v in conf.items():
            b = b.config(k, v)
        t0 = time.perf_counter()
        with self.spans.span("setup.session"):
            self.spark = b.getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
            ship_package(self.spark)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def release(self) -> None:
        from pdf_parser_spark.caching import release_persisted

        self.spark.catalog.clearCache()
        release_persisted()

    def over_deadline(self) -> bool:
        return time.perf_counter() - self.t_start > DEADLINE_S

    # -------------------------------------------------------------- output
    def result(self) -> dict:
        if self.args.trace == 0:
            units, values = END_TO_END, self.e2e
        else:
            units, values = layer_units(), self.layer
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }


# ============================================================= extraction ===

def _output_rows(out_dir: str):
    import pyarrow.dataset as ds

    from perfbench.inputs import OUTPUT_COLUMNS

    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=OUTPUT_COLUMNS
    )


def check_extraction(table, golden, tamper: bool = False) -> int:
    """Turns of the written output that are missing, differ from the
    single-node golden, or are extra. Order-independent: rows are matched
    by (conv_id, turn_idx)."""
    import pyarrow as pa

    from perfbench.inputs import row_digests

    if tamper and table.num_rows:
        texts = table.column("extracted_text").to_pylist()
        texts[0] += " "
        i = table.schema.get_field_index("extracted_text")
        table = table.set_column(i, "extracted_text", pa.array(texts, pa.string()))
    got = row_digests(table).rename(columns={"h": "h_got"})
    keys = ["conv_id", "turn_idx"]
    dup = int(got.duplicated(keys).sum())
    m = golden.merge(got.drop_duplicates(keys), on=keys, how="outer", indicator=True)
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] != "right_only"]
    return dup + extra + int((both["h_got"] != both["h"]).sum())


def _extraction_layers(run: Run, status, ex, out_dir: str, lin_dir: str) -> dict:
    from perfbench.probes import stage_summary

    write = next(e for e in ex if "MapInPandas" in e.physicalPlanDescription())
    append = next(
        e for e in ex
        if e.executionId() > write.executionId() and lin_dir in e.physicalPlanDescription()
    )
    nodes = status.node_metrics(write)
    tasks = status.tasks(write)
    stages = {sid: stage_summary(ms) for sid, ms in tasks.items()}
    kernel = max(stages.values(), key=lambda s: s["run_s"])
    py = nodes["MapInPandas"]
    files, size = _dir_bytes(out_dir)
    return {
        "pipeline.scan.time_s": nodes["Scan parquet"]["scan time"],
        "pipeline.scan.bytes": sum(s["input_bytes"] for s in stages.values()),
        "pipeline.arrow.bytes_sent": py["data sent to Python workers"],
        "pipeline.arrow.bytes_received": py["data returned from Python workers"],
        "pipeline.arrow.python_run_s": py["time to run Python workers"],
        "pipeline.arrow.python_init_s": py["time to initialize Python workers"],
        "pipeline.arrow.python_boot_s": py["time to start Python workers"],
        "pipeline.kernel_stage.tasks": kernel["tasks"],
        "pipeline.kernel_stage.task_skew": kernel["task_skew"],
        "pipeline.kernel_stage.gc_s": kernel["gc_s"],
        "lineage.exchange.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages.values()),
        "lineage.exchange.shuffle_write_s": sum(s["shuffle_write_s"] for s in stages.values()),
        "lineage.window.sort_s": nodes["Sort"]["sort time"],
        "lineage.write.files": files,
        "lineage.write.bytes": size,
        "lineage.write.job_commit_s": nodes["Execute InsertIntoHadoopFsRelationCommand"][
            "job commit time"
        ],
        "lineage.append_s": status.duration_s(append),
        "lineage.summary_s": sum(
            status.duration_s(e) for e in ex if e.executionId() > append.executionId()
        ),
        "lineage.spark_executions": len(ex),
    }


def run_extraction(run: Run, sizes: dict) -> None:
    import pyarrow.parquet as pq

    from perfbench import inputs
    from perfbench.probes import SqlStatus, kernel_pass
    from pdf_parser_spark.lineage import run_job

    args = run.args
    cache = inputs.Cache(os.path.join(WORK, "cache"))
    with run.spans.span("datagen"):
        corpus, meta, golden = inputs.ensure_corpus(
            cache, args.workload + ("-smoke" if args.smoke else ""), args.seed,
            sizes["n_docs"], sizes["mult"],
            inputs.sources_digest(ROOT), run.cores,
        )
    n_turns = meta["turns"]

    session_s = run.start_session()
    spark = run.spark
    status = SqlStatus(spark) if args.trace else None
    snapshot = f"seed{args.seed}"

    def iteration(k: int, traced: bool, reruns: int) -> dict:
        out_dir = os.path.join(run.scratch, f"out{k}")
        lin_dir = os.path.join(run.scratch, f"lineage{k}")
        run.release()
        mark = status.mark() if traced else 0
        cpu0 = run.tree.cpu()
        t0 = time.perf_counter()
        with run.spans.span("lineage.run_job"):
            first = run_job(
                spark, corpus, out_dir, lin_dir, snapshot, f"r{k}", num_partitions=run.cores
            )
        wall = time.perf_counter() - t0
        cpu = run.tree.cpu() - cpu0
        mark_rerun = status.mark() if traced else 0
        summaries, rerun_s = [first], []
        for j in range(reruns):
            t0 = time.perf_counter()
            with run.spans.span("lineage.run_job.rerun"):
                summaries.append(
                    run_job(
                        spark, corpus, out_dir, lin_dir, snapshot, f"r{k}b{j}",
                        num_partitions=run.cores,
                    )
                )
            rerun_s.append(time.perf_counter() - t0)
        rec = {"wall": wall, "cpu": cpu, "rerun": _median(rerun_s), "rerun_total": sum(rerun_s)}
        rec["out_bytes"] = _dir_bytes(out_dir)[1] + _dir_bytes(lin_dir)[1]
        if traced:
            ex = [e for e in status.executions_since(mark) if e.executionId() < mark_rerun]
            rec["layers"] = _extraction_layers(run, status, ex, out_dir, lin_dir)
        # correctness: the output after the idempotent re-runs, and the
        # lineage sums of every run, against the single-node golden
        with run.spans.span("check"):
            bad = check_extraction(_output_rows(out_dir), golden, args.tamper)
            expect = (n_turns, meta["failures"])
            lineage_bad = sum((s["turns"], s["failures"]) != expect for s in summaries)
        run.spans.count("check.turns", n_turns)
        run.attempted += n_turns + len(summaries)
        run.failed += bad + lineage_bad
        if bad or lineage_bad:
            print(f"mismatch: {bad} turns, {lineage_bad} lineage sums", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(lin_dir, ignore_errors=True)
        return rec

    def guarded(k: int, traced: bool, reruns: int = RERUNS) -> dict | None:
        try:
            return iteration(k, traced, reruns)
        except Exception:
            traceback.print_exc()
            run.attempted += n_turns
            run.failed += n_turns  # every turn of a failed job is lost
            return None

    # one full-size iteration (run_job and its re-run) warms the JVM, the
    # Python workers and the page cache; its outputs are checked like any
    # other, but the check is not set-up time
    t0 = time.perf_counter()
    with run.spans.span("setup.warmup"):
        rec = guarded(0, False, reruns=1)
    warmup_s = rec["wall"] + rec["rerun_total"] if rec else time.perf_counter() - t0

    recs = []
    t0 = time.perf_counter()
    with run.tree.sampling():
        k = 1
        while True:
            # traced runs alternate traced and untraced iterations so the
            # tracing overhead is measured inside one process
            rec = guarded(k, args.trace == 1 and k % 2 == 1)
            if rec is not None:
                rec["traced"] = args.trace == 1 and k % 2 == 1
                recs.append(rec)
            k += 1
            enough = time.perf_counter() - t0 >= args.seconds and len(recs) >= 1 + args.trace
            if enough or run.over_deadline():
                break
    if not recs:
        raise RuntimeError("no timed iteration completed")

    walls = [r["wall"] for r in recs]
    wall = _median(walls)
    run.e2e.update(
        {
            "setup_s": session_s + warmup_s,
            "wall_s": wall,
            "turns_per_s": n_turns / wall,
            "rerun_s": _median([r["rerun"] for r in recs]),
            "core_s": _median([r["cpu"] for r in recs]),
            "peak_rss_mb": run.tree.peak_bytes / 2**20,
            "out_bytes_per_in_byte": recs[-1]["out_bytes"] / meta["bytes"],
        }
    )
    if args.trace:
        traced = [r for r in recs if r["traced"]]
        plain = [r for r in recs if not r["traced"]]
        for key in traced[0]["layers"] if traced else ():
            run.layer[key] = _median([r["layers"][key] for r in traced])
        if traced and plain:
            run.layer["trace.overhead_s"] = _median(
                [r["wall"] for r in traced]
            ) - _median([r["wall"] for r in plain])
        texts = pq.read_table(corpus, columns=["text"]).column("text").to_pylist()
        step = max(1, len(texts) // KERNEL_SAMPLE)
        run.layer.update(kernel_pass(texts[::step][:KERNEL_SAMPLE], run.spans))
    run.layer.update(
        {
            "setup.session_s": session_s,
            "setup.warmup_s": warmup_s,
            "datagen.generate_s": meta["generate_s"] + meta["golden_s"],
        }
    )


# =============================================================== registry ===

def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def compare_rows(srows: list[dict], scols: list[str], orel) -> str | None:
    """None when Spark rows equal the oracle's (columns, row count and the
    order-insensitive multiset of exact values), else the first difference."""
    ocols = list(orel.columns)
    orows = [dict(zip(ocols, r)) for r in orel.fetchall()]
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rows spark={len(srows)} oracle={len(orows)}"
    cols = sorted(scols)
    key = lambda r: tuple(_norm(r[c]) for c in cols)  # noqa: E731
    if Counter(map(key, srows)) != Counter(map(key, orows)):
        return "values differ"
    return None


@contextmanager
def _patched(obj, **attrs):
    old = {k: getattr(obj, k) for k in attrs}
    for k, v in attrs.items():
        setattr(obj, k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(obj, k, v)


# golden-backed oracles of the headline queries, regenerated at the
# workload's tables; every other golden oracle_sql() builds is not needed
_ORACLE_GOLDENS = ("ensure_nms_golden", "ensure_bpe_golden")
_CTE = re.compile(r"\b(\w+)\s+AS\s+\(", re.IGNORECASE)


def registry_oracles(sf_dir: str) -> dict[str, str]:
    import __spark_entry__ as entry
    from pdf_parser_spark import golden as G

    for name in _ORACLE_GOLDENS:
        getattr(G, name)(sf_dir)
    unused = {
        n: (lambda *_a: "unused.parquet")
        for n in dir(G)
        if n.startswith("ensure_") and n not in _ORACLE_GOLDENS
    }
    with _patched(entry, ORACLE_SF_DIR=sf_dir), _patched(G, **unused):
        sql = entry.oracle_sql()
    # DuckDB inlines a CTE at every reference; materialising each once gives
    # the same rows (the minhash oracle: ~1 s instead of ~10 s at sf0.1)
    return {q: _CTE.sub(r"\1 AS MATERIALIZED (", sql[q]) for q in REGISTRY}


def run_registry(run: Run, sizes: dict) -> None:
    import duckdb

    import __spark_entry__ as entry
    from perfbench import inputs
    from perfbench.probes import SqlStatus, kernel_pass, stage_summary
    from pdf_parser_spark import golden as G

    args = run.args
    cache = inputs.Cache(os.path.join(WORK, "cache"))
    with run.spans.span("datagen"):
        sf_dir, tmeta = inputs.ensure_tables(cache, args.seed, sizes["sf"])
        gen_s = tmeta["generate_s"]
        okey = inputs.sources_digest(ROOT) + "-" + os.path.basename(os.path.dirname(sf_dir))
        opath, ometa = cache.lookup(f"oracle-{inputs.digest(okey)}")
        if ometa is None:
            cache.begin(opath)
        G.CACHE_DIR = opath
        t0 = time.perf_counter()
        oracles = registry_oracles(sf_dir)
        if ometa is None:
            ometa = cache.commit(opath, {"generate_s": time.perf_counter() - t0})
        gen_s += ometa["generate_s"]
    n_docs = int(
        duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    )

    session_s = run.start_session()
    spark = run.spark
    qs = entry.queries()
    status = SqlStatus(spark) if args.trace else None

    def timed(q: str, action) -> tuple[float, float]:
        """Seconds and process-tree CPU seconds of ``action`` on query ``q``."""
        cpu0 = run.tree.cpu()
        t0 = time.perf_counter()
        with run.spans.span(f"operators.{q}"):
            action(qs[q](spark, sf_dir))
        s = time.perf_counter() - t0
        cpu = run.tree.cpu() - cpu0
        run.release()
        return s, cpu

    def checked_pass() -> tuple[float, int]:
        """Every query's result brought to the driver as Arrow and compared
        with its DuckDB oracle. Returns the seconds the queries took (without
        the checks) and the Arrow bytes of the results."""
        total, out_bytes = 0.0, 0
        for q in REGISTRY:
            run.attempted += 1
            res = {}
            try:
                total += timed(q, lambda sdf: res.update(cols=sdf.columns, t=sdf.toArrow()))[0]
                out_bytes += res["t"].nbytes
                rows = res["t"].to_pylist()
                if args.tamper and rows:
                    rows[0] = {k: None for k in rows[0]}
                with run.spans.span("check"):
                    diff = compare_rows(rows, res["cols"], con.sql(oracles[q]))
            except Exception:
                traceback.print_exc()
                diff = "query failed"
            if diff:
                run.failed += 1
                print(f"mismatch {q}: {diff}", file=sys.stderr)
        return total, out_bytes

    def noop_pass(traced: bool) -> dict:
        """Every query materialised with a noop write, so every output column
        is computed: seconds and process-tree CPU seconds of the pass,
        per-query seconds and (traced) per-query shuffle bytes."""
        rec = {"s": 0.0, "cpu": 0.0, "per_q": {}, "shuffle": {}}
        for q in REGISTRY:
            run.attempted += 1
            mark = status.mark() if traced else 0
            try:
                s, cpu = timed(q, lambda sdf: sdf.write.format("noop").mode("overwrite").save())
            except Exception:
                traceback.print_exc()
                run.failed += 1
                print(f"{q} failed", file=sys.stderr)
                continue
            rec["per_q"][q] = s
            rec["s"] += s
            rec["cpu"] += cpu
            if traced:
                rec["shuffle"][q] = sum(
                    stage_summary(ms)["shuffle_bytes"]
                    for e in status.executions_since(mark)
                    for ms in status.tasks(e).values()
                )
        return rec

    con = duckdb.connect()
    con.execute(f"SET threads TO {run.cores}")
    con.execute(f"SET temp_directory = '{os.path.join(run.scratch, 'duckdb')}'")
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # The first pass in the fresh session is the once-per-run oracle check
    # and the warm-up: it takes two to three times as long as a warm pass.
    with run.spans.span("setup.warmup"):
        warmup_s, out_bytes = checked_pass()
    con.close()
    # Timed: warm passes until --seconds have passed (at least MIN_PASSES).
    passes = []
    with run.tree.sampling():
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t0 < args.seconds and not run.over_deadline()
        ):
            passes.append(noop_pass(traced=False))

    wall = _median([p["s"] for p in passes])
    run.e2e.update(
        {
            "setup_s": session_s + warmup_s,
            "wall_s": wall,
            "turns_per_s": n_docs / wall,
            "rerun_s": _median([p["s"] for p in passes[1:]]),
            "core_s": _median([p["cpu"] for p in passes]),
            "peak_rss_mb": run.tree.peak_bytes / 2**20,
            "out_bytes_per_in_byte": out_bytes / tmeta["bytes"],
        }
    )
    if args.trace:
        traced = noop_pass(traced=True)
        for q in REGISTRY:
            run.layer[f"operators.{q}.s"] = _median(
                [p["per_q"][q] for p in passes if q in p["per_q"]]
            )
            run.layer[f"operators.{q}.shuffle_bytes"] = traced["shuffle"].get(q, 0)
        run.layer["trace.overhead_s"] = traced["s"] - wall
        import pyarrow.parquet as pq

        texts = pq.read_table(G.ensure_transcripts(sf_dir), columns=["text"])
        texts = texts.column("text").to_pylist()
        step = max(1, len(texts) // KERNEL_SAMPLE)
        run.layer.update(kernel_pass(texts[::step][:KERNEL_SAMPLE], run.spans))
    run.layer.update(
        {
            "setup.session_s": session_s,
            "setup.warmup_s": warmup_s,
            "datagen.generate_s": gen_s,
        }
    )


# ================================================================== main ===

def layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit."""
    from perfbench.probes import KINDS, WRAPPED

    units = {}
    for kind in KINDS:
        units[f"kernels.{kind}.us_per_turn"] = "us"
        units[f"kernels.{kind}.turns"] = "count"
        units[f"kernels.{kind}.failed"] = "count"
    units["kernels.extract_batch.turns_per_s"] = "turns/s"
    for _fn, metric in WRAPPED:
        units[metric] = "s"
    units.update(
        {
            "pipeline.scan.time_s": "s",
            "pipeline.scan.bytes": "bytes",
            "pipeline.arrow.bytes_sent": "bytes",
            "pipeline.arrow.bytes_received": "bytes",
            "pipeline.arrow.python_run_s": "s",
            "pipeline.arrow.python_init_s": "s",
            "pipeline.arrow.python_boot_s": "s",
            "pipeline.kernel_stage.tasks": "count",
            "pipeline.kernel_stage.task_skew": "ratio",
            "pipeline.kernel_stage.gc_s": "s",
            "lineage.exchange.shuffle_bytes": "bytes",
            "lineage.exchange.shuffle_write_s": "s",
            "lineage.window.sort_s": "s",
            "lineage.write.files": "count",
            "lineage.write.bytes": "bytes",
            "lineage.write.job_commit_s": "s",
            "lineage.append_s": "s",
            "lineage.summary_s": "s",
            "lineage.spark_executions": "count",
        }
    )
    for q in REGISTRY:
        units[f"operators.{q}.s"] = "s"
        units[f"operators.{q}.shuffle_bytes"] = "bytes"
    units.update(
        {
            "setup.session_s": "s",
            "setup.warmup_s": "s",
            "datagen.generate_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return units


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every orphaned descendant: the
    Python worker daemon outlives the JVM that starts it, and the resource
    tracker of the golden's process pool outlives the pool. Both then stay
    in this process's tree, where ``stop_descendants`` waits for them."""
    import ctypes

    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 20.0) -> None:
    """Return once every process this one started has ended and been
    reaped. What still runs after ``grace_s`` gets SIGTERM, after twice
    that SIGKILL."""
    from multiprocessing import resource_tracker

    from perfbench.probes import ProcTree

    resource_tracker._resource_tracker._stop()  # closes its pipe; it exits
    tree = ProcTree()
    t0 = time.perf_counter()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = tree.descendants()
        if not left:
            return
        waited = time.perf_counter() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else 0
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _terminated(signum, _frame):
    # unwind through main's finally, which stops every process started
    raise SystemExit(128 + signum)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (fast test)")
    p.add_argument(
        "--tamper", action="store_true",
        help="alter one output row before checking (tests the check itself)",
    )
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminated)
    adopt_orphans()
    # everything the run writes stays under the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver): temp files under the checkout, and no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT]
    import pdf_parser_spark  # noqa: F401  (fails fast without the engine)

    run = Run(args)
    os.makedirs(run.scratch, exist_ok=True)
    try:
        sizes = (SMOKE if args.smoke else WORKLOADS)[args.workload]
        if args.workload == "registry":
            run_registry(run, sizes)
        else:
            run_extraction(run, sizes)
    finally:
        try:
            run.stop_session()
        finally:
            stop_descendants()
            shutil.rmtree(run.scratch, ignore_errors=True)
    if args.trace:
        run.spans.write(os.path.join(WORK, "trace", f"{run.spans.run_id}.jsonl"))

    shown = dict(run.e2e)
    shown["error_share"] = run.failed / max(1, run.attempted)
    units = dict(END_TO_END, error_share="ratio", **layer_units())
    for k, v in list(shown.items()) + sorted(run.layer.items()):
        print(f"{k:48s} {v:16.6g} {units.get(k, '')}")
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
