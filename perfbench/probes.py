"""Measurement read from outside the engine.

- ``ProcTree``: CPU seconds and peak resident memory of this process and
  every descendant (the Spark JVM and its Python workers), read from
  ``/proc``.
- ``Spans``: benchmark-side spans (name, start, end, parent, run id) around
  calls into the engine's public functions, kept in memory and written out
  when the run ends.
- ``SqlStatus``: Spark's own SQL and stage metrics for the executions a
  call started, read from the status stores after the listener bus drains.
- ``kernel_pass``: the single-process, kernel-only pass over a corpus
  sample, with per-kind time and spans around the kernel's layer functions.
"""
from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3): ppid=4, utime..cstime=14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, shared ones divided
    among their sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU time and memory (summed PSS) of the process tree rooted at this
    process."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, float]:
        """{pid: cpu seconds} of the root and its descendants."""
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid][1]
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        """Every process below the root, zombies included."""
        return [pid for pid in self._tree() if pid != self.root]

    def cpu(self) -> float:
        return sum(self._tree().values())

    def memory(self) -> int:
        return sum(_pss(pid) for pid in self._tree())

    def _sample(self, period: float) -> None:
        while not self._stop.wait(period):
            self.peak_bytes = max(self.peak_bytes, self.memory())

    @contextmanager
    def sampling(self, period: float = 0.5):
        """Track peak memory while the block runs."""
        self.peak_bytes = max(self.peak_bytes, self.memory())
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, args=(period,), daemon=True)
        self._thread.start()
        try:
            yield self
        finally:
            self._stop.set()
            self._thread.join()
            self.peak_bytes = max(self.peak_bytes, self.memory())


class Spans:
    """In-memory span recorder; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counts": self.counts, "run": self.run_id}) + "\n")


# ---------------------------------------------------------- Spark status ---

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("20,000", "38 ms",
    "total (min, med, max ...)\\n2.1 MiB (...)") -> seconds, bytes or count."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class SqlStatus:
    """Reads the SQL status store and the app status store of a session.

    Executions are attributed to a call by execution-id range (``mark``
    before the call, ``executions_since`` after), never through a
    DataFrame's query execution: writes run their own query executions.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def drain(self) -> None:
        """Wait until every event posted so far reached the stores (a just
        finished execution may still lack its completion time)."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> int:
        """Id the next execution will get (every id below it is stored)."""
        self.drain()
        return int(self._sql.executionsCount())

    def executions_since(self, mark: int) -> list:
        self.drain()
        ex = sorted(_iter(self._sql.executionsList()), key=lambda e: e.executionId())
        return [e for e in ex if e.executionId() >= mark]

    @staticmethod
    def duration_s(e) -> float:
        done = e.completionTime()
        if not done.isDefined():
            raise RuntimeError(f"execution {e.executionId()} has not completed")
        return (done.get().getTime() - e.submissionTime()) / 1000.0

    def node_metrics(self, e) -> dict[str, dict[str, float]]:
        """{node name: {metric name: value}} of an execution's plan; nodes
        with one name (e.g. several Exchanges) have their values summed."""
        values = self._sql.executionMetrics(e.executionId())
        out: dict[str, dict[str, float]] = {}
        for node in _iter(self._sql.planGraph(e.executionId()).allNodes()):
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    d = out.setdefault(node.name().strip(), {})
                    d[m.name()] = d.get(m.name(), 0.0) + parse_metric(v.get())
        return out

    def tasks(self, e) -> dict[int, list]:
        """{stage id: [TaskMetrics]} for every stage the execution ran."""
        out = {}
        for sid in _iter(e.stages()):
            sid = int(sid)
            try:
                tl = self._app.taskList(sid, 0, 1 << 30)
            except Py4JJavaError:  # stage skipped: no attempt in the store
                continue
            ms = []
            for i in range(tl.size()):
                m = tl.apply(i).taskMetrics()
                if m.isDefined():
                    ms.append(m.get())
            out[sid] = ms
        return out


def stage_summary(ms: list) -> dict[str, float]:
    """Totals and skew of one stage's task metrics."""
    run = [m.executorRunTime() for m in ms]
    med = statistics.median(run) if run else 0
    return {
        "tasks": len(ms),
        "task_skew": (max(run) / med) if med else 0.0,
        "gc_s": sum(m.jvmGcTime() for m in ms) / 1000.0,
        "run_s": sum(run) / 1000.0,
        "input_bytes": sum(m.inputMetrics().bytesRead() for m in ms),
        "shuffle_bytes": sum(m.shuffleWriteMetrics().bytesWritten() for m in ms),
        "shuffle_write_s": sum(m.shuffleWriteMetrics().writeTime() for m in ms) / 1e9,
    }


# ------------------------------------------------------- kernel-only pass ---

KINDS = ("plain", "html", "pdf_text", "pdf_digital", "pdf_vector", "pdf_scanned", "error")
WRAPPED = (
    ("parse_pdf", "kernels.pdf_mini.parse_pdf.s"),
    ("doc_stats", "kernels.pdf_classify.doc_stats.s"),
    ("layout_text_and_offsets", "kernels.layout.layout_text_and_offsets.s"),
    ("extract_html", "kernels.html_extract.extract_html.s"),
)


def kernel_pass(texts: list, spans: Spans) -> dict[str, float]:
    """Single-process kernel timings over ``texts``: whole-batch throughput
    of ``extract_batch``, then per-turn time by resulting payload kind with
    the kernel's layer functions wrapped in timers."""
    import pandas as pd

    from pdf_parser_spark.kernels import extract

    out: dict[str, float] = {}
    batch = pd.DataFrame({"text": texts})
    with spans.span("kernels.extract_batch"):
        t0 = time.perf_counter()
        extract.extract_batch(batch)
        out["kernels.extract_batch.turns_per_s"] = len(texts) / (time.perf_counter() - t0)

    spent = {metric: 0.0 for _, metric in WRAPPED}
    originals = {name: getattr(extract, name) for name, _ in WRAPPED}

    def timed(fn, metric):
        def wrapper(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[metric] += time.perf_counter() - t
        return wrapper

    per_kind = {k: [0.0, 0, 0] for k in KINDS}  # seconds, turns, failed
    try:
        for name, metric in WRAPPED:
            setattr(extract, name, timed(originals[name], metric))
        with spans.span("kernels.extract_one"):
            for t in texts:
                t0 = time.perf_counter()
                kind, _, _, _, ok = extract.extract_one(t if isinstance(t, str) else None)
                acc = per_kind[kind]
                acc[0] += time.perf_counter() - t0
                acc[1] += 1
                acc[2] += 0 if ok else 1
    finally:
        for name, fn in originals.items():
            setattr(extract, name, fn)
    for kind, (sec, n, failed) in per_kind.items():
        out[f"kernels.{kind}.us_per_turn"] = sec / n * 1e6 if n else 0.0
        out[f"kernels.{kind}.turns"] = n
        out[f"kernels.{kind}.failed"] = failed
        spans.count(f"kernels.{kind}.turns", n)
    out.update(spent)
    return out
