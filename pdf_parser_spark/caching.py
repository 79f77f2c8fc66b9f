"""Session-lifetime hygiene for per-call operator persists.

Several operators persist an intermediate DataFrame because it feeds 2+
sub-plans of one action (Spark has no cross-branch CSE — see CLAUDE.md perf
rules). The persist must OUTLIVE the operator call: the returned plan is
lazy, so unpersisting inside the operator would silently re-execute the
expensive subtree once per consuming branch. But without any cleanup,
repeated batch-ingestion calls (e.g. hourly incremental near-dup runs)
accumulate MEMORY_AND_DISK blocks for the whole session.

Contract: operators register their per-call persists via ``track``; a
long-running caller (driver harness, bench loop, ingestion scheduler,
notebook, service) calls ``release_persisted()`` AFTER materializing each
batch's result — a caller that never does accumulates cached blocks for the
whole session (the blocks are held JVM-side by the cache manager, so Python
GC alone can never free them; strong references here are deliberate). This
is the same lifecycle connected_components applies to its per-iteration
checkpoints, lifted to the operators whose persists escape the call.

The registry is guarded by a lock: concurrent jobs in one application may
build operator plans from different threads (see ``sources.read_payload``).
"""
from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for later release."""
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every tracked frame; call after the batch result is
    materialized. Returns the number of frames released."""
    n = 0
    while True:
        with _LOCK:
            if not _TRACKED:
                return n
            df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
