"""Per-session memo for Column trees that do not depend on a call's data.

Building the shred/classify/thumbprint expressions costs thousands of py4j
round trips (every `F.transform`/`F.filter` lambda body is built one JVM
node at a time), and `run_extraction` runs once per checkpointed chunk and
once per streaming micro-batch. Classic Columns are immutable, unresolved
expression trees — each DataFrame resolves them against its own plan — so
one tree can serve every call on the same SparkContext.

The memo has a single slot, (context, entries). It resets on the first call
under a different active SparkContext, so Columns of a stopped session are
never handed out, and no more than one session's Columns are kept.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable

from pyspark import SparkContext

_slot: tuple[SparkContext, dict] | None = None
_lock = threading.Lock()  # streaming micro-batches call in from py4j threads


def session_memo(key: Hashable, build: Callable[[], Any]) -> Any:
    """`build()`'s result for `key`, built once per active SparkContext.
    Without an active context (e.g. Spark Connect) nothing is kept."""
    global _slot
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    with _lock:
        if _slot is None or _slot[0] is not sc:
            _slot = (sc, {})
        entries = _slot[1]
        if key in entries:
            return entries[key]
    # built outside the lock (it makes py4j calls); a concurrent miss builds
    # an equal tree and the first one stored wins
    value = build()
    with _lock:
        return entries.setdefault(key, value)
