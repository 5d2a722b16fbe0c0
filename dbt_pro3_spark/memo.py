"""One session memo for the state that query families share.

Several families start from the same derived state for a given corpus:
the scan-plan frames of ``sources.readers.load`` (family ``scan``), the
basket/adjacency frames of ``ext/graph.py`` (``graph``), the medoid seeds
and cell index of ``ext/ivf.py`` (``ivf``), the Gram matrix and eigenvector
of ``queries/r4_ops.py`` (``pca``) and the embedding probe broadcasts of
``queries/r4d_ops.py`` (``probe``). Each is index state: in production it
is built once per session and queried many times, so the steady-state cost
of a query starts at the index, not at the fact scan. All of them live
here, under one policy:

- Entries are keyed by the SparkSession object. A hit only returns a value
  to the session that built it (``spark.newSession()`` builds its own,
  under its own conf), and a hit makes no py4j call.
- A family holds at most one live scope across the application:
  ``sf_dir``, or ``(sf_dir, k)`` for IVF. A miss on a new scope first
  releases the family's other entries with ``unpersist(blocking=False)``,
  which frees persisted frames and broadcasts alike, so a long session
  never accumulates storage. The same miss purges entries of other
  applications, so a restarted session never sees stale JVM references.
- ``build`` runs only on a miss, under one re-entrant lock: two first
  calls never both build and orphan a persisted frame, and a build may
  look up another part (graph adjacency -> baskets -> scans).

Assumptions: the parquet under ``sf_dir`` is immutable for the
application's lifetime (a scope carries no data fingerprint), and callers
are a single driver thread (the build runs under the coarse lock).
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import SparkSession

# (session, family, scope, part) -> (applicationId, value)
_MEMO: dict = {}
_LOCK = threading.RLock()


def session_memo(
    spark: SparkSession, family: str, scope: Hashable, part: Hashable, build: Callable[[], Any]
) -> Any:
    """``part`` of ``family``'s state for ``scope``, built by ``build()`` on
    a miss and returned from the memo on every later call by ``spark``."""
    key = (spark, family, scope, part)
    with _LOCK:
        hit = _MEMO.get(key)
        if hit is not None:
            return hit[1]
        app = spark.sparkContext.applicationId
        stale = [
            k for k, (a, _) in _MEMO.items() if a != app or (k[1] == family and k[2] != scope)
        ]
        for k in stale:
            _release(_MEMO.pop(k)[1])
        value = build()
        _MEMO[key] = (app, value)
        return value


def clear_session_memo() -> None:
    """Release and drop every entry: the cold state that plan measurements
    start from, and the call that frees the executor storage of a session
    done with these families."""
    with _LOCK:
        for _, value in _MEMO.values():
            _release(value)
        _MEMO.clear()


def _release(value: Any) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if hasattr(v, "unpersist"):
            try:
                v.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped; nothing to free
