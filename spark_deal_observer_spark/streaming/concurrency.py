"""Cross-loop isolation for shared state tables.

The reference runs its three loops — ingest, enrichment, egress —
CONCURRENTLY against one PostgreSQL table
(backend/bin/deal-observer-backend.js:165-173, `Promise.all` over the
three interval loops) and leans on Postgres transactions for isolation.
This engine's deal table commits each write as one entry of a version
log (streaming/sink.py), so a reader always sees a committed version and
needs no lock. Its writes are still read-modify-write: a merge that
started from a stale version commits a table that silently drops the
other loop's rows (the lost-update anomaly). So concurrent writers inside
one driver process must serialize their read→transform→commit SPANS.

`table_lock(path)` returns a process-wide REENTRANT lock keyed by the
table's normalized path:

  * each sink write method takes it internally (torn-write protection
    even for callers that forget), and
  * the two tick spans take it around the whole span —
    `submit_eligible` (read eligible → POST → mark submitted) and
    `enrich_tick` (read state → resolve → merge); reentrancy makes the
    nested sink-method acquisitions free.

Callers take no lock of their own: the ticks and the sink's write
methods hold it for them, and reads need none.

Scope: one lock per driver process. Across processes the log's
put-if-absent commit makes a second writer's commit fail rather than
overwrite a version; turning that failure into an optimistic retry (a
writer re-applies its rows to the version that beat it) is what removes
this lock. tests/test_end_to_end.py's concurrent soak drives all three
loops against one table and takes no lock itself.
"""

from __future__ import annotations

import os
import threading

_LOCKS: dict[str, threading.RLock] = {}
_REGISTRY_GUARD = threading.Lock()


def table_lock(path: str) -> threading.RLock:
    """The process-wide reentrant lock for the table at `path` (normalized,
    so `t`, `./t` and `/abs/t` alias to one lock)."""
    key = os.path.abspath(path)
    with _REGISTRY_GUARD:
        lock = _LOCKS.get(key)
        if lock is None:
            lock = _LOCKS[key] = threading.RLock()
        return lock

