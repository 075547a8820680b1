"""Cross-loop isolation for shared state tables.

The reference runs its three loops — ingest, enrichment, egress —
CONCURRENTLY against one PostgreSQL table
(backend/bin/deal-observer-backend.js:165-173, `Promise.all` over the
three interval loops) and leans on Postgres transactions for isolation.
This engine's parquet table sinks are read-modify-write with an atomic
directory swap as the commit point, so concurrent loop ticks inside one
driver process must serialize their read→transform→swap SPANS — a lock
around the swap alone is not enough, because a merge that started from a
stale read commits a table that silently drops the other loop's rows
(the lost-update anomaly).

`table_lock(path)` returns a process-wide REENTRANT lock keyed by the
table's normalized path:

  * each sink write method takes it internally (torn-write protection
    even for callers that forget), and
  * the two tick spans take it around the whole span —
    `submit_eligible` (read eligible → POST → mark submitted) and
    `enrich_tick` (read state → resolve → merge); reentrancy makes the
    nested sink-method acquisitions free.

Callers take no lock of their own: the ticks and the sink's eager
methods hold it for them.

Scope: one lock per driver process. The single-writer-per-table contract
ACROSS processes is unchanged (sink.py module docstring); at deployment
scale the same role is played by a table-format commit protocol
(Delta/Iceberg optimistic transactions), which substitutes for the swap
without changing any plan shapes. tests/test_end_to_end.py's concurrent
soak drives all three loops against one table and takes no lock itself.
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

