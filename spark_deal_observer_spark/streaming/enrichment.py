"""Enrichment loop: resolve the payload CIDs of a bounded work queue.

Reference (backend/lib/resolve-payload-cids.js:32-66): each pass takes at
most `maxDeals = 1000` deals that are due an attempt, resolves them, writes
their new state and reports its counts.

Spark-first: `resolve_tick` (operators/state.py) is the declarative plan —
the oldest-first work queue joined against the two lookup dimensions,
with the state transition as column expressions. The tick collects its
attempted rows to the driver as Arrow in one job, counts them by state
from that table, and hands the same table to the sink's merge, which
takes it as is, with no second collect. The queue holds at most
`resolve_tick`'s default of 1000 deals, as in the reference, so driver
memory is bounded by it.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame

from ..operators.state import RESOLVED, TERMINAL, UNRESOLVED, resolve_tick
from .sink import PartitionedDealTableSink


def enrich_tick(
    sink: PartitionedDealTableSink,
    miner_peers: DataFrame,  # (miner_id, peer_id)
    payload_cids: DataFrame,  # (peer_id, piece_cid, payload_cid)
    *,
    now: Column,
) -> dict[str, int]:
    """One enrichment tick. Returns {'attempted': n, 'resolved': n,
    'unresolved': n, 'terminal': n}: the work-queue rows it attempted and
    the state each one moved to. An empty table, or one with nothing due,
    gives a zero tick that rewrites nothing.

    The two dimension frames may hold lineage into the deal table: the
    version they read stays readable until `compact()` collects it,
    `RETAIN_S` after a newer version is committed (streaming/sink.py).
    Frames kept longer than that must be snapshots (`localCheckpoint()`)
    or built from another source.

    Other loops commit between the tick's read and its merge. The merge
    re-applies the same attempted rows over the latest version if another
    merge rewrote one of their files first (streaming/sink.py's commit
    rule). No other loop changes those rows — egress marks only rows
    with a `payload_cid`, and the queue takes only rows without one.
    """
    rows = resolve_tick(sink.read(), miner_peers, payload_cids, now).toArrow()
    sink.merge_overwrite(rows, ["id"])
    states = rows.column("payload_retrievability_state")
    return {
        "attempted": rows.num_rows,
        "resolved": pc.sum(pc.equal(states, RESOLVED)).as_py() or 0,
        "unresolved": pc.sum(pc.equal(states, UNRESOLVED)).as_py() or 0,
        "terminal": pc.sum(pc.equal(states, TERMINAL)).as_py() or 0,
    }
