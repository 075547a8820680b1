"""Retry state-machine semantics — mirrors the reference's edge-case tests
(backend/test/resolve-payload-cids.test.js:187-268): first-attempt
resolution, 3-day backoff gating, terminal state after a second failure,
untouched terminal/resolved rows."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import merge_update
from spark_deal_observer_spark.operators.state import (
    NOT_QUERIED,
    RESOLVED,
    TERMINAL,
    UNRESOLVED,
    resolve_tick,
    work_queue,
)

NOW = dt.datetime(2025, 1, 18, 3, 0, 0)
OLD = NOW - dt.timedelta(days=4)  # past the 3-day backoff
RECENT = NOW - dt.timedelta(days=1)  # inside the backoff

COLS = [
    "id",
    "activated_at_epoch",
    "miner_id",
    "client_id",
    "piece_cid",
    "payload_cid",
    "payload_retrievability_state",
    "last_payload_retrieval_attempt",
]


def mkdeals(spark, rows):
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "id LONG, activated_at_epoch INT, miner_id INT, client_id INT, piece_cid STRING, "
        "payload_cid STRING, payload_retrievability_state STRING, "
        "last_payload_retrieval_attempt TIMESTAMP_NTZ",
    )


def dims(spark):
    peers = spark.createDataFrame([(1, "peerA"), (2, "peerB")], "miner_id INT, peer_id STRING")
    payloads = spark.createDataFrame(
        [("peerA", "baga1", "bafyFOUND")], "peer_id STRING, piece_cid STRING, payload_cid STRING"
    )
    return peers, payloads


def run(spark, rows, max_deals=1000):
    deals = mkdeals(spark, rows)
    peers, payloads = dims(spark)
    attempted = resolve_tick(deals, peers, payloads, F.lit(NOW).cast("timestamp_ntz"), max_deals)
    return {r.id: r for r in merge_update(deals, attempted, ["id"]).collect()}


def test_first_attempt_resolves(spark):
    got = run(spark, [(1, 100, 1, 1, "baga1", None, NOT_QUERIED, None)])
    assert got[1].payload_retrievability_state == RESOLVED
    assert got[1].payload_cid == "bafyFOUND"
    assert got[1].last_payload_retrieval_attempt == NOW


def test_first_attempt_miss_goes_unresolved(spark):
    # miner 2 has a peer but no payload; miner 3 has no peer at all
    got = run(
        spark,
        [
            (1, 100, 2, 1, "baga1", None, NOT_QUERIED, None),
            (2, 100, 3, 1, "baga1", None, NOT_QUERIED, None),
        ],
    )
    assert got[1].payload_retrievability_state == UNRESOLVED
    assert got[2].payload_retrievability_state == UNRESOLVED
    assert got[1].payload_cid is None


def test_backoff_gates_retry(spark):
    got = run(
        spark,
        [
            (1, 100, 2, 1, "baga9", None, UNRESOLVED, RECENT),  # inside backoff: untouched
            (2, 100, 2, 1, "baga9", None, UNRESOLVED, OLD),  # past backoff: retried
        ],
    )
    assert got[1].payload_retrievability_state == UNRESOLVED
    assert got[1].last_payload_retrieval_attempt == RECENT  # untouched
    assert got[2].payload_retrievability_state == TERMINAL  # second miss is terminal
    assert got[2].last_payload_retrieval_attempt == NOW


def test_retry_can_still_resolve(spark):
    got = run(spark, [(1, 100, 1, 1, "baga1", None, UNRESOLVED, OLD)])
    assert got[1].payload_retrievability_state == RESOLVED
    assert got[1].payload_cid == "bafyFOUND"


def test_terminal_and_resolved_never_touched(spark):
    got = run(
        spark,
        [
            (1, 100, 1, 1, "baga1", "bafyX", RESOLVED, OLD),
            (2, 100, 1, 1, "baga1", None, TERMINAL, OLD),
        ],
    )
    assert got[1].payload_retrievability_state == RESOLVED
    assert got[1].payload_cid == "bafyX"
    assert got[2].payload_retrievability_state == TERMINAL
    assert got[2].last_payload_retrieval_attempt == OLD


def test_max_deals_bounds_work_oldest_first(spark):
    rows = [(i, 1000 - i, 2, 1, "baga9", None, NOT_QUERIED, None) for i in range(10)]
    deals = mkdeals(spark, rows)
    q = work_queue(deals, F.lit(NOW).cast("timestamp_ntz"), max_deals=3)
    got = [r.id for r in q.collect()]
    # oldest (smallest activated_at_epoch) first → highest ids here
    assert got == [9, 8, 7]


def test_resolve_tick_returns_only_the_work_queue(spark):
    """The tick's output is the attempted rows alone — min(queue,
    max_deals) of them, every one from the work queue and stamped `now` —
    not the merged table: untouched rows (backoff, terminal, resolved,
    beyond the bound) never reach the caller's write."""
    now = F.lit(NOW).cast("timestamp_ntz")
    queued = [(i, 1000 - i, 1 + i % 3, 1, "baga1", None, NOT_QUERIED, None) for i in range(6)]
    idle = [
        (10, 1, 2, 1, "baga9", None, UNRESOLVED, RECENT),
        (11, 1, 1, 1, "baga1", "bafyX", RESOLVED, OLD),
        (12, 1, 1, 1, "baga1", None, TERMINAL, OLD),
    ]
    deals = mkdeals(spark, queued + idle)
    peers, payloads = dims(spark)
    for max_deals, want in ((4, 4), (1000, 6), (None, 6)):
        queue = {r.id for r in work_queue(deals, now, max_deals).collect()}
        out = resolve_tick(deals, peers, payloads, now, max_deals).collect()
        assert len(out) == want == len(queue)
        assert {r.id for r in out} == queue
        assert all(r.last_payload_retrieval_attempt == NOW for r in out)
        assert out[0].__fields__ == deals.columns
