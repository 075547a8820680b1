"""Each correctness check accepts the right result and rejects a
deliberately corrupted one."""

import numpy as np
import pandas as pd

from perfbench import checks, gen
from perfbench.pipeline import REF_TS


def _deals(n_epochs=50, per_epoch=4, seed=0):
    rng = np.random.default_rng(seed)
    sizes = gen.MIN_PIECE + rng.choice(gen.MAX_PIECE - gen.MIN_PIECE, n_epochs * per_epoch, replace=False)
    return gen.deal_rows(gen._epoch_events(rng, np.arange(n_epochs), per_epoch, sizes))


def _keys():
    return _deals()[list(gen.DEAL_KEY)]


def test_ingest_keys_accepts_the_expected_set_in_any_order():
    exp = _keys()
    ok, _ = checks.ingest_keys(exp.sample(frac=1.0, random_state=1), exp)
    assert ok


def test_ingest_keys_rejects_missing_duplicate_and_foreign_rows():
    exp = _keys()
    assert not checks.ingest_keys(exp.iloc[1:], exp)[0]
    assert not checks.ingest_keys(pd.concat([exp, exp.iloc[:1]]), exp)[0]
    changed = exp.copy()
    changed.loc[0, "piece_size"] += 1
    assert not checks.ingest_keys(changed, exp)[0]


def _state(seed=3):
    deals = _deals(seed=seed)
    peers, pays = gen.enrichment_dims(np.random.default_rng(seed), deals)
    return deals, peers, pays


def test_enrich_tick_walks_the_retry_state_machine():
    state, peers, pays = _state()
    fresh = state["payload_cid"].isna() & (state["payload_retrievability_state"] == checks.NOT_QUERIED)
    s1, attempted, resolved = checks.enrich_tick(state, peers, pays, REF_TS, 10_000)
    assert attempted == fresh.sum() and 0 < resolved < attempted
    tried = s1["last_payload_retrieval_attempt"] == REF_TS
    assert set(s1.loc[tried, "payload_retrievability_state"]) == {checks.RESOLVED, checks.UNRESOLVED}
    # inside the backoff nothing is eligible again
    assert checks.enrich_tick(s1, peers, pays, REF_TS, 10_000)[1] == 0
    # after it, every retried miss becomes terminal (older misses get their retry too)
    later = REF_TS + pd.Timedelta(days=4)
    s2, again, hits = checks.enrich_tick(s1, peers, pays, later, 10_000)
    retried = s2["last_payload_retrieval_attempt"] == later
    assert again == retried.sum() and again >= attempted - resolved
    assert not (s2.loc[retried, "payload_retrievability_state"] == checks.UNRESOLVED).any()


def test_table_hash_is_order_free_and_sees_a_changed_cell():
    state, peers, pays = _state()
    s1, _, _ = checks.enrich_tick(state, peers, pays, REF_TS, 10)
    assert checks.table_hash(s1) == checks.table_hash(s1.iloc[::-1])
    bad = s1.copy()
    bad.loc[bad.index[3], "payload_retrievability_state"] = "CORRUPTED"
    assert checks.table_hash(bad) != checks.table_hash(s1)
    late = s1.copy()
    late.loc[late.index[0], "last_payload_retrieval_attempt"] = REF_TS + pd.Timedelta(seconds=1)
    assert checks.table_hash(late) != checks.table_hash(s1)


def test_egress_checks_reject_wrong_offers_and_flags():
    state, peers, pays = _state()
    s1, _, _ = checks.enrich_tick(state, peers, pays, REF_TS, 10_000)
    want = sorted(checks.eligible_ids(s1))
    assert want, "fixture must have eligible deals"
    half = len(want) // 2
    assert checks.egress_tick([set(want[:half]), set(want[half:])], s1)[0]
    assert not checks.egress_tick([set(want[1:])], s1)[0]  # one deal never offered
    assert not checks.egress_tick([set(want), {want[0]}], s1)[0]  # offered twice
    flagged = checks.mark_submitted(s1, set(want), REF_TS)
    now_flagged = flagged[flagged["submitted_at"] >= REF_TS]
    assert checks.flags_match(now_flagged, set(want))[0]
    assert not checks.flags_match(now_flagged, set(want[1:]))[0]
    no_payload = now_flagged.copy()
    no_payload.loc[no_payload["id"] == want[0], "payload_cid"] = None
    assert not checks.flags_match(no_payload, set(want))[0]


def test_response_check_needs_200_and_the_oracle_row_count():
    assert checks.response_ok(200, {"n": 5}, 5)
    assert not checks.response_ok(500, {"n": 5}, 5)
    assert not checks.response_ok(200, {"n": 4}, 5)
    assert not checks.response_ok(200, None, 5)
