"""Correctness checks — pandas restatements of what each workload must
produce, written from the engine's documented semantics and never calling
it. Each check returns (ok, detail)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from .gen import DEAL_KEY

NOT_QUERIED = "PAYLOAD_CID_NOT_QUERIED_YET"
UNRESOLVED = "PAYLOAD_CID_UNRESOLVED"
RESOLVED = "PAYLOAD_CID_RESOLVED"
TERMINAL = "PAYLOAD_CID_TERMINALLY_UNRETRIEVABLE"
RETRY_BACKOFF = pd.Timedelta(days=3)
SEASONED_EPOCH = 4_623_000  # activated before REF_TS - 2 days
REF_EPOCH = 4_628_760  # epoch of REF_TS: a deal must expire after it

DEAL_COLUMNS = (
    "id", "activated_at_epoch", "miner_id", "client_id", "piece_cid", "piece_size",
    "term_start_epoch", "term_min", "term_max", "sector_id", "payload_cid",
    "submitted_at", "payload_retrievability_state", "last_payload_retrieval_attempt",
    "reverted",
)


# -- ingest ----------------------------------------------------------------

def ingest_keys(stored: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    """The stored DEAL_KEY rows equal the expected set, each exactly once."""
    cols = list(DEAL_KEY)
    s = _canon(stored[cols])
    e = _canon(expected[cols])
    dups = int(s.duplicated().sum())
    s_set, e_set = set(map(tuple, s.to_numpy())), set(map(tuple, e.to_numpy()))
    missing, extra = len(e_set - s_set), len(s_set - e_set)
    ok = dups == 0 and missing == 0 and extra == 0
    return ok, f"stored={len(s)} expected={len(e)} duplicate={dups} missing={missing} unexpected={extra}"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({c: df[c].map(lambda v: None if v is None or v is pd.NA else str(v)) for c in df.columns})


# -- enrichment + egress ------------------------------------------------------

def enrich_tick(state: pd.DataFrame, peers: pd.DataFrame, pays: pd.DataFrame,
                now: pd.Timestamp, max_deals: int) -> tuple[pd.DataFrame, int, int]:
    """One payload-resolution tick (the retry state machine). Returns the
    new table, the rows attempted and the rows resolved."""
    st = state["payload_retrievability_state"]
    last = state["last_payload_retrieval_attempt"]
    queue = state[
        state["payload_cid"].isna()
        & st.isin([NOT_QUERIED, UNRESOLVED])
        & (last.isna() | (last < now - RETRY_BACKOFF))
    ].sort_values(["activated_at_epoch", "id"]).head(max_deals)
    found = (
        queue[["id", "miner_id", "piece_cid"]]
        .merge(peers, on="miner_id", how="left")
        .merge(pays.rename(columns={"payload_cid": "found"}), on=["peer_id", "piece_cid"], how="left")
        .set_index("id")["found"]
    )
    out = state.set_index("id", drop=False)
    ids = queue["id"].to_numpy()
    hit = found.loc[ids].notna().to_numpy()
    was_unresolved = (out.loc[ids, "payload_retrievability_state"] == UNRESOLVED).to_numpy()
    out.loc[ids, "payload_cid"] = np.where(hit, found.loc[ids].to_numpy(), None)
    out.loc[ids, "payload_retrievability_state"] = np.where(
        hit, RESOLVED, np.where(was_unresolved, TERMINAL, UNRESOLVED))
    out.loc[ids, "last_payload_retrieval_attempt"] = now
    return out.reset_index(drop=True), len(ids), int(hit.sum())


def eligible_ids(state: pd.DataFrame) -> set[int]:
    """Deals the egress tick must offer: unsubmitted, resolved, seasoned and
    not yet expired."""
    m = (
        state["submitted_at"].isna()
        & state["payload_cid"].notna()
        & (state["activated_at_epoch"] < SEASONED_EPOCH)
        & (state["term_start_epoch"] + state["term_min"] > REF_EPOCH)
    )
    return set(state.loc[m, "id"].astype(int))


def mark_submitted(state: pd.DataFrame, ids: set[int], now: pd.Timestamp) -> pd.DataFrame:
    out = state.copy()
    out.loc[out["id"].isin(ids), "submitted_at"] = now
    return out


def table_hash(df: pd.DataFrame) -> int:
    """Order-independent hash of a deal table: the wrapping sum of per-row
    hashes over a canonical text form of every column."""
    canon = pd.DataFrame({c: df[c].map(_text) for c in DEAL_COLUMNS})
    return int(pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


def _text(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
        return "\0"
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def egress_tick(offered: list[set[int]], state: pd.DataFrame) -> tuple[bool, str]:
    """The POST batches of one egress tick offered exactly the eligible
    deals, each once."""
    want = eligible_ids(state)
    got = [i for batch in offered for i in batch]
    ok_ids = len(got) == len(set(got)) and set(got) == want
    return ok_ids, f"offered={len(got)} eligible={len(want)} distinct={len(set(got))}"


def flags_match(table: pd.DataFrame, posted_ok: set[int]) -> tuple[bool, str]:
    """Flagged rows are exactly the successfully POSTed deals, and none of
    them lacks a payload."""
    flagged = table[table["submitted_at"].notna()]
    ids = set(flagged["id"].astype(int))
    null_payload = int(flagged["payload_cid"].isna().sum())
    ok = ids == posted_ok and null_payload == 0
    return ok, f"flagged={len(ids)} posted={len(posted_ok)} flagged_without_payload={null_payload}"


# -- catalog ------------------------------------------------------------------

def response_ok(status: int, body: dict | None, expected_n: int) -> bool:
    return status == 200 and body is not None and body.get("n") == expected_n
