"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pyarrow only — no Spark — so the engine under test
sees nothing but the files these functions write. The same seed gives
byte-identical files (pyarrow's parquet writer is deterministic for equal
tables), and every generator also returns the independently derived
expectation its workload is checked against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENESIS_UNIX = 1_598_306_400
EPOCH_SECONDS = 30
BASE_EPOCH = 4_622_000  # the engine derives activated_at_epoch = BASE + event_id % 2000
EPOCH_SPAN = 2_000

EVENT_TYPES = np.array(["purchase", "view", "error", "click", "signup"])
DEAL_KEY = (
    "activated_at_epoch", "miner_id", "client_id", "piece_cid", "piece_size",
    "term_start_epoch", "term_min", "term_max", "sector_id",
)

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# pipeline: claim-shaped event slices in epoch order
# ---------------------------------------------------------------------------

NOT_QUERIED = "PAYLOAD_CID_NOT_QUERIED_YET"
STATE_OF_TYPE = {"purchase": "PAYLOAD_CID_RESOLVED", "view": "PAYLOAD_CID_UNRESOLVED",
                 "error": "PAYLOAD_CID_TERMINALLY_UNRETRIEVABLE"}
MIN_PIECE, MAX_PIECE = 100_000, 6_000_000  # piece_size = floor(value * 1e6); above 5e6 a payload is known
PEER_SHARE = 0.7  # share of miners the peer dimension knows
PAY_SHARE = 0.6  # share of (peer, piece) pairs the payload index knows

@dataclass(frozen=True)
class IngestPlan:
    events_per_epoch: int = 50
    backlog_files: int = 20
    epochs_per_backlog_file: int = 10
    live_slices: int = 120  # one epoch each
    late_share: float = 0.05  # rows delivered 1-2 units after their epoch's unit
    redelivery_share: float = 0.05  # rows delivered again 1-3 units later

    @property
    def units(self) -> list[list[int]]:
        """Epoch offsets carried by each delivery unit (file), in order."""
        k = self.epochs_per_backlog_file
        backlog = [list(range(i * k, (i + 1) * k)) for i in range(self.backlog_files)]
        start = self.backlog_files * k
        live = [[start + i] for i in range(self.live_slices)]
        out = backlog + live
        if out[-1][-1] >= EPOCH_SPAN:
            raise ValueError(f"{len(out)} units exceed the {EPOCH_SPAN}-epoch derivation span")
        return out


@dataclass
class IngestInput:
    backlog: list[str]  # files already present when catch-up starts
    live: list[str]  # staged files, moved into the source dir on schedule
    expected: pd.DataFrame  # the deal table ingest must produce, one row per distinct event
    peers: pd.DataFrame  # enrichment dimension (miner_id, peer_id)
    pays: pd.DataFrame  # enrichment dimension (peer_id, piece_cid, payload_cid)
    events_total: int  # rows delivered, replays included
    backlog_events: int
    late_rows: int
    redelivered_rows: int


def _epoch_events(rng: np.random.Generator, epochs: np.ndarray, per_epoch: int,
                  sizes: np.ndarray) -> pd.DataFrame:
    """`per_epoch` events per epoch offset; event_id = j*2000 + epoch. `sizes`
    are the distinct piece sizes the events' values encode."""
    j = np.tile(np.arange(per_epoch, dtype=np.int64), len(epochs))
    e = np.repeat(epochs.astype(np.int64), per_epoch)
    n = len(e)
    event_id = j * EPOCH_SPAN + e
    sec = GENESIS_UNIX + (BASE_EPOCH + e) * EPOCH_SECONDS
    ts_us = sec * 1_000_000 + rng.integers(0, EPOCH_SECONDS * 1_000_000, n)
    return pd.DataFrame({
        "event_id": event_id,
        "ts": ts_us,
        "user_id": rng.integers(0, 150, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": (sizes + 0.5) / 1e6,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


def _events_table(df: pd.DataFrame) -> pa.Table:
    cols = dict(df.items())
    cols["ts"] = pa.array(df["ts"].to_numpy(), pa.timestamp("us"))
    return pa.table(cols, schema=EVENTS_SCHEMA)


def deal_rows(events: pd.DataFrame) -> pd.DataFrame:
    """The deal row each event becomes, restated in numpy from the engine's
    documented column derivation (plans/deals.py)."""
    eid = events["event_id"].to_numpy()
    value = events["value"].to_numpy()
    etype = events["event_type"].to_numpy()
    ts = pd.to_datetime(events["ts"].to_numpy(), unit="us")
    nat = pd.Series(pd.NaT, index=range(len(eid)), dtype="datetime64[us]")
    return pd.DataFrame({
        "id": eid,
        "activated_at_epoch": BASE_EPOCH + eid % EPOCH_SPAN,
        "miner_id": events["user_id"].to_numpy(),
        "client_id": eid % 97,
        "piece_cid": np.char.add("baga", (eid % 701).astype(str)),
        "piece_size": np.floor(value * 1_000_000).astype(np.int64),
        "term_start_epoch": 4_622_100 + eid % EPOCH_SPAN,
        "term_min": 5000 + (eid % 13) * 200,
        "term_max": 10000 + (eid % 13) * 400,
        "sector_id": eid % 1024,
        "payload_cid": np.where(value > 5.0, np.char.add("bafy", (eid % 389).astype(str)), None),
        "submitted_at": nat.where(eid % 3 != 0, pd.Series(ts)),
        "payload_retrievability_state": [STATE_OF_TYPE.get(t, NOT_QUERIED) for t in etype],
        "last_payload_retrieval_attempt": nat.where(etype != "view", pd.Series(ts)),
        "reverted": etype == "error",
    })


def ingest_input(seed: int, backlog_dir: str, staged_dir: str, plan: IngestPlan = IngestPlan()) -> IngestInput:
    """Write the catch-up backlog into `backlog_dir` and the live slices into
    `staged_dir`. Rows keep their epoch's event time; late rows and replays
    only change which file carries them, never the row."""
    rng = np.random.default_rng(seed)
    units = plan.units
    n_units = len(units)
    n = sum(len(u) for u in units) * plan.events_per_epoch
    # distinct sizes make every deal's egress payload name exactly one deal
    sizes = MIN_PIECE + rng.choice(MAX_PIECE - MIN_PIECE, n, replace=False)
    per_unit, at = [], 0
    for u in units:
        k = len(u) * plan.events_per_epoch
        per_unit.append(_epoch_events(rng, np.array(u), plan.events_per_epoch, sizes[at:at + k]))
        at += k
    deliver: list[list[pd.DataFrame]] = [[] for _ in range(n_units)]
    late = replays = 0
    for u, df in enumerate(per_unit):
        r = rng.random(len(df))
        lag = rng.integers(1, 3, len(df))
        is_late = (r < plan.late_share) & (u + lag < n_units)
        deliver[u].append(df[~is_late])
        for d in (1, 2):
            moved = df[is_late & (lag == d)]
            if len(moved):
                deliver[u + d].append(moved)
        late += int(is_late.sum())
        r2 = rng.random(len(df))
        gap = rng.integers(1, 4, len(df))
        again = (r2 < plan.redelivery_share) & (u + gap < n_units)
        for d in (1, 2, 3):
            dup = df[again & (gap == d)]
            if len(dup):
                deliver[u + d].append(dup)
        replays += int(again.sum())

    backlog, live, total, backlog_rows = [], [], 0, 0
    for u, parts in enumerate(deliver):
        df = pd.concat(parts, ignore_index=True)
        df = df.iloc[rng.permutation(len(df))]  # arrival order within a file is arbitrary
        is_backlog = u < plan.backlog_files
        folder = backlog_dir if is_backlog else staged_dir
        path = os.path.join(folder, f"slice-{u:05d}.parquet")
        _write(_events_table(df), path)
        (backlog if is_backlog else live).append(path)
        total += len(df)
        backlog_rows += len(df) if is_backlog else 0

    expected = deal_rows(pd.concat(per_unit, ignore_index=True))
    peers, pays = enrichment_dims(rng, expected)
    return IngestInput(backlog, live, expected, peers, pays, total, backlog_rows, late, replays)


def enrichment_dims(rng: np.random.Generator, deals: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Stand-ins for the RPC and piece-indexer services: they know only part
    of the miners and of the (peer, piece) pairs."""
    miners = np.unique(deals["miner_id"].to_numpy())
    covered = miners[rng.random(len(miners)) < PEER_SHARE]
    peers = pd.DataFrame({"miner_id": covered.astype(np.int32),
                          "peer_id": np.char.add("peer", covered.astype(str))})
    pairs = deals.merge(peers, on="miner_id")[["peer_id", "piece_cid"]].drop_duplicates()
    pairs = pairs.sort_values(["peer_id", "piece_cid"], ignore_index=True)
    pays = pairs[rng.random(len(pairs)) < PAY_SHARE].reset_index(drop=True)
    pays["payload_cid"] = "bafyP" + pays["piece_cid"].str.slice(4) + pays["peer_id"].str.slice(4)
    return peers, pays


# ---------------------------------------------------------------------------
# catalog_api: a small corpus with the shape of the engine's test tables
# ---------------------------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])


def catalog_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write region … embeddings parquet files into `out_dir`, about a fifth
    the size of the engine's oracle test corpus: the catalog queries' cost
    here is per-job overhead, not data. Returns row counts per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_vec = 300, 20, 400, 3000, 12000, 2000, 150, 150
    day_us = 86_400 * 1_000_000
    t95 = 788_918_400 * 1_000_000  # 1995-01-01
    t24 = 1_704_067_200 * 1_000_000  # 2024-01-01

    def ts(values):
        return pa.array(values, pa.timestamp("us"))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["red", "blue", "green", "small", "large", "steel", "brass", "black"], n_part),
                rng.choice(["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": ts(t95 + rng.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": ts(t95 + rng.integers(0, 2500, n_line) * day_us),
        }),
        "events": _events_table(pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(t24 + rng.integers(0, 30 * day_us, n_ev)),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_ev)],
            "value": np.round(rng.lognormal(3.3, 1.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table({
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(
                list(np.round(rng.normal(0, 0.12, (n_vec, 64)), 6).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; about one in eight is a
    near-duplicate of an earlier document, so the dedup families have pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 80)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
