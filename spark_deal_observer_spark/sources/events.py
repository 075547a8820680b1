"""Raw actor-event decode pipeline: the reference's ingest path, Spark-first.

Reference flow (backend/lib/deal-observer.js:35-40, rpc-service/service.js:
51-86, rpc-service/utils.js:19-53): fetch raw events whose entries are
base64pad(dag-CBOR) key/values, decode+validate into ClaimEvents, reshape
into ActiveDeal rows.

Here:
  * `synth_raw_events` manufactures fixture-shaped RawActorEvent rows
    (FIXTURES.md §1) from the synthetic `events` table — deterministic, so
    the decoded output is oracle-checkable against a plain relational
    derivation (roundtrip identity).
  * `_decode_claim` is the one decode of a raw row: base64pad + dag-CBOR
    per entry, the Key/Value list pivoted into one record, the event type
    checked, the claim fields typed from `_CLAIM_FIELDS`.
  * `decode_raw_events` and `decode_raw_events_routed` run it as ONE
    Arrow-batched mapInPandas pass each (the single Python boundary,
    mirroring §2.8 — CBOR has no JVM builtin). The first drops non-claim
    events and fails the pass on an undecodable one; the second emits every
    raw row once, with a dead-letter reason for the rows it cannot use.
  * `claims_to_deals` is the F8 reshape (backend/lib/utils.js:11-27) as pure
    column expressions.

The reference rejects unknown event types (service.js:80-82); here they are
dropped or dead-lettered, and the catalog's `event_type_filter` is the
relational form of that check.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.cbor import CID, b64pad_decode, b64pad_encode, cbor_decode, cbor_encode

if TYPE_CHECKING:
    import pandas as pd

DAG_CBOR_CODEC = 81  # dag-CBOR; the reference only accepts codec 81 (utils.js:30-35)

ENTRY_SCHEMA = StructType(
    [
        StructField("Codec", IntegerType()),
        StructField("Flags", IntegerType()),
        StructField("Key", StringType()),
        StructField("Value", StringType()),
    ]
)

RAW_EVENT_SCHEMA = StructType(
    [
        StructField("emitter", StringType()),
        StructField("height", IntegerType()),
        StructField("reverted", BooleanType()),
        StructField("entries", ArrayType(ENTRY_SCHEMA)),
        StructField("msg_cid", StringType()),
    ]
)

# (claim column, CBOR entry key, Python type): the one definition of a
# claim's fields (ClaimEvent, backend/lib/rpc-service/data-types.js:3-13).
_CLAIM_FIELDS = (
    ("claim_id", "id", int),
    ("client", "client", int),
    ("provider", "provider", int),
    ("piece_cid", "piece-cid", str),
    ("piece_size", "piece-size", int),
    ("term_min", "term-min", int),
    ("term_max", "term-max", int),
    ("term_start", "term-start", int),
    ("sector", "sector", int),
)
_CLAIM_KEYS = tuple(key for _, key, _ in _CLAIM_FIELDS)

CLAIM_SCHEMA = StructType(
    [
        StructField("height", IntegerType()),
        StructField("emitter", StringType()),
        StructField("reverted", BooleanType()),
        StructField("event_type", StringType()),
    ]
    + [
        StructField(col, LongType() if typ is int else StringType())
        for col, _, typ in _CLAIM_FIELDS
    ]
)
# the claim columns of a routed row that carries no claim
_NO_CLAIM = dict.fromkeys(["event_type", *(col for col, _, _ in _CLAIM_FIELDS)])


def _cid_for(n: int) -> CID:
    """Deterministic CIDv1-raw-sha256-shaped bytes for fixture building."""
    digest = bytes((n * (i + 7) + i * i) % 256 for i in range(32))
    return CID(bytes([0x01, 0x55, 0x12, 32]) + digest)


def synth_raw_events(events: DataFrame) -> DataFrame:
    """events table → RawActorEvent-shaped rows with base64pad(CBOR) entries.

    event_type 'error' → reverted claim, other types all encode as 'claim'
    except 'signup' which becomes an unknown type ('allocation') so the
    reject-unknown path has data to reject."""

    from ..operators.dedup import spread_cpu

    def encode(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                etype = "allocation" if r.event_type == "signup" else "claim"
                eid = int(r.event_id)
                values = {
                    "id": eid,
                    "client": eid % 97,
                    "provider": int(r.user_id),
                    "piece-cid": _cid_for(eid),
                    "piece-size": (eid % 64 + 1) * 2**30,
                    "term-min": 518400 + (eid % 5) * 2880,
                    "term-max": 1036800,
                    "term-start": 4622000 + eid % 2000,
                    "sector": eid % 1024,
                }
                entries = [
                    (DAG_CBOR_CODEC, 3, "$type", b64pad_encode(cbor_encode(etype)))
                ] + [
                    (DAG_CBOR_CODEC, 3, k, b64pad_encode(cbor_encode(values[k])))
                    for k in _CLAIM_KEYS
                ]
                rows.append(
                    {
                        "emitter": "f06",
                        "height": 4622000 + eid % 2000,
                        "reverted": r.event_type == "error",
                        "entries": entries,
                        "msg_cid": str(_cid_for(eid + 1)),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RAW_EVENT_SCHEMA.fields])

    # The pure-Python CBOR encode is ~1000× heavier per row than the scan;
    # a small parquet file arrives as one split, which would serialize the
    # whole pass onto a single Python worker. Spread first.
    return spread_cpu(events).mapInPandas(encode, RAW_EVENT_SCHEMA)


def _decode_claim(entries) -> tuple[object, dict[str, object] | None]:
    """One raw row's entries → (its `$type`, its claim fields), the fields
    None when the type is not 'claim' (service.js:66-83). Decodes every
    entry (base64pad + dag-CBOR) and pivots the Key/Value list into one
    record. Raises ValueError on a codec other than dag-CBOR; base64 and
    CBOR errors, and a missing claim key, propagate."""
    record: dict[str, object] = {}
    for e in entries:
        if e["Codec"] != DAG_CBOR_CODEC:
            raise ValueError(f"unsupported entry codec {e['Codec']}")
        record[e["Key"]] = cbor_decode(b64pad_decode(e["Value"]))
    etype = record.get("$type")
    if etype != "claim":
        return etype, None
    claim: dict[str, object] = {"event_type": "claim"}
    for col, key, typ in _CLAIM_FIELDS:
        claim[col] = typ(record[key])
    return etype, claim


def _envelope(r) -> dict[str, object]:
    """The raw row's block context, which every output row carries."""
    return {"height": int(r.height), "emitter": r.emitter, "reverted": bool(r.reverted)}


def decode_raw_events(raw: DataFrame) -> DataFrame:
    """RawActorEvent rows → typed claim rows (the F3/F4/F7/F15 chain).
    Non-'claim' events are dropped; an undecodable row fails the pass."""

    def decode(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cols = [f.name for f in CLAIM_SCHEMA.fields]
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                _, claim = _decode_claim(r.entries)
                if claim is not None:
                    rows.append({**_envelope(r), **claim})
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(decode, CLAIM_SCHEMA)


def claims_to_deals(claims: DataFrame) -> DataFrame:
    """ClaimEvent → ActiveDeal reshape (backend/lib/utils.js:11-27): rename
    provider→miner_id etc., default enrichment columns. Pure projection."""
    return claims.select(
        F.col("height").alias("activated_at_epoch"),
        F.col("provider").cast("int").alias("miner_id"),
        F.col("client").cast("int").alias("client_id"),
        "piece_cid",
        "piece_size",
        F.col("term_start").cast("int").alias("term_start_epoch"),
        F.col("term_min").cast("int").alias("term_min"),
        F.col("term_max").cast("int").alias("term_max"),
        F.col("sector").alias("sector_id"),
        F.lit(None).cast("string").alias("payload_cid"),
        F.lit("PAYLOAD_CID_NOT_QUERIED_YET").alias("payload_retrievability_state"),
        "reverted",
    )


ROUTED_SCHEMA = StructType(
    list(CLAIM_SCHEMA.fields)
    + [StructField("dlq_reason", StringType()), StructField("msg_cid", StringType())]
)


def decode_raw_events_routed(raw: DataFrame) -> DataFrame:
    """Decode with a DEAD-LETTER route instead of drop-or-crash: every input
    row lands in the output exactly once — decoded claims with
    `dlq_reason IS NULL`, undecodable/unknown rows with their reason and
    `msg_cid` (the reprocessing handle), their envelope (height, emitter,
    reverted) for triage, and NULL claim fields.

    `decode_raw_events` drops unknown types and fails on an undecodable
    row; production ingest wants neither data loss nor a poison-pill crash
    loop — quarantine the bad rows, keep the stream moving, replay the DLQ
    after a codec fix. The reference hard-fails on unknown types
    (service.js:80-82) because its loop retries the same epoch forever; a
    micro-batch engine must instead bound the blast radius of one bad
    event. Same row decode and the same Arrow-batched single pass as
    `decode_raw_events`; downstream splits with two narrow filters on
    `dlq_reason`."""

    def decode(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cols = [f.name for f in ROUTED_SCHEMA.fields]
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                try:
                    etype, claim = _decode_claim(r.entries)
                    reason = None if claim is not None else f"unknown event type {etype!r}"
                except Exception as exc:  # noqa: BLE001 — quarantine, never crash
                    claim, reason = None, f"{type(exc).__name__}: {exc}"
                rows.append(
                    {**_envelope(r), **(claim or _NO_CLAIM),
                     "dlq_reason": reason, "msg_cid": r.msg_cid}
                )
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(decode, ROUTED_SCHEMA)
