"""dag-CBOR codec + decode pipeline tests (mirrors the reference's golden
fixture strategy, SURVEY.md §5: backend/test/test_data/claimEvent.js)."""

from __future__ import annotations

import base64

import pytest
from conftest import SF_SMALL

from spark_deal_observer_spark.functions.cbor import (
    CID,
    b64pad_decode,
    b64pad_encode,
    cbor_decode,
    cbor_encode,
)
from spark_deal_observer_spark.sources.events import (
    claims_to_deals,
    decode_raw_events,
    synth_raw_events,
)

# Golden claim from the reference fixture (claimEvent.js): claimId 87871691,
# provider 3254061, pieceSize 2^35, termMin 1008000, termMax 1267200,
# termStart 4620803, sector 102905.
GOLDEN_CLAIM = {
    "id": 87871691,
    "client": 1402506,
    "provider": 3254061,
    "piece-size": 34359738368,
    "term-min": 1008000,
    "term-max": 1267200,
    "term-start": 4620803,
    "sector": 102905,
}


@pytest.mark.parametrize(
    "value",
    [0, 1, 23, 24, 255, 256, 65535, 65536, 2**32, 2**35, -1, -100, "claim",
     b"\x01\x02", [1, 2, 3], {"a": 1}, True, False, None],
)
def test_roundtrip(value):
    assert cbor_decode(cbor_encode(value)) == value


def test_golden_claim_roundtrip():
    for key, v in GOLDEN_CLAIM.items():
        encoded = b64pad_encode(cbor_encode(v))
        assert cbor_decode(b64pad_decode(encoded)) == v, key


def test_cid_string_form():
    raw = bytes([0x01, 0x55, 0x12, 4]) + b"\xde\xad\xbe\xef"
    cid = CID(raw)
    decoded = cbor_decode(cbor_encode(cid))
    assert decoded == cid
    expected = "b" + base64.b32encode(raw).decode().lower().rstrip("=")
    assert str(decoded) == expected


def test_cidv0_renders_base58btc():
    """A v0 CID (bare 0x12 0x20 multihash) must stringify like multiformats:
    base58btc, no multibase prefix, 'Qm…'. Golden digest: sha2-256 of b''."""
    import hashlib

    raw = b"\x12\x20" + hashlib.sha256(b"").digest()
    s = str(CID(raw))
    # Known base58btc of the empty-string sha2-256 multihash.
    assert s == "QmdfTbBqBPQ7VNxZEYEj14VmRuZBkqFbiwReogJgS1zR1n"
    assert cbor_decode(cbor_encode(CID(raw))) == CID(raw)


def test_trailing_bytes_rejected():
    with pytest.raises(ValueError):
        cbor_decode(cbor_encode(1) + b"\x00")


def test_decode_pipeline_counts_and_values(spark):
    from spark_deal_observer_spark.sources.tables import load_table

    events = load_table(spark, SF_SMALL, "events")
    raw = synth_raw_events(events)
    claims = decode_raw_events(raw)

    n_events = events.count()
    n_signup = events.where("event_type = 'signup'").count()
    assert claims.count() == n_events - n_signup  # unknown types dropped

    eid = events.where("event_type = 'purchase'").selectExpr("min(event_id)").collect()[0][0]
    row = claims.where(f"claim_id = {eid}").collect()[0]
    assert row.client == eid % 97
    assert row.piece_size == (eid % 64 + 1) * 2**30
    assert row.piece_cid.startswith("b")  # canonical CIDv1 base32 form

    deals = claims_to_deals(claims)
    assert deals.columns[0] == "activated_at_epoch"
    assert deals.where("payload_cid IS NOT NULL").count() == 0


def test_decode_pipeline_raises_on_undecodable_entry(spark):
    """The lax decoder drops unknown types but never drops a corrupt entry:
    an entry that is not base64 fails the pass."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from spark_deal_observer_spark.sources.tables import load_table

    events = load_table(spark, SF_SMALL, "events").where("event_type = 'purchase'").limit(5)
    bad = synth_raw_events(events).withColumn(
        "entries",
        F.expr(
            "transform(entries, e -> named_struct("
            "'Codec', e.Codec, 'Flags', e.Flags, 'Key', e.Key, 'Value', '!!!notb64'))"
        ),
    )
    with pytest.raises(PythonException):
        decode_raw_events(bad).collect()
