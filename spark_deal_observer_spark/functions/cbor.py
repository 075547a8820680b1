"""Minimal dag-CBOR codec for the reference's raw actor events.

The reference ingests chain events whose entry values are base64pad-wrapped
dag-CBOR (backend/lib/rpc-service/utils.js:9-53): integers and CIDs (CBOR
tag 42 over a multibase-identity-prefixed byte string). `cbor2` is not
available in this environment, so this module vendors a small RFC 8949
subset — exactly the types the claim-event schema uses (unsigned/negative
ints, byte strings, text strings, arrays, maps, tags, null/bool) — plus an
encoder for building test fixtures.

Plain Python, no Spark: `sources/events.py` runs the decode inside one
Arrow-batched mapInPandas pass per decoder — one Python boundary per
batch, as SURVEY.md §2.8 prescribes.
"""

from __future__ import annotations

import base64
from typing import Any

CID_TAG = 42


class CID:
    """A decoded CID, rendered exactly as multiformats' CID.toString() does
    (used by the reference, rpc-service/utils.js:37-38): CIDv1 in canonical
    base32 ('b…'); CIDv0 (a bare 0x12 0x20 sha2-256 multihash with no
    version byte) in base58btc with no multibase prefix ('Qm…')."""

    __slots__ = ("bytes",)

    def __init__(self, raw: bytes):
        self.bytes = raw

    @property
    def version(self) -> int:
        return 0 if self.bytes[:2] == b"\x12\x20" and len(self.bytes) == 34 else self.bytes[0]

    def __str__(self) -> str:
        if self.version == 0:
            return _b58btc(self.bytes)
        return "b" + _b32_nopad(self.bytes)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, CID) and self.bytes == other.bytes

    def __repr__(self) -> str:
        return f"CID({self})"


def _b32_nopad(raw: bytes) -> str:
    return base64.b32encode(raw).decode("ascii").lower().rstrip("=")


_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _b58btc(raw: bytes) -> str:
    n = int.from_bytes(raw, "big")
    out = ""
    while n:
        n, r = divmod(n, 58)
        out = _B58_ALPHABET[r] + out
    pad = len(raw) - len(raw.lstrip(b"\x00"))
    return _B58_ALPHABET[0] * pad + out


# -- decoder ----------------------------------------------------------------


def _read_uint(data: bytes, pos: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, pos
    if info == 24:
        return data[pos], pos + 1
    if info == 25:
        return int.from_bytes(data[pos : pos + 2], "big"), pos + 2
    if info == 26:
        return int.from_bytes(data[pos : pos + 4], "big"), pos + 4
    if info == 27:
        return int.from_bytes(data[pos : pos + 8], "big"), pos + 8
    raise ValueError(f"unsupported additional info {info}")


def _decode_item(data: bytes, pos: int) -> tuple[Any, int]:
    initial = data[pos]
    major, info = initial >> 5, initial & 0x1F
    pos += 1
    if major == 0:  # unsigned int
        return _read_uint(data, pos, info)
    if major == 1:  # negative int
        n, pos = _read_uint(data, pos, info)
        return -1 - n, pos
    if major == 2:  # byte string
        n, pos = _read_uint(data, pos, info)
        return data[pos : pos + n], pos + n
    if major == 3:  # text string
        n, pos = _read_uint(data, pos, info)
        return data[pos : pos + n].decode("utf-8"), pos + n
    if major == 4:  # array
        n, pos = _read_uint(data, pos, info)
        out = []
        for _ in range(n):
            item, pos = _decode_item(data, pos)
            out.append(item)
        return out, pos
    if major == 5:  # map
        n, pos = _read_uint(data, pos, info)
        m: dict[Any, Any] = {}
        for _ in range(n):
            k, pos = _decode_item(data, pos)
            v, pos = _decode_item(data, pos)
            m[k] = v
        return m, pos
    if major == 6:  # tag
        tag, pos = _read_uint(data, pos, info)
        content, pos = _decode_item(data, pos)
        if tag == CID_TAG:
            if not isinstance(content, bytes) or not content.startswith(b"\x00"):
                raise ValueError("tag 42 must wrap an identity-multibase byte string")
            return CID(content[1:]), pos
        return content, pos
    if major == 7:  # simple values
        if info == 20:
            return False, pos
        if info == 21:
            return True, pos
        if info == 22:
            return None, pos
        raise ValueError(f"unsupported simple value {info}")
    raise ValueError(f"unsupported major type {major}")


def cbor_decode(data: bytes) -> Any:
    value, end = _decode_item(data, 0)
    if end != len(data):
        raise ValueError(f"trailing bytes after CBOR item ({end} != {len(data)})")
    return value


# -- encoder (for fixtures/tests) ------------------------------------------


def _write_uint(major: int, n: int) -> bytes:
    head = major << 5
    if n < 24:
        return bytes([head | n])
    for info, size in ((24, 1), (25, 2), (26, 4), (27, 8)):
        if n < (1 << (8 * size)):
            return bytes([head | info]) + n.to_bytes(size, "big")
    raise ValueError("integer too large")


def cbor_encode(value: Any) -> bytes:
    if isinstance(value, bool):
        return bytes([0xF5 if value else 0xF4])
    if value is None:
        return bytes([0xF6])
    if isinstance(value, int):
        return _write_uint(0, value) if value >= 0 else _write_uint(1, -1 - value)
    if isinstance(value, bytes):
        return _write_uint(2, len(value)) + value
    if isinstance(value, str):
        raw = value.encode("utf-8")
        return _write_uint(3, len(raw)) + raw
    if isinstance(value, list):
        return _write_uint(4, len(value)) + b"".join(cbor_encode(v) for v in value)
    if isinstance(value, dict):
        out = _write_uint(5, len(value))
        for k, v in value.items():
            out += cbor_encode(k) + cbor_encode(v)
        return out
    if isinstance(value, CID):
        inner = b"\x00" + value.bytes
        return _write_uint(6, CID_TAG) + cbor_encode(inner)
    raise TypeError(f"unsupported type {type(value)}")


# -- base64pad wrappers (reference uses multiformats base64pad) -------------


def b64pad_decode(s: str) -> bytes:
    return base64.b64decode(s)


def b64pad_encode(data: bytes) -> str:
    return base64.b64encode(data).decode("ascii")
