"""Filecoin epoch <-> timestamp conversions as pure column expressions.

The reference implements these as plpgsql UDFs
(`db/migrations/005.do.epoch-to-timestamp.sql:1-9`,
`006.do.timestamp-to-epoch.sql:1-15`) and a JS twin
(`backend/lib/epoch.js:9-21`). In Spark they need no UDF at all — they are
whole-stage-codegen'd column expressions, which keeps the hot ingest path
entirely JVM-side.

Genesis: unix 1598306400 (2020-08-24T22:00:00Z), 30 s per epoch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GENESIS_UNIX = 1_598_306_400
EPOCH_SECONDS = 30


_UNIX_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_to_timestamp(epoch: Column | str) -> Column:
    """Epoch number -> TIMESTAMP_NTZ. Mirrors reference F1 (005 migration).

    Deliberately TIMESTAMP_NTZ with wall-clock arithmetic from the unix
    origin: the result is a fixed UTC wall time independent of the session
    or host timezone (instant-typed TimestampType would shift when collected
    on a non-UTC driver).
    """
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    secs = e.cast("long") * EPOCH_SECONDS + F.lit(GENESIS_UNIX)
    return F.timestamp_add("SECOND", secs, F.expr(_UNIX_NTZ))


def timestamp_to_epoch(ts: Column | str) -> Column:
    """Timestamp -> epoch number (floor). Mirrors reference F2 (006 migration).

    Pure wall-clock diff (timestampdiff from the unix origin) — no session-
    timezone dependence. Returns LongType.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    secs = F.timestamp_diff("SECOND", F.expr(_UNIX_NTZ), t)
    return F.floor((secs - F.lit(GENESIS_UNIX)) / F.lit(EPOCH_SECONDS)).cast("long")


_TRUNC_SECONDS = {"hour": 3600, "day": 86400}


def trunc_ntz(unit: str, ts: Column | str) -> Column:
    """Timezone-independent `date_trunc` for TIMESTAMP_NTZ columns.

    Spark's built-in `date_trunc` COERCES timestamp_ntz to instant
    TimestampType through the session timezone, so the truncated bucket
    shifts when driver/session TZ isn't UTC (caught by the TZ-probe in the
    verify recipe: hour buckets came back 5 h off under America/New_York).
    Pure wall-clock integer arithmetic from the NTZ unix origin — diff,
    floor to the unit, add back — stays NTZ end-to-end and codegen's just
    as well. Supports the grains the rollups use ('hour', 'day')."""
    secs = _TRUNC_SECONDS[unit]
    t = F.col(ts) if isinstance(ts, str) else ts
    d = F.timestamp_diff("SECOND", F.expr(_UNIX_NTZ), t)
    return F.timestamp_add(
        "SECOND", (F.floor(d / secs) * secs).cast("long"), F.expr(_UNIX_NTZ)
    )
