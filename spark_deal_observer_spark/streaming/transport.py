"""Retried external-call transport (reference S3).

The reference wraps every outbound RPC in `pRetry(..., {retries: 5})` with
exponential backoff (backend/lib/rpc-service/service.js:19-44) and the
piece-indexer lookup likewise (piece-indexer-service.js:22-25). This module
is the engine's analog: a callable wrapper around the egress poster
(`submit_eligible(sink, with_retries(poster), ...)`).

Per-CALL retry composes with the egress loop's per-BATCH skip (T7): a batch
is skipped for the tick only after its call has exhausted the retry budget,
which is exactly the reference's layering (pRetry inside, batch skip
outside).

`sleep` and `rng` are injectable so tests run instantly and
deterministically; defaults are real time.sleep and a fresh Random.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from typing import Any

DEFAULT_ATTEMPTS = 6  # 1 initial + 5 retries, matching pRetry {retries: 5}
DEFAULT_BASE_DELAY = 1.0  # seconds; doubles per attempt
DEFAULT_MAX_DELAY = 30.0


class RetriesExhausted(Exception):
    """All attempts failed; `.last` is the final underlying exception."""

    def __init__(self, attempts: int, last: BaseException):
        super().__init__(f"call failed after {attempts} attempts: {last!r}")
        self.attempts = attempts
        self.last = last


class with_retries:
    """Wrap `fn` with capped-exponential-backoff retries + full jitter.

    Delay for attempt k is `uniform(0, min(base * 2**k, max_delay))` —
    AWS-style full jitter, which decorrelates a fleet of observers all
    retrying against the same struggling endpoint.
    """

    def __init__(
        self,
        fn: Callable[..., Any],
        attempts: int = DEFAULT_ATTEMPTS,
        base_delay: float = DEFAULT_BASE_DELAY,
        max_delay: float = DEFAULT_MAX_DELAY,
        sleep: Callable[[float], None] = time.sleep,
        rng: random.Random | None = None,
    ):
        self.fn = fn
        self.attempts = attempts
        self.base_delay = base_delay
        self.max_delay = max_delay
        self.sleep = sleep
        self.rng = rng

    def __call__(self, *args: Any, **kwargs: Any) -> Any:
        rng = self.rng if self.rng is not None else random.Random()
        last: BaseException | None = None
        for attempt in range(self.attempts):
            try:
                return self.fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 — transport boundary
                last = exc
                if attempt + 1 < self.attempts:
                    cap = min(self.base_delay * (2**attempt), self.max_delay)
                    self.sleep(rng.uniform(0, cap))
        raise RetriesExhausted(self.attempts, last)  # type: ignore[arg-type]
