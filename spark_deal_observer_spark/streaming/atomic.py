"""Stage-and-swap of whole directories, and its restart hygiene.

`swap_dir` replaces a live directory with a staged one by two renames.
A crash between them leaves the live directory MISSING and its
`__old_*` backup as the only copy; `gc_swap_debris` restores the newest
backup and sweeps orphaned `__stage_*` dirs. The deal sink
(streaming/sink.py) swaps its epoch-bucket partitions this way.

Pinned in tests/test_atomic.py; the sink's crash tests are in
tests/test_crash_recovery.py.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid


def swap_dir(staged: str, live: str) -> None:
    """Replace `live` with `staged`, restoring `live` if the swap fails.

    `os.rename` is atomic on a local POSIX filesystem but NOT on object
    storage; at deployment scale the swap becomes a table-format commit
    (Delta/Iceberg) with the callers' plans unchanged."""
    old = f"{live}__old_{uuid.uuid4().hex[:8]}"
    had_live = os.path.exists(live)
    if had_live:
        os.rename(live, old)
    try:
        os.rename(staged, live)
    except BaseException:
        if had_live and not os.path.exists(live):
            os.rename(old, live)
        raise
    if had_live:
        shutil.rmtree(old)


def gc_swap_debris(live: str) -> None:
    """Restart hygiene for a `swap_dir`-maintained directory: sweep
    orphaned `__stage_*` dirs, then resolve `__old_*` backups. If the
    live dir exists every backup is post-swap garbage; if it is MISSING
    the crash hit between swap_dir's two renames and the backups are the
    only copies — restore the MOST RECENTLY MODIFIED one (repeated
    crashes can stack several; glob order would resurrect a stale one
    nondeterministically) and only then sweep the rest."""
    for d in glob.glob(f"{live}__stage_*"):
        shutil.rmtree(d, ignore_errors=True)
    olds = sorted(glob.glob(f"{live}__old_*"), key=os.path.getmtime)
    if not olds:
        return
    if not os.path.exists(live):
        os.rename(olds.pop(), live)
    for d in olds:
        shutil.rmtree(d, ignore_errors=True)
