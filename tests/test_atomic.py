"""Contract tests for the swap protocol in streaming/atomic.py: a staged
directory replaces a live one by two renames, and gc_swap_debris recovers
from a crash between them. The deal sink's end-to-end crash tests live in
test_crash_recovery.py."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # r10 test tier: see pytest.ini

import os

from spark_deal_observer_spark.streaming.atomic import gc_swap_debris, swap_dir


def test_gc_swap_debris_restores_newest_backup(tmp_path):
    live = str(tmp_path / "t")
    # repeated crashes stacked several backups and the live dir is gone —
    # glob order must NOT pick the stale one (the r5 ADVICE finding)
    old1 = f"{live}__old_aaaaaaaa"  # globs first, but is the STALE copy
    old2 = f"{live}__old_zzzzzzzz"
    for d, stamp in ((old1, 100), (old2, 200)):
        os.makedirs(d)
        open(os.path.join(d, "marker"), "w").write(d)
        os.utime(d, (stamp, stamp))
    os.makedirs(f"{live}__stage_123")
    gc_swap_debris(live)
    assert open(os.path.join(live, "marker")).read() == old2
    assert not os.path.exists(old1) and not os.path.exists(old2)
    assert not os.path.exists(f"{live}__stage_123")


def test_gc_swap_debris_sweeps_backups_when_live_exists(tmp_path):
    live = str(tmp_path / "t")
    os.makedirs(live)
    open(os.path.join(live, "marker"), "w").write("live")
    old = f"{live}__old_deadbeef"
    os.makedirs(old)
    gc_swap_debris(live)
    assert open(os.path.join(live, "marker")).read() == "live"
    assert not os.path.exists(old)


def test_swap_dir_replaces_and_cleans(tmp_path):
    live, staged = str(tmp_path / "live"), str(tmp_path / "staged")
    for d, content in ((live, "old"), (staged, "new")):
        os.makedirs(d)
        open(os.path.join(d, "f"), "w").write(content)
    swap_dir(staged, live)
    assert open(os.path.join(live, "f")).read() == "new"
    assert not os.path.exists(staged)
    import glob

    assert not glob.glob(f"{live}__old_*")  # backup removed on success
