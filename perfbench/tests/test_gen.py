"""Generator determinism: the same seed gives byte-identical inputs."""

import filecmp
import os

import pandas as pd
import pytest

from perfbench import gen

SMALL = gen.IngestPlan(backlog_files=4, live_slices=6)


def _ingest(tmp_path, name, seed):
    backlog, staged = tmp_path / name / "b", tmp_path / name / "s"
    backlog.mkdir(parents=True)
    staged.mkdir()
    return gen.ingest_input(seed, str(backlog), str(staged), SMALL)


def _same_bytes(a: list[str], b: list[str]) -> bool:
    return len(a) == len(b) and all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_ingest_files_are_byte_identical_per_seed(tmp_path):
    one, two, other = _ingest(tmp_path, "one", 7), _ingest(tmp_path, "two", 7), _ingest(tmp_path, "x", 8)
    assert _same_bytes(one.backlog + one.live, two.backlog + two.live)
    assert not _same_bytes(one.backlog + one.live, other.backlog + other.live)
    pd.testing.assert_frame_equal(one.expected, two.expected)
    pd.testing.assert_frame_equal(one.pays, two.pays)


def test_ingest_slices_are_epoch_contiguous_with_late_rows_and_replays(tmp_path):
    inp = _ingest(tmp_path, "one", 3)
    assert len(inp.backlog) == SMALL.backlog_files and len(inp.live) == SMALL.live_slices
    n_epochs = SMALL.backlog_files * SMALL.epochs_per_backlog_file + SMALL.live_slices
    assert len(inp.expected) == n_epochs * SMALL.events_per_epoch
    assert inp.late_rows > 0 and inp.redelivered_rows > 0
    assert inp.events_total == len(inp.expected) + inp.redelivered_rows
    # piece sizes name deals uniquely, so egress payloads map back to ids
    assert inp.expected["piece_size"].is_unique
    assert not inp.expected[list(gen.DEAL_KEY)].duplicated().any()
    # a live slice carries its own epoch plus late rows of at most two earlier units
    epochs = pd.read_parquet(inp.live[-1])["event_id"] % gen.EPOCH_SPAN
    assert epochs.max() - epochs.min() <= 3 * SMALL.epochs_per_backlog_file


def test_expected_rows_follow_the_ingest_derivation(tmp_path):
    inp = _ingest(tmp_path, "one", 4)
    events = pd.concat(pd.read_parquet(f) for f in inp.backlog + inp.live).drop_duplicates("event_id")
    row = inp.expected.set_index("id").loc[int(events.iloc[0]["event_id"])]
    ev = events.iloc[0]
    assert row["activated_at_epoch"] == gen.BASE_EPOCH + ev["event_id"] % gen.EPOCH_SPAN
    assert (row["payload_cid"] is not None) == (ev["value"] > 5.0)
    assert (row["submitted_at"] is pd.NaT) == (ev["event_id"] % 3 != 0)
    assert row["reverted"] == (ev["event_type"] == "error")


def test_catalog_tables_are_byte_identical_per_seed(tmp_path):
    counts = gen.catalog_tables(1, str(tmp_path / "a"))
    gen.catalog_tables(1, str(tmp_path / "b"))
    for name in counts:
        f = f"{name}.parquet"
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert set(counts) == {"region", "nation", "customer", "supplier", "part", "orders",
                           "lineitem", "events", "documents", "embeddings"}


def test_plan_refuses_to_outgrow_the_epoch_span():
    with pytest.raises(ValueError):
        gen.IngestPlan(live_slices=gen.EPOCH_SPAN).units


def test_generated_ingest_files_stay_in_their_dirs(tmp_path):
    inp = _ingest(tmp_path, "one", 1)
    assert {os.path.dirname(f) for f in inp.backlog} == {str(tmp_path / "one" / "b")}
    assert {os.path.dirname(f) for f in inp.live} == {str(tmp_path / "one" / "s")}
