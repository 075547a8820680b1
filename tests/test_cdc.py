"""Change-feed sink: per-tick added/changed audit with field attribution,
replay-idempotent by construction (a replayed batch audits to zero rows)."""

from __future__ import annotations

from conftest import SF_SMALL

from pyspark.sql import functions as F

from spark_deal_observer_spark.plans.deals import REF_TS, deals_df
from spark_deal_observer_spark.streaming.cdc import ChangeFeedSink
from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink


def _frame(spark):
    return deals_df(spark, SF_SMALL).select(
        "id",
        "activated_at_epoch",  # the sink's partition bucket derives from it
        "payload_retrievability_state",
        "last_payload_retrieval_attempt",
    )


def test_change_feed_audits_adds_changes_and_replay(spark, tmp_path):
    deals = _frame(spark).localCheckpoint()
    first = deals.where(F.col("id") % 3 != 0)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"), key=["id"])
    feed = ChangeFeedSink(spark, sink, str(tmp_path / "feed"))

    # tick 0: empty table -> every key audits as added
    feed.process_batch(first, batch_id=0)
    log0 = feed.read_feed().where("batch_id = 0")
    n_first = first.count()
    assert log0.count() == n_first
    assert log0.where("op != 'added'").count() == 0
    assert log0.where("changed_fields IS NOT NULL").count() == 0

    # tick 1: the remaining keys (added) + a state transition on some
    # existing keys (changed, with the changed fields named) + untouched
    # rows (no audit row at all)
    transition = first.where(
        F.col("payload_retrievability_state") == "PAYLOAD_CID_UNRESOLVED"
    ).select(
        "id",
        "activated_at_epoch",
        F.lit("PAYLOAD_CID_RESOLVED").alias("payload_retrievability_state"),
        F.lit(REF_TS).cast("timestamp_ntz").alias("last_payload_retrieval_attempt"),
    )
    untouched = first.where(
        F.col("payload_retrievability_state") != "PAYLOAD_CID_UNRESOLVED"
    ).limit(50)
    second = deals.where(F.col("id") % 3 == 0)
    feed.process_batch(transition.unionByName(untouched).unionByName(second), batch_id=1)
    log1 = {r["op"]: r for r in
            feed.read_feed().where("batch_id = 1")
            .groupBy("op").count().collect()}
    assert log1["added"]["count"] == second.count()
    assert log1["changed"]["count"] == transition.count() > 0
    assert set(log1) == {"added", "changed"}
    changed_rows = feed.read_feed().where("batch_id = 1 AND op = 'changed'")
    assert (
        changed_rows.where(
            F.col("changed_fields")
            != "payload_retrievability_state,last_payload_retrieval_attempt"
        ).count()
        == 0
    )
    # the table itself reflects the upserts
    assert sink.read().count() == deals.count()
    assert (
        sink.read()
        .where("payload_retrievability_state = 'PAYLOAD_CID_RESOLVED'")
        .count()
        >= transition.count()
    )

    # tick 2: REPLAY of tick 1's batch — everything is already applied, so
    # the audit is empty and the table is unchanged (effectively-once)
    n_table = sink.read().count()
    feed.process_batch(
        transition.unionByName(untouched).unionByName(second), batch_id=2
    )
    assert feed.read_feed().where("batch_id = 2").count() == 0
    assert sink.read().count() == n_table


def test_change_feed_compensates_reverts_opt_in(spark, tmp_path):
    """Opt-in revert compensation (VERDICT r8 #5): a reverted=true row is
    audited as op='removed' and deleted from the table; replays audit
    zero rows and delete nothing; default-off sinks keep flag-only
    upserts."""
    deals = (
        _frame(spark)
        .withColumn("reverted", F.lit(False))
        .localCheckpoint()
    )
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"), key=["id"])
    feed = ChangeFeedSink(
        spark, sink, str(tmp_path / "feed"), compensate_reverts=True
    )
    feed.process_batch(deals, batch_id=0)
    n_all = deals.count()
    assert sink.read().count() == n_all

    # the revert tick: a third of the keys arrive retracted
    revert = deals.where(F.col("id") % 3 == 0).withColumn(
        "reverted", F.lit(True)
    )
    n_rev = revert.count()
    assert n_rev > 0
    feed.process_batch(revert, batch_id=1)
    log1 = feed.read_feed().where("batch_id = 1")
    assert log1.count() == n_rev
    assert log1.where("op != 'removed'").count() == 0
    assert sink.read().count() == n_all - n_rev
    assert sink.read().where("id % 3 = 0").count() == 0

    # replay: keys already gone -> empty audit, table unchanged
    feed.process_batch(revert, batch_id=2)
    assert feed.read_feed().where("batch_id = 2").count() == 0
    assert sink.read().count() == n_all - n_rev

    # default-off feed on a fresh table: reverted rows upsert flag-only
    sink2 = PartitionedDealTableSink(spark, str(tmp_path / "table2"), key=["id"])
    feed2 = ChangeFeedSink(spark, sink2, str(tmp_path / "feed2"))
    feed2.process_batch(deals, batch_id=0)
    feed2.process_batch(revert, batch_id=1)
    assert sink2.read().count() == n_all
    assert sink2.read().where("reverted").count() == n_rev
