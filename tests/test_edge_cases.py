"""Edge cases: empty WAL, empty batch ranges, all-corrupt batches."""

import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable


def build(spark, tmpdir_path, wal_path):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/t", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/s")


def test_empty_wal_run_is_noop(spark, tmpdir_path):
    wal = f"{tmpdir_path}/empty_wal"
    generate_wal(spark, n_keys=10).limit(0).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    assert p.run() == []
    assert p.table.read().count() == 0


def test_empty_range_batch_commits_noop_snapshot(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=20).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    rec = p.run_batch(hi + 100, hi + 200)  # range beyond the WAL head
    assert rec["n_in"] is None or rec["n_in"] == 0
    assert rec["n_inserted"] == 0
    # the empty batch is still recorded (exactly-once bookkeeping)
    assert p.table.is_committed(rec["batch_id"])


def _corrupt_wal(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(spark, n_keys=30).withColumn(
        "payload", F.substring(F.col("payload"), 1, 6)  # truncate everything
    ).write.parquet(wal)
    return wal


def test_all_corrupt_batch_goes_entirely_to_quarantine(spark, tmpdir_path):
    p = build(spark, tmpdir_path, _corrupt_wal(spark, tmpdir_path))
    res = p.run()
    assert len(res) == 1
    assert res[0]["n_quarantined"] == res[0]["n_in"] > 0
    assert p.table.read().count() == 0
    assert p.quarantine().count() == res[0]["n_in"]


def _break_quarantine(p, tmpdir_path):
    """Point the quarantine under a regular file: its write then fails."""
    blocker = f"{tmpdir_path}/blocker"
    open(blocker, "w").close()
    good, p.quarantine_dir = p.quarantine_dir, f"{blocker}/quarantine"
    return good


def test_all_corrupt_batch_never_commits_before_its_quarantine(spark, tmpdir_path):
    """An all-invalid batch touches no bucket, but its batch_id must still
    wait for the quarantine write: a commit first would make the replay
    skip the batch and lose its rows for good."""
    p = build(spark, tmpdir_path, _corrupt_wal(spark, tmpdir_path))
    snap0 = p.table.snapshot()
    good = _break_quarantine(p, tmpdir_path)
    lo, hi = p.delivery_range()
    with pytest.raises(Exception, match="blocker"):  # the quarantine's error
        p.run_batch(lo - 1, hi)
    snap1 = p.table.snapshot()
    assert snap1["version"] == snap0["version"]
    assert snap1["applied_batch_ids"] == snap0["applied_batch_ids"]

    p.quarantine_dir = good
    res = p.run()  # the rerun converges
    assert len(res) == 1 and res[0]["n_quarantined"] == res[0]["n_in"] > 0
    assert p.table.is_committed(res[0]["batch_id"])
    assert p.quarantine().count() == res[0]["n_in"]


def test_quarantine_failure_raises_when_merge_finds_batch_committed(
        spark, tmpdir_path, monkeypatch):
    """A peer commits the batch between run_batch's idempotency check and
    the merge, so the merge returns without its pre-commit barrier: the
    quarantine write is still awaited and its failure still raises."""
    wal = f"{tmpdir_path}/wal"
    ev = generate_wal(spark, n_keys=30)
    ev.withColumn(  # a few corrupt payloads among valid events
        "payload",
        F.when(F.col("delivery_seq") % 7 == 0, F.lit("!!")).otherwise(F.col("payload")),
    ).write.parquet(wal)
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    peer = CdcApplyPipeline(spark, wal, p.table, f"{tmpdir_path}/peer")
    assert peer.run_batch(lo - 1, hi)["n_quarantined"] > 0

    checks = []
    committed = p.table.is_committed

    def racing_is_committed(batch_id, snap=None):
        checks.append(batch_id)
        return False if len(checks) == 1 else committed(batch_id, snap)

    monkeypatch.setattr(p.table, "is_committed", racing_is_committed)
    _break_quarantine(p, tmpdir_path)
    with pytest.raises(Exception, match="blocker"):  # the quarantine's error
        p.run_batch(lo - 1, hi)
    assert len(checks) >= 2  # the merge did reach its own check
