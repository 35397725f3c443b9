"""Merge-on-read mode: delta append + read-time LWW resolution + compaction.

Must be observationally identical to the COW path (same converged state
under duplicates, out-of-order, deletes), with O(batch) write amplification.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

N_KEYS = 300


@pytest.fixture()
def wal(spark, tmpdir_path):
    path = f"{tmpdir_path}/events"
    generate_wal(spark, n_keys=N_KEYS, n_partitions=4).write.parquet(path)
    return path


def build(spark, tmpdir_path, wal_path, **kw):
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/target", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=8,
    )
    return CdcApplyPipeline(spark, wal_path, tbl, f"{tmpdir_path}/state",
                            mode="mor", **kw)


def parity(spark, tbl, wal_path):
    exp = replay_oracle(spark.read.parquet(wal_path).toPandas())
    got = (
        tbl.read()
        .select("repo", "path", "commit", "lang", "commit_seq", "event_seq",
                "content_sha256", "content_len")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    exp = exp[got.columns.tolist()]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_mor_multi_batch_parity(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 4))
    assert p.table.has_deltas()
    parity(spark, p.table, wal)


def test_mor_out_of_order_and_replay(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(mid, hi)      # second half first
    p.run_batch(lo - 1, mid)  # then first half
    r = p.run_batch(lo - 1, mid)  # replay -> no-op
    assert r["skipped_already_committed"]
    parity(spark, p.table, wal)


def test_mor_compaction_preserves_state(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 3))
    before = {(r["repo"], r["path"]): r["content_sha256"]
              for r in p.table.read().collect()}
    m = p.table.compact("compact-1")
    assert not p.table.has_deltas()
    after = {(r["repo"], r["path"]): r["content_sha256"]
             for r in p.table.read().collect()}
    assert before == after
    parity(spark, p.table, wal)
    # compaction replay is a no-op
    assert p.table.compact("compact-1").skipped_already_committed
    # post-compaction reads skip the dedupe (no deltas): still correct
    parity(spark, p.table, wal)


def test_mor_auto_compact_every(spark, tmpdir_path, wal):
    p = build(spark, tmpdir_path, wal, compact_every=2)
    lo, hi = p.delivery_range()
    p.run(batch_span=max(1, (hi - lo) // 4))
    parity(spark, p.table, wal)


def test_mor_then_cow_interleave(spark, tmpdir_path, wal):
    """A COW conditional MERGE on a table that still has MOR deltas must
    resolve them first (no join explosion, no stale winners)."""
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    mid = (lo + hi) // 2
    p.run_batch(lo - 1, mid)          # MOR deltas
    p.mode = "cow"
    p.run_batch(mid, hi)              # COW merge over delta-bearing table
    parity(spark, p.table, wal)


def test_mor_write_amplification_is_o_batch(spark, tmpdir_path, wal):
    """Delta snapshots only add refs; COW rewrites whole buckets."""
    p = build(spark, tmpdir_path, wal)
    lo, hi = p.delivery_range()
    span = max(1, (hi - lo) // 4)
    p.run(batch_span=span)
    snap = p.table.snapshot()
    n_delta = sum(1 for r in snap["refs"] if r.get("delta"))
    assert n_delta > 8  # one delta dir per bucket per batch


def test_fastpath_append_width_tracks_batch_rows(spark, tmpdir_path, wal):
    """r6: the fast-path delta append is coalesced to ceil(batch_rows /
    mor_append_rows_per_task) write tasks — delta files per batch are
    width x touched buckets instead of scan-width x buckets (measured 2x
    on the 1M-event apply), with NO Exchange (coalesce concatenates
    partitions in place) and an end state identical to the uncoalesced
    path."""
    import glob

    wide = build(spark, tmpdir_path + "/w", wal, mor_fast_path=True,
                 mor_append_rows_per_task=None)  # disabled -> scan width
    wide.run(batch_span=None)
    narrow = build(spark, tmpdir_path + "/n", wal, mor_fast_path=True,
                   mor_append_rows_per_task=10**9)  # one write task
    narrow.run(batch_span=None)

    def delta_files(pipe):
        return len(glob.glob(f"{pipe.table.root}/**/*.parquet",
                             recursive=True))

    # one write task holds every bucket once: exactly n_buckets files
    assert delta_files(narrow) == 8 < delta_files(wide)
    parity(spark, narrow.table, wal)
    cols = ["repo", "path", "commit_seq", "event_seq", "content_sha256"]
    a = {tuple(r) for r in wide.table.read().select(*cols).collect()}
    b = {tuple(r) for r in narrow.table.read().select(*cols).collect()}
    assert a == b


def test_mor_batch_record_counts_appended_rows(spark, tmpdir_path, wal):
    """The MOR append observes what it writes: metrics.jsonl and lineage
    carry the rows appended and the tombstones among them, not zeros."""
    import json

    from ore_etl_spark.operators.decode import decode_events

    p = build(spark, tmpdir_path, wal, mor_fast_path=True)
    (rec,) = p.run(batch_span=None)
    valid = decode_events(spark.read.parquet(wal)).filter(F.col("is_valid"))
    n_del = valid.filter(F.col("op") == "DELETE").count()
    assert n_del > 0
    assert rec["n_source"] == rec["n_in"] - rec["n_quarantined"] == valid.count()
    assert rec["n_deleted"] == n_del
    with open(f"{tmpdir_path}/state/metrics.jsonl") as f:
        logged = [json.loads(line) for line in f if line.strip()]
    assert (logged[-1]["n_source"], logged[-1]["n_deleted"]) == (
        rec["n_source"], n_del)
    lin = p.table.lineage()[-1]
    assert (lin["n_source"], lin["n_deleted"]) == (rec["n_source"], n_del)
