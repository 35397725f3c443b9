"""MergeTable: conditional LWW MERGE, tombstones, exactly-once, evolution.

Mirrors the reference's upsert-sink semantics tests (SURVEY §5) but asserts
the *stronger* contract: stale replays never overwrite newer state.
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from ore_etl_spark.tables.merge_table import MergeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit_seq", T.LongType()),
    T.StructField("event_seq", T.LongType()),
    T.StructField("content", T.StringType()),
])


def make_table(spark, tmpdir_path, n_buckets=4):
    return MergeTable.create(
        spark, f"{tmpdir_path}/tbl", SCHEMA,
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=n_buckets,
    )


def df(spark, rows, extra_schema=None):
    schema = T.StructType(
        SCHEMA.fields + [T.StructField("op", T.StringType())]
        + (extra_schema or [])
    )
    return spark.createDataFrame(rows, schema)


def state(tbl):
    return {
        (r["repo"], r["path"]): (r["commit_seq"], r["content"])
        for r in tbl.read().collect()
    }


def test_insert_update_delete(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    m1 = tbl.merge(df(spark, [
        ("a", "x", 1, 0, "v1", "INSERT"),
        ("a", "y", 1, 1, "v1", "INSERT"),
        ("b", "z", 1, 2, "v1", "INSERT"),
    ]), "b1")
    assert m1.n_inserted == 3 and m1.n_updated == 0
    m2 = tbl.merge(df(spark, [
        ("a", "x", 2, 0, "v2", "UPDATE"),
        ("b", "z", 2, 1, None, "DELETE"),
        ("c", "w", 2, 2, "v1", "INSERT"),
    ]), "b2")
    assert m2.n_updated >= 1 and m2.n_deleted == 1
    s = state(tbl)
    assert s[("a", "x")] == (2, "v2")
    assert s[("a", "y")] == (1, "v1")
    assert ("b", "z") not in s
    assert s[("c", "w")] == (2, "v1")


def test_conditional_lww_rejects_stale(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 5, 0, "new", "INSERT")]), "b1")
    m = tbl.merge(df(spark, [("a", "x", 3, 0, "old", "UPDATE")]), "b2")
    assert m.n_stale_ignored == 1 and m.n_updated == 0
    assert state(tbl)[("a", "x")] == (5, "new")


def test_tombstone_blocks_out_of_order_resurrection(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    tbl.merge(df(spark, [("a", "x", 9, 0, None, "DELETE")]), "b2")
    # late out-of-order update older than the delete must NOT resurrect
    tbl.merge(df(spark, [("a", "x", 5, 0, "late", "UPDATE")]), "b3")
    assert ("a", "x") not in state(tbl)
    # but a genuinely newer insert revives the key
    tbl.merge(df(spark, [("a", "x", 12, 0, "reborn", "INSERT")]), "b4")
    assert state(tbl)[("a", "x")] == (12, "reborn")


def test_in_batch_dedup_single_survivor(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [
        ("a", "x", 1, 0, "first", "INSERT"),
        ("a", "x", 3, 0, "winner", "UPDATE"),
        ("a", "x", 2, 0, "middle", "UPDATE"),
        ("a", "x", 3, 0, "winner", "UPDATE"),  # verbatim duplicate
    ]), "b1")
    assert state(tbl)[("a", "x")] == (3, "winner")


def test_exactly_once_batch_replay_noop(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    rows = [("a", "x", 1, 0, "v1", "INSERT")]
    m1 = tbl.merge(df(spark, rows), "batch-1")
    v1 = tbl.version
    m2 = tbl.merge(df(spark, [("a", "x", 7, 0, "SHOULD_NOT_APPLY", "UPDATE")]),
                   "batch-1")  # same batch id -> no-op
    assert m2.skipped_already_committed
    assert tbl.version == v1
    assert state(tbl)[("a", "x")] == (1, "v1")
    assert not m1.skipped_already_committed


def test_bucket_pruning_rewrites_only_touched(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path, n_buckets=8)
    rows = [(f"r{i}", f"p{i}", 1, i, "v1", "INSERT") for i in range(40)]
    tbl.merge(df(spark, rows), "b1")
    snap1 = tbl.snapshot()
    m = tbl.merge(df(spark, [("r0", "p0", 2, 0, "v2", "UPDATE")]), "b2")
    snap2 = tbl.snapshot()
    assert m.n_buckets_touched == 1
    # untouched buckets keep their old file refs
    refs1 = {r["bucket"]: r["path"] for r in snap1["refs"]}
    refs2 = {r["bucket"]: r["path"] for r in snap2["refs"]}
    changed = [b for b in refs1 if refs1[b] != refs2.get(b)]
    assert len(changed) == 1
    assert len(state(tbl)) == 40


def test_schema_evolution_additive_and_widening(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [("a", "x", 1, 0, "v1", "INSERT")]), "b1")
    # additive column size_bytes + widening: send int where table has long
    extra = [T.StructField("size_bytes", T.LongType())]
    d2 = df(spark, [("a", "y", 2, 0, "v1", "INSERT", 123)], extra)
    tbl.merge(d2, "b2")
    out = {(r["repo"], r["path"]): r.asDict() for r in tbl.read().collect()}
    assert out[("a", "x")]["size_bytes"] is None  # old rows readable, null-filled
    assert out[("a", "y")]["size_bytes"] == 123
    # widening: int commit_seq source into long table column works
    d3 = spark.createDataFrame(
        [("a", "x", 3, 0, "v3", "UPDATE")],
        "repo string, path string, commit_seq int, event_seq int, "
        "content string, op string",
    )
    tbl.merge(d3, "b3")
    assert state(tbl)[("a", "x")] == (3, "v3")


def test_incompatible_type_change_rejected(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    bad = spark.createDataFrame(
        [("a", "x", "not-a-number", 0, "v", "INSERT")],
        "repo string, path string, commit_seq string, event_seq long, "
        "content string, op string",
    )
    with pytest.raises(ValueError, match="incompatible"):
        tbl.merge(bad, "b1")


def test_update_where_repair_pass(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, [
        ("a", "x", 1, 0, "broken", "INSERT"),
        ("a", "y", 1, 1, "fine", "INSERT"),
    ]), "b1")
    m = tbl.update_where(F.col("content") == "broken",
                         {"content": F.lit("repaired")}, "fix-1")
    assert m.n_updated == 1
    s = state(tbl)
    assert s[("a", "x")][1] == "repaired" and s[("a", "y")][1] == "fine"
    # repair is idempotent by batch id too
    m2 = tbl.update_where(F.col("content") == "broken",
                          {"content": F.lit("repaired")}, "fix-1")
    assert m2.skipped_already_committed


# ---- counters observed on the write --------------------------------------
BASE = [
    ("a", "x", 1, 0, "v1", "INSERT"),
    ("a", "y", 1, 1, "v1", "INSERT"),
    ("b", "z", 1, 2, "v1", "INSERT"),
    ("c", "w", 1, 3, "v1", "INSERT"),
]
BATCH = [
    ("a", "x", 2, 0, "v2", "UPDATE"),
    ("a", "x", 3, 0, "v3", "UPDATE"),   # in-batch duplicate key, wins
    ("a", "y", 0, 9, "old", "UPDATE"),  # older than the target: stale
    ("b", "z", 2, 1, None, "DELETE"),   # update that tombstones
    ("c", "w", 1, 3, "same", "UPDATE"),  # equal version: stale
    ("d", "q", 1, 4, "v1", "INSERT"),
    ("e", "r", 1, 5, None, "DELETE"),   # delete of an unseen key
]


def expected_counters(target, batch):
    """The conditional-LWW classification the merge counts, in Python:
    ``target`` maps key -> stored version (tombstones included)."""
    win = {}
    for repo, path, cs, es, _, op in batch:
        k, v = (repo, path), (cs, es)
        if k not in win or v > win[k][0]:
            win[k] = (v, op == "DELETE")
    n = {"ins": 0, "upd": 0, "stale": 0, "del": 0}
    for k, (v, deleted) in win.items():
        if k not in target:
            n["ins"] += 1
        elif v > target[k]:
            n["upd"] += 1
        else:
            n["stale"] += 1
            continue
        n["del"] += deleted
    return n


def counters(m):
    return {"ins": m.n_inserted, "upd": m.n_updated,
            "stale": m.n_stale_ignored, "del": m.n_deleted}


def test_observed_counters_match_lww_classification(spark, tmpdir_path):
    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, BASE), "b1")
    m = tbl.merge(df(spark, BATCH), "b2")
    target = {(r[0], r[1]): (r[2], r[3]) for r in BASE}
    exp = expected_counters(target, BATCH)
    assert exp == {"ins": 2, "upd": 2, "stale": 2, "del": 2}
    assert counters(m) == exp
    assert m.n_source == 6  # deduped source rows
    lin = tbl.lineage()[-1]
    assert (lin["n_inserted"], lin["n_updated"], lin["n_stale_ignored"],
            lin["n_deleted"], lin["n_source"]) == (2, 2, 2, 2, 6)


def test_observed_counters_recomputed_on_commit_conflict(spark, tmpdir_path):
    """A peer commits into the batch's bucket between the write and the
    CAS: the retry recomputes against the fresh snapshot with a fresh
    observation, so the counters describe the commit that landed."""
    from ore_etl_spark.tables.merge_table import CommitConflict

    tbl = make_table(spark, tmpdir_path)
    tbl.merge(df(spark, BASE), "b1")
    peer = MergeTable.load(spark, tbl.root)
    cas = tbl._cas_commit
    conflicts = []

    def racing_cas(*a, **k):
        if not conflicts:
            peer.merge(df(spark, [("a", "x", 5, 0, "peer", "UPDATE")]), "peer")
            try:
                return cas(*a, **k)
            except CommitConflict:
                conflicts.append(1)
                raise
        return cas(*a, **k)

    tbl._cas_commit = racing_cas
    m = tbl.merge(df(spark, BATCH), "b2")
    assert conflicts  # the first attempt really lost the race
    target = {(r[0], r[1]): (r[2], r[3]) for r in BASE}
    target[("a", "x")] = (5, 0)
    exp = expected_counters(target, BATCH)
    assert exp == {"ins": 2, "upd": 1, "stale": 3, "del": 2}
    assert counters(m) == exp
    assert state(tbl)[("a", "x")] == (5, "peer")


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_counters_add_no_spark_jobs(spark, tmpdir_path):
    """The counters ride the write: a merge that collects them runs no
    more Spark jobs than the same merge without them."""
    import uuid

    jobs = {}
    for collect in (False, True):
        tbl = make_table(spark, f"{tmpdir_path}/{collect}")
        tbl.merge(df(spark, BASE), "b1")
        group = f"merge-{collect}-{uuid.uuid4().hex}"
        jobs[collect] = _jobs_in_group(
            spark, group,
            lambda: tbl.merge(df(spark, BATCH), "b2", collect_metrics=collect))
    assert 0 < jobs[True] <= jobs[False], jobs


def test_mor_append_reports_rows_and_tombstones(spark, tmpdir_path):
    """merge_mor counts what it appends: n_source rows, n_deleted of them
    tombstones (after the in-batch dedup when it runs)."""
    tbl = make_table(spark, tmpdir_path)
    fast = tbl.merge_mor(df(spark, BATCH), "m1", dedup_in_batch=False,
                         bucket_shuffle=False)
    assert (fast.n_source, fast.n_deleted) == (7, 2)
    deduped = tbl.merge_mor(df(spark, BATCH), "m2")
    assert (deduped.n_source, deduped.n_deleted) == (6, 2)
    lin = tbl.lineage()
    assert [(r["n_source"], r["n_deleted"]) for r in lin] == [(7, 2), (6, 2)]
