"""Incremental materialized aggregate view over a MergeTable.

The CDC-read consumer: instead of re-aggregating the whole table after every
ingest batch (O(table) per refresh — the reference recomputes summary docs
with full-collection Mongo aggregations, e.g. the balance/holder rollups in
/root/reference/src/services/deploy-etl.ts), the view pulls the keyed
changelog between its last-seen snapshot and the current one
(``MergeTable.changes`` — scans only buckets whose manifests differ) and
folds SIGNED contributions into the stored aggregates:

    insert / update_postimage  ->  +1 count, +x sum
    delete / update_preimage   ->  -1 count, -x sum

``changes`` diffs whole buckets, so a refresh reads every row of each
changed bucket on both snapshot sides (O(rows in changed buckets), not
O(changed rows)), and it reads them once: the folded frame, one row per
changed group, is materialized before the bucket-pruned MERGE of O(changed
groups), whose touched-bucket pass and write both read that small frame.
Never O(table): with a 0.1% daily delta that lands in a few buckets, a
refresh reads those buckets, not the whole table.

Only decomposable aggregates participate (count, sum — avg derives as
sum/count at read time). min/max are NOT supported: they cannot be
maintained under deletes without keeping per-group heaps (re-aggregate those
the classic way, or keep a full-recompute cadence for them).

The view itself is a MergeTable keyed by the group columns with the source
snapshot version as the LWW version column — every refresh overwrites
exactly the touched groups, refresh is idempotent per (from, to) interval
(batch-id = version interval), and the view supports the same time travel /
changes() machinery as any other table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables.merge_table import MergeTable, keys_eq_null_safe
from ..state.stores import CheckpointStore


class IncrementalAggView:
    """count/sum aggregates per group, maintained from the changelog.

    ``sum_cols``: numeric source columns to maintain as ``sum_<col>``.
    The row count is always maintained as ``n_rows``. Groups whose count
    reaches zero are tombstoned (DELETE), so the view never accumulates
    dead groups.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: MergeTable,
        root: str,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.source = source
        self.root = root
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        self.state = CheckpointStore(os.path.join(root, "view_state.json"))
        if MergeTable.exists(os.path.join(root, "table")):
            self.table = MergeTable.load(spark, os.path.join(root, "table"))
        else:
            src_fields = {f.name: f for f in source.schema().fields}
            fields = [src_fields[c] for c in self.group_cols]
            fields.append(T.StructField("n_rows", T.LongType(), True))
            for c in self.sum_cols:
                fields.append(T.StructField(f"sum_{c}", T.DoubleType(), True))
            fields.append(T.StructField("_src_version", T.LongType(), True))
            self.table = MergeTable.create(
                spark, os.path.join(root, "table"), T.StructType(fields),
                key_cols=self.group_cols, version_cols=["_src_version"],
                n_buckets=n_buckets,
            )

    # ------------------------------------------------------------------ API
    def last_refreshed_version(self) -> int:
        """Authoritative refreshed-to version. The checkpoint alone is NOT
        atomic with the view merge (a crash between merge and set would
        re-fold the overlapping interval and double-count); the view
        table's own batch-id manifest records ``delta_{from}_{to}`` /
        ``full_{to}`` in the SAME atomic snapshot as the data, so the max
        'to' parsed from it wins over a stale checkpoint."""
        ckpt = self.state.get("view")
        manifest = -1
        for bid in self.table.snapshot().get("applied_batch_ids", []):
            m = re.fullmatch(r"(?:delta_\d+_|full_)(\d+)", bid or "")
            if m:
                manifest = max(manifest, int(m.group(1)))
        return max(ckpt, manifest)

    def read(self) -> DataFrame:
        return self.table.read().drop("_src_version")

    def refresh(self) -> dict:
        """Fold source changes since the last refresh into the view.

        Returns {"mode": "incremental"|"full"|"noop", ...}. Falls back to a
        full rebuild when the last-seen snapshot has been expired
        (``expire_snapshots``) — the changelog base is gone, so O(table) is
        the only correct option; the view then resumes incremental refreshes
        from the new snapshot.
        """
        src_ver = self.source.version
        last = self.last_refreshed_version()
        if last == src_ver:
            return {"mode": "noop", "version": src_ver}
        if last < 0:
            return self._full_rebuild(src_ver)
        try:
            delta = self.source.changes(last, src_ver)
        except FileNotFoundError:
            return self._full_rebuild(src_ver)  # base snapshot expired
        return self._apply_delta(delta, last, src_ver)

    # -------------------------------------------------------------- internal
    def _full_rebuild(self, src_ver: int) -> dict:
        # Pin to the captured snapshot: view-refresh may run in a separate
        # process from ingest, and a source commit landing between version()
        # and read() would make the rebuild absorb rows newer than src_ver —
        # the next incremental refresh would then re-fold that interval and
        # double-count. read(version=...) is the snapshot-isolation contract.
        # If that snapshot expires under fast concurrent writers before we
        # open it, re-capture the current version and pin to THAT (still a
        # consistent snapshot; the recorded src_ver moves forward with it).
        for _ in range(3):
            try:
                src = self.source.read(version=src_ver)
                break
            except FileNotFoundError:
                src_ver = self.source.version
        else:
            src = self.source.read(version=src_ver)
        agg = src.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(F.coalesce(F.col(c).cast("double"), F.lit(0.0)))
              .alias(f"sum_{c}") for c in self.sum_cols],
        ).withColumn("_src_version", F.lit(src_ver).cast("long"))
        # groups that vanished entirely since the previous state
        # (null-safe anti join: a NULL group in the stored view must match
        # the NULL group in the fresh aggregate, not be declared gone)
        gone = (
            self.table.read().alias("t")
            .join(agg.select(*self.group_cols).alias("g"),
                  keys_eq_null_safe("t", "g", self.group_cols), "left_anti")
            .select(*self.group_cols)
            .withColumn("n_rows", F.lit(0).cast("long"))
        )
        for c in self.sum_cols:
            gone = gone.withColumn(f"sum_{c}", F.lit(0.0))
        gone = gone.withColumn("_src_version", F.lit(src_ver).cast("long"))
        up = agg.withColumn("op", F.lit("UPSERT")).unionByName(
            gone.withColumn("op", F.lit("DELETE"))
        )
        m = self._merge(up, f"full_{src_ver}")
        self.state.set("view", src_ver)
        return {"mode": "full", "version": src_ver,
                "groups_written": m.n_inserted + m.n_updated}

    def _apply_delta(self, delta: DataFrame, last: int, src_ver: int) -> dict:
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        d = delta.groupBy(*self.group_cols).agg(
            F.sum(sign).cast("long").alias("d_n"),
            *[F.sum(sign.cast("double") * F.coalesce(F.col(c).cast("double"),
                                                     F.lit(0.0))).alias(f"d_{c}")
              for c in self.sum_cols],
        )
        if not self.sum_cols:
            # without sums, an equal-count group cannot have changed
            d = d.filter(F.col("d_n") != 0)
        cur = self.table.read().alias("v")
        # null-safe join: a NULL-valued group must still find its stored
        # row, or its aggregates get overwritten instead of incremented
        j = d.alias("d").join(cur, keys_eq_null_safe("d", "v", self.group_cols),
                              "left")
        new_n = F.coalesce(F.col("v.n_rows"), F.lit(0)) + F.col("d.d_n")
        cols = [F.col(f"d.{c}").alias(c) for c in self.group_cols]
        cols.append(new_n.alias("n_rows"))
        for c in self.sum_cols:
            cols.append(
                (F.coalesce(F.col(f"v.sum_{c}"), F.lit(0.0))
                 + F.col(f"d.d_{c}")).alias(f"sum_{c}")
            )
        cols.append(F.lit(src_ver).cast("long").alias("_src_version"))
        up = j.select(*cols).withColumn(
            "op", F.when(F.col("n_rows") <= 0, F.lit("DELETE"))
                   .otherwise(F.lit("UPSERT"))
        )
        m = self._merge(up, f"delta_{last}_{src_ver}")
        self.state.set("view", src_ver)
        return {"mode": "incremental", "version": src_ver,
                "groups_touched": m.n_inserted + m.n_updated + m.n_deleted}

    def _merge(self, up: DataFrame, batch_id: str):
        """Merge the folded rows into the view, evaluating their plan once.

        The merge reads its source twice (touched buckets, then the
        write). A local checkpoint materializes the O(changed groups)
        frame once, so both reads use it instead of re-scanning the source
        snapshots behind it. Its blocks are dropped after the merge
        (``DataFrame.unpersist`` only reaches cached plans)."""
        up = up.localCheckpoint(eager=False)
        try:
            return self.table.merge(up, batch_id=batch_id)
        finally:
            up._jdf.queryExecution().logical().rdd().unpersist(False)
