"""Micro-batch CDC apply: the engine's core loop (reference lifecycle §3.1).

One batch = one delivery_seq range above the checkpoint:

    read events (delivery_seq in (lo, hi])     -- watermark-bounded scan
      -> vectorized decode (JVM expressions)    -- payload -> typed columns
      -> split valid / quarantine               -- never fail the batch
      -> in-batch LWW dedup + conditional MERGE -- one key shuffle
      -> atomic snapshot commit w/ batch-id     -- exactly-once
      -> checkpoint hwm (global + per source partition) + metrics row

Reference shape: DeployETL.run's fetch->process->save->updateETLState loop
(/root/reference/src/etl/deploy-etl.ts:19-100), with its two weaknesses
fixed by construction: the non-atomic state-after-save window (batch-id is
inside the committed snapshot) and the unconditional upsert (conditional
LWW in the MERGE).

Scale notes: the batch scan is a parquet range filter (pushed down;
min/max row-group pruning on delivery_seq since the WAL is written in
arrival order). Decode is narrow — no shuffle. The only shuffle is the
key hash for dedup+MERGE join, and the target-side read is pruned to
touched buckets. Per-batch driver work is O(buckets + partitions), never
O(events).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.decode import decode_events
from ..state.stores import CheckpointStore, MetricsLog
from ..tables.merge_table import MergeTable

TARGET_FIELDS = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("content", T.StringType()),
    ("commit_seq", T.LongType()),
    ("event_seq", T.LongType()),
    ("payload_version", T.LongType()),
    ("content_len", T.LongType()),
    ("content_sha256", T.StringType()),
]


def target_schema() -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in TARGET_FIELDS])


# columns decode_events attaches — everything else in a decoded frame is the
# raw event row (preserved whole in quarantine so a redrive can re-decode)
DECODE_ADDED = ("payload_version", "content", "content_len",
                "content_sha256", "is_valid")


class CdcApplyPipeline:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        table: MergeTable,
        state_dir: str,
        pipeline: str = "cdc_apply",
        optional_cols: tuple[str, ...] = ("size_bytes",),
        collect_metrics: bool = True,
        mode: str = "cow",
        compact_every: int | None = None,
        compact_depth: int | None = None,
        mor_fast_path: bool = False,
        mor_append_rows_per_task: int | None = 32_000,
        events_format: str = "parquet",
        source_schema: T.StructType | None = None,
        source_options: dict | None = None,
    ):
        """``mode``: 'cow' (copy-on-write conditional MERGE — read-optimized)
        or 'mor' (merge-on-read delta append — write-optimized; bytes
        written per batch are O(batch) not O(table); readers resolve LWW).
        ``compact_every``: in MOR mode, fold deltas into the base every N
        batches (amortized read cost). ``compact_depth``: compact when any
        bucket's unresolved delta-ref count exceeds this — bounds read
        amplification by what readers actually pay rather than a blind
        batch counter (a metadata-only check per batch, no Spark job)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown mode {mode!r}")
        if events_format not in ("parquet", "jsonl", "kafka"):
            raise ValueError(f"unknown events_format {events_format!r}")
        self.events_format = events_format
        # wire-path schema evolution seam: a JSONL WAL carrying additive
        # columns (e.g. a Debezium stream whose upstream ALTER TABLE added
        # a field — from_debezium passes it through) is read with this
        # wider schema; list the new column in ``optional_cols`` and the
        # MERGE lands it in the target additively (int→long widening via
        # MergeTable._evolve_schema). None = the engine's base WAL schema.
        # For events_format="kafka" (an archived broker record dump,
        # sources/kafka.py) this is the ENVELOPE schema instead — extras
        # ride in the after-image and surface through from_debezium.
        self.source_schema = source_schema
        # format-specific reader kwargs — for "kafka": seq_fallback
        # ("broker"/"quarantine") and partition_stride (see
        # sources/kafka.py for when each is correct)
        self.source_options = dict(source_options or {})
        self.spark = spark
        self.events_path = events_path
        self.table = table
        self.pipeline = pipeline
        self.optional_cols = optional_cols
        self.collect_metrics = collect_metrics
        self.mode = mode
        self.compact_every = compact_every
        self.compact_depth = compact_depth
        self.mor_fast_path = mor_fast_path  # shuffle-free delta append
        # fast-path delta files per batch = write tasks x n_buckets, so
        # scan-width writes are pure file-count amplification (~100-row
        # files at bench scale). The append is coalesced (NOT shuffled —
        # the no-Exchange contract holds) to ceil(batch_rows / this)
        # tasks, sized from the row count the stats pass already
        # collected: width grows with the batch, never past the scan
        # width, and per-file overhead amortizes ~5x (measured 2x
        # end-to-end on the 1M-event apply). None/0 disables.
        self.mor_append_rows_per_task = mor_append_rows_per_task
        self._batches_since_compact = 0
        self.checkpoints = CheckpointStore(f"{state_dir}/checkpoints.json")
        self.metrics = MetricsLog(f"{state_dir}/metrics.jsonl")
        self.quarantine_dir = f"{state_dir}/quarantine"

    # ------------------------------------------------------------------
    def events(self) -> DataFrame:
        if self.events_format == "jsonl":
            from ..sources.cdc_json import read_jsonl_wal

            return read_jsonl_wal(self.spark, self.events_path,
                                  schema=self.source_schema)
        if self.events_format == "kafka":
            from ..sources.kafka import read_kafka_archive

            return read_kafka_archive(self.spark, self.events_path,
                                      envelope_schema=self.source_schema,
                                      **self.source_options)
        return self.spark.read.parquet(self.events_path)

    def _events_with_malformed(self) -> DataFrame:
        """Source rows INCLUDING the dead ones (NULL delivery_seq), with
        the raw line/value in ``_malformed`` where recoverable. Only the
        wire formats have a malformed-row notion; a parquet WAL must
        never fall through to the Kafka-archive reader."""
        if self.events_format == "parquet":
            raise ValueError(
                "parquet WALs have no malformed-row path "
                "(quarantine_malformed_source early-returns for them)")
        if self.events_format == "jsonl":
            from ..sources.cdc_json import read_jsonl_wal

            return read_jsonl_wal(self.spark, self.events_path,
                                  schema=self.source_schema,
                                  keep_malformed=True)
        from ..sources.kafka import read_kafka_archive

        return read_kafka_archive(self.spark, self.events_path,
                                  envelope_schema=self.source_schema,
                                  keep_malformed=True,
                                  **self.source_options)

    def delivery_range(self) -> tuple[int, int]:
        r = self.events().agg(
            F.min("delivery_seq").alias("lo"), F.max("delivery_seq").alias("hi")
        ).collect()[0]
        return (r["lo"], r["hi"])

    @staticmethod
    def batch_id_for(pipeline: str, lo: int, hi: int) -> str:
        return f"{pipeline}:{lo}:{hi}"

    def quarantine_malformed_source(self) -> int:
        """JSONL archives can hold lines that can never enter a watermark
        batch: lines that are not valid JSON at all (``_malformed`` holds
        the raw text) AND valid-JSON lines that lack or null
        ``delivery_seq``. Either way the batch loop would silently never
        see them — park them in the quarantine (error=
        ``malformed_source_line`` / ``missing_delivery_seq``, raw line in
        ``payload`` so a ``redrive(fix_fn=...)`` can repair them) before
        processing. The payload is the ORIGINAL source line whenever the
        source can supply one (JSONL's ``_raw`` carries every line's true
        bytes; round-4 ADVICE closed the lossy ``to_json``-re-render hole
        where two lines differing only in non-schema fields collapsed and
        one became unrecoverable); a schema-field re-render remains only
        as the last-resort fallback for sources with no raw form. Dedup
        is BY CONTENT (the payload column is the quarantine's idempotency
        key): verbatim-duplicate lines park as ONE row, so a redrive
        repairs/re-injects one event, not duplicates — while any byte
        difference keeps lines distinct.
        Idempotent: rewrites one fixed quarantine sub-dir from the source
        each call. Returns the count of newly parked rows.

        ``events_format="kafka"``: poison broker records (NULL value /
        unparseable envelope / unknown op) arrive the same way — NULL
        delivery_seq with the raw value in ``_malformed`` — so this is
        the engine's DLQ analog of the reference's nack→DLQ path
        (transaction-consumer.ts:150-174)."""
        if self.events_format == "parquet":
            return 0
        bad = self._events_with_malformed().filter(
            F.col("delivery_seq").isNull())
        raw_cols = [c for c in bad.columns if c not in ("_malformed", "_raw")]
        raw_line = F.coalesce(
            F.col("_malformed"),
            *([F.col("_raw")] if "_raw" in bad.columns else []),
            F.to_json(F.struct(*[F.col(c) for c in raw_cols])))
        out = bad.select(
            *[F.col(c) if c != "payload"
              else raw_line.alias("payload") for c in raw_cols],
            F.when(F.col("_malformed").isNotNull(),
                   F.lit("malformed_source_line"))
            .otherwise(F.lit("missing_delivery_seq")).alias("error"),
            F.lit(1).alias("attempts"),
        ).dropDuplicates(["payload"])
        self._quarantine_recover()
        # idempotent across runs AND across redrive's generation swaps: a
        # line already tracked anywhere in the quarantine (possibly at
        # attempts=2+, or dead-lettered) must not be re-parked at
        # attempts=1 — that would resurrect dead letters forever
        existing = self.quarantine().select("payload").distinct()
        out = out.join(existing, "payload", "left_anti").persist()
        n = out.count()  # persist: one archive parse serves count + write
        if n > 0:
            out.write.mode("append").parquet(
                f"{self.quarantine_dir}/batch_id=malformed_source")
        out.unpersist()
        return n

    # ------------------------------------------------------------------
    def _stats_phase(self, seq_lo: int, seq_hi: int,
                     bucket_slice: tuple[int, int] | None = None):
        """Job 1: every per-batch fact in one pass — counters, per-source-
        partition watermarks, touched buckets (for MERGE pruning), and
        schema-evolution column presence.

        ``bucket_slice=(k, S)`` restricts the batch to rows whose key
        bucket ≡ k (mod S) — the bucket-sliced concurrent-backfill unit
        (slices touch disjoint buckets, so their commits are disjoint by
        construction). The key columns are RAW WAL columns (xxhash64 is
        null-safe and deterministic), so the filter applies BEFORE the
        payload decode: each slice pays 1/S of the decode work, and every
        row — valid or invalid — is owned by exactly one slice (invalid
        rows are quarantined once, by their owner, never S times or
        zero)."""
        batch = self.events().filter(
            (F.col("delivery_seq") > seq_lo) & (F.col("delivery_seq") <= seq_hi)
        )
        bucket = self.table.bucket_expr()
        if bucket_slice is not None:
            k, n_slices = bucket_slice
            batch = batch.filter(F.pmod(bucket, F.lit(n_slices)) == k)
        decoded = decode_events(batch)
        opt_present_aggs = [
            F.max(F.col(c).isNotNull()).alias(f"has_{c}")
            for c in self.optional_cols if c in decoded.columns
        ]
        part_stats = (
            decoded.groupBy("partition_id")
            .agg(
                F.count("*").alias("n_in"),
                F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).alias("n_bad"),
                F.max("delivery_seq").alias("hwm"),
                F.collect_set(F.when(F.col("is_valid"), bucket)).alias("buckets"),
                *opt_present_aggs,
            )
            .collect()
        )
        return decoded, part_stats

    def run_batch(self, seq_lo: int, seq_hi: int, batch_id: str | None = None,
                  stats=None, update_global_hwm: bool = True,
                  bucket_slice: tuple[int, int] | None = None) -> dict:
        """Apply one (lo, hi] delivery range. Idempotent by batch_id.
        With ``bucket_slice=(k, S)`` the batch covers only slice k's rows
        (see ``_stats_phase``) and the default batch id is slice-qualified
        — each slice of a range is its own idempotency unit.

        Two queries per batch (plus the quarantine write when the batch
        has invalid rows): a single stats pass (counters, per-partition
        watermarks, touched buckets, schema-evolution column presence) and
        the dedup+MERGE+write, whose merge counters are observed on the
        write rather than computed by a further query. Under AQE a query
        runs as several Spark jobs (roughly one per shuffle stage), so a
        batch is more than two jobs; what holds is that each query reads
        and decodes the batch range once. Deliberately NO ``.persist()``
        of the decoded frame: local-mode cache materialization serializes
        on the block manager (measured 53 s at 32 threads vs 26 s at 8 on a
        505k-event batch — anti-scalable), while recomputing the narrow
        decode is a fully parallel ~3 s. On a multi-executor cluster the same reasoning
        holds: the decode is cheaper than the cache build + memory pressure.
        """
        if bucket_slice is not None and update_global_hwm:
            # one slice never covers the whole (lo, hi] range: publishing
            # its seq_hi to the global watermark would make run() skip the
            # other slices' events forever (silent data loss). Slice
            # callers (BackfillRunner) own the watermark themselves.
            raise ValueError(
                "bucket_slice batches must pass update_global_hwm=False")
        if batch_id is None:
            batch_id = self.batch_id_for(self.pipeline, seq_lo, seq_hi)
            if bucket_slice is not None:
                batch_id += f":s{bucket_slice[0]}.{bucket_slice[1]}"
        t0 = time.time()
        if self.table.is_committed(batch_id):
            return {"batch_id": batch_id, "skipped_already_committed": True}

        if stats is not None:
            decoded, part_stats = stats
        else:
            decoded, part_stats = self._stats_phase(seq_lo, seq_hi,
                                                    bucket_slice=bucket_slice)
        qn = sum(r["n_bad"] or 0 for r in part_stats)
        touched = sorted({b for r in part_stats for b in r["buckets"]})
        extra = [
            c for c in self.optional_cols
            if c in decoded.columns and any(r[f"has_{c}"] for r in part_stats)
        ]

        # --- quarantine (only when present; idempotent per-batch dir) ------
        # the FULL raw row is kept (not a projection) so redrive() can
        # re-decode after an upstream repair; attempts counts decode tries
        # (reference x-retry-count, transaction-consumer.ts:145-174).
        # r6 (guide §2.6 overlap): the write runs on a worker thread
        # CONCURRENTLY with the merge's own jobs (it re-scans the batch
        # range to extract the bad rows — ~0.6 s of mostly-idle-core work
        # the merge's serial tails can absorb) and is joined at the
        # merge's pre-commit barrier: the quarantine must be durable
        # BEFORE the snapshot flips, because a replay of a committed
        # batch_id skips the batch entirely and would never re-park them.
        quarantine_fut = None
        if qn > 0:
            # heal any interrupted redrive swap BEFORE writing: creating
            # the dir here would otherwise strand a complete .next
            # generation forever (quarantine() would never promote it)
            self._quarantine_recover()
            raw_cols = [c for c in decoded.columns if c not in DECODE_ADDED]
            bad = decoded.filter(~F.col("is_valid")).select(
                *raw_cols,
                F.lit("payload_decode_failed").alias("error"),
                F.lit(1).alias("attempts"),
            )
            qdir = f"{self.quarantine_dir}/batch_id={batch_id.replace(':', '_')}"
            _qpool = ThreadPoolExecutor(max_workers=1)
            quarantine_fut = _qpool.submit(
                lambda: bad.write.mode("overwrite").parquet(qdir))
            _qpool.shutdown(wait=False)
        pre_commit = quarantine_fut.result if quarantine_fut is not None else None

        # --- query 2: dedup + conditional-LWW MERGE + snapshot commit ------
        cols = [n for n, _ in TARGET_FIELDS] + ["op"]
        valid = decoded.filter(F.col("is_valid")).select(*cols, *extra)
        try:
            m = self._merge_batch(valid, batch_id, touched, part_stats,
                                  pre_commit)
        finally:
            # join the quarantine write on EVERY exit path, not only at the
            # merge's pre-commit barrier (a merge that finds the batch
            # already committed never reaches it): no worker thread
            # outlives the batch, and a failed write is never swallowed
            if quarantine_fut is not None:
                wait([quarantine_fut])
        if quarantine_fut is not None:
            quarantine_fut.result()

        return self._finish_batch(batch_id, seq_lo, seq_hi, part_stats, qn,
                                  m, update_global_hwm, t0)

    def _merge_batch(self, valid: DataFrame, batch_id: str,
                     touched: list[int], part_stats, pre_commit):
        """Merge one batch's valid rows into the table in the configured
        mode (MOR appends may trigger a compaction)."""
        if self.mode == "mor":
            coal = None
            if self.mor_fast_path and self.mor_append_rows_per_task:
                n_valid = sum((r["n_in"] or 0) - (r["n_bad"] or 0)
                              for r in part_stats)
                per = self.mor_append_rows_per_task
                n1 = -(-n_valid // per) or 1
                # small-batch width floor (guide §1.2/§6): the append wall
                # has a file-count term (~n_buckets files PER TASK, paid in
                # parallel, so ~constant in width) plus the narrow
                # scan->decode, which coalesce serializes onto the write
                # tasks. Below ~8 tasks the decode serialization dominates
                # the files saved: measured 2.9 s at width 4 vs 2.0 s at
                # width 16 on a 100k-row batch (64 buckets). So small
                # batches size at per/2 rows per task, capped at the width
                # an 8-task batch would get — big batches keep the
                # per-task sizing (their file count feeds compaction), and
                # per=10^9-style "one task" configs still resolve to 1.
                n2 = -(-(2 * n_valid) // per) or 1
                coal = min(n2, max(8, n1))
            m = self.table.merge_mor(
                valid, batch_id, touched_buckets=touched,
                dedup_in_batch=not self.mor_fast_path,
                bucket_shuffle=not self.mor_fast_path,
                write_coalesce=coal,
                pre_commit=pre_commit,
            )
            self._batches_since_compact += 1
            due = (self.compact_every
                   and self._batches_since_compact >= self.compact_every)
            deep = (self.compact_depth
                    and self.table.delta_depth() > self.compact_depth)
            if due or deep:
                self.table.compact(f"compact:{batch_id}")
                self._batches_since_compact = 0
            return m
        return self.table.merge(valid, batch_id, touched_buckets=touched,
                                collect_metrics=self.collect_metrics,
                                pre_commit=pre_commit)

    def _finish_batch(self, batch_id: str, seq_lo: int, seq_hi: int,
                      part_stats, qn: int, m, update_global_hwm: bool,
                      t0: float) -> dict:
        """Post-commit tail shared by the sequential and concurrent batch
        paths: checkpoint watermarks, then the metrics record."""
        # checkpoint AFTER commit: replay of (lo,hi] is a snapshot-level
        # no-op. Monotone: concurrent chunk processors finish out of order
        # and must never drag a watermark hint backwards.
        if part_stats:
            self.checkpoints.set_many(
                self.pipeline, {r["partition_id"]: r["hwm"] for r in part_stats},
                monotone=True,
            )
        # The GLOBAL hwm means "everything <= hwm is applied" — run()
        # resumes above it. Out-of-order chunk completion breaks that
        # contiguity, so the concurrent backfill passes False here and
        # advances the global hwm itself to the contiguous-completed
        # prefix of its ledger (never past a gap).
        if update_global_hwm:
            self.checkpoints.set(self.pipeline, seq_hi, monotone=True)

        wall = time.time() - t0
        n_in = sum(r["n_in"] for r in part_stats) if part_stats else None
        rec = {
            "batch_id": batch_id,
            "seq_lo": seq_lo,
            "seq_hi": seq_hi,
            "n_in": n_in,
            "n_quarantined": qn,
            "n_source": m.n_source,
            "n_inserted": m.n_inserted,
            "n_updated": m.n_updated,
            "n_stale_ignored": m.n_stale_ignored,
            "n_deleted": m.n_deleted,
            "n_buckets_touched": m.n_buckets_touched,
            "table_version": m.version,
            "wall_ms": round(wall * 1000, 1),
            "events_per_sec": round(n_in / wall, 1) if n_in else None,
            "per_partition": [
                {"partition_id": r["partition_id"], "n_in": r["n_in"],
                 "n_quarantined": r["n_bad"], "hwm": r["hwm"]}
                for r in part_stats
            ],
        }
        if self.collect_metrics:
            self.metrics.append(rec)
        return rec

    # ------------------------------------------------------------------
    def run(self, batch_span: int | None = None, max_batches: int | None = None,
            pipelined: bool | None = None) -> list[dict]:
        """Catch up from the checkpoint to the current WAL head.

        ``pipelined``: prefetch batch N+1's stats pass on a worker thread
        while batch N's MERGE runs — Spark schedules the two jobs
        concurrently, hiding the stats job behind the (heavier) merge.
        Reference parity: the transformer's fetch-ahead
        (transaction-transformer.ts:319,341). Correctness is unaffected
        (the stats pass is read-only; commits stay strictly ordered), but
        only enable it when executors have spare slots during the merge —
        on a saturated cluster two concurrent jobs just split the same
        cores (measured 47% slower at local[2]). Default ``None`` (r6,
        guide §2.6): auto-enable at >= 16 scheduler slots, where the
        merge's serial write/commit tail leaves cores idle that the
        prefetch back-fills; small-parallelism runs stay sequential.
        """
        if pipelined is None:
            pipelined = self.spark.sparkContext.defaultParallelism >= 16
        self.quarantine_malformed_source()
        lo_all, hi_all = self.delivery_range()
        if hi_all is None:  # empty WAL — nothing to apply
            return []
        hwm = self.checkpoints.get(self.pipeline)
        if hwm < 0:
            hwm = (lo_all or 0) - 1
        span = batch_span or max(1, (hi_all - hwm))

        ranges = []
        cur = hwm
        n = 0
        while cur < hi_all and (max_batches is None or n < max_batches):
            hi = min(cur + span, hi_all)
            ranges.append((cur, hi))
            cur = hi
            n += 1
        if not ranges:
            return []

        # r6 (guide §2.6): MOR fast-path batches are order-independent by
        # construction — shuffle-free delta APPENDS whose CAS commits
        # rebase unconditionally and whose LWW is resolved at read — so
        # two batches can be in flight at once, the second back-filling
        # the cores the first's small-file write/commit tail leaves idle
        # (measured 20.2 s -> ~16 s on the 1M-event 4-batch bench). The
        # global hwm ("everything <= hwm applied") still only ever
        # advances over the CONTIGUOUS completed prefix: workers run with
        # update_global_hwm=False and the main thread publishes after
        # batch i resolves, at which point 0..i are all complete — a
        # crash mid-flight can only leave the hwm at a fully-applied
        # prefix (replays are snapshot-level no-ops). COW stays
        # sequential: its merges read the parent snapshot, so concurrent
        # COW batches would just recompute under CommitConflict.
        if (self.mode == "mor" and self.mor_fast_path and len(ranges) > 1
                and self.compact_every is None and self.compact_depth is None
                and self.spark.sparkContext.defaultParallelism >= 16):
            # (mid-stream auto-compaction stays sequential: two threads
            # could both trip the cadence and race redundant compacts)
            results = []
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [pool.submit(self.run_batch, lo, hi,
                                    update_global_hwm=False)
                        for lo, hi in ranges]
                for (lo, hi), fut in zip(ranges, futs):
                    results.append(fut.result())
                    self.checkpoints.set(self.pipeline, hi, monotone=True)
            return results

        if not pipelined or len(ranges) == 1:
            return [self.run_batch(lo, hi) for lo, hi in ranges]

        results = []
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(self._stats_phase, *ranges[0])
            for i, (lo, hi) in enumerate(ranges):
                stats = fut.result()
                if i + 1 < len(ranges):
                    fut = pool.submit(self._stats_phase, *ranges[i + 1])
                results.append(self.run_batch(lo, hi, stats=stats))
        return results

    def _quarantine_recover(self) -> None:
        """Heal a crash inside redrive()'s generation swap: if the current
        dir is missing, the fully-written ``.next`` generation (written
        BEFORE any rename) is the correct state; promote it. Leftover
        ``.old`` dirs from a completed swap are GC'd opportunistically."""
        import os
        import shutil

        nxt = f"{self.quarantine_dir}.next"
        if not os.path.exists(self.quarantine_dir) and os.path.exists(nxt):
            os.rename(nxt, self.quarantine_dir)
        old = f"{self.quarantine_dir}.old"
        if os.path.exists(self.quarantine_dir) and os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def quarantine(self) -> DataFrame:
        import os

        from pyspark.sql import types as T

        self._quarantine_recover()
        if not os.path.exists(self.quarantine_dir) or not os.listdir(self.quarantine_dir):
            # empty-case schema must match what run_batch writes: the FULL
            # raw event row plus error/attempts (a fixed subset would make
            # column references crash only when the quarantine is empty).
            # Schema inference over the WAL dir is driver I/O — do it once.
            if not hasattr(self, "_events_schema"):
                try:
                    self._events_schema = list(self.events().schema.fields)
                except Exception:
                    self._events_schema = [
                        T.StructField("event_id", T.StringType(), True),
                        T.StructField("payload", T.StringType(), True),
                    ]
            base = self._events_schema
            fields = base + [T.StructField("error", T.StringType(), True),
                             T.StructField("attempts", T.IntegerType(), True)]
            return self.spark.createDataFrame([], T.StructType(fields))
        return self.spark.read.option("mergeSchema", "true") \
            .parquet(f"{self.quarantine_dir}/*")

    def redrive(self, batch_id: str | None = None, fix_fn=None,
                max_attempts: int = 3) -> dict:
        """Re-drive quarantined events through decode (reference DLQ
        redelivery: retry <= 3 then dead-letter for good,
        transaction-consumer.ts:145-174).

        Rows that now decode merge into the table under ``batch_id``
        (idempotent: a replayed redrive with the same id no-ops; a crash
        between merge and quarantine-rewrite re-merges on the next call and
        conditional LWW converges). Rows that still fail get attempts+1;
        at ``max_attempts`` they are dead-lettered — kept in quarantine
        with a final error, never re-attempted. ``fix_fn(df) -> df`` lets
        the caller repair payloads first (the batch analog of a transient
        upstream fault clearing).
        """
        import shutil

        q = self.quarantine()
        active = q.filter(F.col("attempts") < max_attempts)
        dead = q.filter(F.col("attempts") >= max_attempts)
        if active.isEmpty():
            return {"n_recovered": 0, "n_still_failed": 0,
                    "n_dead": dead.count(), "skipped": True}

        src = fix_fn(active) if fix_fn is not None else active
        dec = decode_events(src.drop("error"))

        # 1) merge recovered rows FIRST (the quarantine files must still
        #    exist while this job reads them)
        extra = [c for c in self.optional_cols if c in dec.columns]
        valid_cols = [n for n, _ in TARGET_FIELDS] + ["op"]
        recovered = dec.filter(F.col("is_valid")).select(*valid_cols, *extra)
        batch_id = batch_id or f"redrive:{self.pipeline}"
        n_rec = recovered.count()
        if n_rec > 0:
            if self.mode == "mor":
                self.table.merge_mor(recovered, batch_id)
            else:
                self.table.merge(recovered, batch_id,
                                 collect_metrics=self.collect_metrics)

        # 2) rewrite the quarantine generation: still-failing rows bump
        #    attempts (dead-letter at the cap), dead rows carry over
        raw_cols = [c for c in dec.columns if c not in DECODE_ADDED]
        still = dec.filter(~F.col("is_valid")).select(
            *[c for c in raw_cols if c != "attempts"],
            F.when(F.col("attempts") + 1 >= max_attempts,
                   F.lit("payload_decode_failed_final"))
            .otherwise(F.lit("payload_decode_failed")).alias("error"),
            (F.col("attempts") + 1).alias("attempts"),
        )
        survivors = still.unionByName(dead, allowMissingColumns=True)
        nxt = f"{self.quarantine_dir}.next"
        survivors.write.mode("overwrite").parquet(f"{nxt}/batch_id=redrive")
        n_still = still.count()
        n_dead = dead.count()
        # crash-safe generation swap: .next is fully written first, so at
        # every intermediate crash point either the old or the new complete
        # generation is recoverable (_quarantine_recover promotes .next
        # when current is missing; rmtree+rename-in-place would lose the
        # DLQ entirely if the process died between the two calls)
        import os

        old = f"{self.quarantine_dir}.old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.quarantine_dir, old)
        os.rename(nxt, self.quarantine_dir)
        shutil.rmtree(old, ignore_errors=True)
        rec = {"n_recovered": n_rec, "n_still_failed": n_still,
               "n_dead": n_dead, "batch_id": batch_id}
        if self.collect_metrics:
            self.metrics.append({"redrive": True, **rec})
        return rec
