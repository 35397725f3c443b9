"""``tail`` workload: small seeded deltas tailed into a converged base table.

Set-up builds the base the way an operator would: the engine's own
``generate_wal`` (25% hot repo, 1% duplicate deliveries, 2% late events,
0.5% corrupt payloads, an additive column past 70%) writes the seeded base
WAL as the CLI ``gen`` subcommand does, the CLI ``backfill``
configuration applies it to an empty copy-on-write table in ``base_chunks``
chunks, the MOR sink starts from a copy of that converged table, and one
``IncrementalAggView`` (group ``repo``, sum ``content_len``) per sink is
built by its first refresh.

Each timed cycle lands one delta segment in each sink's WAL directory and,
per sink, runs one ``tail_loop`` poll (head discovery, stats, merge, CAS,
checkpoint) and one view refresh. Both sinks are configured like the CLI
``tail`` subcommand (``collect_metrics`` on, 64 buckets); MOR runs with
``compact_depth`` at the CLI ``maintain`` default. After the cycles each
sink's table is read and folded to a fingerprint, and the MOR table is
compacted as the CLI ``compact`` subcommand does.
"""

from __future__ import annotations

import base64
import hashlib
import os
import shutil
import struct
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import CheckLog, fingerprint_frame, oracle_fingerprint
from shape import ShapeLog

SINKS = ("cow", "mor")
HOT_REPO_SHARE = 0.25
GEN_PARTITIONS = 32  # CLI gen default

WAL_SCHEMA = pa.schema([
    ("event_id", pa.string()), ("partition_id", pa.int32()),
    ("delivery_seq", pa.int64()), ("commit_seq", pa.int64()),
    ("event_seq", pa.int64()), ("op", pa.string()), ("repo", pa.string()),
    ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
    ("payload", pa.string()), ("ts", pa.timestamp("ns")),
    ("size_bytes", pa.int64()),
])
LANGS = ("py", "ts", "rs", "go", "java", "md")


def _payload(version: int, content: str) -> str:
    body = content.encode()
    return base64.b64encode(struct.pack("<II", version, len(body)) + body).decode()


def _event(repo: str, path: str, op: str, commit_seq: int, event_seq: int,
           delivery_seq: int, version: int, rng: np.random.Generator,
           seed: int, size_bytes: bool) -> dict:
    """One WAL row in the engine's event layout: pseudo-source content of
    64..1087 chars, sha256-derived, behind a little-endian (version,
    length) header, base64-wrapped."""
    ident = f"{repo}|{path}|{commit_seq}|{seed}"
    block = hashlib.sha256(ident.encode()).hexdigest()
    content = (block * 17)[:64 + int(rng.integers(0, 1024))]
    return {
        "event_id": hashlib.sha256(f"{ident}#e".encode()).hexdigest(),
        "partition_id": zlib.crc32(repo.encode()) % GEN_PARTITIONS,
        "delivery_seq": delivery_seq, "commit_seq": commit_seq,
        "event_seq": event_seq, "op": op, "repo": repo, "path": path,
        "commit": block[:40], "lang": LANGS[int(rng.integers(0, len(LANGS)))],
        "payload": _payload(version, content),
        "ts": np.datetime64("2024-01-01", "ns") + np.timedelta64(commit_seq * 7, "s"),
        "size_bytes": len(content) if size_bytes else None,
    }


def _duplicate(row: dict) -> dict:
    """A verbatim redelivery, arriving just after the original (as
    ``generate_wal`` makes them)."""
    return {**row, "delivery_seq": row["delivery_seq"] + 5}


def _truncated(row: dict) -> dict:
    """A payload cut short in transit: it cannot decode, so it must land in
    quarantine, never in the table."""
    return {**row, "payload": row["payload"][:6]}


def make_delta(rng: np.random.Generator, keys: list[tuple[str, str]],
               repos: list[str], cycle: int, n_events: int, seed: int) -> pa.Table:
    """One delta segment: updates to existing keys, new keys and deletes
    (hot-repo skew on new keys), plus exactly one duplicate delivery and
    one truncated payload, so every segment exercises LWW and quarantine."""
    n_upd = int(n_events * 0.6)
    n_new = int(n_events * 0.25)
    n_del = n_events - n_upd - n_new - 2
    picks = rng.choice(len(keys), size=n_upd + n_del, replace=False)
    rows = []
    base_seq = 10**12 + cycle * 10**6
    for i in range(n_upd + n_new + n_del):
        if i < n_upd + n_del:
            repo, path = keys[picks[i]]
            op = "UPDATE" if i < n_upd else "DELETE"
        else:
            repo = (repos[0] if rng.random() < HOT_REPO_SHARE
                    else repos[int(rng.integers(0, len(repos)))])
            path = f"src/n{cycle}/f{i}.{LANGS[i % len(LANGS)]}"
            op = "INSERT"
        seq = base_seq + i * 10
        rows.append(_event(repo, path, op, seq, i, seq, cycle + 3, rng, seed,
                           size_bytes=True))
    bad_seq = base_seq + 10 * n_events + 7
    bad = _event(repos[0], f"src/n{cycle}/bad.py", "INSERT", bad_seq, n_events,
                 bad_seq, cycle + 3, rng, seed, size_bytes=True)
    rows += [_duplicate(rows[0]), _truncated(bad)]
    return pa.Table.from_pylist(rows, schema=WAL_SCHEMA)


def land(table: pa.Table, wal_dir: str, name: str) -> int:
    """Publish a segment atomically and return its size in bytes: Spark
    ignores dot-files, so the rename is the moment the segment lands. INT96
    timestamps match Spark's own WAL files, so the directory reads with one
    schema."""
    tmp = os.path.join(wal_dir, f".{name}.tmp")
    pq.write_table(table, tmp, use_deprecated_int96_timestamps=True)
    final = os.path.join(wal_dir, name)
    os.rename(tmp, final)
    return os.path.getsize(final)


class TailWorkload:
    name = "tail"
    check_first = False  # the gate reads the tables the cycles produced

    def __init__(self, spark, work: str, seed: int, params: dict, tracer,
                 ops, checks: CheckLog):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.p = params
        self.tracer = tracer
        self.ops = ops
        self.checks = checks
        self.shape = ShapeLog() if tracer.enabled else None
        self.pipes: dict = {}
        self.views: dict = {}
        self.records: dict[str, list[dict]] = {s: [] for s in SINKS}

    # ------------------------------------------------------------ set-up
    def generate_inputs(self) -> None:
        """The base WAL (``generate_wal``, as the CLI ``gen`` writes it) and
        every delta segment, all from the seed."""
        from ore_etl_spark.datagen.wal import generate_wal

        self.inputs = os.path.join(self.work, "inputs")
        wal = os.path.join(self.inputs, "wal")
        generate_wal(self.spark, n_keys=self.p["base_keys"],
                     n_repos=self.p["repos"], n_partitions=GEN_PARTITIONS,
                     seed=self.seed).write.mode("overwrite").parquet(wal)
        base = pq.read_table(wal, columns=["repo", "path"])
        pairs = sorted(set(zip(base.column("repo").to_pylist(),
                               base.column("path").to_pylist())))
        repos = [f"org{i % 10}/repo{i}" for i in range(self.p["repos"])]
        rng = np.random.default_rng(self.seed)
        self.deltas = [make_delta(rng, pairs, repos, c, self.p["delta_events"],
                                  self.seed) for c in range(self.p["cycles"])]

    def build_base(self) -> None:
        from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
        from ore_etl_spark.pipeline.backfill import BackfillRunner
        from ore_etl_spark.pipeline.incremental_view import IncrementalAggView
        from ore_etl_spark.tables.merge_table import MergeTable

        for s in SINKS:
            shutil.copytree(os.path.join(self.inputs, "wal"),
                            os.path.join(self.work, s, "wal"))
        cow = os.path.join(self.work, "cow")
        tbl = MergeTable.create(
            self.spark, f"{cow}/table", target_schema(),
            key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
            n_buckets=self.p["buckets"])
        pipe = CdcApplyPipeline(self.spark, f"{cow}/wal", tbl, f"{cow}/state",
                                mode="cow")
        lo, hi = pipe.delivery_range()
        chunk = (hi - lo) // self.p["base_chunks"] + 1
        done = BackfillRunner(pipe, f"{cow}/state/chunks.json", chunk,
                              stale_after_s=0.0).run()
        for c in done:
            self.records["cow"].extend(c["batches"])
        view = IncrementalAggView(self.spark, tbl, f"{cow}/view",
                                  group_cols=["repo"], sum_cols=["content_len"])
        view.refresh()
        # the MOR sink starts from the same converged base (state, views
        # and table are plain files with table-relative paths)
        mor = os.path.join(self.work, "mor")
        for sub in ("table", "state", "view"):
            shutil.copytree(os.path.join(cow, sub), os.path.join(mor, sub))
        self.records["mor"] = [dict(r) for r in self.records["cow"]]
        for s in SINKS:
            d = os.path.join(self.work, s)
            t = MergeTable.load(self.spark, f"{d}/table")
            self.pipes[s] = CdcApplyPipeline(
                self.spark, f"{d}/wal", t, f"{d}/state", mode=s,
                compact_depth=self.p["compact_depth"] if s == "mor" else None)
            self.views[s] = IncrementalAggView(
                self.spark, t, f"{d}/view", group_cols=["repo"],
                sum_cols=["content_len"])

    # ------------------------------------------------------------ cycles
    def cycle(self, c: int) -> float:
        from ore_etl_spark.pipeline.continuous import tail_loop

        t0 = time.perf_counter()
        for s in SINKS:
            pipe = self.pipes[s]
            self.tracer.set_trace(f"c{c}.{s}")
            wal_bytes = land(self.deltas[c], pipe.events_path,
                             f"delta-{c:04d}.parquet")
            before = None
            if self.shape:
                with self.tracer.span("perfbench.shape", job_group=False):
                    before = self.shape.before(pipe.table)
            with self.ops.timed(f"{s}_commit"):
                with self.tracer.span("pipeline.continuous.tail_loop", sink=s):
                    recs = tail_loop(pipe, poll_interval_s=0.0, max_polls=1)
            if len(recs) != 1:
                raise RuntimeError(f"{s} poll applied {len(recs)} batches, expected 1")
            self.records[s].extend(recs)
            if self.shape:
                with self.tracer.span("perfbench.shape", job_group=False):
                    self.shape.after(pipe.table, before, recs[0], wal_bytes)
            mark = len(self.tracer.spans) if self.shape else 0
            with self.ops.timed(f"{s}_view"):
                self.views[s].refresh()
            if self.shape:
                with self.tracer.span("perfbench.shape"):
                    for sp in self.tracer.spans[mark:]:
                        if (sp["name"] == "tables.merge_table.changes"
                                and sp["attrs"].get("role") == "sink"):
                            self.shape.view_changes(pipe.table, sp)
        self.tracer.set_trace(None)
        return time.perf_counter() - t0

    def finish(self) -> None:
        """Timed reads of each final table, then the MOR compaction."""
        from pyspark.sql import functions as F

        self.fingerprints = {}
        for s in SINKS:
            tbl = self.pipes[s].table
            if self.shape:
                with self.tracer.span("perfbench.shape"):
                    self.shape.space(tbl)
            with self.ops.timed(f"{s}_scan"):
                with self.tracer.span("tables.merge_table.read", role="sink",
                                      sink=s):
                    row = tbl.read().agg(
                        F.count("*").alias("n"),
                        F.sum("content_len").alias("len"),
                        F.expr("bit_xor(xxhash64(repo, path, commit_seq, "
                               "event_seq, content_sha256))").alias("h"),
                    ).collect()[0]
            self.fingerprints[s] = (row["n"], row["len"], row["h"])
        with self.ops.timed("mor_compact"):
            self.pipes["mor"].table.compact(f"perfbench-compact-{self.seed}")

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        """Correctness gate, outside every timed window and set-up. Both
        sinks read byte-identical WALs, so the oracle replays once."""
        wal = pq.read_table(self.pipes["cow"].events_path).to_pandas()
        exp = oracle_fingerprint(wal)
        for s in SINKS:
            pipe = self.pipes[s]
            table = pipe.table.read().select(*exp.columns).toPandas()
            got = fingerprint_frame(table)
            self.checks.expect(f"{s}_table_matches_replay_oracle",
                               got == exp.attrs["fingerprint"],
                               f"engine {got} oracle {exp.attrs['fingerprint']}")
            n_in = sum(r.get("n_in") or 0 for r in self.records[s])
            n_q = pipe.quarantine().count()
            n_valid = exp.attrs["n_decodable"]
            self.checks.expect(
                f"{s}_rows_conserved", n_in == n_valid + n_q and n_in == len(wal),
                f"sum n_in={n_in}, decodable={n_valid}, quarantined={n_q}, "
                f"wal rows={len(wal)}")
            by_repo = table.groupby("repo")["content_len"].agg(["count", "sum"])
            want = sorted((r, int(n), float(t)) for r, (n, t) in by_repo.iterrows())
            have = sorted((r["repo"], r["n_rows"], r["sum_content_len"])
                          for r in self.views[s].read().collect())
            self.checks.expect(f"{s}_view_equals_group_by", want == have,
                               f"{len(want)} groups from scratch, {len(have)} in view")
        self.checks.expect("sinks_agree",
                           self.fingerprints["cow"] == self.fingerprints["mor"],
                           f"{self.fingerprints}")
