"""Write- and space-shape counters for the traced run, read from the table's
manifests and parquet footers (pyarrow, no Spark job) around each commit.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def ref_files(root: str, refs) -> list[tuple[int, int]]:
    """(bytes, rows) of every parquet file under the given refs."""
    out = []
    for r in refs:
        d = os.path.join(root, r["path"])
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                path = os.path.join(d, name)
                out.append((os.path.getsize(path),
                            pq.ParquetFile(path).metadata.num_rows))
    return out


class ShapeLog:
    def __init__(self):
        self.files_written = 0
        self.bytes_written = 0
        self.rows_written = 0
        self.rows_changed = 0
        self.wal_bytes = 0
        self.snapshot_bytes = 0
        self.max_delta_depth = 0
        self.physical_rows = 0
        self.live_rows = 0
        self.changes_emitted = 0
        self.changes_read = 0

    @staticmethod
    def before(table) -> set[str]:
        return {r["path"] for r in table.snapshot()["refs"]}

    def after(self, table, before: set[str], batch: dict, wal_bytes: int) -> None:
        """Account one poll's commit (and any compaction it triggered):
        files/bytes/rows it wrote, against the valid events it applied."""
        snap = table.snapshot()
        new = [r for r in snap["refs"] if r["path"] not in before]
        files = ref_files(table.root, new)
        self.files_written += len(files)
        self.bytes_written += sum(b for b, _ in files)
        self.rows_written += sum(n for _, n in files)
        self.rows_changed += (batch.get("n_in") or 0) - (batch.get("n_quarantined") or 0)
        self.wal_bytes += wal_bytes
        path = os.path.join(table.root, "snapshots", f"v{snap['version']}.json")
        self.snapshot_bytes = max(self.snapshot_bytes, os.path.getsize(path))
        self.max_delta_depth = max(self.max_delta_depth, table.delta_depth())

    def space(self, table) -> None:
        """Physical rows (tombstones and unresolved MOR duplicates included)
        against live rows, for one sink table."""
        self.physical_rows += table.file_stats()["total_rows"]
        self.live_rows += table.read().count()

    def view_changes(self, table, span: dict) -> None:
        """Rows one ``changes()`` call emitted against the physical rows it
        had to read: every ref of a changed bucket, on both snapshots."""
        frm = table.snapshot_at(span["attrs"]["from"])
        to_v = span["attrs"]["to"]
        to = table.snapshot() if to_v is None else table.snapshot_at(to_v)

        def by_bucket(snap):
            out: dict[int, set] = {}
            for r in snap["refs"]:
                out.setdefault(r["bucket"], set()).add(r["path"])
            return out

        a, b = by_bucket(frm), by_bucket(to)
        changed = {k for k in set(a) | set(b) if a.get(k) != b.get(k)}
        for snap in (frm, to):
            refs = [r for r in snap["refs"] if r["bucket"] in changed]
            self.changes_read += sum(n for _, n in ref_files(table.root, refs))
        self.changes_emitted += span["result"].count()

    def view_rows(self) -> dict[str, int]:
        return {"emitted": self.changes_emitted, "read": self.changes_read}

    def metrics(self) -> dict[str, float]:
        def ratio(a, b):
            return a / b if b else 0.0

        return {
            "snapshot_bytes": self.snapshot_bytes,
            "files_written": self.files_written,
            "bytes_written_per_wal_byte": ratio(self.bytes_written, self.wal_bytes),
            "rows_rewritten_per_changed_row": ratio(self.rows_written, self.rows_changed),
            "physical_rows_per_live_row": ratio(self.physical_rows, self.live_rows),
            "max_delta_depth": self.max_delta_depth,
        }
