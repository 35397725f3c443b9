"""Correctness gate and operation accounting.

Every check runs outside the timed windows and outside ``setup_s``. A
failed check counts as a failed operation and fails the run; no check is
skipped.
"""

from __future__ import annotations

import contextlib
import hashlib
import time
import traceback

import pandas as pd

FINGERPRINT_COLS = ["repo", "path", "commit", "lang", "commit_seq",
                    "event_seq", "content_sha256", "content_len"]


class CheckLog:
    def __init__(self):
        self.results: list[dict] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append({"check": name, "ok": bool(ok), "detail": detail})
        return bool(ok)

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.results)


class OpLog:
    """Wall and CPU seconds of timed operations by kind, and
    attempted/failed counts. ``cpu_fn`` returns the CPU seconds used so far
    by the processes doing the work; it is read outside the wall timing."""

    def __init__(self, cpu_fn=None):
        self.cpu_fn = cpu_fn or (lambda: 0.0)
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def timed(self, kind: str):
        self.attempted += 1
        cpu0 = self.cpu_fn()
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            raise
        wall = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(wall)
        self.cpu_samples.setdefault(kind, []).append(self.cpu_fn() - cpu0)


def fingerprint_frame(pdf: pd.DataFrame) -> str:
    """Order-free sha256 over the comparison columns of a table's rows."""
    rows = sorted(
        "\x1f".join(str(v) for v in row)
        for row in pdf[FINGERPRINT_COLS].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_fingerprint(wal: pd.DataFrame) -> pd.DataFrame:
    """Replay the WAL with the engine's independent pandas oracle; the
    frame carries its fingerprint and decodable-event count in ``attrs``."""
    from ore_etl_spark.datagen.wal import decode_payload_py, replay_oracle

    exp = replay_oracle(wal)[FINGERPRINT_COLS]
    exp.attrs["fingerprint"] = fingerprint_frame(exp)
    exp.attrs["n_decodable"] = int(sum(
        decode_payload_py(p) is not None for p in wal["payload"]))
    return exp


def oracle_rows_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame,
                      name: str, oracle_mod) -> tuple[bool, str]:
    """Compare one query's Spark output with its DuckDB oracle using the
    repository's gate semantics (``scripts/check_oracles.py``): same
    columns, same row count, bit-exact cells except the per-query float
    tolerance and its cell budget."""
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return False, f"columns spark={s_cols} oracle={o_cols}"
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rows spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    norm = oracle_mod.norm
    srows = sorted(tuple(norm(v) for v in r)
                   for r in spark_pdf[s_cols].itertuples(index=False, name=None))
    orows = sorted(tuple(norm(v) for v in r)
                   for r in oracle_pdf[s_cols].itertuples(index=False, name=None))
    if srows == orows:
        return True, f"{len(srows)} rows"
    if name in oracle_mod.FLOAT_TOL:
        ok, n_tol, n_cells = oracle_mod.rows_close(srows, orows,
                                                   oracle_mod.FLOAT_TOL[name])
        if ok and n_tol <= oracle_mod._tol_budget(n_cells):
            return True, f"{len(srows)} rows, {n_tol}/{n_cells} cells within tolerance"
    bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
    return False, f"sorted row {bad}: spark={srows[bad]} oracle={orows[bad]}"
