"""Per-layer metrics of the traced run.

``install`` wraps the engine's public calls, one span name per layer
(module path plus call); ``compute`` folds the window's spans, the event
log's jobs and the shape counters into the ``per_layer`` metrics that
``per_layer_names`` lists (``BENCHMARK.json`` carries the same list). A layer
a workload never enters reports zeros.
"""

from __future__ import annotations

import os

from eventlog import TASK_FIELDS
from shape import ShapeLog
from stats import clipped, union_length
from tracing import descendants

MERGE_TABLE_CALLS = ("merge", "merge_mor", "compact", "read", "changes",
                     "snapshot", "snapshot_at")
SPARK_FIELDS = ("jobs",) + TASK_FIELDS + ("driver_only_s",)
# spark.<group>.* -> the span names whose jobs it collects
SPARK_GROUPS = {
    "apply": ("pipeline.apply.run_batch",),
    "merge": ("tables.merge_table.merge",),
    "merge_mor": ("tables.merge_table.merge_mor",),
    "compact": ("tables.merge_table.compact",),
    "refresh": ("pipeline.incremental_view.refresh",),
    "entry": ("entry.",),
    "head_poll": ("pipeline.continuous.head_poll",),
    "read": ("tables.merge_table.read",),
}
UNATTRIBUTED_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s")


def _role(args, kwargs) -> dict:
    """A view's backing table is a MergeTable too; its calls are the
    view's work, so they are told apart from the sink tables' calls."""
    root = getattr(args[0], "root", "")
    return {"role": "view" if f"{os.sep}view{os.sep}" in f"{root}{os.sep}"
            else "sink"}


def _changes_attrs(args, kwargs) -> dict:
    to = args[2] if len(args) > 2 else kwargs.get("to_version")
    frm = args[1] if len(args) > 1 else kwargs.get("from_version")
    return {**_role(args, kwargs), "from": frm, "to": to}


def install(tracer) -> None:
    from ore_etl_spark.pipeline.apply import CdcApplyPipeline
    from ore_etl_spark.pipeline.incremental_view import IncrementalAggView
    from ore_etl_spark.state.stores import CheckpointStore, ChunkLedger
    from ore_etl_spark.tables.merge_table import MergeTable

    tracer.wrap(CdcApplyPipeline, "run_batch", "pipeline.apply.run_batch")
    tracer.wrap(CdcApplyPipeline, "delivery_range", "pipeline.continuous.head_poll")
    tracer.wrap(IncrementalAggView, "refresh", "pipeline.incremental_view.refresh")
    for call in MERGE_TABLE_CALLS:
        if call == "read":
            continue  # lazy: the benchmark spans the read and its fold
        jobless = call in ("snapshot", "snapshot_at")
        tracer.wrap(MergeTable, call, f"tables.merge_table.{call}",
                    attrs_fn=_changes_attrs if call == "changes" else _role,
                    job_group=not jobless)
    for call in ("get", "set", "set_many"):
        tracer.wrap(CheckpointStore, call, "state.stores.checkpoint",
                    job_group=False)
    for call in ("plan", "claim_next", "update", "chunks"):
        tracer.wrap(ChunkLedger, call, "pipeline.backfill.ledger",
                    job_group=False)


def _group_of(span: dict) -> str | None:
    """The spark.<group> a span's jobs count towards, if any."""
    name = span["name"]
    if name.startswith("tables.merge_table.") and span["attrs"].get("role") == "view":
        return None
    for g, patterns in SPARK_GROUPS.items():
        if any(name == p or (p.endswith(".") and name.startswith(p))
               for p in patterns):
            return g
    return None


def compute(spans: list[dict], jobs: list[dict], window: tuple[float, float],
            shape: dict | None, view_rows: dict | None,
            query_names: list[str]) -> dict[str, float]:
    w0, w1 = window
    sub = descendants(spans)
    # the benchmark's own bookkeeping (shape counters) is not engine work
    own = set().union(*[sub[s["id"]] for s in spans if s["name"] == "perfbench.shape"])
    win = [s for s in spans if s["phase"] == "window" and s["id"] not in own]
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}

    def total(name, sink_only=False):
        sel = [s for s in win if s["name"] == name
               and (not sink_only or s["attrs"].get("role") == "sink")]
        return sum(s["end"] - s["start"] for s in sel), len(sel)

    # pipeline.continuous
    out["pipeline.continuous.head_poll_s"], out["pipeline.continuous.polls"] = \
        total("pipeline.continuous.head_poll")

    # pipeline.apply
    batches = [s for s in win if s["name"] == "pipeline.apply.run_batch"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    self_s = 0.0
    for b in batches:
        mt = [(k["start"], k["end"]) for k in kids.get(b["id"], [])
              if k["name"].startswith("tables.merge_table.")]
        self_s += (b["end"] - b["start"]) - union_length(clipped(mt, b["start"], b["end"]))
    batch_groups = {by_id[i]["group"] for b in batches for i in sub[b["id"]]} - {None}
    n_batch_jobs = sum(1 for j in jobs
                       if j["group"] in batch_groups and w0 <= j["start"] <= w1)
    out["pipeline.apply.batch_s"] = sum(b["end"] - b["start"] for b in batches)
    out["pipeline.apply.self_s"] = self_s
    out["pipeline.apply.spark_jobs_per_batch"] = (n_batch_jobs / len(batches)
                                                  if batches else 0.0)
    recs = [b.get("result") or {} for b in batches]
    out["pipeline.apply.rows_in"] = sum(r.get("n_in") or 0 for r in recs)
    out["pipeline.apply.rows_quarantined"] = sum(r.get("n_quarantined") or 0
                                                 for r in recs)

    # pipeline.backfill: the ledger is only used while set-up builds the base
    out["pipeline.backfill.ledger_s"] = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "pipeline.backfill.ledger")

    # tables.merge_table (sink tables only; view tables count as the view's)
    for call in MERGE_TABLE_CALLS:
        secs, calls = total(f"tables.merge_table.{call}", sink_only=True)
        out[f"tables.merge_table.{call}_s"] = secs
        out[f"tables.merge_table.{call}_calls"] = calls
    for k, v in (shape or ShapeLog().metrics()).items():
        out[f"tables.merge_table.{k}"] = v

    # pipeline.incremental_view
    out["pipeline.incremental_view.refresh_s"], _ = total(
        "pipeline.incremental_view.refresh")
    vr = view_rows or {}
    out["pipeline.incremental_view.changed_rows"] = vr.get("emitted", 0)
    out["pipeline.incremental_view.useful_row_ratio"] = (
        vr["emitted"] / vr["read"] if vr.get("read") else 0.0)

    # state.stores
    out["state.stores.checkpoint_s"], out["state.stores.calls"] = total(
        "state.stores.checkpoint")

    # __spark_entry__ queries
    for q in query_names:
        out[f"entry.{q}_s"], _ = total(f"entry.{q}")

    # spark.<group>.* from the event log, jobs submitted inside the window.
    # A job belongs to the nearest span, from the one that launched it
    # outwards, that some group selects (a view table's merge is not
    # selected by "merge", so its jobs fall through to "refresh").
    wjobs = [j for j in jobs if w0 <= j["start"] <= w1]
    intervals = [(j["start"], j["end"]) for j in wjobs]
    span_of_group = {s["group"]: s for s in spans
                     if s["group"] == f"perfbench-{s['id']}"}
    agg = {g: {f: 0.0 for f in SPARK_FIELDS} for g in SPARK_GROUPS}
    for j in wjobs:
        sp = span_of_group.get(j["group"])
        while sp is not None and _group_of(sp) is None:
            sp = by_id.get(sp["parent"])
        if sp is None:
            continue
        a = agg[_group_of(sp)]
        a["jobs"] += 1
        for f in TASK_FIELDS:
            a[f] += j[f]
    for g in SPARK_GROUPS:
        agg[g]["driver_only_s"] = sum(
            (s["end"] - s["start"])
            - union_length(clipped(intervals, s["start"], s["end"]))
            for s in win if _group_of(s) == g)
        for f in SPARK_FIELDS:
            out[f"spark.{g}.{f}"] = agg[g][f]
    loose = [j for j in wjobs if j["group"] not in span_of_group]
    out["spark.unattributed_jobs"] = len(loose)
    for f in UNATTRIBUTED_FIELDS[1:]:
        out[f"spark.unattributed_{f}"] = sum(j[f] for j in loose)
    return out


def per_layer_names(query_names: list[str]) -> list[str]:
    """Every per-layer metric name, in report order."""
    names = ["pipeline.continuous.head_poll_s", "pipeline.continuous.polls",
             "pipeline.apply.batch_s", "pipeline.apply.self_s",
             "pipeline.apply.spark_jobs_per_batch", "pipeline.apply.rows_in",
             "pipeline.apply.rows_quarantined", "pipeline.backfill.ledger_s"]
    for call in MERGE_TABLE_CALLS:
        names += [f"tables.merge_table.{call}_s", f"tables.merge_table.{call}_calls"]
    names += [f"tables.merge_table.{k}" for k in (
        "snapshot_bytes", "files_written", "bytes_written_per_wal_byte",
        "rows_rewritten_per_changed_row", "physical_rows_per_live_row",
        "max_delta_depth")]
    names += ["pipeline.incremental_view.refresh_s",
              "pipeline.incremental_view.changed_rows",
              "pipeline.incremental_view.useful_row_ratio",
              "state.stores.checkpoint_s", "state.stores.calls"]
    names += [f"entry.{q}_s" for q in query_names]
    for g in SPARK_GROUPS:
        names += [f"spark.{g}.{f}" for f in SPARK_FIELDS]
    names += [f"spark.unattributed_{f}" for f in UNATTRIBUTED_FIELDS]
    return names


def better_of(name: str) -> str:
    return "higher" if name.endswith("useful_row_ratio") else "lower"


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".snapshot_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_per_wal_byte", "_per_changed_row",
                      "_per_live_row", "_per_batch")):
        return "ratio"
    return "count"
