import pytest

import layers


def sp(i, name, parent, start, end, role=None, result=None, own_group=True):
    attrs = {"role": role} if role else {}
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
            "phase": "window", "group": f"perfbench-{i}" if own_group else None,
            "attrs": attrs, "trace": "c0", "result": result}


def job(group, start, end, tasks=1, run=0.1):
    return {"job": 0, "group": group, "start": start, "end": end, "tasks": tasks,
            "executor_run_s": run, "executor_cpu_s": run, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_rows": 0}


def test_jobs_go_to_nearest_selected_span_and_leftovers_are_unattributed():
    spans = [
        sp(1, "pipeline.apply.run_batch", None, 0.0, 10.0,
           result={"n_in": 18, "n_quarantined": 1}),
        sp(2, "tables.merge_table.merge", 1, 2.0, 8.0, role="sink"),
        sp(3, "pipeline.incremental_view.refresh", None, 10.0, 14.0),
        sp(4, "tables.merge_table.merge", 3, 11.0, 13.0, role="view"),
        sp(5, "state.stores.checkpoint", 1, 9.0, 9.5, own_group=False),
    ]
    jobs = [
        job("perfbench-1", 0.5, 1.5),          # stats pass -> apply
        job("perfbench-2", 3.0, 5.0, tasks=4),  # sink merge -> merge
        job("perfbench-4", 11.5, 12.5),        # view-table merge -> refresh
        job(None, 4.0, 6.0, tasks=2),          # worker thread, no group
        job("perfbench-1", 20.0, 21.0),        # after the window: ignored
    ]
    out = layers.compute(spans, jobs, (0.0, 15.0), None, None, [])
    assert out["spark.apply.jobs"] == 1
    assert out["spark.merge.jobs"] == 1 and out["spark.merge.tasks"] == 4
    assert out["spark.refresh.jobs"] == 1
    assert out["spark.unattributed_jobs"] == 1 and out["spark.unattributed_tasks"] == 2
    # apply self time: run_batch minus its merge_table child
    assert out["pipeline.apply.self_s"] == pytest.approx(10 - 6)
    assert out["pipeline.apply.spark_jobs_per_batch"] == 2   # its subtree's jobs
    assert out["pipeline.apply.rows_in"] == 18
    # view-table merges are the view's work, not the sink table's
    assert out["tables.merge_table.merge_calls"] == 1
    assert out["tables.merge_table.merge_s"] == pytest.approx(6.0)
    # merge span [2, 8] is covered by jobs on [3, 6] -> 3 s on the driver only
    assert out["spark.merge.driver_only_s"] == pytest.approx(3.0)
    assert out["state.stores.calls"] == 1


def test_every_named_metric_is_computed():
    qs = ["q1", "q2"]
    out = layers.compute([], [], (0.0, 1.0), None, None, qs)
    names = layers.per_layer_names(qs)
    assert len(names) == len(set(names)) <= 128
    assert [n for n in names if n not in out] == []
