"""Run one workload of the engine benchmark and print its metrics.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 16 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it print every figure by name with its unit. The full result
(samples, machine facts, checks, spans) goes to ``.perfbench/out/``;
``perfbench/report.py`` renders traced results. Exits non-zero when a
correctness check or an operation fails, and when the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def e2e_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}


def import_engine() -> None:
    """The benchmark drives the repository's own engine; without it there
    is nothing to measure."""
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the query set and its overrides)
        import __spark_entry__  # noqa: F401
        import ore_etl_spark.pipeline.apply  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    if not os.path.isfile(os.path.join(ROOT, "scripts", "check_oracles.py")):
        print("perfbench: scripts/check_oracles.py (query oracles) missing",
              file=sys.stderr)
        sys.exit(2)


def e2e_metrics(ops, cycle_cpu, setup_cpu, rss) -> dict[str, float]:
    from stats import geomean, median

    return {
        "setup_s": setup_cpu,
        "peak_rss_mb": rss,
        "cycle_cpu_s": median(cycle_cpu),
        "op_cpu_p50_s": geomean(median(v) for v in ops.cpu_samples.values()),
    }


def detail_figures(workload: str, ops, cycle_walls, setup_wall, base_rate) -> dict:
    """Wall-clock figures: printed by name, kept in the result file, and not
    bounded (see spec.NOTES)."""
    from stats import geomean, hi, median

    s = ops.samples
    out = {"setup_wall_s": (setup_wall, "s"),
           "cycle_wall_s": (median(cycle_walls), "s"),
           "op_wall_p50_s": (geomean(median(v) for v in s.values()), "s")}
    if workload == "analytics":
        out["analytics_s"] = (median(cycle_walls), "s")
        return out
    for k in ("cow_commit", "mor_commit", "cow_view", "mor_view"):
        out[f"{k}_p50_s"] = (median(s[k]), "s")
    for k in ("cow_commit", "mor_commit"):
        h = hi(s[k])
        out[f"{k}_hi_s"] = (h["value"], f"s (p{h['p']}, n={h['n']})")
    for k in ("cow_scan", "mor_scan", "mor_compact"):
        out[f"{k}_s"] = (median(s[k]), "s")
    out["base_cow_events_per_s"] = (base_rate, "events/s")
    return out


def run(args) -> int:
    import_engine()
    sys.path.insert(0, HERE)
    import bench
    import layers
    import machine
    import spec
    from analytics import AnalyticsWorkload
    from checks import CheckLog, OpLog
    from tail import TailWorkload
    from tracing import NullTracer, Tracer

    if args.workload not in spec.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(spec.WORKLOADS)}", file=sys.stderr)
        return 2
    wspec = spec.WORKLOADS[args.workload]
    params = dict(wspec["params"])
    n_cycles = max(1, round(args.seconds / wspec["nominal_cycle_s"]))
    params["cycles"] = n_cycles

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    dirs = machine.prepare_env(work)
    facts = machine.machine_facts(work)
    heap = machine.heap_mb(facts["mem_available_mb"])
    facts["heap_mb"] = heap

    from ore_etl_spark.session import get_spark

    t_start = time.perf_counter()
    spark = get_spark("perfbench", cpus=facts["nproc"],
                      extra_conf=machine.session_conf(dirs, heap, bool(args.trace)))
    spark.range(1).count()
    session_s = time.perf_counter() - t_start
    pid = machine.jvm_pid(spark)

    ops, checks = OpLog(lambda: machine.tree_cpu_s(pid)), CheckLog()
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        layers.install(tracer)
    if args.workload == "tail":
        wl = TailWorkload(spark, work, args.seed, params, tracer, ops, checks)
    else:
        wl = AnalyticsWorkload(spark, work, args.seed, params, tracer, ops,
                               checks, ROOT)
    result: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cycles": n_cycles, "machine": facts, "params": params}
    code = 0
    try:
        t0 = time.perf_counter()
        wl.generate_inputs()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.build_base()
        build_s = time.perf_counter() - t0
        # CPU since this process started: imports, JVM start, input
        # generation and the base build
        setup_cpu = machine.tree_cpu_s(pid)
        setup_wall = session_s + gen_s + build_s
        setup_rss = machine.peak_rss_mb(pid)
        result["setup"] = {"session_s": session_s, "input_gen_s": gen_s,
                           "build_s": build_s, "cpu_s": setup_cpu}
        t0 = time.perf_counter()
        if wl.check_first:
            tracer.set_phase("check")
            wl.check()
            machine.reset_peak_rss(pid)  # the gate's peak is not the engine's
        result["check_s"] = time.perf_counter() - t0
        tracer.set_phase("window")
        w0 = time.time()
        cycle_walls, cycle_cpu, cycle_cpu_jit = [], [], []
        for c in range(n_cycles):
            c0, j0 = machine.tree_cpu_s(pid), machine.jit_cpu_s(pid)
            cycle_walls.append(wl.cycle(c))
            cycle_cpu.append(machine.tree_cpu_s(pid) - c0)
            cycle_cpu_jit.append(machine.jit_cpu_s(pid) - j0)
        result["cycle_jit_cpu"] = cycle_cpu_jit
        wl.finish()
        w1 = time.time()
        # peak over set-up and the window, read before the closing gate
        rss = max(setup_rss, machine.peak_rss_mb(pid))
        tracer.set_phase("check")
        t0 = time.perf_counter()
        if not wl.check_first:
            wl.check()
        result["check_s"] += time.perf_counter() - t0
        base_rate = None
        if args.workload == "tail":
            recs = wl.records["cow"][:len(wl.records["cow"]) - n_cycles]
            base_rate = (sum(r["n_in"] for r in recs)
                         / (sum(r["wall_ms"] for r in recs) / 1e3))
        metrics = e2e_metrics(ops, cycle_cpu, setup_cpu, rss)
        detail = detail_figures(args.workload, ops, cycle_walls, setup_wall,
                                base_rate)
        result.update(e2e=metrics, detail={k: v[0] for k, v in detail.items()},
                      samples=ops.samples, cpu_samples=ops.cpu_samples,
                      cycle_walls=cycle_walls, cycle_cpu=cycle_cpu)
    except Exception:
        traceback.print_exc()
        if not ops.errors:  # the failure was outside any timed operation
            ops.failed += 1
        metrics, detail = {}, {}
        code = 1
    finally:
        if args.trace:
            tracer.uninstall()
        t0 = time.perf_counter()
        machine.stop_spark(spark)
        result["stop_s"] = time.perf_counter() - t0

    per_layer = {}
    if args.trace and code == 0:
        import eventlog

        jobs = eventlog.read_jobs(dirs["eventlog"])
        shape = wl.shape.metrics() if getattr(wl, "shape", None) else None
        view_rows = wl.shape.view_rows() if getattr(wl, "shape", None) else None
        per_layer = layers.compute(tracer.spans, jobs, (w0, w1), shape,
                                   view_rows, bench.ANALYTICS_QUERIES)
        stem = f"{args.workload}-seed{args.seed}"
        tracer.dump(os.path.join(out_dir, f"{stem}.spans.jsonl"))
        result["per_layer"] = per_layer
        result["spans_file"] = f"{stem}.spans.jsonl"

    result["checks"] = checks.results
    result["errors"] = ops.errors
    attempted = ops.attempted + len(checks.results)
    failed = ops.failed + checks.failed
    correct = code == 0 and failed == 0
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    units = e2e_units()
    for c in checks.results:
        if not c["ok"]:
            print(f"CHECK FAILED {c['check']}: {c['detail']}")
    print(f"# {args.workload} seed={args.seed} cycles={len(result.get('cycle_walls', []))} "
          f"nproc={facts['nproc']} mem_avail={facts['mem_available_mb']}MiB "
          f"heap={heap}MiB loadavg={facts['loadavg']}")
    for k, v in metrics.items():
        print(f"{k} = {v:.4f} {units[k]}")
    for k, (v, unit) in detail.items():
        print(f"{k} = {'n/a' if v is None else f'{v:.4f}'} {unit}")
    if args.trace:
        names = layers.per_layer_names(bench.ANALYTICS_QUERIES)
        shown = {n: {"value": per_layer.get(n, 0.0), "unit": layers.unit_of(n)}
                 for n in names}
    else:
        shown = {k: {"value": v, "unit": units[k]}
                 for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": shown}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(run(parse_args()))
