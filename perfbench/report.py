"""Render traced runs: per-layer self time per workload, and the tracing
overhead (traced against untraced end-to-end metrics).

    python3 perfbench/report.py [.perfbench/out]

Reads the result files ``run.py`` writes. A layer's self time is its spans'
time minus what their child spans cover, summed over the timed window; the
benchmark's own bookkeeping spans are left out. Overhead compares each
traced run with the untraced runs of the same workload (same seed when
there is one, else their median).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import descendants, self_times  # noqa: E402


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_self_times(spans: list[dict]) -> dict[str, tuple[float, int]]:
    """Span name -> (summed self time, calls) over the timed window."""
    sub = descendants(spans)
    own = set().union(*[sub[s["id"]] for s in spans if s["name"] == "perfbench.shape"])
    st = self_times(spans)
    out: dict[str, list] = {}
    for s in spans:
        if s["phase"] != "window" or s["id"] in own:
            continue
        name = s["name"]
        if s["attrs"].get("role") == "view":
            name += " (view table)"
        acc = out.setdefault(name, [0.0, 0])
        acc[0] += st[s["id"]]
        acc[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def main(out_dir: str) -> int:
    results = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*-trace[01].json"))):
        with open(path) as f:
            results.append(json.load(f))
    traced = [r for r in results if r["trace"] == 1 and r.get("spans_file")]
    if not traced:
        print(f"no traced results in {out_dir}; run with --trace 1 first")
        return 1
    for r in traced:
        wl, seed = r["workload"], r["seed"]
        spans = load_spans(os.path.join(out_dir, r["spans_file"]))
        rows = sorted(layer_self_times(spans).items(), key=lambda kv: -kv[1][0])
        window = sum(r["cycle_walls"])
        print(f"== {wl} seed={seed}: per-layer self time in the timed window "
              f"(cycles {window:.2f} s)")
        for name, (secs, calls) in rows:
            print(f"  {name:45s} {secs:9.3f} s  {calls:5d} calls")
        plain = [u for u in results if u["workload"] == wl and u["trace"] == 0
                 and u.get("e2e")]
        same = [u for u in plain if u["seed"] == seed]
        base = same or plain
        if not base:
            print("  overhead: no untraced run of this workload to compare")
            continue
        print(f"  tracing overhead vs {'seed ' + str(seed) if same else 'median of'} "
              f"{len(base)} untraced run(s):")
        for k, v in r["e2e"].items():
            refs = [u["e2e"][k] for u in base if k in u["e2e"]]
            if not refs:
                continue
            ref = statistics.median(refs)
            print(f"    {k:12s} traced {v:10.4f}  untraced {ref:10.4f}  "
                  f"{(v - ref) / ref:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else
                  os.path.join(os.path.dirname(os.path.dirname(
                      os.path.abspath(__file__))), ".perfbench", "out")))
