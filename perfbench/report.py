#!/usr/bin/env python3
"""Traced report of one workload: per-layer self time, the per-layer
metrics, and the tracing overhead.

    python3 perfbench/report.py --workload kv_mixed --seed 1

Run from the root of a graft checkout. Runs the workload twice with the
same seed, untraced and traced (perfbench/run.py --trace 0 and 1), then
prints:
  * self time per layer, from the traced run's spans: a span's duration
    minus the part of it its child spans cover, summed by layer (the span
    name up to the first dot; `op` is time inside an operation spent in
    no layer call: the benchmark's own answer checks and glue);
  * every per-layer metric the traced run printed;
  * the tracing overhead: traced minus untraced, for every end-to-end
    metric.
"""
import argparse
import collections
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    run_dir = HERE / "work" / "runs" / f"{workload}-s{seed}-t{trace}"
    metrics = {}
    for line in (run_dir / "stdout.log").read_text().splitlines():
        if line.startswith('{"metric"'):
            m = json.loads(line)
            metrics[m["metric"]] = m
    return run_dir, metrics


def self_times(spans):
    """Self time (ns) per layer and span counts per layer."""
    children = collections.defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            children[s["parent"]].append(s)
    self_ns = collections.Counter()
    counts = collections.Counter()
    for i, s in enumerate(spans):
        covered, end = 0, s["start_ns"]
        for c in sorted(children[i], key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        layer = s["name"].split(".")[0]
        self_ns[layer] += s["end_ns"] - s["start_ns"] - covered
        counts[layer] += 1
    return self_ns, counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = spec["run_seconds"]
    _, untraced = run(a.workload, a.seed, secs, 0)
    run_dir, traced = run(a.workload, a.seed, secs, 1)

    spans = [json.loads(l) for l in (run_dir / "spans.jsonl").read_text().splitlines()
             if l.strip()]
    self_ns, counts = self_times(spans)
    total = sum(self_ns.values()) or 1
    print(f"{a.workload} seed {a.seed}: self time by layer "
          f"({len(spans)} spans)")
    for layer, ns in self_ns.most_common():
        print(f"  {layer:10s} {ns / 1e6:10.1f} ms  {100 * ns / total:5.1f} %  "
              f"{counts[layer]} spans")

    print("\nper-layer metrics (traced run)")
    for m in spec["per_layer"]:
        v = traced.get(m["name"], {}).get("value")
        print(f"  {m['name']:38s} {v if v is not None else 'missing':>14} {m['unit']}")

    print("\ntracing overhead: traced - untraced")
    for m in spec["end_to_end"]:
        t, u = traced[m["name"]]["value"], untraced[m["name"]]["value"]
        rel = (t - u) / u if u else float("nan")
        print(f"  {m['name']:12s} untraced {u:10.4g}  traced {t:10.4g}  "
              f"diff {t - u:+10.4g} ({100 * rel:+.1f} %)")


if __name__ == "__main__":
    main()
