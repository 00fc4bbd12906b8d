#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's
median and spread (quartile distance over median), next to its bound.

    python3 perfbench/spread.py --workload kv_mixed --seeds 1-10

Run from the root of a graft checkout. Each run is one
`perfbench/run.py --trace 0` call with BENCHMARK.json's run_seconds; the
result lines are appended to perfbench/work/spread-<workload>.jsonl.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = HERE / "work" / f"spread-{a.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    results = []
    for s in seeds(a.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {s}: run failed (exit {proc.returncode})")
            continue
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = s, round(time.time() - t0, 1)
        with out.open("a") as f:
            f.write(json.dumps(res) + "\n")
        results.append(res)
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} "
              f"wall={res['wall_s']}s " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
    if len(results) < 4:
        return
    print(f"\n{a.workload}: {len(results)} runs, mean wall "
          f"{statistics.mean(r['wall_s'] for r in results):.1f}s")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"  {m['name']:12s} median {med:10.4g}  spread {(q3 - q1) / med:6.3f}"
              f"  bound {m['bound']}")


if __name__ == "__main__":
    main()
