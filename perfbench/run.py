#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (the benchmark is its own sbt build under
perfbench/, depending on the root build); later runs reuse that build
until a source file changes. The workload runs in one JVM, Spark
local[<cores>], one client thread.

Every metric is printed on its own line as a JSON object, and the last
line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end_to_end metrics named in
BENCHMARK.json, with --trace 1 the per_layer ones. A metric named there
but not produced is an error: the run exits non-zero without a result.

    python3 perfbench/run.py --smoke

runs every workload of BENCHMARK.json on tiny inputs, traced and untraced,
and fails unless every metric named there is printed and every answer is
right.
"""
import argparse
import json
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
CLASSPATH = WORK / "classpath.txt"
WORKLOADS = ("store_mixed", "kv_mixed", "sql_analytics", "curation_batch")
# A run must end within 180 s, and the first run in a fresh checkout,
# which builds, within 900 s; these leave a few seconds of margin.
BUILD_BUDGET_S = 880
RUN_BUDGET_S = 175

# Spark on JDK 17 outside spark-submit needs these (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (ROOT / "src" / "main", HERE / "src", HERE / "project"):
        for p in base.rglob("*"):
            if p.suffix in (".scala", ".java", ".sbt", ".properties"):
                yield p
    yield ROOT / "build.sbt"
    yield HERE / "build.sbt"


def build(deadline):
    """Compile graft and the benchmark; returns the runtime classpath."""
    if CLASSPATH.exists():
        built = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime < built for p in sources()):
            return CLASSPATH.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "classes" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    CLASSPATH.write_text(cp + "\n")
    return cp


def run_workload(cp, workload, seed, seconds, trace, deadline, extra=()):
    """Runs the workload's JVM; returns (metric lines, summary)."""
    run_dir = WORK / "runs" / f"{workload}-s{seed}-t{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the throughput collector: these are short batch-like JVMs, and it
    # keeps their pauses out of the way of the single client thread
    cmd += ["-XX:+UseParallelGC", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(run_dir), *extra]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True,
                              stdin=subprocess.DEVNULL,
                              timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{workload} timed out")
    finally:
        for sub in ("roots", "spark-local", "checkpoints", "warehouse", "tmp"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
    (run_dir / "stdout.log").write_text(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"{workload} exited with {proc.returncode}")
    metrics, summary = {}, None
    for line in proc.stdout.splitlines():
        if not line.startswith("{"):
            continue
        obj = json.loads(line)
        if "metric" in obj:
            metrics[obj["metric"]] = obj
            print(line)
        elif "summary" in obj:
            summary = obj["summary"]
    if summary is None:
        fail(f"{workload} printed no summary")
    return metrics, summary


def result_line(spec, metrics, summary, trace):
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")
    out = {}
    for m in wanted:
        v = metrics[m["name"]]["value"]
        if v is None:
            fail(f"metric {m['name']} has no value")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(summary["correct"]),
            "attempted": int(summary["attempted"]),
            "failed": int(summary["failed"]), "metrics": out}


def load_spec():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        fail("BENCHMARK.json not found at the checkout root")
    return json.loads(path.read_text())


def check_checkout():
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no graft sources next to the benchmark: run it from the root "
             "of a graft checkout")


def smoke(spec):
    """Every workload of BENCHMARK.json on tiny inputs, untraced and traced."""
    start = time.time()
    cp = build(start + BUILD_BUDGET_S)
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            metrics, summary = run_workload(
                cp, w, 1, 2, trace, time.time() + RUN_BUDGET_S,
                extra=("--scale", "0.05", "--setups", "1"))
            res = result_line(spec, metrics, summary, trace)
            good = res["correct"] and res["failed"] == 0
            ok &= good
            print(f"smoke {w} trace={trace}: "
                  f"{'ok' if good else 'FAILED'} ({len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops)", file=sys.stderr)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    start = time.time()
    check_checkout()
    spec = load_spec()
    if a.smoke:
        smoke(spec)
    if not a.workload:
        fail("--workload is required")
    cp = build(start + BUILD_BUDGET_S)
    # the workload's own budget starts once the build is done, so a run
    # that had to recompile is not cut short
    metrics, summary = run_workload(cp, a.workload, a.seed, a.seconds,
                                    a.trace, time.time() + RUN_BUDGET_S)
    print(json.dumps(result_line(spec, metrics, summary, a.trace)))


if __name__ == "__main__":
    main()
