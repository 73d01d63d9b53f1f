"""Cold end-to-end benchmark of the repository's user paths.

  python3 e2ebench/run.py --workload app-sync --seed 1 --seconds 10 --trace 0
  python3 e2ebench/run.py --workload all --seed 1           # every workload
  python3 e2ebench/run.py --workload all --seed 1 --trace 1 # + per-layer, overhead

One run = build if needed (sbt, first run only) -> generate the seeded
snapshots -> start a fresh JVM with the library build's `run`
javaOptions, which builds the session the way `graft.Cli` does and runs
sync cycles back to back (cycle 1 cold, then incremental cycles over the
churned snapshots, at least two cycles, more while under --seconds) ->
replay DuckDB expectations per cycle. The last stdout line is one JSON
object: correct, attempted, failed, metrics (end-to-end metrics untraced,
per-layer metrics with --trace 1). Any correctness mismatch exits 1.

Everything the run writes stays under .bench_build/e2e/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "e2e")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spans as spanlib  # noqa: E402

# generator kind and scale (customers, or documents) per workload
WORKLOADS = {
    "app-sync": ("sync", 2000),
    "mail-sync": ("sync", 2000),
    "corpus-prep": ("corpus", 2000),
}
SNAPSHOTS = 6           # cycles the generator prepares; a run uses 2 or more
JVM_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("first_cycle_s", "s"), ("cycle_s", "s"),
              ("rows_per_s", "1/s"), ("success_rate", "ratio"), ("retained_heap_mb", "MB")]
PER_LAYER_UNITS = {"_s": "s", "stage_s.": "s", "_mb": "MB", "_ratio": "ratio", "share.": "ratio"}


def fail(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    newest = 0.0
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the library and the benchmark program with sbt when any
    source is newer than the launch file; return (classpath, java opts)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library build next to the benchmark (expected {ROOT}/build.sbt and src/)")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not os.path.exists(launch) or os.path.getmtime(launch) < sources_mtime():
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "-batch", "writeLaunch"], cwd=HERE, stdout=log,
                               env=dict(os.environ, COURSIER_MODE="offline"),
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            fail(f"build failed, see {OUT}/build.log")
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def java(cp, opts, work, args, log):
    """Run e2ebench.Main in `work`, with Spark's and the JVM's scratch
    directories inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    launch_ns = time.time_ns()
    try:
        with open(log, "w") as f:
            r = subprocess.run(["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                "e2ebench.Main", *args, "--launch-ns", str(launch_ns)],
                               cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        fail(f"benchmark JVM ran over {JVM_TIMEOUT_S} s, see {log}")
    if r.returncode != 0:
        fail(f"benchmark JVM exited {r.returncode}, see {log}")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"
    except OSError:
        return "unknown (git not found)"


def run_once(workload, seed, seconds, traced, cp, opts):
    """One benchmark process plus its checks; returns (result, checks, work)."""
    kind, scale = WORKLOADS[workload]
    work = os.path.join(OUT, f"{workload}-trace{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(kind, seed, SNAPSHOTS, scale, inputs)
    java(cp, opts, work, ["--workload", workload, "--inputs", inputs, "--work", work,
                          "--seconds", str(seconds), "--seed", str(seed),
                          "--trace", str(int(traced))],
         os.path.join(work, "jvm.log"))
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    result["inputs"] = [{"rows": {t: v["rows"] for t, v in c["tables"].items()},
                         "bytes": sum(v["bytes"] for v in c["tables"].values()),
                         "churn": c["churn"]} for c in manifest["cycles"]]
    checks = check.check(workload, result, work)
    for k, name, ok, detail in checks:
        if not ok:
            print(f"[e2ebench] {workload} cycle {k + 1} {name}: MISMATCH {detail}", file=sys.stderr)
    return result, checks, work


def end_to_end(result, checks):
    cycles = result["cycles"]
    walls = [c["wall_s"] for c in cycles]
    attempted = sum(c["attempted"] for c in cycles) + len(checks)
    failed = sum(c["failed"] for c in cycles) + sum(1 for x in checks if not x[2])
    values = {
        "setup_s": result["setup_s"],
        "first_cycle_s": walls[0],
        "cycle_s": statistics.median(walls[1:]),
        "rows_per_s": sum(c["rows"] for c in cycles) / sum(walls),
        "success_rate": 1.0 - failed / attempted,
        "retained_heap_mb": result["retained_heap_mb"],
    }
    return attempted, failed, {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def unit_of(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix) or name.startswith(suffix):
            return unit
    return "count"


def per_layer(workload, result, work):
    spans = spanlib.load(os.path.join(work, "spans.jsonl"))
    per_cycle = spanlib.per_layer(spans)
    values = spanlib.summarize(per_cycle)
    ratios = {"sources.rewrite_ratio": [0.0] * len(per_cycle),
              "operators.keep_ratio": [0.0] * len(per_cycle)}
    if workload == "app-sync":
        ratios["sources.rewrite_ratio"] = check.rewrite_ratio(result, spans)
    if workload == "corpus-prep":
        ratios["operators.keep_ratio"] = check.keep_ratio(result)
    for name, per in ratios.items():
        values[name] = statistics.median(per[1:] or per)
    return {n: {"value": v, "unit": unit_of(n)} for n, v in sorted(values.items())}


def context(result):
    ctx = dict(result["context"])
    ctx.update(commit=git_commit(), calib_shuffle_ms=result["calib_shuffle_ms"],
               calib_map_ms=result["calib_map_ms"], cycles=len(result["cycles"]),
               inputs=result["inputs"])
    return ctx


def report(workload, metrics, result, checks, attempted, failed):
    walls = ", ".join(f"{c['wall_s']:.3f}" for c in result["cycles"])
    print(f"{workload}: {len(result['cycles'])} cycles ({walls} s), "
          f"{len(checks)} checks, {failed} of {attempted} operations failed "
          f"(error_rate {failed / attempted:.4f})")
    for name, m in metrics.items():
        print(f"  {workload} {name:34s} {m['value']:.6g} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description="cold end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp, opts = build()
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    out_metrics, correct, att, fl = {}, True, 0, 0
    for w in names:
        # --workload all --trace 1 also runs untraced, to report the overhead
        modes = [False, True] if (a.trace and a.workload == "all") else [bool(a.trace)]
        cycle_s = {}
        for traced in modes:
            result, checks, work = run_once(w, a.seed, a.seconds, traced, cp, opts)
            attempted, failed, e2e = end_to_end(result, checks)
            metrics = per_layer(w, result, work) if traced else e2e
            report(w + (" (traced)" if traced else ""), metrics, result, checks, attempted, failed)
            print(f"  {w} context: {json.dumps(context(result), sort_keys=True)}")
            cycle_s[traced] = e2e["cycle_s"]["value"]
            correct &= failed == 0
            att += attempted
            fl += failed
            for n, m in metrics.items():
                out_metrics[n if len(names) == 1 and len(modes) == 1 else f"{w}.{n}"] = m
        if len(modes) == 2:
            print(f"  {w} tracing overhead on cycle_s: {cycle_s[True] / cycle_s[False]:.3f}x "
                  f"({cycle_s[True]:.3f} s traced vs {cycle_s[False]:.3f} s untraced)")
    print(json.dumps({"correct": correct, "attempted": att, "failed": fl, "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
