"""Stages of one cycle of a traced e2ebench run, by call site and in order.

Usage:
  python3 tools/stage_timeline.py SPANS.jsonl [--cycle K] [--stages]

Reads the spans file a `--trace 1` run writes
(`.bench_build/e2e/<workload>-trace1/spans.jsonl`) and, for cycle K
(default: the last), prints the cycle's per-layer headline metrics (as
`e2ebench/spans.py` computes them) and its Spark stages per call site
(a mail-sync cycle runs one stage per job, so these are its jobs). With
`--stages` it then lists every stage: start (s into the cycle), duration
(s), task count and call site.
"""
import collections
import os
import sys

sys.dont_write_bytecode = True  # leave no cache in the benchmark's directory
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "e2ebench"))
from spans import cycle_metrics, load, self_times  # noqa: E402

HEADLINE = ["trace.cycle_wall_s", "spark.jobs", "spark.stages", "spark.tasks",
            "spark.driver_gap_s", "stage_s.by_site.AudienceSink", "share.sink",
            "share.driver_gap"]


def main(argv):
    if not argv or argv[0].startswith("-"):
        sys.exit(__doc__)
    spans = load(argv[0])
    cycles = sorted((s for s in spans if s["name"] == "cycle"), key=lambda s: s["start"])
    k = int(argv[argv.index("--cycle") + 1]) if "--cycle" in argv else len(cycles) - 1
    cyc = cycles[k]
    m = cycle_metrics(cyc, spans, self_times(spans))
    print(f"cycle {k}: " + ", ".join(f"{name} {m[name]:.4g}" for name in HEADLINE))
    lo, hi = cyc["start"], cyc["end"]
    stages = sorted((s for s in spans if s["name"] == "spark.stage" and lo <= s["start"] < hi),
                    key=lambda s: s["start"])
    for site, n in collections.Counter(s["attrs"]["site"] for s in stages).most_common():
        print(f"{n:4d}  {site}")
    if "--stages" in argv:
        for s in stages:
            print(f"{(s['start'] - lo) / 1000:7.3f} {(s['end'] - s['start']) / 1000:6.3f} "
                  f"t={s['attrs']['tasks']} {s['attrs']['site']}")


if __name__ == "__main__":
    main(sys.argv[1:])
