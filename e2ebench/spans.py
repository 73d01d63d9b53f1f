"""Turn a traced run's spans into per-layer metrics.

Input: spans.jsonl (one span per line: id, name, start, end, parent,
run, attrs; times in epoch ms) as written by the traced benchmark
process. Spark events (`spark.stage`, `spark.job`, `spark.query`) have no
parent; they belong to the cycle whose interval holds their start.

Per cycle it derives Spark counts and times, module span times, self
times (a span's duration minus the part of it its children cover), the
driver gap (cycle wall time not covered by any running stage) and a
partition of the cycle's wall time into layers:

  driver_gap   no stage running
  sink         a stage running for an AudienceSink call
  store_write  a stage running for a TableStore call (and no sink stage)
  shuffle      the rest of the stage-busy time, times the share of task
               time spent writing shuffle output or waiting on fetches
  task_compute the remainder

Every metric is the median over cycles 2..K; the `_first` metrics are
cycle 1's. Run as a tool:

  python3 e2ebench/spans.py .bench_build/e2e/app-sync-trace1/spans.jsonl
"""
import json
import re
import statistics
import sys
from collections import defaultdict

MB = 1024.0 * 1024.0
SITES = ["AudienceSink", "TableStore", "SyncPipeline", "Curation", "CorpusPrep",
         "Sharding", "NearDup", "Packing", "Ranking"]
SITE_FILE = re.compile(r" at ([A-Za-z0-9_$]+)\.(?:scala|java):")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(s, e, lo, hi):
    return max(s, lo), min(e, hi)


def site_file(site):
    m = SITE_FILE.search(site or "")
    return m.group(1) if m else "other"


def self_times(spans):
    """Span id -> duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        [clip(a, b, s["start"], s["end"]) for a, b in kids.get(s["id"], [])])
        for s in spans}


def layer_split(lo, hi, stages):
    """Partition [lo, hi] by the highest-priority category running."""
    cuts = {lo, hi}
    cat = []
    for st in stages:
        s, e = clip(st["start"], st["end"], lo, hi)
        if e <= s:
            continue
        f = site_file(st["attrs"].get("site"))
        cat.append((s, e, 3 if f == "AudienceSink" else 2 if f == "TableStore" else 1))
        cuts.update((s, e))
    cuts = sorted(cuts)
    out = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        level = max([c for s, e, c in cat if s <= mid < e], default=0)
        out[level] += b - a
    return out  # 0 gap, 1 other stages, 2 store write, 3 sink


def cycle_metrics(cyc, spans, selfs):
    lo, hi = cyc["start"], cyc["end"]
    wall = (hi - lo) / 1000.0
    inside = [s for s in spans if s is not cyc and lo <= s["start"] < hi]
    stages = [s for s in inside if s["name"] == "spark.stage"]
    by = defaultdict(list)
    for s in inside:
        by[s["name"]].append(s)
    a = lambda key: sum(st["attrs"].get(key, 0) for st in stages)
    m = {
        "spark.jobs": len(by["spark.job"]),
        "spark.stages": len(stages),
        "spark.tasks": a("tasks"),
        "spark.failed_tasks": a("failed_tasks"),
        "spark.sched_delay_s": a("sched_delay_ms") / 1000.0,
        "spark.task_run_s": a("run_ms") / 1000.0,
        "spark.task_cpu_s": a("cpu_ns") / 1e9,
        "spark.gc_s": a("gc_ms") / 1000.0,
        "spark.spill_mb": a("spill_bytes") / MB,
        "spark.shuffle_write_mb": a("shuffle_write_bytes") / MB,
        "spark.shuffle_read_mb": a("shuffle_read_bytes") / MB,
        "spark.fetch_wait_s": a("fetch_wait_ms") / 1000.0,
        "spark.plan_s": sum(q["attrs"].get("plan_ms", 0) for q in by["spark.query"]) / 1000.0,
    }
    busy = union_length([clip(s["start"], s["end"], lo, hi) for s in stages])
    m["spark.driver_gap_s"] = max(0.0, (hi - lo) - busy) / 1000.0
    attrs = cyc["attrs"]
    for k in ["spark.codegen_compiles", "spark.cached_mb", "queries.rows", "pipeline.upserted",
              "pipeline.deleted", "sink.upserted", "sink.deleted", "sink.tag_ops",
              "sink.useful_ratio", "sink.retries"]:
        m[k] = attrs.get(k, 0)
    dur = lambda name: sum(s["end"] - s["start"] for s in by[name]) / 1000.0
    m["queries.build_s"] = sum(s["end"] - s["start"] for s in inside
                               if s["name"].startswith("queries.")) / 1000.0
    for name in ["pipeline.load", "pipeline.gc", "pipeline.sync_many", "pipeline.corpus_prep",
                 "pipeline.pretrain_prep"]:
        m[name + "_s"] = dur(name)
    m["pipeline.load_self_s"] = sum(selfs[s["id"]] for s in by["pipeline.load"]) / 1000.0
    m["pipeline.gc_self_s"] = sum(selfs[s["id"]] for s in by["pipeline.gc"]) / 1000.0
    m["sources.write_swap_s"] = dur("sources.write_swap")
    m["sources.write_swaps"] = len(by["sources.write_swap"])
    m["sources.written_mb"] = sum(s["attrs"].get("bytes", 0) for s in by["sources.write_swap"]) / MB
    site_ms = defaultdict(float)
    for st in stages:
        s, e = clip(st["start"], st["end"], lo, hi)
        site_ms[site_file(st["attrs"].get("site"))] += max(0.0, e - s)
    for f in SITES:
        m[f"stage_s.by_site.{f}"] = site_ms.get(f, 0.0) / 1000.0
    split = layer_split(lo, hi, stages)
    run_ms = a("run_ms")
    shuffle_ms = a("shuffle_write_ns") / 1e6 + a("fetch_wait_ms")
    frac = min(1.0, shuffle_ms / run_ms) if run_ms > 0 else 0.0
    total = hi - lo
    m["share.driver_gap"] = split[0] / total
    m["share.sink"] = split[3] / total
    m["share.store_write"] = split[2] / total
    m["share.shuffle"] = split[1] * frac / total
    m["share.task_compute"] = split[1] * (1 - frac) / total
    m["trace.cycle_wall_s"] = wall
    return m


def per_layer(spans):
    """Per-cycle metric dicts, in cycle order."""
    selfs = self_times(spans)
    cycles = sorted((s for s in spans if s["name"] == "cycle"), key=lambda s: s["attrs"]["cycle"])
    return [cycle_metrics(c, spans, selfs) for c in cycles]


def summarize(per_cycle):
    """Median over cycles 2..K, plus cycle 1 for the cold-start metrics."""
    later = per_cycle[1:] or per_cycle
    out = {k: statistics.median(c[k] for c in later) for k in per_cycle[0]}
    out["spark.codegen_compiles_first"] = per_cycle[0]["spark.codegen_compiles"]
    out["trace.first_cycle_s"] = per_cycle[0]["trace.cycle_wall_s"]
    out["trace.cycle_s"] = out.pop("trace.cycle_wall_s")
    return out


def main():
    per_cycle = per_layer(load(sys.argv[1]))
    for k, v in sorted(summarize(per_cycle).items()):
        print(f"{k:34s} {v:.6g}")


if __name__ == "__main__":
    main()
