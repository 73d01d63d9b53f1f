"""Which generated classes a sync cycle compiles, and why.

Reads a CodeGenerator log written with tools/codegen-log4j2.properties and
the spans.jsonl of the same traced e2ebench run, splits the compiled
sources by the cycle whose span holds their timestamp, and reports per
cycle the compile count, compile time and distinct sources. For each
source a cycle compiles that no earlier cycle compiled, it prints the
unified diff against the most similar earlier source: an empty or
name-only diff means the same plan generated different code (a warm
recompile to remove); a large diff means a plan shape the earlier cycles
never ran.

  python3 tools/codegen_diff.py CG_LOG SPANS_JSONL [--diff-lines N]
"""
import argparse
import collections
import difflib
import hashlib
import json
import re

HEADER = re.compile(r"@@CG (\d+) (\w+) (.*)$")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")  # CodeFormatter's line-number prefix
# the log shows the stage id as a comment; the cache key holds only a
# placeholder for it, so it is dropped here too
STAGE_ID = re.compile(r"^\s*// codegenStageId=\d+\n")
OPERATORS = ["smj_", "bhj_", "shj_", "hashAgg_", "columnartorow_", "inmemorytablescan",
             "project_", "filter_", "sort_", "SpecificUnsafeProjection",
             "SpecificPredicate", "SpecificOrdering", "SpecificMutableProjection"]


def records(path):
    """[(epoch ms, level, thread, text)] in log order."""
    out, cur = [], None
    with open(path, errors="replace") as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                if cur:
                    out.append(cur)
                cur = (int(m.group(1)), m.group(2), m.group(3), [])
            elif cur is not None:
                cur[3].append(LINE_NO.sub("", line))
    if cur:
        out.append(cur)
    return [(ts, lvl, th, "".join(l for l in body if not STAGE_ID.match(l)))
            for ts, lvl, th, body in out]


def cycles(spans_path):
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return sorted((s["start"], s["end"], s["attrs"]["cycle"]) for s in spans if s["name"] == "cycle")


def cycle_of(ts, cyc):
    for start, end, k in cyc:
        if start <= ts <= end + 1:
            return k
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("spans")
    ap.add_argument("--diff-lines", type=int, default=40)
    a = ap.parse_args()
    cyc = cycles(a.spans)
    sources = collections.defaultdict(list)   # cycle -> [(hash, text)]
    millis = collections.Counter()
    for ts, lvl, _, text in records(a.log):
        k = cycle_of(ts, cyc)
        if k is None:
            continue
        if lvl == "DEBUG":
            sources[k].append((hashlib.sha1(text.encode()).hexdigest()[:12], text))
        else:
            m = re.match(r"Code generated in ([\d.]+) ms", text)
            if m:
                millis[k] += float(m.group(1))
    seen = {}
    for _, _, k in cyc:
        got = sources[k]
        new = {h: t for h, t in got if h not in seen}
        print(f"cycle {k}: {len(got)} compiles, {millis[k]:.0f} ms compiling, "
              f"{len({h for h, _ in got})} distinct sources, {len(new)} not compiled in an earlier cycle")
        if k > 0:
            for h, text in sorted(new.items()):
                ops = [o for o in OPERATORS if o in text]
                body = text.splitlines()
                best = max(seen.items(), default=None,
                           key=lambda kv: difflib.SequenceMatcher(None, kv[1], body).ratio())
                n = sum(1 for hh, _ in got if hh == h)
                print(f"  {h} x{n} [{' '.join(ops)}] closest earlier: {best[0] if best else None}")
                if best:
                    diff = list(difflib.unified_diff(best[1], body, lineterm="", n=1))[2:]
                    for line in diff[:a.diff_lines]:
                        print(f"    {line}")
                    if len(diff) > a.diff_lines:
                        print(f"    ... {len(diff) - a.diff_lines} more diff lines")
        for h, text in got:
            seen.setdefault(h, text.splitlines())


if __name__ == "__main__":
    main()
