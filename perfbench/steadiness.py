#!/usr/bin/env python3
"""Measure how steady the benchmark is, from the root of a checkout.

    python3 perfbench/steadiness.py spread --seeds 1-10 [--workloads a,b] [--tag NAME]
    python3 perfbench/steadiness.py repeat --seed 1 --runs 4 [--workloads a,b] [--tag NAME]
    python3 perfbench/steadiness.py exact --seed 1 [--workloads a,b] [--tag NAME]
    python3 perfbench/steadiness.py report [--sets A,B]

`spread` runs every workload once per seed with tracing off and appends the
result lines to perfbench/steadiness/<tag>.jsonl; `repeat` does the same
with one seed `--runs` times. `exact` runs each workload twice with tracing
on and the same seed, and appends both per-layer records to
perfbench/steadiness/<tag>-exact.jsonl. `report` summarises every record
file into perfbench/steadiness/REPORT.md: per workload and end-to-end metric
the median, the quartiles (Python's statistics.quantiles, n=4) and the
interquartile spread as a share of the median, next to the metric's bound;
for the two sets named by `--sets`, how far the second set's median is from
the first's in the metric's worse direction, as a share of the first; the
largest deviation of a single run from its set's median; and which
per-layer counters repeated exactly between same-seed runs.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "steadiness")

# Per-layer values that depend only on the seed and the code, not on timing.
# new_cached_rdds is not among them: Spark's ContextCleaner unpersists an RDD
# once the driver has garbage-collected it, so that count follows GC timing.
EXACT_SUFFIXES = (".jobs", ".tasks", ".build_jobs", ".shuffle_mb", ".files_scanned_ratio",
                  ".files_in", ".files_out")
EXACT_NAMES = ("core.live_files", "core.manifest_kb", "core.bytes_written_mb",
               "spark.unattributed_jobs")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "wall_s": round(wall, 3), "result": result}


def append(path, rec):
    os.makedirs(OUT, exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    r = rec["result"]
    print(f"{rec['workload']:14s} seed={rec['seed']:<4d} trace={rec['trace']} exit={rec['exit']} "
          f"wall={rec['wall_s']:.1f}s correct={r and r['correct']}", flush=True)


def load(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def report(sets):
    b = spec()
    bounds = {m["name"]: m for m in b["end_to_end"]}
    lines = ["# Steadiness record", "",
             "Generated by `python3 perfbench/steadiness.py report` from the record files in",
             "this directory. Spread = (q3 - q1) / median over the runs of one set, quartiles",
             "from Python's `statistics.quantiles(values, n=4)`. Target: every spread below a",
             "third of its bound (`setup_s` excepted).", ""]
    for path in sorted(glob.glob(os.path.join(OUT, "*.jsonl"))):
        tag = os.path.basename(path)[:-len(".jsonl")]
        recs = load(path)
        if tag.endswith("-exact"):
            lines += exact_section(tag, recs)
            continue
        walls = [r["wall_s"] for r in recs]
        lines += [f"## {tag}", "",
                  f"{len(recs)} runs, wall per run: median {statistics.median(walls):.1f} s, "
                  f"max {max(walls):.1f} s; runs not correct or not exiting 0: "
                  f"{sum(1 for r in recs if r['exit'] != 0 or not (r['result'] or {}).get('correct'))}.",
                  "", "| workload | metric | unit | n | median | q1 | q3 | spread | bound | seeds |",
                  "|---|---|---|---|---|---|---|---|---|---|"]
        for wl in [w["name"] for w in b["workloads"]]:
            rs = [r for r in recs if r["workload"] == wl and r["result"]]
            if not rs:
                continue
            sd = sorted({r["seed"] for r in rs})
            for name, m in bounds.items():
                vals = [r["result"]["metrics"][name]["value"] for r in rs]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                lines.append(f"| {wl} | {name} | {m['unit']} | {len(vals)} | {med:.4g} | {q1:.4g} | "
                             f"{q3:.4g} | {(q3 - q1) / med:.3f} | {m['bound']} | "
                             f"{sd[0]}-{sd[-1]} |")
        lines.append("")
    if sets:
        lines += compare_section(b, sets)
    with open(os.path.join(OUT, "REPORT.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))


def values(recs, wl, name):
    return [r["result"]["metrics"][name]["value"] for r in recs
            if r["workload"] == wl and r["result"]]


def compare_section(b, sets):
    """Two sets of runs of the same code: do their medians agree within the bounds?"""
    a_tag, b_tag = sets
    ra = load(os.path.join(OUT, f"{a_tag}.jsonl"))
    rb = load(os.path.join(OUT, f"{b_tag}.jsonl"))
    out = [f"## {a_tag} against {b_tag}", "",
           f"Worse = how much worse the median of `{b_tag}` is than the median of `{a_tag}`",
           "(negative: better), as a share of the latter; it must stay within the bound.",
           "Largest single = the largest distance of one run from its set's median, as a",
           "share of that median, over both sets: what comparing single runs would risk.", "",
           "| workload | metric | median A | median B | worse | largest single | bound |",
           "|---|---|---|---|---|---|---|"]
    for wl in [w["name"] for w in b["workloads"]]:
        for m in b["end_to_end"]:
            va, vb = values(ra, wl, m["name"]), values(rb, wl, m["name"])
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            single = max(max(abs(v - ma) / ma for v in va), max(abs(v - mb) / mb for v in vb))
            out.append(f"| {wl} | {m['name']} | {ma:.4g} | {mb:.4g} | {worse:+.3f} | "
                       f"{single:.3f} | {m['bound']} |")
    return out + [""]


def exact_section(tag, recs):
    out = [f"## {tag}", "", "Per-layer counters of two traced runs with the same seed.", ""]
    by = {}
    for r in recs:
        if r["result"]:
            by.setdefault((r["workload"], r["seed"]), []).append(r["result"]["metrics"])
    for (wl, seed), runs in sorted(by.items()):
        if len(runs) < 2:
            continue
        a, b = runs[-2], runs[-1]
        names = [n for n in a if n.endswith(EXACT_SUFFIXES) or n in EXACT_NAMES]
        live = [n for n in names if a[n]["value"] != 0 or b[n]["value"] != 0]
        same = [n for n in live if a[n]["value"] == b[n]["value"]]
        diff = [f"{n} ({a[n]['value']} vs {b[n]['value']})" for n in live if n not in same]
        out += [f"- **{wl}**, seed {seed}: {len(same)} of {len(live)} non-zero counters identical.",
                f"  - identical: {', '.join(same) or 'none'}",
                f"  - differing: {', '.join(diff) or 'none'}"]
    return out + [""]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "repeat", "exact", "report"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--sets", default="")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--tag", default="")
    a = ap.parse_args()
    if a.mode == "report":
        return report(a.sets.split(",") if a.sets else None)
    b = spec()
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    if a.mode in ("spread", "repeat"):
        path = os.path.join(OUT, f"{a.tag or a.mode}.jsonl")
        for s in (seeds(a.seeds) if a.mode == "spread" else [a.seed] * a.runs):
            for wl in wls:
                append(path, run_once(wl, s, b["run_seconds"], 0))
    else:
        path = os.path.join(OUT, f"{a.tag or 'counters'}-exact.jsonl")
        for wl in wls:
            for _ in range(2):
                append(path, run_once(wl, a.seed, b["run_seconds"], 1))


if __name__ == "__main__":
    main()
