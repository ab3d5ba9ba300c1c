#!/usr/bin/env python3
"""Record benchmark baselines: repeated runs of `run.py`, their spread, the
warm-up curves and the traced per-layer table.

    python3 migbench/record.py runs --workloads many_tables,jdbc_live \\
        --seeds 1-10 --sets 2 --out migbench/baseline/runs.json
    python3 migbench/record.py trace --workloads ... --seeds 1,2 --out ...
    python3 migbench/record.py curve --workloads ... --iterations 4 --out ...

Runs go one at a time. `runs` reports, per workload and end-to-end metric
and per set, the median and the spread (q3 - q1) / median over the seeds,
with `statistics.quantiles(values, n=4)`, and each later set's median
relative to the first set's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(args):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py")] + args,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    notes = [l for l in p.stderr.splitlines() if l.startswith("migbench:")]
    return (p.returncode, json.loads(lines[-1]) if lines else None,
            time.monotonic() - t0, notes)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("runs", "trace", "curve"))
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--iterations", type=int, default=4)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(BENCHMARK))
    secs = str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    result = {}
    for w in a.workloads.split(","):
        if a.mode == "curve":
            rc, res, wall, notes = run(["--workload", w, "--seed", "1",
                                        "--curve", str(a.iterations)])
            result[w] = dict(res or {}, exit=rc, run_wall_s=wall, notes=notes)
            print(w, json.dumps(res), flush=True)
            continue
        sets = []
        for k in range(a.sets if a.mode == "runs" else 1):
            runs = []
            for s in seeds(a.seeds):
                rc, res, wall, notes = run(["--workload", w, "--seed", str(s),
                                            "--seconds", secs,
                                            "--trace", "1" if a.mode == "trace" else "0"])
                runs.append({"seed": s, "exit": rc, "run_wall_s": wall, "notes": notes,
                             "result": res})
                print(w, k, s, rc, round(wall, 1), notes, json.dumps(res)[:300], flush=True)
            sets.append(runs)
        entry = {"sets": sets}
        if a.mode == "runs":
            entry["summary"] = {}
            for name in bounds:
                per_set = [spread([r["result"]["metrics"][name]["value"] for r in runs
                                   if r["result"] and r["result"]["correct"]]) for runs in sets]
                for s in per_set[1:]:
                    s["vs_first_median"] = s["median"] / per_set[0]["median"] - 1
                entry["summary"][name] = {"bound": bounds[name], "sets": per_set}
                print(w, name, json.dumps(entry["summary"][name]), flush=True)
        result[w] = entry
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
