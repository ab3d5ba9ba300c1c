#!/usr/bin/env python3
"""Merge two Bench full-record JSONs (bench_out.json copies) into one
artifact. Used for the sf100 recording, which runs as two sequential
chunks (the subquadratic set minus d2, then d2 alone) so a mid-run
failure still leaves a committable partial artifact; the merged record
is shape-identical to a single-run BENCH_sf*.json.

Usage: merge_bench.py A.json B.json OUT.json
"""
import json
import sys


def main() -> None:
    a_path, b_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a.get("sf") != b.get("sf") or a.get("shuffle") != b.get("shuffle"):
        raise SystemExit(f"tier/shuffle mismatch: {a.get('sf')}/{a.get('shuffle')}"
                         f" vs {b.get('sf')}/{b.get('shuffle')}")
    merged = dict(a)
    for key in ("queries", "rep_times", "plan_sha", "stream_events_per_sec",
                "stream_state", "errors"):
        merged[key] = {**a.get(key, {}), **b.get(key, {})}
    # "concurrent" (round 15+): poisoner JVMs seen by either chunk; chunks
    # recorded by an older Bench simply contribute nothing
    for key in ("noisy", "failed", "plan_changed", "concurrent"):
        merged[key] = sorted(set(a.get(key, [])) | set(b.get(key, [])))
    # "stream_feed" (round 15+): the feed shape belongs to whichever chunk
    # actually ran stream entries; chunks from an older Bench contribute none
    if b.get("stream_events_per_sec") and "stream_feed" in b:
        merged["stream_feed"] = b["stream_feed"]
    stream_names = set(merged.get("stream_events_per_sec", {}))
    batch = {k: v for k, v in merged["queries"].items()
             if k not in stream_names and v is not None}
    merged["value"] = round(sum(batch.values()), 4)
    merged["stream_total_sec"] = round(
        sum(v for k, v in merged["queries"].items()
            if k in stream_names and v is not None), 4)
    with open(out_path, "w") as f:
        json.dump(merged, f)
        f.write("\n")
    print(f"merged {len(merged['queries'])} queries -> {out_path}; "
          f"batch total {merged['value']}s, stream {merged['stream_total_sec']}s")


if __name__ == "__main__":
    main()
