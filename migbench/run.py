#!/usr/bin/env python3
"""Migration-pipeline benchmark: premigration -> extraction -> transfer ->
load, then the resume of a half-lost migration, on seeded inputs.

    python3 migbench/run.py --workload NAME --seed N --seconds S --trace 0|1

builds the program and the benchmark (`build.py`), runs one fresh JVM that
generates the workload's inputs from the seed and times iterations of the
migration and its resume, and prints one JSON line: `correct`, `attempted`,
`failed` and the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`).
Exits 1 when an operation failed its verification.

Other modes (for recording baselines, see README.md):
    --curve N     N iterations in one JVM, per-iteration times (warm-up curve)
    --selftest    generator self-test
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

# Input size per workload (README.md says why these sizes).
WORKLOADS = {
    "many_tables": dict(sf=0.001, extras=2, lob_cells=100, jdbc=0),
    "jdbc_live": dict(sf=0.002, extras=0, lob_cells=0, jdbc=1),
}
HEAP = "2g"
RUN_LIMIT_S = 170
MIB = 1024.0 * 1024.0

# JVM flags of the program's run_tool.sh (module opens for Spark on JDK 17,
# concurrent explicit GC, UI off, UTC). The heap is fixed and touched up
# front, so peak RSS does not depend on when G1 chose to grow the heap
# (1.7-2.5 GB seen across seeds with a 4 GB cap). Derby, which stands in
# for the source and target servers, skips its fsyncs: disk-sync latency of
# a shared host is not the program's cost. The rest keeps every file the
# JVM writes inside the run's work dir.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def jvm_command(classpath, work, args):
    opens = [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-XX:+ExplicitGCInvokesConcurrent", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Xms" + HEAP, "-Xmx" + HEAP,
        "-XX:+AlwaysPreTouch", "-Dderby.system.durability=test", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-cp", ":".join(classpath), "migbench.Run", "--work", work] + args)


def jvm_env(work):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def launch(classpath, work, args, deadline, log):
    """Run one JVM; return (seconds from spawn to READY, RESULT dict, exit code)."""
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    t0 = time.perf_counter()
    proc = subprocess.Popen(jvm_command(classpath, work, args), stdout=subprocess.PIPE,
                            stderr=log, env=jvm_env(work), text=True, cwd=work)
    killer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    killer.start()
    ready = result = None
    try:
        for line in proc.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
    finally:
        killer.cancel()
        proc.stdout.close()
        proc.wait()
    return ready, result, proc.returncode


def cpu_steal():
    """(steal, total) CPU jiffies of the machine so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def median_of(records, key):
    vals = [r[key] for r in records if key in r]
    return statistics.median(vals) if vals else None


def end_to_end(res, setup_s):
    """End-to-end metric name -> (value, unit) from an untraced JVM's record
    and its seconds from spawn to a ready engine session."""
    timed = res["timed"]
    mig = median_of(timed, "migration_s")
    extracted = median_of(timed, "extract_bytes")
    return {
        "setup_s": (setup_s, "s"),
        "migration_s": (mig, "s"),
        "source_mb_per_s": (res["source_bytes"] / MIB / mig if mig else None, "MB/s"),
        "resume_s": (median_of(timed, "resume_s"), "s"),
        "extract_bytes_per_source_byte": (
            extracted / res["source_bytes"] if extracted else None, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


PHASES = ["premigration", "extract", "transfer", "load"]
UNITS = {"wall_s": "s", "spark_busy_s": "s", "driver_s": "s", "task_s": "s", "cpu_s": "s",
         "gc_s": "s", "validate_s": "s", "shuffle_write_mb": "MB", "output_mb": "MB",
         "mb": "MB", "median": "ms", "max": "ms"}


def per_layer(traced, plain):
    """Per-layer metric name -> (value, unit) from a traced JVM's record,
    with the untraced JVM's record of the same inputs for the overhead."""
    timed = traced["timed"]
    keys = sorted({k for r in timed for k in r} -
                  {"iteration", "traced", "migration_s", "resume_s", "extract_bytes"})
    out = {k: (median_of(timed, k), UNITS.get(k.rsplit(".", 1)[-1], "count")) for k in keys}
    wall = sum(median_of(timed, p + ".wall_s") or 0 for p in PHASES)
    busy = sum(median_of(timed, p + ".spark_busy_s") or 0 for p in PHASES)
    out["engine.busy_fraction"] = (busy / wall if wall else None, "ratio")
    t_mig, p_mig = median_of(timed, "migration_s"), median_of(plain["timed"], "migration_s")
    out["trace.overhead"] = (t_mig / p_mig if t_mig and p_mig else None, "ratio")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--curve", type=int, default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.ROOT, ".migbench", "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(build.ROOT, ".migbench", name + ".log")
    results = []
    steal0 = cpu_steal()
    try:
        with open(log_path, "w") as log:
            if a.selftest:
                _, res, rc = launch(classpath, work, [
                    "--mode", "selftest", "--seed", str(a.seed), "--sf", "0.001",
                    "--extras", "4", "--lob-cells", "50"], deadline, log)
                print(json.dumps(res))
                return 0 if rc == 0 and res else 1
            w = WORKLOADS[a.workload]
            args = ["--mode", "run", "--seed", str(a.seed), "--sf", str(w["sf"]),
                    "--extras", str(w["extras"]), "--lob-cells", str(w["lob_cells"]),
                    "--jdbc", str(w["jdbc"])]
            args += ["--iterations", str(a.curve)] if a.curve else ["--seconds", str(a.seconds)]
            # a traced run first repeats the untraced migration on the same
            # inputs in another JVM (without the resume, to save time), so
            # the two compare for the tracing overhead
            runs = [["--trace", "0", "--resume", "0"], ["--trace", "1"]] if a.trace else \
                [["--trace", "0"]]
            for k, extra in enumerate(runs):
                results.append(launch(classpath, os.path.join(work, f"jvm{k}"), args + extra,
                                      deadline, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_steal()
    print("migbench: CPU steal %.1f%% during the run" % (
        100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])), file=sys.stderr)
    if any(ready is None or res is None for ready, res, _ in results):
        print(f"migbench: no result from the JVM; log: {log_path}", file=sys.stderr)
        return 1
    for _, res, _ in results:
        for e in res["errors"]:
            print("migbench: " + e, file=sys.stderr)
    ok = all(rc == 0 and res["failed"] == 0 for _, res, rc in results)
    if a.curve:
        res = results[0][1]
        print(json.dumps({"workload": a.workload, "seed": a.seed, "tables": res["tables"],
                          "source_bytes": res["source_bytes"], "iterations": [
                              {k: r.get(k) for k in ("migration_s", "resume_s")}
                              for r in res["timed"]]}))
        return 0 if ok else 1
    metrics = per_layer(results[1][1], results[0][1]) if a.trace else \
        end_to_end(results[0][1], results[0][0])
    correct = ok and all(v is not None for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": sum(res["attempted"] for _, res, _ in results),
        "failed": sum(res["failed"] for _, res, _ in results),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
