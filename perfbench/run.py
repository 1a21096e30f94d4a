#!/usr/bin/env python3
"""graft's benchmark: run one workload, check every answer, print metrics.

Usage (from the root of a graft checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: batch_sweep, serve_xproc, serve_refresh (see perfbench/README.md).
The first run builds graft and the harness into .bench_build (or
$CARGO_TARGET_DIR). Each run starts from a clean slate: graft's /tmp/graft_*
side tables, the previous run's directory and any shard worker a previous
run left behind are removed first.

Standard output: one run-record line ({"run_record": ...}), then, as the
last line, {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exit status is 0 only when a result was printed.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_DIR = os.path.join(build.BUILD, "run")
RESULTS = os.path.join(build.BUILD, "results")
WORKLOADS = ("batch_sweep", "serve_xproc", "serve_refresh")
# the whole run, build excluded, must end well inside 180 s
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_flags():
    return ([f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["--add-modules=jdk.incubator.vector", "-Xmx3g",
             f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')}"])


def cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def stop_pids(pids):
    """SIGTERM, then SIGKILL after 5 s; wait until every pid is gone."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        live = []
        for p in pids:
            try:
                os.kill(p, sig)
                live.append(p)
            except ProcessLookupError:
                pass
        end = time.time() + grace
        while live and time.time() < end:
            live = [p for p in live if os.path.exists(f"/proc/{p}")
                    and "zombie" not in open(f"/proc/{p}/status").read().lower()]
            time.sleep(0.05)
        pids = live
        if not pids:
            return


def stale_workers():
    """Shard worker JVMs serving a slab from this checkout's run dir."""
    out = []
    for d in glob.glob("/proc/[0-9]*"):
        c = cmdline(d[6:])
        if "graft.ShardWorker" in c and RUN_DIR in c:
            out.append(int(d[6:]))
    return out


def clean_slate(fresh_run_dir=True):
    """Remove graft's side tables and any stale workers; with
    `fresh_run_dir`, also the last run's directory."""
    workers = stale_workers()
    stop_pids(workers)
    side = glob.glob("/tmp/graft_*")
    for p in side:
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.unlink(p)
            except OSError:
                pass
    if fresh_run_dir:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
        os.makedirs(os.path.join(RUN_DIR, "tmp"))
        os.makedirs(os.path.join(RUN_DIR, "spark-local"))
    return {
        "stale_workers_stopped": len(workers),
        "side_tables_removed": len(side),
        "side_tables_left": len(glob.glob("/tmp/graft_*")),
        "run_dir_fresh": fresh_run_dir and not os.listdir(os.path.join(RUN_DIR, "tmp")),
        "clean": not stale_workers() and not glob.glob("/tmp/graft_*"),
    }


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classpath, deadline):
    out = os.path.join(RUN_DIR, "result.json")
    cmd = (["java"] + jvm_flags() + ["-cp", os.pathsep.join(classpath),
           "graft.perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", DATA, "--work", RUN_DIR,
           "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"))
    with open(os.path.join(RUN_DIR, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=RUN_DIR, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    # workers are the JVM's children: stop any it could not
    pids_file = os.path.join(RUN_DIR, "workers.pids")
    if os.path.exists(pids_file):
        pids = [int(x) for x in open(pids_file).read().split()]
        stop_pids([x for x in pids if "graft.ShardWorker" in cmdline(x)])
    stop_pids(stale_workers())
    if not os.path.exists(out):
        return None, p.returncode
    with open(out) as f:
        return json.load(f), p.returncode


def tracing_overhead(res):
    """Traced minus untraced end-to-end values, against the last untraced
    run of this workload in this build directory."""
    path = os.path.join(RESULTS, f"{res['workload']}-last-untraced.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload yet"}
    with open(path) as f:
        base = json.load(f)
    out = {"untraced_seed": base["seed"]}
    for k, m in res["e2e"].items():
        b = base["e2e"].get(k)
        if b and b["value"]:
            out[k] = {"traced": m["value"], "untraced": b["value"],
                      "delta": m["value"] - b["value"],
                      "pct": 100.0 * (m["value"] - b["value"]) / b["value"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classpath, source_sha = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"missing data set {DATA}", file=sys.stderr)
        return 2

    start = time.time()
    slate = clean_slate()
    res, rc = run_jvm(args, classpath, start + RUN_LIMIT_S)
    clean_slate_after = clean_slate(fresh_run_dir=False)
    if res is None:
        print(f"workload produced no result (exit {rc}); log: "
              f"{os.path.join(RUN_DIR, 'jvm.log')}", file=sys.stderr)
        return 1

    rec = res["record"]
    peak = rec.get("driver_hwm_mb", 0.0) + rec.get("worker_hwm_mb", 0.0)
    res["layers"]["mem.peak_rss_mb"] = {"value": peak, "unit": "MB"}
    res["named"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    res["named"]["failed_frac"] = {
        "value": failed / attempted if attempted else 1.0, "unit": "ratio"}

    if args.trace:
        declared = spec["per_layer"]
        got = res["layers"]
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value", 0.0),
                               "unit": m["unit"]} for m in declared}
    else:
        declared = spec["end_to_end"]
        metrics = {m["name"]: res["e2e"][m["name"]]
                   for m in declared if m["name"] in res["e2e"]}
    complete = len(metrics) == len(declared)
    # a traced batch_sweep must account for every query's wall time
    # within the tolerance BatchSweep states
    outside = int(res["layers"].get("trace.queries_outside_tolerance",
                                    {}).get("value", 0))

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "source_sha256": source_sha,
        "nproc": len(os.sched_getaffinity(0)), "jvm_flags": jvm_flags(),
        "spark_conf": rec.get("spark_conf"), "box": rec.get("box"),
        "slate_before": slate, "slate_after": clean_slate_after,
        "workload_metrics": res["named"], "failures": res["failures"],
        "queries_outside_trace_tolerance": outside,
        "wall_s": time.time() - start, "jvm_exit": rc,
        "details": {k: v for k, v in rec.items()
                    if k not in ("spark_conf", "box")},
    }
    if args.trace:
        record["tracing_overhead"] = tracing_overhead(res)
        record["end_to_end_traced"] = res["e2e"]
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump({"record": record, "result": res}, f)
    if not args.trace and complete:
        with open(os.path.join(RESULTS, f"{args.workload}-last-untraced.json"), "w") as f:
            json.dump(res, f)

    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": (failed == 0 and attempted > 0 and complete
                    and slate["clean"] and outside == 0),
        "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
