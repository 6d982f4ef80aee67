"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate|query_mix|query_floor
                             --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one Spark session on
``local[<cores>]``, one closed-loop client.  Set-up (session start, input
generation, one warm-up pass) is timed as ``setup_s``; then whole passes
run until ``--seconds`` have elapsed (at least one).  With ``--trace 1``
one more pass runs traced (spans, job groups, cProfile, Spark event log)
and the per-layer metrics are printed instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Lines before it are a readable report.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import cProfile
import json
import os
import pstats
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "databox_adls_loader_spark")
SF_DIRS = {"query_mix": "sf0.1", "query_floor": "sf0.001"}
WORKLOADS = ("migrate",) + tuple(SF_DIRS)
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)



def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def launch_env(work: str, trace: bool) -> None:
    """Everything the session needs comes through the launch environment:
    the package on the executor workers' path, scratch space inside the
    checkout, and (traced runs) an uncompressed event log."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    args = ["--conf", "spark.eventLog.compress=false"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{work}/eventlog"]
    # -XX:-UsePerfData: the JVM's hsperfdata file ignores java.io.tmpdir
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args))


def testdata_root() -> str:
    """The repository's read-only TPC-H-style tables (TESTDATA.md): the
    parent of the correctness tool's scale-factor directory."""
    from tools.check_correctness import SF_DIR

    return os.environ.get("SPARK_GRAFT_TESTDATA", os.path.dirname(SF_DIR))


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Heap the JVM still holds after a full collection: what the session
    keeps between operations (snapshots, memoized fixtures, table handles,
    cached blocks)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / 2**20


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()              # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(latencies: list[float]) -> tuple[float, str, int]:
    """Highest percentile with at least ten samples beyond it (nearest
    rank); the maximum when there are fewer than eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    for p in PERCENTILES:
        k = max(1, -(-int(p * n) // 100))   # ceil(p/100 * n), rank from 1
        if n - k >= 10:
            return xs[k - 1], f"p{p:g}", n
    return xs[-1], "max", n


class Pass:
    """One pass over the workload's operations, timed; outputs are kept
    for :meth:`check`, which runs outside the timed region."""

    def __init__(self, wl, tr):
        self.latency: list[tuple[str, float]] = []
        self.outputs: list[tuple[str, object, str | None]] = []
        self.persisted = 0
        t0 = time.perf_counter()
        for name in wl.ops:
            s = time.perf_counter()
            try:
                with tr.op(name):
                    out, persisted = wl.run(name, tr)
                self.persisted += persisted
                self.outputs.append((name, out, None))
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                traceback.print_exc()
                self.outputs.append((name, None, repr(e)))
            self.latency.append((name, time.perf_counter() - s))
        self.wall = time.perf_counter() - t0
        self.failed = 0

    def check(self, wl) -> "Pass":
        for name, out, err in self.outputs:
            problems = [err] if err else wl.check(name, out)
            if problems:
                self.failed += 1
                print(f"FAILED {name}: " + "; ".join(problems), file=sys.stderr)
        self.outputs = []
        return self


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"error: package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    launch_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    from perfbench.trace import NullTracer, Tracer

    if args.workload != "migrate":
        sf_dir = os.path.join(testdata_root(), SF_DIRS[args.workload])
        if not os.path.isdir(sf_dir):
            print(f"error: test data not found at {sf_dir}", file=sys.stderr)
            return 2
    cpu0 = cpu_times()

    t_setup = time.perf_counter()
    from perfbench import workloads         # imports the package
    from databox_adls_loader_spark.session import get_spark

    if args.workload == "migrate":
        wl = workloads.MigrateWorkload(args.seed)
    else:
        wl = workloads.QueryWorkload(sf_dir, args.seed)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.prepare(spark, work)
    untraced = NullTracer()
    warm_up = Pass(wl, untraced)
    setup_s = time.perf_counter() - t_setup
    passes = [warm_up.check(wl)]

    timed: list[Pass] = []
    t0 = time.perf_counter()
    while not timed or time.perf_counter() - t0 < args.seconds:
        timed.append(Pass(wl, untraced))
    passes += [p.check(wl) for p in timed]
    live_mb = jvm_live_heap_mb(spark)

    traced = None
    if args.trace:
        if args.workload == "migrate":
            wl.sink_totals.clear()
        tracer = Tracer(spark.sparkContext)
        prof = cProfile.Profile()
        prof.enable()
        traced = Pass(wl, tracer)
        prof.disable()
        passes.append(traced.check(wl))
        profile_stats = pstats.Stats(prof).stats
    rss_mb = jvm_peak_rss_mb(spark)
    stop_session(spark)
    cpu1 = cpu_times()

    attempted = sum(len(p.latency) for p in passes)
    failed = sum(p.failed for p in passes)
    lat = [s for p in timed for _, s in p.latency]
    # the tail is taken within each pass, so its percentile does not change
    # with the number of passes that fit in --seconds
    tails = [tail([s for _, s in p.latency]) for p in timed]
    e2e = {"setup_s": setup_s,
           "run_s": statistics.median(p.wall for p in timed),
           "latency_p50_s": statistics.median(lat),
           "latency_tail_s": statistics.median(t[0] for t in tails)}
    report = dict(e2e, tail_percentile=tails[0][1], pass_samples=tails[0][2],
                  passes=len(timed), error_rate=failed / attempted,
                  jvm_peak_rss_mb=rss_mb, jvm_live_heap_mb=live_mb)
    if args.workload == "migrate":
        for op in wl.ops:
            report[f"{op}_s"] = statistics.median(
                s for p in timed for name, s in p.latency if name == op)
        report["files_per_s"] = len(wl.inp.files) / e2e["run_s"]
        report["files"] = len(wl.inp.files)
        report["folders"] = len(wl.inp.folders)
    else:
        report["queries_per_s"] = len(lat) / sum(p.wall for p in timed)
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g} {unit_of(k)}" if isinstance(v, float) else f"{k}={v}"
        for k, v in report.items()))

    if args.trace:
        values = traced_metrics(args, wl, traced, tracer.ops, timed,
                                profile_stats, work, out_dir, cpu0, cpu1)
        values["jvm.peak_rss_mb"] = rss_mb
        values["jvm.live_heap_mb"] = live_mb
    else:
        values = e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                    for k, v in values.items()},
    }))
    return 0


def traced_metrics(args, wl, traced, ops, timed, profile_stats, work,
                   out_dir, cpu0, cpu1) -> dict[str, float]:
    from perfbench import trace

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    jobs = trace.read_event_log(os.path.join(work, "eventlog"))
    trace.attach_jobs(ops, jobs)
    m = trace.layer_metrics(ops, jobs, cores, profile_stats)
    untraced_run_s = statistics.median(p.wall for p in timed)
    m["cache.persisted_rdds"] = traced.persisted
    if args.workload == "migrate":
        st = wl.sink_totals
        m["sinks.requests"] = st["requests"]
        m["sinks.ok_ratio"] = st["ok"] / st["requests"] if st["requests"] else 0.0
        m["sinks.wait_s"] = st["wait_us"] / 1e6
        m["packing.units"] = wl.packing["units"]
        m["packing.fill_ratio"] = wl.packing["fill_ratio"]
        # one X2 round = one collect() in pipelines.py; AQE runs each
        # collect as several jobs of one SQL execution
        m["packing.rounds"] = len({
            j["execution"] for j in jobs.values()
            if j["site"].startswith("collect at ")
            and "plans/pipelines.py" in j["site"]})
    else:
        for k in ("sinks.requests", "sinks.ok_ratio", "sinks.wait_s",
                  "packing.units", "packing.fill_ratio", "packing.rounds"):
            m[k] = 0
    d = [b - a for a, b in zip(cpu0, cpu1)]
    m["host.steal_frac"] = d[7] / sum(d) if sum(d) else 0.0
    with open("/proc/loadavg", encoding="ascii") as f:
        m["host.loadavg"] = float(f.read().split()[0])
    # the event log is on for the whole process, so the untraced passes
    # pay its cost too: this is the overhead of spans, job groups and
    # cProfile only (compare with a --trace 0 run's run_s for all of it)
    m["trace.run_s"] = traced.wall
    m["trace.untraced_run_s"] = untraced_run_s
    m["trace.overhead_excl_eventlog_s"] = traced.wall - untraced_run_s

    os.makedirs(out_dir, exist_ok=True)
    tree = {"name": args.workload, "seed": args.seed,
            "start": min(o.start for o in ops), "end": max(o.end for o in ops),
            "children": [o.to_dict() for o in ops],
            "jobs_by_file": trace.files_by_site(jobs),
            "jobs_per_op": [sum(1 for j in jobs.values()
                                if j["op"] == o.attrs["id"]) for o in ops],
            "metrics": m}
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(tree, f, indent=1)
    print(f"span tree: {os.path.relpath(path, ROOT)}")
    return m


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "rate", "utilization", "frac")):
        return "ratio"
    if name == "host.loadavg":
        return "load"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
