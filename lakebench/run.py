"""Run one benchmark workload and print its metrics as one JSON line.

    python3 lakebench/run.py --workload erd|payload --seed N \\
        --seconds S --trace 0|1

Run from the repository root. One process, one fresh Spark session, one
client thread: each op starts after the previous op's action returns.
Pass 0 is the cold pass; warm passes follow until ``--seconds`` seconds
of warm passes have run (at least one; three with ``--trace 1``). Every
op's output is checked against a DuckDB reference after the passes.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs
spans around the calls into each engine layer, traces pass 0 and the
warm passes in the order untraced, traced, untraced (so neither side
gets the later, warmer passes), and reports the per-layer metrics
(``layers.py``).

The last line of stdout is the result; a ``lakebench-noise`` JSON line
on stderr records the launch settings, load average and CPU steal.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lakebench import procstat  # noqa: E402

WORKLOAD_NAMES = ["erd", "payload"]


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def launch_settings(work: str, trace: bool) -> dict[str, str]:
    """Environment for the engine's session factory and the Spark JVM."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, procstat.memory_limit_bytes() // (4 << 30)))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf", "spark.ui.retainedJobs=1000000",
                   "--conf", "spark.ui.retainedStages=1000000"]
    path = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_WAREHOUSE": f"{work}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        # read by every JVM, including spark-submit's launcher
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp "
                             "-XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def run_passes(wl, tracer, meter, sc, seconds: float, trace: bool):
    """Run passes until the warm ones have taken ``seconds``. Returns the
    pass records and every (op, output, raised) triple."""
    from lakebench.sparkstore import gc_s, reset_heap_peaks

    min_warm = 3 if trace else 1
    recs, outputs, warm_s, p = [], [], 0.0, 0
    while p <= min_warm or warm_s < seconds:
        tracer.detail = trace and p % 2 == 0
        tracer.pass_no = p
        wl.before_pass(p)
        if p == 0:
            reset_heap_peaks(sc)
        cpu0, gc0 = meter.read(), gc_s(sc)
        t0 = time.perf_counter()
        with tracer.span("pass", layer=False):
            for op in wl.ops:
                try:
                    outputs.append((op, op.run(), False))
                except Exception:  # a failing op is counted, not fatal
                    traceback.print_exc()
                    outputs.append((op, None, True))
        wall = time.perf_counter() - t0
        recs.append({"p": p, "wall": wall, "traced": tracer.detail,
                     "cpu": meter.delta(cpu0, meter.read()),
                     "gc_s": gc_s(sc) - gc0})
        if p:
            warm_s += wall
        p += 1
    tracer.detail = False
    return recs, outputs


def check_outputs(outputs) -> int:
    """Number of op executions that raised or mismatched their
    reference; each is named on stderr."""
    failed = 0
    for op, out, raised in outputs:
        try:
            ok = not raised and op.check(out)
        except Exception:  # a reference that cannot be compared fails
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
            print(f"lakebench: FAILED {op.name}", file=sys.stderr)
    return failed


def pass_jobs(spans, jobs) -> dict[int, int]:
    """Jobs per pass: the jobs charged to any span of the pass."""
    from lakebench.layers import job_maps
    from lakebench.spans import charge_jobs

    charged, orphans = charge_jobs(*job_maps(jobs), spans)
    counts: dict[int, int] = {}
    for s in spans:
        counts[s.pass_no] = counts.get(s.pass_no, 0) + len(charged[s.sid])
    if orphans:
        print(f"lakebench: {len(orphans)} jobs outside any pass",
              file=sys.stderr)
    return counts


def engine_scratch() -> set[str]:
    """The engine's ``/tmp/spark_graft_*`` scratch dirs and their
    entries (stream source dirs, pid-scoped stores)."""
    return set(glob.glob("/tmp/spark_graft_*")
               + glob.glob("/tmp/spark_graft_*/*"))


def remove_new_scratch(before: set[str]) -> None:
    """Remove the scratch entries created since ``before`` was taken,
    entries first, then their dirs, so runs stay independent."""
    for path in sorted(engine_scratch() - before, reverse=True):
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.unlink(path)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    jvm = gw.proc
    kids = procstat.descendants(jvm.pid)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while any(map(_alive, kids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for k in filter(_alive, kids):
        os.kill(k, signal.SIGKILL)


def run(args, work: str) -> dict:
    env = launch_settings(work, bool(args.trace))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(env)
    noise = {"settings": env, "loadavg_start": procstat.loadavg()}
    steal0, t_start = procstat.steal_s(), time.monotonic()

    from gcp_datalake_utils_spark.session import get_spark
    from lakebench import layers, sparkstore
    from lakebench.workloads import DATA_DIR, WORKLOADS, Duck
    from lakebench.spans import Tracer

    spark = get_spark(f"lakebench-{args.workload}")
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = Tracer(sc)
        tracer.pass_no = -1
        with tracer.span("setup", layer=False):
            spark.range(1).count()
        setup_s = process_age_s()

        duck = Duck(DATA_DIR, os.path.join(ROOT, ".lakebench_cache"))
        build, install_spans = WORKLOADS[args.workload]
        if args.trace:
            install_spans(tracer)
        wl = build(spark, tracer, args.seed, duck, work)
        pid = sparkstore.jvm_pid(sc)
        meter = procstat.CpuMeter(pid)

        recs, outputs = run_passes(wl, tracer, meter, sc, args.seconds,
                                   bool(args.trace))
        # peaks first: the full collection behind the retained heap
        # resets nothing but would add its own work to them
        memory = {"proc.jvm_peak_rss_mb": procstat.peak_rss_mb(pid),
                  "proc.jvm_heap_peak_mb": sparkstore.heap_peak_mb(sc)}
        retained_mb = sparkstore.retained_heap_mb(sc)
        sparkstore.drain(sc)
        jobs = sparkstore.read_jobs(sc, tracer.wall_offset)
        failed = check_outputs(outputs)
        wl.close()

        if args.trace:
            metrics = layers.per_layer(tracer.spans, jobs,
                                       sparkstore.read_stages(sc), recs,
                                       setup_s)
            metrics.update(memory)
            units = dict(layers.PER_LAYER)
        else:
            counts = pass_jobs(tracer.spans, jobs)
            warm = recs[1:]
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": recs[0]["wall"],
                "pass_s": statistics.median(r["wall"] for r in warm),
                "pass_cpu_s": statistics.median(
                    sum(r["cpu"].values()) for r in warm),
                "first_pass_jobs": counts.get(0, 0),
                "pass_jobs": statistics.median(
                    counts.get(r["p"], 0) for r in warm),
                "jvm_retained_heap_mb": retained_mb,
            }
            units = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
                     "pass_cpu_s": "s", "first_pass_jobs": "count",
                     "pass_jobs": "count", "jvm_retained_heap_mb": "MB"}
    finally:
        stop_spark(spark)

    elapsed = time.monotonic() - t_start
    noise.update({"loadavg_end": procstat.loadavg(),
                  "steal_s_per_s": (procstat.steal_s() - steal0) / elapsed,
                  "passes": [{"wall": r["wall"], "traced": r["traced"],
                              **r["cpu"]} for r in recs]})
    print("lakebench-noise " + json.dumps(noise), file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(outputs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import gcp_datalake_utils_spark  # noqa: F401
        from lakebench.workloads import DATA_DIR
    except ImportError as e:
        print(f"lakebench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"lakebench: no input tables at {DATA_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench_work", f"run-{os.getpid()}")
    scratch = engine_scratch()
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        remove_new_scratch(scratch)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
