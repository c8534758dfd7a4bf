"""Benchmark entry point: one seeded, single-client closed loop of one
workload on the shipped Spark session.

    python3 perfbench/run.py --workload array_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` installs the span wrappers, reads Spark's
counters per operation and prints the per-layer metrics.  Human-readable
lines come first; the last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
Every scratch file lives under ``.perfbench/`` in the checkout.  See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_IMPORT = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("array_read", "array_write")
# A run must end within 180 s: give up well before, leaving time to stop
# the session, and report nothing.
WATCHDOG_S = 120
FLOOR_QUERIES = 5


class Watchdog(BaseException):
    """Not an Exception, so the loop's per-operation handler cannot
    swallow it."""


def _alarm(signum, frame):
    raise Watchdog(f"run exceeded {WATCHDOG_S} s")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """sha1 over the engine's sources: identifies the code under test in
    a checkout that is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "mandoline_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_revision() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent_of[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent_of.items():
            if pp == p:
                out.append(c)
                frontier.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def measure_floor(spark) -> tuple[float, list[float]]:
    """Per-job scheduling floor: the median wall time of a zero-data
    two-stage query (a source stage, one exchange, a result stage)
    divided by the number of Spark jobs it runs (with adaptive
    execution on, each stage is submitted as its own job)."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext

    def job():
        spark.range(8).groupBy((F.col("id") % 2).alias("k")).count().collect()

    job()  # first query of the shape pays codegen
    sc.setJobGroup("perfbench-floor", "scheduling floor")
    runs = []
    try:
        for _ in range(FLOOR_QUERIES):
            t0 = time.perf_counter()
            job()
            runs.append(time.perf_counter() - t0)
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup("perfbench-floor"))
    per_query = jobs / FLOOR_QUERIES
    return statistics.median(runs) / per_query, runs


def prepare_env(work: str) -> None:
    """Keep every file the session writes inside the checkout and make
    the engine importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_session(spark, gateway_proc) -> None:
    """Stop Spark and wait for the JVM and every process it started."""
    procs = _children(gateway_proc.pid)
    try:
        spark.stop()
    finally:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if gateway_proc.stdin is not None:
            gateway_proc.stdin.close()
        try:
            gateway_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
        deadline = time.monotonic() + 20
        for p in procs:
            while os.path.exists(f"/proc/{p}") and _comm(p) != "":
                if time.monotonic() > deadline:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                    break
                time.sleep(0.05)


def run_loop(workload, state, seconds: float, tracer, seed: int):
    """The closed loop: the next operation starts when the previous one
    (and its output check) has finished, until the workload has no more
    operations (it is told which share of ``seconds`` has passed).  In
    a traced run every operation is traced."""
    import numpy as np

    rng = np.random.default_rng([seed, 1])
    records: list[dict] = []
    t_start = time.perf_counter()

    def execute(op) -> None:
        if op.prepare is not None:
            op.prepare()
        traced = tracer is not None
        if traced:
            tracer.begin(op.kind)
        t0 = time.perf_counter()
        err = None
        result = None
        try:
            result = op.run()
        except Exception as e:  # a failed operation counts; the loop goes on
            err = f"{type(e).__name__}: {e}"
        dt = op.extra.pop("timed_s", time.perf_counter() - t0)
        if traced:
            tracer.end(op.kind)
        if err is None:
            try:
                err = op.check(result)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        records.append(
            {"kind": op.kind, "name": op.name, "s": dt, "error": err,
             **op.extra}
        )

    while True:
        frac = (time.perf_counter() - t_start) / seconds
        ops = workload.next_ops(state, rng, frac)
        if not ops:
            break
        for op in ops:
            execute(op)
    loop_s = time.perf_counter() - t_start
    for op in workload.final_ops(state):
        execute(op)
    return records, loop_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mandoline_spark")):
        print(f"no engine sources under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(WATCHDOG_S)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    for d in os.listdir(base):  # left behind by runs that were killed
        pid = d[len("work-"):]
        if d.startswith("work-") and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    prepare_env(work)
    os.chdir(work)  # stray session files (warehouse, logs) land here

    from perfbench import workloads
    from mandoline_spark.sources.session import get_spark

    spark = None
    gateway_proc = None
    try:
        t0 = time.perf_counter()
        spark = get_spark()
        session_start_s = time.perf_counter() - t0
        from pyspark import SparkContext

        gateway_proc = SparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")

        workload = workloads.make(
            args.workload, spark, work, args.seed, args.seconds
        )
        t0 = time.perf_counter()
        state = workload.build()
        build_s = time.perf_counter() - t0
        setup_s = session_start_s + build_s
        floor_s, floor_runs = measure_floor(spark)

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        records, loop_s = run_loop(
            workload, state, args.seconds, tracer, args.seed
        )
        if tracer is not None:
            tracer.uninstall()
        e2e, notes = workload.end_to_end(state, records)
        e2e["setup_s"] = setup_s
        # peak resident memory of the Python driver, where reads are
        # assembled (ru_maxrss is in KiB on Linux)
        e2e["driver_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / 1e6
        )
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": host_cpus(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark.master": spark.conf.get("spark.master"),
            "spark.sql.adaptive.enabled": spark.conf.get(
                "spark.sql.adaptive.enabled"
            ),
            "spark.sql.shuffle.partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "spark.version": spark.version,
            "git_revision": git_revision(),
            "source_sha1": source_digest(),
            "fixture": workload.describe(state),
            "session_start_s": session_start_s,
            "build_s": build_s,
            "sched_floor_s": floor_s,
            "sched_floor_runs_s": floor_runs,
            "loop_s": loop_s,
        }
        layer = None
        if tracer is not None:
            layer = workload.per_layer(tracer, records)
            layer["session.start_s"] = session_start_s
            layer["spark.sched_floor_s"] = floor_s
            layer["spark.jobs_x_floor_s"] = layer["spark.jobs"] * floor_s
            layer["trace.overhead_s"] = tracer.overhead_s()
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"
            ))
    except Watchdog as e:
        print(f"aborted: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if spark is not None:
            t0 = time.perf_counter()
            stop_session(spark, gateway_proc)
            stop_s = time.perf_counter() - t0
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    context["stop_s"] = stop_s
    context["wall_s"] = time.perf_counter() - T_IMPORT
    failures = [r for r in records if r["error"] is not None]
    spec = workloads.metric_spec()
    metrics_out = {}
    if args.trace:
        wanted = spec["per_layer"]
        values = layer
    else:
        wanted = spec["end_to_end"]
        values = e2e
    for name, unit in wanted:
        metrics_out[name] = {"value": float(values[name]), "unit": unit}

    print("context " + json.dumps(context, sort_keys=True))
    shown = wanted if args.trace else wanted + spec["reported"]
    for name, unit in shown:
        print(f"{name:40s} {values[name]:14.6g} {unit:6s} "
              f"{notes.get(name, '')}".rstrip())
    for r in failures:
        print(f"FAILED {r['name']}: {r['error']}")
    record = {"context": context, "end_to_end": e2e, "per_layer": layer,
              "operations": records}
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": metrics_out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
