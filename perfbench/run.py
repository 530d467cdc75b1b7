"""The repository benchmark: Pregel workloads through the engine's
public entry points, with output checks and optional per-layer tracing.

    python3 perfbench/run.py --workload pagerank_zipf --seed 1 --seconds 8 --trace 0

One process runs one workload in its own Spark JVM (``local[4]``, 4
shuffle partitions, a fixed 2g driver heap, the engine's defaults
otherwise):

1. set-up: start the session, then generate the seeded input and hand
   it to Spark ``SETUP_REPS`` times; ``setup_s`` is the session start
   plus the median of those repetitions, in CPU seconds;
2. one warm-up job run, cut at ``WARMUP_SUPERSTEPS`` and discarded;
3. timed job runs until ``--seconds`` of wall time have accumulated,
   each checked against an independent oracle after its timer stops.

With ``--trace 1`` the timed window is split: the first half untraced,
the second half traced (see tracing.py); the per-layer metrics are
medians over the traced runs, and ``trace.overhead_s`` is the traced
minus the untraced median job time.  ``--workload all`` runs every
workload, each in a fresh process.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` ({name: {"value", "unit"}}), the end-to-end
metrics untraced and the per-layer metrics traced.  Everything the run
writes goes under ``.perfbench-work/`` in the current directory, which
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# The one warm-up run stops after this many supersteps.  The first supersteps
# in a fresh JVM carry most of its warm-up (class loading, code
# generation); a full-length warm-up of the 40-superstep workload would
# add ~20 s to each of its runs.
WARMUP_SUPERSTEPS = 4
MAX_REPS = 500
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # Linux truncates names to 15 chars

# name -> (unit, better); the same lists as BENCHMARK.json.  Times
# are CPU seconds of the Spark JVM plus this process (cpu_seconds): on
# a shared host the wall time of the same run swings by up to 1.8x with
# the CPU time other tenants take; its CPU time moves far less.
END_TO_END = {
    "job_cpu_s": ("s", "lower"),
    "supersteps_per_cpu_hour": ("1/h", "higher"),
    "edges_per_cpu_s": ("1/s", "higher"),
    "supersteps": ("count", "lower"),
    "setup_s": ("s", "lower"),
    "success_rate": ("ratio", "higher"),
    "jvm_peak_rss_mb": ("MB", "lower"),
}
# The same runs in wall-clock time: printed, and reported with the
# per-layer metrics, but not bounded.
WALL = {
    "wall.job_s": ("s", "lower"),
    "wall.supersteps_per_hour": ("1/h", "higher"),
    "wall.edges_per_s": ("1/s", "higher"),
    "wall.superstep_s_p50": ("s", "lower"),
    "wall.superstep_s_p90": ("s", "lower"),
    "wall.setup_s": ("s", "lower"),
}

# Layers whose Spark jobs are counted separately (the others only
# build plans); "run" is a job run's own result collect, outside every
# engine call.
COUNTED_LAYERS = (
    "fixtures", "program.prepare_edges", "edges", "program.pregel",
    "pregel.materialize", "pregel.barrier", "checkpoint", "run",
)
SETUP_LAYERS = ("fixtures", "program.prepare_edges")
PREGEL_LAYERS = (
    "program.pregel", "scatter", "combine", "pregel.materialize",
    "pregel.barrier", "checkpoint",
)
SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")

PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "fixtures.generate_s": ("s", "lower"),
    "program.prepare_edges_s": ("s", "lower"),
    "transcripts.read_s": ("s", "lower"),
    "edges.build_s": ("s", "lower"),
    "edges.rows_out": ("count", "lower"),
    "edges.turns_per_s": ("1/s", "higher"),
    "algo.self_s": ("s", "lower"),
    "pregel.startup_s": ("s", "lower"),
    "scatter.plan_s": ("s", "lower"),
    "scatter.calls": ("count", "lower"),
    "scatter.broadcast_calls": ("count", "higher"),
    "combine.plan_s": ("s", "lower"),
    "pregel.materialize_s": ("s", "lower"),
    "pregel.barrier_s": ("s", "lower"),
    "pregel.supersteps": ("count", "lower"),
    "pregel.jobs_per_superstep": ("count", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.writes": ("count", "lower"),
    "checkpoint.bytes": ("B", "lower"),
    "combine.shuffle_skew": ("ratio", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    **{f"spark.{c}": ("count", "lower") for c in SPARK_COUNTERS},
    **{
        f"spark.{c}.{layer}": ("count", "lower")
        for layer in COUNTED_LAYERS for c in SPARK_COUNTERS
    },
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.overhead_cpu_s": ("s", "lower"),
    **WALL,
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import mesos_pregel_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    workdir = Path.cwd() / ".perfbench-work" / f"run-{os.getpid()}"
    workdir.mkdir(parents=True, exist_ok=True)
    try:
        result = measure(WORKLOADS[args.workload], args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            workdir.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    if result is None:
        return 1
    report(args.workload, result)
    return 0


def run_all(args, names) -> int:
    """Every workload in a fresh process (and so a fresh JVM)."""
    results, code = {}, 0
    for name in names:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write("".join(proc.stdout.splitlines(keepends=True)[:-1]))
        if proc.returncode != 0:
            code = proc.returncode
            continue
        results[name] = json.loads(proc.stdout.splitlines()[-1])
    print(json.dumps(results))
    return code


# ---- session ------------------------------------------------------------

def start_session(workdir: Path, traced: bool):
    from mesos_pregel_spark.session import get_spark
    from tracing import TRACE_CONF

    # Spark's scratch files and every temp file stay in the work dir;
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir, and
    # every JVM (spark-submit's launcher too) would write /tmp/hsperfdata.
    tmp = workdir / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": str(workdir / "spark-local"),
        # A fixed heap (-Xms = max): the inputs are small, and with the
        # engine's 8g default the heap, and so the peak RSS, wanders
        # with the collector's sizing decisions from run to run.
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp}",
        **(TRACE_CONF if traced else {}),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and its JVM and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def own_cpu_seconds() -> float:
    t = os.times()
    return t.user + t.system


def _stat_cpu(path: str) -> float:
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()  # utime, stime: fields 14, 15
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process and the Spark JVM, less the
    JVM's JIT compiler threads.  A fresh JVM is still compiling during
    the timed runs (about 30% of their CPU time), by an amount that
    varies from run to run; a long-running driver pays it once.  The
    compiler threads never exit (-XX:-UseDynamicNumberOfCompilerThreads),
    so subtracting the live ones is exact."""
    pid = spark.sparkContext._gateway.proc.pid
    total = _stat_cpu(f"/proc/{pid}/stat")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    total -= _stat_cpu(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:
            pass  # a thread that has just exited
    return total + own_cpu_seconds()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


# ---- measurement --------------------------------------------------------

def measure(workload_cls, args, workdir: Path) -> dict | None:
    from tracing import Tracer

    traced = bool(args.trace)
    cpu0 = own_cpu_seconds()
    spark, session_s = start_session(workdir, traced)
    try:
        session_cpu = cpu_seconds(spark) - cpu0
        tracer = Tracer(spark.sparkContext)
        wl = workload_cls(spark, tracer, args.seed, args.size, str(workdir))

        if traced:
            tracer.enable()
        setup_times, setup_cpu = [], []
        for _ in range(SETUP_REPS):
            tracer.begin("setup")
            c0, t0 = cpu_seconds(spark), time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
            setup_cpu.append(cpu_seconds(spark) - c0)
            tracer.end()
        tracer.disable()
        log(f"session {session_s:.2f}s ({session_cpu:.2f}s cpu), "
            f"set-ups {fmt(setup_times)} ({fmt(setup_cpu)} cpu)")
        with phase("oracle"):
            wl.build_oracle()
        with phase("warm-up"):
            wl.after(wl.job(max_supersteps=WARMUP_SUPERSTEPS))
        runs = {"timed": [], "traced": []}
        window = args.seconds / 2 if traced else args.seconds
        timed_window(wl, tracer, window, runs["timed"])
        log(f"timed runs {fmt(r['seconds'] for r in runs['timed'])} "
        f"({fmt(r['cpu_seconds'] for r in runs['timed'])} cpu)")
        if traced:
            tracer.enable()
            timed_window(wl, tracer, window, runs["traced"])
            log(f"traced runs {fmt(r['seconds'] for r in runs['traced'])}")
            with phase("status store"):
                counters = tracer.spark_counters()
            tracer.disable()
        rss = jvm_peak_rss_mb(spark)
    finally:
        with phase("stop"):
            stop_session(spark)

    attempted = sum(len(v) for v in runs.values())
    failed = sum(not r["ok"] for v in runs.values() for r in v)
    good = [r for r in runs["timed"] if r["ok"]]
    if not good:
        print("perfbench: no timed run succeeded", file=sys.stderr)
        return None
    job_s = statistics.median(r["seconds"] for r in good)
    job_cpu_s = statistics.median(r["cpu_seconds"] for r in good)
    supersteps = statistics.median(r["supersteps"] for r in good)
    edge_supersteps = statistics.median(r["edge_supersteps"] for r in good)
    steps = [d for r in good for d in r["step_seconds"]]
    e2e = {
        "job_cpu_s": job_cpu_s,
        "supersteps_per_cpu_hour": supersteps / job_cpu_s * 3600.0,
        "edges_per_cpu_s": edge_supersteps / job_cpu_s,
        "supersteps": float(supersteps),
        "setup_s": session_cpu + statistics.median(setup_cpu),
        "success_rate": 1.0 - failed / attempted,
        "jvm_peak_rss_mb": rss,
    }
    wall = {
        "wall.job_s": job_s,
        "wall.supersteps_per_hour": supersteps / job_s * 3600.0,
        "wall.edges_per_s": edge_supersteps / job_s,
        "wall.superstep_s_p50": percentile(steps, 50),
        "wall.superstep_s_p90": percentile(steps, 90),
        "wall.setup_s": session_s + statistics.median(setup_times),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "samples": {"timed_runs": len(good), "supersteps_pooled": len(steps),
                    "setup_reps": len(setup_times)},
        "e2e": e2e,
        "wall": wall,
    }
    if traced:
        result["layers"] = {
            **layer_metrics(tracer.records, counters, runs, session_s, job_s, job_cpu_s),
            **wall,
        }
    return result


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fmt(seconds) -> str:
    return "[" + ", ".join(f"{s:.2f}" for s in seconds) + "]s"


@contextmanager
def phase(name: str):
    t0 = time.perf_counter()
    yield
    log(f"{name} {time.perf_counter() - t0:.2f}s")


def one_run(wl, tracer) -> dict:
    """One job run: timed from the engine call to the collected result,
    then checked and cleaned up outside the timer."""
    tracer.begin("job")
    out = None
    c0, t0 = cpu_seconds(wl.spark), time.perf_counter()
    try:
        out = wl.job()
        seconds = time.perf_counter() - t0
        cpu = cpu_seconds(wl.spark) - c0
        ok = wl.check(out)
        if not ok:
            print(f"perfbench: {wl.name} output does not match the oracle", file=sys.stderr)
    except Exception:
        seconds = time.perf_counter() - t0
        cpu = cpu_seconds(wl.spark) - c0
        traceback.print_exc()
        ok = False
    finally:
        tracer.end()
        if out is not None:
            wl.after(out)
    runs = out.runs if out is not None else []
    step_seconds = []
    for run, _edges in runs:
        # elapsed_sec is cumulative from the start of each Pregel run
        elapsed = [m["elapsed_sec"] for m in run.metrics]
        step_seconds += [b - a for a, b in zip([0.0] + elapsed, elapsed)]
    return {
        "ok": ok,
        "seconds": seconds,
        "cpu_seconds": cpu,
        "supersteps": sum(run.superstep for run, _e in runs),
        "edge_supersteps": sum(run.superstep * edges for run, edges in runs),
        "step_seconds": step_seconds,
    }


def timed_window(wl, tracer, seconds: float, into: list) -> None:
    spent = 0.0
    while (spent < seconds or not into) and len(into) < MAX_REPS:
        r = one_run(wl, tracer)
        into.append(r)
        spent += r["seconds"]


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def layer_metrics(records, counters, runs, session_s, job_s, job_cpu_s) -> dict:
    """Per-layer metrics: set-up layers as medians over the set-up
    repetitions, everything else as medians over the traced job runs."""

    def med(values):
        values = list(values)
        return float(statistics.median(values)) if values else 0.0

    setups = [r for r in records if r.kind == "setup"]
    jobs = [r for r in records if r.kind == "job"]

    def spark_count(rec, layer, counter):
        return counters.get(rec.unit, {}).get(layer, {}).get(counter, 0)

    def job_total(rec, counter):
        return sum(c.get(counter, 0) for layer, c in counters.get(rec.unit, {}).items()
                   if layer != "_skew")

    def per_job(fn):
        return med(fn(r) for r in jobs)

    out = {
        "session.get_spark_s": session_s,
        "fixtures.generate_s": med(r.total["fixtures"] for r in setups),
        "program.prepare_edges_s": med(r.total["program.prepare_edges"] for r in setups),
        "transcripts.read_s": per_job(lambda r: r.total["transcripts"]),
        "edges.build_s": per_job(lambda r: r.total["edges"]),
        "edges.rows_out": per_job(lambda r: r.counts["edges.rows_out"]),
        "edges.turns_per_s": per_job(
            lambda r: r.counts["edges.turns_in"] / r.total["edges"] if r.total["edges"] else 0.0
        ),
        "algo.self_s": per_job(lambda r: r.self_time["algo"]),
        "pregel.startup_s": per_job(lambda r: r.counts["pregel.startup_s"]),
        "scatter.plan_s": per_job(lambda r: r.total["scatter"]),
        "scatter.calls": per_job(lambda r: r.calls["scatter"]),
        "scatter.broadcast_calls": per_job(lambda r: r.counts["scatter.broadcast_calls"]),
        "combine.plan_s": per_job(lambda r: r.total["combine"]),
        # self time: checkpoint writes made from materialize are excluded
        "pregel.materialize_s": per_job(lambda r: r.self_time["pregel.materialize"]),
        "pregel.barrier_s": per_job(lambda r: r.total["pregel.barrier"]),
        "pregel.supersteps": per_job(lambda r: r.calls["pregel.barrier"]),
        "pregel.jobs_per_superstep": per_job(
            lambda r: sum(spark_count(r, layer, "jobs") for layer in PREGEL_LAYERS)
            / max(r.calls["pregel.barrier"], 1)
        ),
        "checkpoint.write_s": per_job(lambda r: r.total["checkpoint"]),
        "checkpoint.writes": per_job(lambda r: r.calls["checkpoint"]),
        "checkpoint.bytes": per_job(lambda r: r.counts["checkpoint.bytes"]),
        "combine.shuffle_skew": per_job(
            lambda r: med(counters.get(r.unit, {}).get("_skew", []))
        ),
        "spark.shuffle_write_bytes": per_job(lambda r: job_total(r, "shuffle_write_bytes")),
        "spark.executor_run_s": per_job(lambda r: job_total(r, "executor_run_ms") / 1000.0),
    }
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = per_job(lambda r: job_total(r, c))
        for layer in COUNTED_LAYERS:
            recs = setups if layer in SETUP_LAYERS else jobs
            out[f"spark.{c}.{layer}"] = med(spark_count(r, layer, c) for r in recs)
    traced = [r for r in runs["traced"] if r["ok"]]
    out["trace.job_s"] = med(r["seconds"] for r in traced)
    out["trace.overhead_s"] = out["trace.job_s"] - job_s
    out["trace.overhead_cpu_s"] = med(r["cpu_seconds"] for r in traced) - job_cpu_s
    return {k: float(v) for k, v in out.items()}


# ---- output -------------------------------------------------------------

def report(workload: str, result: dict) -> None:
    """The metrics as a table, then the JSON line: end-to-end metrics
    untraced, per-layer metrics (which include the wall-clock ones)
    traced."""
    traced = "layers" in result
    s = result["samples"]
    print(f"# {workload}: {s['timed_runs']} timed runs, {s['supersteps_pooled']} "
          f"supersteps pooled, {s['setup_reps']} set-ups; "
          f"{result['attempted'] - result['failed']}/{result['attempted']} runs correct")
    tables = [(END_TO_END, result["e2e"], "")]
    if traced:
        tables.append((PER_LAYER, result["layers"], ""))
    else:
        tables.append((WALL, result["wall"], " (not bounded)"))
    for specs, values, note in tables:
        for name, (unit, _better) in specs.items():
            print(f"  {name:<40} {values[name]:>16.6g} {unit}{note}")
    specs, values, _ = tables[-1] if traced else tables[0]
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, (unit, _b) in specs.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
