#!/usr/bin/env python3
"""Same-host benchmark of the staging engine: one seeded workload per run.

    python3 perfbench/run.py --workload {ingest,analytics} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Each run starts its own engine session
(``session.get_spark`` sized to the host's cores), generates its inputs
from ``--seed`` under a private run root inside the checkout, runs the
workload's fixed list of ops once in a closed loop (one client, next op
after the previous one returns), checks every op's output untimed, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A run does the same work whatever ``--seconds`` says: the option is
accepted for the command-line contract, and one pass of either workload
takes longer than the 10 s that BENCHMARK.json asks for.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs with Spark's event
log on and reports the per-layer metrics.

A context line before the result records the host (cores, Spark
master, default parallelism, CPU steal, load) and every op latency.
See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import time

T_WALL0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS_DIR = os.path.join(REPO, ".perfbench_runs")


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc), so
    ``setup_s`` includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return T_WALL0


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def stop_jvm() -> None:
    """End the JVM the session launched and wait for it: the gateway
    server exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """One run: its session, seed, run root and tracer."""

    def __init__(self, seed: int, root: str, tracer) -> None:
        self.seed = seed
        self.root = root
        self.tracer = tracer
        self.spark = None


def prepare_env(root: str, event_log: str | None) -> None:
    """Keep every file the run makes inside ``root``: temp dirs the
    engine creates, Spark's scratch space and ``spark-warehouse`` (the
    working directory: ``spark.sql.warehouse.dir`` is static and the
    engine never sets it)."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # both JVMs (spark-submit's launcher and the Spark driver): temp files in
    # the run root, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    os.chdir(root)


def run(args, root: str) -> tuple[dict, dict]:
    # Import the engine first: a checkout without it fails here, before
    # any work and without a result line.
    sys.path[:0] = [REPO, HERE]
    import data_lake_staging_engine_spark  # noqa: F401

    import stats
    import tracing
    import workloads

    t_proc = process_start()
    jiffies0 = cpu_jiffies()
    load0 = os.getloadavg()[0]
    event_log = os.path.join(root, "eventlog") if args.trace else None
    prepare_env(root, event_log)
    tracer = tracing.Tracer(bool(args.trace))
    b = Bench(args.seed, root, tracer)
    wl = workloads.WORKLOADS[args.workload]()
    nproc = len(os.sched_getaffinity(0))
    setup: dict[str, float] = {}

    from data_lake_staging_engine_spark.session import fixture_split_bytes, get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=nproc,
        shuffle_partitions=nproc,
        max_partition_bytes=fixture_split_bytes(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    b.spark = tracer.spark = spark
    setup["start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        with tracer.span("session.input", "session"):
            wl.inputs(b)
        setup["input_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.warmup", "session"):
            wl.warmup(b)
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.time() - t_proc

        lat: dict[str, float] = {}
        main: list[float] = []
        failed = 0
        ops = wl.ops(b)
        t_loop = time.perf_counter()
        for i, op in enumerate(ops):
            t0 = time.perf_counter()
            try:
                with tracer.span(op.name, op.layer, group=f"{args.workload}.{op.name}.{i}"):
                    op.fn()
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            lat[op.name] = time.perf_counter() - t0
            if op.in_p50:
                main.append(lat[op.name])
        wall = time.perf_counter() - t_loop
        attempted = len(ops)
        rss = vm_hwm_mb() + vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )

        t = time.perf_counter()
        try:
            bad = wl.check(b)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            bad = {"check": f"{type(e).__name__}: {e}"}
        check_s = time.perf_counter() - t
        failed = min(attempted, failed + len(bad))
        master = spark.sparkContext.master
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        spark.stop()
        stop_jvm()

    jiffies1 = cpu_jiffies()
    dj = max(jiffies1[0] - jiffies0[0], 1)
    p50 = statistics.median(main)
    tail_v, tail_pct, n = stats.tail(main)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "master": master, "defaultParallelism": parallelism,
        "steal_pct": round(100.0 * (jiffies1[1] - jiffies0[1]) / dj, 3),
        "load1_start": round(load0, 2), "load1_end": round(os.getloadavg()[0], 2),
        "ops": {k: round(v, 4) for k, v in lat.items()},
        "op_tail_s": tail_v, "tail_pct": tail_pct, "tail_n": n,
        "fail_ratio": failed / max(attempted, 1), "failures": bad,
        "peak_rss_mb": round(rss, 1), "check_s": round(check_s, 3),
        "setup": {k: round(v, 4) for k, v in setup.items()},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "op_p50_s": {"value": p50, "unit": "s"},
        }
        return context, result
    ctx = {
        "setup": setup,
        "wall_s": wall,
        "rejects_dir": getattr(getattr(wl, "pipe", None), "rejects_dir", None),
    }
    layers = tracing.layer_metrics(tracer, tracing.read_event_log(event_log), ctx)
    result["metrics"] = {
        k: {"value": v, "unit": tracing.unit(k)} for k, v in layers.items()
    }
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the command-line contract; a run does "
                         "the same work whatever it says")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.makedirs(RUNS_DIR, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    cwd = os.getcwd()
    try:
        context, result = run(args, root)
    finally:
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
