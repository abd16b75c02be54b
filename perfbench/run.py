"""End-to-end pipeline benchmark for aqueducts_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload text_curation --seed 1 --seconds 8 --trace 0

One process, ``local[4]``, one Spark session.  The run

1. sets up a session from process start, importing the program and
   launching the JVM (``setup_cold_s``), then stops it and builds a new
   one on the running JVM three times (``setup_s``, the median); each
   set-up ends when the session has run a query with every function
   registered;
2. builds the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench_work/``, outside every timed region);
3. runs one untimed warm-up operation, then complete rounds of
   operations until ``--seconds`` have passed, checking every output;
4. prints every metric by name with its unit, the recorded environment
   and, as the last line, one JSON object.

With ``--trace 0`` the JSON holds the end-to-end metrics.  With
``--trace 1`` the calls into each ``aqueducts_spark`` layer are wrapped
from outside, operations alternate between untraced and traced, and
the JSON holds the per-layer metrics (means per traced operation) plus
the tracing overhead.  Spans are written to
``.perfbench_work/trace-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CPUS = 4
MASTER = f"local[{CPUS}]"
DRIVER_MEMORY = "2g"
SETUP_REBUILDS = 3
# a traced run alternates untraced and traced operations, at least
# untraced-traced-untraced, so the overhead estimate is less skewed by
# operations still speeding up as the JVM warms
MIN_OPS_TRACED = 3

# The metrics BENCHMARK.json bounds.  Their times are CPU seconds of
# the process tree (driver Python, JVM, Python workers): on a shared
# virtual machine wall time moves with the time the hypervisor steals,
# which CPU time does not count.  The wall-clock figures are printed
# too (WALL) but not bounded.  ``run_cpu_tail_s`` follows ``metrics.tail``:
# a run holds too few operations for a true tail, so it is their maximum.
END_TO_END = {
    "setup_s": "s",
    "setup_cold_s": "s",
    "run_cpu_p50_s": "s",
    "run_cpu_tail_s": "s",
    "read_cpu_p50_s": "s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
WALL = {
    "setup_wall_s": "s",
    "setup_cold_wall_s": "s",
    "run_p50_s": "s",
    "run_tail_s": "s",
    "rows_per_s": "1/s",
    "read_p50_s": "s",
}


def process_age() -> float:
    """Seconds since this process started, from ``/proc``."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["text_curation", "delta_incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(root: Path, work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Spark's Python workers import the program."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [str(root), str(HERE)]


def build_session(work: Path):
    from aqueducts_spark.session import DEFAULT_CONFS, session_builder
    from harvest import StatusStore

    tmp = work / "tmp"
    # A fixed young generation, and regions large enough that Parquet's
    # buffers are not humongous objects: otherwise how far G1 grows the
    # young generation, and how many humongous regions it touches before
    # a collection, moved the JVM's peak resident memory by up to 30%
    # between runs.
    java_opts = (
        DEFAULT_CONFS["spark.driver.extraJavaOptions"]
        + f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        + " -Xmn512m -XX:G1HeapRegionSize=8m"
    )
    builder = (
        session_builder("perfbench", MASTER)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    for k, v in StatusStore.RETAIN_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark) -> None:
    """Register every function the runner registers and run one query."""
    from aqueducts_spark.functions import (
        register_compat_functions,
        register_udafs,
        register_udfs,
        register_udtfs,
    )

    for register in (register_udfs, register_compat_functions, register_udtfs, register_udafs):
        register(spark)
    spark.range(1000).selectExpr("sum(id)").collect()


def set_up(work: Path):
    """A cold set-up from process start, then ``SETUP_REBUILDS`` session
    rebuilds on the running JVM.  Returns the session and the (wall,
    cpu) seconds of the cold set-up and of each rebuild."""
    from harvest import Clock, settle

    spark = build_session(work)
    warm_session(spark)
    cold = (process_age(), settle())
    rebuilds = []
    for _ in range(SETUP_REBUILDS):
        spark.stop()
        clock = Clock()
        spark = build_session(work)
        warm_session(spark)
        rebuilds.append(clock.read())
    return spark, {"cold": cold, "rebuilds": rebuilds}


def shut_down(spark) -> None:
    """Stop the session and the JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        time.sleep(0.1)


def environment(spark, args, manifest, setups) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "driver_heap": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "input_rows": sum(t["rows"] for t in manifest.values()),
        "input_bytes": sum(t["bytes"] for t in manifest.values()),
        "setup_cold_wall_cpu_s": setups["cold"],
        "setup_rebuilds_wall_cpu_s": setups["rebuilds"],
    }


def run(args) -> int:
    root = Path.cwd()
    if not (root / "aqueducts_spark" / "__init__.py").is_file():
        print(f"perfbench: no aqueducts_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    work = root / ".perfbench_work"
    prepare_environment(root, work)

    from harvest import SETTLE_WAITS, RssSampler, cpu_ticks
    from inputs import ensure_inputs
    from metrics import bytes_written_per_input_byte, ratio, tail
    from tracing import PER_LAYER, Tracer, unit_of
    from workloads import WORKLOADS

    spark, setups = set_up(work)
    inputs, manifest = ensure_inputs(args.workload, args.seed, work)
    tracer = Tracer(enabled=bool(args.trace))
    results, attempted, failed = [], 0, 0
    try:
        tracer.install(spark)
        workload = WORKLOADS[args.workload](spark, inputs, manifest, work / "run" / args.workload, tracer)
        try:
            t0 = time.perf_counter()
            workload.trace_next = False
            warm = next(iter(workload.round()))()
            warmup_s = time.perf_counter() - t0
            attempted += 1
            failed += not warm.ok
            if not warm.ok:
                print(f"warm-up check failed: {warm.detail}", file=sys.stderr)
            rounds = 0
            steal0, total0 = cpu_ticks()
            with RssSampler() as rss:
                start = time.perf_counter()
                while (time.perf_counter() - start < args.seconds
                       or (args.trace and attempted - 1 < MIN_OPS_TRACED)):
                    for op in workload.round():
                        workload.trace_next = bool(args.trace) and attempted % 2 == 0
                        attempted += 1
                        try:
                            res = op()
                        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                            traceback.print_exc()
                            failed += 1
                            continue
                        if not res.ok:
                            failed += 1
                            print(f"check failed: {res.detail}", file=sys.stderr)
                        results.append(res)
                    rounds += 1
            steal1, total1 = cpu_ticks()
        finally:
            workload.close()
        env = environment(spark, args, manifest, setups)
    finally:
        tracer.uninstall()
        shut_down(spark)
    reads = [t for r in results for t in r.reads]
    if not reads:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    op_walls = [r.op_s for r in results]
    op_cpus = [r.op_cpu_s for r in results]
    tail_p, tail_wall = tail(op_walls)
    _, tail_cpu = tail(op_cpus)
    e2e = {
        "setup_s": statistics.median(c for _, c in setups["rebuilds"]),
        "setup_cold_s": setups["cold"][1],
        "run_cpu_p50_s": statistics.median(op_cpus),
        "run_cpu_tail_s": tail_cpu,
        "read_cpu_p50_s": statistics.median(c for _, c in reads),
        "bytes_written_per_input_byte": bytes_written_per_input_byte(
            [r.bytes_out for r in results], [r.bytes_in for r in results]),
        "peak_rss_mb": rss.peak / 2**20,
        "setup_wall_s": statistics.median(w for w, _ in setups["rebuilds"]),
        "setup_cold_wall_s": setups["cold"][0],
        "run_p50_s": statistics.median(op_walls),
        "run_tail_s": tail_wall,
        "rows_per_s": ratio(sum(r.rows_in for r in results), sum(op_walls)),
        "read_p50_s": statistics.median(w for w, _ in reads),
    }
    env.update({
        "samples": len(results),
        "read_samples": len(reads),
        "run_cpu_samples_s": [round(c, 2) for c in op_cpus],
        "read_cpu_samples_s": [round(c, 2) for _, c in reads],
        "run_tail_percentile": tail_p,
        "rounds": rounds,
        "warmup_s": warmup_s,
        # share of vCPU time the host gave to other guests while measuring
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        # waits for the process tree to go idle after each measurement
        "settle_waits": len(SETTLE_WAITS),
        "settle_wait_s": sum(SETTLE_WAITS),
        "fail_ratio": failed / attempted,
        "trace": args.trace,
    })
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in env.items():
        print(f"env {k} = {v}")
    for k, unit in END_TO_END.items():
        print(f"end_to_end {k} = {e2e[k]:.6g} {unit}")
    for k, unit in WALL.items():
        print(f"wall {k} = {e2e[k]:.6g} {unit}")
    print(f"end_to_end fail_ratio = {failed / attempted:.6g} (failed {failed} of {attempted})")
    if args.trace:
        overhead = (statistics.median(r.op_s for r in results if r.traced)
                    - statistics.median(r.op_s for r in results if not r.traced))
        layers = tracer.per_layer(overhead)
        for k in PER_LAYER:
            print(f"per_layer {k} = {layers[k]:.6g} {unit_of(k)}")
        for i, (excess, overlap) in enumerate(tracer.self_excess):
            print(f"trace op {i}: self times sum to wall time + {excess:.6f} s; "
                  f"parallel spans ran at once for {overlap:.6f} s")
        for c in tracer.commits:
            print("delta commit", json.dumps(c, sort_keys=True))
        tracer.dump(work / f"trace-{args.workload}-s{args.seed}.json")
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
