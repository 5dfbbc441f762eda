"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Builds its inputs from
the seed, starts Spark on ``local[<cpu count>]`` through the program's own
session factory, runs closed-loop cycles of operations for ``--seconds``
seconds, checks every result against its own model, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer ledger.
Everything it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "embulk_output_s3_parquet_spark"


def process_start_time() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_PROC = process_start_time()


def start_spark(root: str, work: str, trace: bool):
    """SparkContext with the benchmark's local dirs, then the program's
    ``get_spark`` for its engine settings."""
    cores = len(os.sched_getaffinity(0))     # what `nproc` prints
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONHASHSEED"] = "0"     # Python workers: same set/dict order in every run
    from pyspark import SparkConf, SparkContext

    java_tmp = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    conf = (
        SparkConf()
        .setMaster(f"local[{cores}]")
        .setAppName("perfbench")
        .set("spark.driver.memory", "4g")
        .set("spark.driver.extraJavaOptions", java_tmp)
        .set("spark.local.dir", os.path.join(work, "spark-local"))
        .set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.set("spark.eventLog.enabled", "true").set("spark.eventLog.dir", "file://" + logdir)
        conf.set("spark.eventLog.rolling.enabled", "false").set("spark.eventLog.compress", "false")
    SparkContext(conf=conf)
    from embulk_output_s3_parquet_spark.session import get_spark

    spark = get_spark(app="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it runs in and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def warm_workers(spark, cores: int) -> None:
    """Spawn and import-warm one Python worker per core."""
    import pyarrow as pa

    def _noop(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": pa.array([b.num_rows], pa.int32())})

    spark.range(0, cores * 2, 1, cores * 2).mapInArrow(_noop, "n int").count()


def note(what: str) -> None:
    """Timeline on stderr: seconds since the process started."""
    print(f"perfbench: {time.time() - T_PROC:7.2f}s {what}", file=sys.stderr, flush=True)


def run_cycle(wl, ops: list[str], samples: dict | None, tracer) -> int:
    """One closed-loop pass over ``ops``; each waits for the previous one."""
    for op in ops:
        with tracer.op(op):
            t0 = time.perf_counter()
            raw = getattr(wl, "op_" + op)()
            dt = time.perf_counter() - t0
        if samples is not None:
            samples.setdefault(op, []).append((dt, raw))
    wl.step += 1
    return len(ops)


def end_to_end(samples: dict, setup_s: float, stored_ratio: float) -> dict:
    m = {"setup_s": (setup_s, "s"), "stored_bytes_per_raw_byte": (stored_ratio, "ratio")}
    for op, name in RATE_METRICS.items():
        m[name] = (statistics.median(raw / dt / 1e6 for dt, raw in samples[op]), "MB/s")
    for op, name in LATENCY_METRICS.items():
        m[name] = (statistics.median(dt for dt, _ in samples[op]), "s")
    return m


# a median of fewer samples is one noisy sample
MIN_CYCLES = 2

RATE_METRICS = {"encode_df": "encode_df_mb_s", "scan": "scan_mb_s"}
LATENCY_METRICS = {"append": "append_s"}


def walls(samples: dict) -> dict:
    return {op: [dt for dt, _ in v] for op, v in samples.items()}


def record_untraced(root: str, workload: str, samples: dict) -> None:
    """Keep each untraced run's per-operation medians (the last 20 runs)
    so that a later traced run can report its overhead against them."""
    path = os.path.join(root, ".perfbench_work", f"untraced-{workload}.json")
    try:
        with open(path) as f:
            runs = json.load(f)
    except (OSError, ValueError):
        runs = []
    runs = (runs + [{op: statistics.median(v) for op, v in walls(samples).items()}])[-20:]
    with open(path, "w") as f:
        json.dump(runs, f)


def untraced_baseline(root: str, workload: str) -> tuple[dict, int]:
    try:
        with open(os.path.join(root, ".perfbench_work", f"untraced-{workload}.json")) as f:
            runs = json.load(f)
    except (OSError, ValueError):
        return {}, 0
    ops = set.intersection(*(set(r) for r in runs)) if runs else set()
    return {op: [r[op] for r in runs] for op in ops}, len(runs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from a checkout root; no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import ledger
    import workloads
    from ledger import Tracer

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.SPECS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    workloads.reset_dir(work)
    tracer = Tracer(enabled=False)
    spark = None
    try:
        spark, cores = start_spark(root, work, bool(args.trace))
        tracer.spark = spark
        note("spark started")
        warm_workers(spark, cores)
        note("workers warm")
        make, rows = workloads.SPECS[args.workload]
        wl = workloads.Workload(spark, make(args.seed, rows), work, args.seed, tracer)
        setup_s = time.time() - T_PROC
        note("set-up done: inputs generated")

        wl.check_input_digest()
        ops = workloads.TIMED_OPS
        note("input digest done")
        attempted = run_cycle(wl, ops, None, tracer)     # warm pass, untimed
        note("warm pass done")

        samples: dict = {}
        if args.trace:
            baseline, baseline_runs = untraced_baseline(root, args.workload)
            if not baseline:
                attempted += run_cycle(wl, ops, samples, tracer)
                baseline = walls(samples)
            tracer.enabled = True
            traced: dict = {}
            attempted += run_cycle(wl, workloads.TRACED_OPS, traced, tracer)
            tracer.enabled = False
            wl.check_export_digest()
            wl.check_file_table()
            tracer.enabled = True
            metrics = ledger.layer_probes(spark, wl, tracer)
            metrics.update(ledger.trace_overhead(walls(traced), baseline, baseline_runs))
        else:
            t_end = time.perf_counter() + args.seconds
            cycles = 0
            while cycles < MIN_CYCLES or time.perf_counter() < t_end:
                attempted += run_cycle(wl, ops, samples, tracer)
                cycles += 1
            record_untraced(root, args.workload, samples)
        note("measured " + json.dumps({op: [round(d, 3) for d in v] for op, v in walls(samples).items()}))
        stored_ratio = wl.finish()
        if not args.trace:
            metrics = end_to_end(samples, setup_s, stored_ratio)
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics.update(ledger.jobs_ledger(tracer, work, sorted(set(workloads.TRACED_OPS))))
            ledger.write_spans(tracer, os.path.join(root, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
    except workloads.CheckFailed as e:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 0, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
