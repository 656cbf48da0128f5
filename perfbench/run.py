#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print one JSON line.

    python3 perfbench/run.py --workload online_score --seed 1 --seconds 20 --trace 0

Run it from the repository root.  Workloads: batch, online_score (see
workloads.py and README.md).  The last line of
stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (setup_s, op_p50_ms,
peak_rss_mb).  With `--trace 1` the run records spans and a
Spark event log, prints the per-layer metrics instead, and writes
spans.json and report.json (which also holds the traced end-to-end
values) under .bench_build/perfbench-trace/<workload>-seed<seed>/.

Everything the run writes stays under .bench_build/ in the repository.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOAD_NAMES = ("batch", "online_score")
# sized for a 4-core, 15 GB machine, on which the engine's 48g default
# heap cannot be mapped
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measuring time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be a non-negative integer")
    return args


def confine_to_checkout(tmp: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    .bench_build; returns the Spark conf that does the JVM's part."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # the heap starts at its maximum: left to grow on demand it ended
        # at 1.6 or 2.0 GB resident in runs of the same code
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    }


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def run_op(workload, tracer, op_id: str, i: int) -> float | None:
    """Time one operation, then check it; None if it raised or its output
    differs from the reference."""
    from reference import CheckFailed

    tracer.op = op_id
    try:
        t = time.perf_counter()
        with tracer.span(f"bench.{workload.name}"):
            output = workload.op(i)
        elapsed = time.perf_counter() - t
        workload.check(output)
        return elapsed
    except CheckFailed as e:
        print(f"perfbench: {op_id} output differs from the reference: {e}", file=sys.stderr)
    except Exception:  # an engine error fails this operation; keep measuring
        print(f"perfbench: {op_id} raised:\n{traceback.format_exc()}", file=sys.stderr)
    return None


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import inferdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the repository root", file=sys.stderr)
        return 2
    import data
    import tracing
    import workloads
    from inferdb_spark import session

    t = time.perf_counter()
    data_dir = data.ensure_data(ROOT)
    generate_s = time.perf_counter() - t  # once per checkout: not set-up

    tag = f"{args.workload}-seed{args.seed}"
    work_dir = os.path.join(BUILD, "perfbench-run", f"{tag}-{os.getpid()}")
    conf = confine_to_checkout(os.path.join(work_dir, "tmp"))
    trace_dir = os.path.join(BUILD, "perfbench-trace", tag)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(os.path.join(trace_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(trace_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
        tracing.install_wrappers(tracer)

    spark = None
    attempted = failed = 0
    times: list[float] = []
    try:
        phases = [time.perf_counter()]
        spark = session.get_spark(app_name=f"perfbench-{tag}", extra_conf=conf)
        tracer.attach(spark.sparkContext)
        w = workloads.WORKLOADS[args.workload](spark, data_dir, work_dir, args.seed, tracer)
        phases.append(time.perf_counter())
        w.setup()
        phases.append(time.perf_counter())
        warmup = []
        for i in range(w.warmup_ops):
            attempted += 1
            warmup.append(run_op(w, tracer, f"warmup-{i}", i))
            failed += warmup[-1] is None
        phases.append(time.perf_counter())
        setup_s = phases[-1] - T_START - generate_s
        print(
            f"perfbench: set-up {setup_s:.2f} s: session {phases[1] - phases[0]:.2f}, "
            f"workload {phases[2] - phases[1]:.2f}, warm-up {phases[3] - phases[2]:.2f} "
            f"({', '.join('failed' if x is None else f'{x:.2f}' for x in warmup)})",
            file=sys.stderr,
        )

        # measure until the next operation, at the median pace so far,
        # would end after --seconds (but run at least one, and at most
        # the workload's max_timed_ops)
        t_measure = time.perf_counter()
        i = w.warmup_ops
        while i == w.warmup_ops or (
            i - w.warmup_ops != w.max_timed_ops
            and time.perf_counter() - t_measure + (statistics.median(times) if times else 0.0) <= args.seconds
        ):
            attempted += 1
            elapsed = run_op(w, tracer, f"op-{i}", i)
            if elapsed is None:
                failed += 1
            else:
                times.append(elapsed)
            i += 1
        timed_ops = [f"op-{j}" for j in range(w.warmup_ops, i)]

        if type(w).verify is not workloads.Workload.verify:
            attempted += 1
            tracer.op = "verify"
            try:
                w.verify()
            except Exception:
                failed += 1
                print(f"perfbench: verify failed:\n{traceback.format_exc()}", file=sys.stderr)
        rss_mb = peak_rss_mb([os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    if not times:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1
    end_to_end = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(times) * 1e3, "unit": "ms"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }
    print(
        f"perfbench: {tag}: {len(times)} timed ops, "
        + ", ".join(f"{k}={v['value']:.4g}" for k, v in end_to_end.items())
        + f"; op seconds {[round(x, 3) for x in times]}; {json.dumps(w.describe())}",
        file=sys.stderr,
    )
    metrics = end_to_end
    if args.trace:
        log = tracing.EventLog.read(os.path.join(trace_dir, "eventlog"))
        metrics = tracing.layer_metrics(tracer, log, timed_ops)
        with open(os.path.join(trace_dir, "spans.json"), "w") as f:
            json.dump([vars(s) for s in tracer.spans], f)
        with open(os.path.join(trace_dir, "report.json"), "w") as f:
            report = {
                "workload": args.workload,
                "seed": args.seed,
                "timed_ops": len(times),
                "traced_end_to_end": end_to_end,
                "per_layer": metrics,
                "self_time_s": tracing.self_times(tracer, timed_ops),
                "workload_properties": w.describe(),
            }
            json.dump(report, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
