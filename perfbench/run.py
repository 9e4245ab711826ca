#!/usr/bin/env python3
"""Benchmark for ocsf_validator_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One driver process starts a
``local[2]`` session through the library's own ``session.get_spark``,
makes the workload's inputs from ``--seed`` three times, and runs
closed-loop passes (one caller; each operation starts after the
previous one ends) until ``--seconds`` have passed. A pass is a fixed
sequence of operations, and one pass outlasts the window the benchmark
is run with, so every run measures the same sequence from a cold start.
Every operation's output is checked against an independent DuckDB
reference after the window.

The bounded end-to-end metrics are set-up time, peak driver memory and
the Spark work one pass does (jobs, stages, shuffle bytes). CPU and wall
times of the pass and of each operation follow the load of a shared host
too closely for a bound, so they are kept as context.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics: Spark status-store counters plus spans around the
benchmark's own calls into each module's public functions. The last
stdout line is the result JSON; the line before it carries context that
is not a metric (wall times, host calibration and CPU steal, every
operation's time, skew routing, the trace file). Everything the run
writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Two task slots on a 4-vCPU host leave room for the JIT compiler, the
# collector and the Python workers, so the run does not measure the
# scheduler.
CORES = 2
PREPS = 3  # input preparations; setup_s takes their median
# Driver heap: capped, committed up front and with a fixed young
# generation, so its sizing does not follow GC timing. Pages are not
# touched before use, so peak RSS follows the eden in use, the retained
# heap and the off-heap memory.
DRIVER_MEM = "2g"
YOUNG_GEN = "256m"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory, and let the Python workers import the library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UsePerfData"
            # compiler threads live as long as the JVM, so their CPU time
            # can be read per thread
            f" -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _window(w, seconds: float, traced: bool):
    """Closed-loop passes until ``seconds`` have passed (at least one);
    each pass as (wall seconds, turns, CPU seconds of its operations)."""
    passes, ops = [], []
    t0 = time.perf_counter()
    while True:
        wall, o = w.run_pass(traced)
        passes.append((wall, sum(op["turns"] for op in o), sum(op["cpu"] for op in o)))
        ops += o
        if time.perf_counter() - t0 >= seconds:
            return passes, ops


def run(args, work: str) -> tuple[dict, dict]:
    from harness import (
        StatusReader, Tracer, host_calibration_s, host_steal_s, jvm_pid, median, peak_rss_mb,
    )
    from workloads import WORKLOADS

    from ocsf_validator_spark.session import get_spark

    W = WORKLOADS[args.workload]
    conf = {**_environment(work), **W.conf}
    t0, steal0 = time.perf_counter(), host_steal_s()
    spark = get_spark(app_name=f"perfbench-{W.name}", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(False)
        status = StatusReader(spark)
        w = W(spark, work, args.seed, tracer, status, bool(args.trace))
        # the same inputs PREPS times; the operations read the last copy
        preps, dirs = [], [os.path.join(work, f"input-{k}") for k in range(PREPS)]
        for d in dirs:
            t1 = time.perf_counter()
            w.prepare(d)
            preps.append(time.perf_counter() - t1)
        for d in dirs[:-1]:
            shutil.rmtree(d)
        w.input = dirs[-1]
        setup_s = session_s + median(preps)
        ctx = {
            "workload": W.name, "seed": args.seed, "cores": CORES,
            "session_start_s": session_s, "prep_s": preps,
        }

        if not args.trace:
            with status.scope("window") as cw:
                passes, ops = _window(w, args.seconds, False)
            walls = [p[0] for p in passes]
            times = [op["s"] for op in ops]
            cpus = [op["cpu"] for op in ops]
            jits = [op["jit"] for op in ops]
            n = len(passes)
            metrics = {
                "setup_s": setup_s,
                "jvm_peak_rss_mb": peak_rss_mb(jvm_pid(spark)),
                "spark_jobs": cw["jobs"] / n,
                "spark_stages": cw["stages"] / n,
                "shuffle_write_mb": cw["shuffle_write_bytes"] / n / 2**20,
            }
            ctx.update(
                passes=n, ops=len(times), warm_ops=W.warm_ops,
                pass_cpu_s=median([p[2] for p in passes]),
                wall_s=median(walls),
                turns_per_s=median([p[1] for p in passes]) / median(walls),
                cold_op_s=times[0], cold_op_cpu_s=cpus[0],
                op_p50_s=median(times[W.warm_ops:]),
                # outside the JIT compiler threads, whose share of one
                # operation follows thread timing
                op_cpu_s=median([c - j for c, j in zip(cpus, jits)][W.warm_ops:]),
                op_s=times, op_cpu_s_each=cpus, op_jit_s_each=jits,
            )
            units = END_TO_END
        else:
            # the same passes as an untraced run, traced: the tracing
            # overhead is this run's trace.pass_cpu_s minus the other's
            # pass_cpu_s (and trace.wall_s minus its context wall_s)
            tracer.enabled = True
            with status.scope("window") as cw:
                passes, ops = _window(w, args.seconds, True)
            tracer.begin_op()
            metrics = dict.fromkeys(PER_LAYER, 0)  # layers a workload does not run
            metrics.update(w.layers(ops))
            tracer.enabled = False
            metrics.update({
                "spark.jobs": cw["jobs"],
                "spark.shuffle_write_bytes": cw["shuffle_write_bytes"],
                "spark.slot_busy_frac": cw["executor_run_ms"] / (cw["wall_s"] * 1000.0 * CORES),
                "trace.wall_s": median([p[0] for p in passes]),
                "trace.pass_cpu_s": median([p[2] for p in passes]),
                "jvm.pass_jit_s": sum(op["jit"] for op in ops) / len(passes),
            })
            ctx["layer_self_s"] = tracer.self_times()
            units = PER_LAYER

        # share of the machine's CPU time taken by other guests while the
        # session ran: timings taken under steal are not comparable
        ctx["host_steal_frac"] = (host_steal_s() - steal0) / (
            (time.perf_counter() - t0) * os.cpu_count()
        )
        ctx["skew_routing"] = getattr(w, "routing", None)
        ctx["host_calibration_s"] = host_calibration_s(spark)
        w.check(ops)
    finally:
        _stop(spark)

    failed = [op for op in ops if not op.get("ok")]
    ctx["failed_frac"] = len(failed) / len(ops)
    ctx["errors"] = [op["error"] for op in failed][:5]
    if args.trace:
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        ctx["trace_file"] = os.path.relpath(
            os.path.join(out, f"{W.name}-seed{args.seed}.json"), ROOT
        )
        tracer.write(os.path.join(ROOT, ctx["trace_file"]), {"context": ctx, "metrics": metrics})
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, ctx


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ocsf_validator_spark", "__init__.py")):
        print(f"perfbench: no ocsf_validator_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, ctx = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
