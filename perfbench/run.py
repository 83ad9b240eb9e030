"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives ``local[nproc]`` Spark
as a closed loop with one client and sequential steps: set up (session
start, then seeded input generation, repeated and the median taken),
then ONE timed pass of the workload in the fresh session, then the
correctness check. The pass is the measured window: it is a cold first
pass, which is what a user who starts a session for one journey waits
for, and on a 4-core host every workload's pass lasts longer than the
``run_seconds`` of ``BENCHMARK.json``; ``--seconds`` is accepted for the
command-line contract. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the pass traced and prints the per-layer metrics.
The last stdout line is the JSON result; the line before it records the
run conditions.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _start_session():
    from safedata_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


@contextlib.contextmanager
def _hooks(workload, tracer):
    """Wrap the workload's ``layer_hooks`` functions in spans."""
    saved = []
    for module_name, attr, span_name in workload.layer_hooks:
        module = importlib.import_module(module_name)
        fn = getattr(module, attr)

        def wrapped(*a, __fn=fn, __name=span_name, **kw):
            with tracer.span(__name):
                return __fn(*a, **kw)

        saved.append((module, attr, fn))
        setattr(module, attr, wrapped)
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


def _one_pass(workload, spark, tracer, run_id: int):
    """Run one pass under a root span; returns (root span, outputs, error)."""
    tracer.run_id = run_id
    out, err = None, None
    with tracer.span("run") as root:
        try:
            out = workload.run(spark, tracer)
        except Exception:
            err = traceback.format_exc()
    return root, out, err


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("safedata_pipeline_spark")):
        return _fail("run from the repository root: __spark_entry__.py and "
                     "safedata_pipeline_spark/ are missing here")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver) keeps its temp files, and no
    # hsperfdata file, inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
    )))
    for p in (os.path.dirname(HERE), root):
        if p not in sys.path:
            sys.path.insert(0, p)

    from perfbench import layers
    from perfbench.spark_stats import SparkStatus, process_tree_cpu_s, process_tree_peak_rss_mb
    from perfbench.stats import tail_percentile
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    conditions = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": _loadavg(),
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](work, args.seed)
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(spark)
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep)

        status = SparkStatus(spark) if args.trace else None
        tracer = Tracer(spark if args.trace else None)
        hooks = _hooks(wl, tracer) if args.trace else contextlib.nullcontext()
        with hooks:
            before = layers.snapshot(status) if status else None
            cpu_before = process_tree_cpu_s()
            root_span, out, err = _one_pass(wl, spark, tracer, 0)
            cpu_s = process_tree_cpu_s() - cpu_before
            after = layers.snapshot(status) if status else None
        steps = [s for s in tracer.spans if s.parent == root_span.span_id]
        attempted, failed = len(steps), 0
        if err:
            failed += 1
            print(f"perfbench: the pass failed\n{err}", file=sys.stderr)

        problems = []
        t = time.perf_counter()
        try:
            problems = wl.check(spark, out) if out is not None else ["the pass did not complete"]
        except Exception:
            problems = [f"check raised\n{traceback.format_exc()}"]
        check_s = time.perf_counter() - t
        attempted += 1
        if problems:
            failed += 1
            print("perfbench: correctness problems:\n  " + "\n  ".join(problems), file=sys.stderr)

        step_times = [s.duration for s in steps]
        metrics = layers.pass_metrics(
            setup_s, root_span.duration, cpu_s, step_times, wl.total_input_rows(),
            process_tree_peak_rss_mb(),
        )
        if args.trace:
            layer_metrics, detail = layers.per_layer(
                status, tracer, root_span, before, after, spark.sparkContext.defaultParallelism
            )
            metrics.update(layer_metrics, error_rate=failed / attempted)
            layers.write_spans(root, args.workload, args.seed, tracer.spans)
            print(json.dumps({"self_time_by_layer_s": detail}), file=sys.stderr)
        wanted = layers.benchmark()["per_layer" if args.trace else "end_to_end"]
        conditions.update(
            loadavg_end=_loadavg(),
            input_rows=wl.input_rows,
            size=wl.size,
            output_fingerprints=wl.fingerprints,
            step_s=[(s.name, s.duration) for s in steps],
            step_samples=len(step_times),
            tail_percentile_supported=tail_percentile(len(step_times)),
            setup_parts_s={"session": session_s, "inputs_median": statistics.median(prep)},
            check_s=check_s,
        )
        print(json.dumps({"conditions": conditions}))
        result = {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted
            },
        }
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
