"""Turn passes and spans into the metrics named in ``BENCHMARK.json``.

Layer metrics are named after the span that measured them: a span
``risk`` gives ``risk.s`` (its summed inclusive time in seconds),
``risk.jobs`` and ``risk.shuffle_mb``; a phase span such as
``protect.build`` gives ``protect.build_s``, ``protect.build_jobs`` and
so on. A Spark job counts for the span that launched it and for every
span above it. A layer a workload never enters reads 0. Self times by
span name go to stderr.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from perfbench.spark_stats import MB
from perfbench.stats import percentile
from perfbench.trace import JOB_GROUP_PREFIX, self_times

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
PHASES = (".build", ".exec", ".analyze")
OUT_DIR = ".perfbench_out"


def benchmark() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def pass_metrics(setup_s, run_s, cpu_s, step_times, rows, peak_rss_mb) -> dict[str, float]:
    """Metrics of any pass, traced or not; BENCHMARK.json decides which
    are end-to-end and which per-layer."""
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "cpu_s": cpu_s,
        "rows_per_s": rows / run_s,
        "query_p50_s": percentile(step_times, 50.0),
        "query_p90_s": percentile(step_times, 90.0),
        "peak_rss_mb": peak_rss_mb,
    }


def metric_name(span_name: str, kind: str) -> str:
    sep = "_" if span_name.endswith(PHASES) else "."
    return f"{span_name}{sep}{kind}"


def snapshot(status) -> dict:
    compiles, compile_s = status.codegen()
    persisted, storage_mb = status.residue()
    return {
        "gc_s": status.gc_s(),
        "compiles": compiles,
        "compile_s": compile_s,
        "persisted": persisted,
        "storage_mb": storage_mb,
    }


def _pass_metrics(status, tracer, root, before, after, jobs_by_span, stages, cores):
    spans = tracer.run_spans(root.run_id)
    by_id = {s.span_id: s for s in spans}
    m: dict[str, float] = defaultdict(float)
    for s in spans:
        if s is not root:
            m[metric_name(s.name, "s")] += s.duration

    pass_stage_ids: set[int] = set()
    n_jobs = 0
    for s in spans:
        s.counters = {"jobs": 0, "shuffle_write_mb": 0.0}
    for s in spans:
        for job in jobs_by_span.get(s.span_id, []):
            n_jobs += 1
            pass_stage_ids.update(job["stageIds"])
            job_shuffle = sum(
                stages[i]["shuffleWriteBytes"] for i in job["stageIds"]
                if i in stages and stages[i]["status"] != "SKIPPED"
            ) / MB
            s.counters["jobs"] += 1
            s.counters["shuffle_write_mb"] += job_shuffle
            anc = s
            while anc is not None and anc is not root:
                m[metric_name(anc.name, "jobs")] += 1
                m[metric_name(anc.name, "shuffle_mb")] += job_shuffle
                anc = by_id.get(anc.parent)

    ran = [stages[i] for i in pass_stage_ids if i in stages and stages[i]["status"] != "SKIPPED"]
    durations = [d for st in ran for d in status.task_durations_ms(st)]
    run_s = sum(st["executorRunTime"] for st in ran) / 1000.0
    m.update({
        "spark.jobs": n_jobs,
        "spark.stages": len(pass_stage_ids),
        "spark.tasks": sum(st["numCompleteTasks"] for st in ran),
        "spark.task_p50_ms": percentile(durations, 50.0) if durations else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
        "spark.core_idle_frac": 1.0 - run_s / (root.duration * cores),
        "spark.shuffle_read_mb": sum(st["shuffleReadBytes"] for st in ran) / MB,
        "spark.shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in ran) / MB,
        "spark.spill_mb": sum(st["diskBytesSpilled"] for st in ran) / MB,
        "spark.gc_s": after["gc_s"] - before["gc_s"],
        "spark.codegen_compiles": after["compiles"] - before["compiles"],
        "spark.codegen_s": after["compile_s"] - before["compile_s"],
        "spark.skipped_stage_frac": (
            1.0 - len(ran) / len(pass_stage_ids) if pass_stage_ids else 0.0
        ),
        "residue.persisted_rdds": after["persisted"],
        "residue.storage_mb": after["storage_mb"],
    })
    if "registry.build_jobs" in m or "registry.exec_jobs" in m:
        m["registry.eager_job_frac"] = m["registry.build_jobs"] / max(n_jobs, 1)

    selfs = self_times(spans)
    m["trace.run_s"] = root.duration
    m["trace.unattributed_s"] = selfs[root.span_id]
    m["trace.overhead_s"] = tracer.overhead.get(root.run_id, 0.0)
    by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        by_layer[s.name] += selfs[s.span_id]
    return dict(m), dict(by_layer)


def per_layer(status, tracer, root, before, after, cores) -> tuple[dict[str, float], dict]:
    """The layer metrics of the traced pass under ``root``; also the
    pass's self time by span name."""
    jobs_by_span: dict[int, list[dict]] = defaultdict(list)
    for job in status.jobs():
        group = job.get("jobGroup") or ""
        if group.startswith(JOB_GROUP_PREFIX):
            jobs_by_span[int(group[len(JOB_GROUP_PREFIX):])].append(job)
    return _pass_metrics(status, tracer, root, before, after, jobs_by_span, status.stages(), cores)


def write_spans(root_dir: str, workload: str, seed: int, spans) -> str:
    out = os.path.join(root_dir, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "span_id": s.span_id, "name": s.name, "run_id": s.run_id,
                "parent": s.parent, "start": s.start, "end": s.end,
                "counters": s.counters,
            }) + "\n")
    return path
