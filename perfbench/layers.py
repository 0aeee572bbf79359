"""Per-layer metrics of a traced run (``--trace 1``).

Layers are named after the modules they measure:

* ``sources``: input generation and the parquet scan;
* ``pipeline``: ``plans.pipeline`` driver work — plan construction (with
  the jobs Spark runs while building it), the action, the metrics
  epilogue;
* ``spark``: JVM scan, shuffle, spill, GC and slot use from the stages;
* ``process``: peak resident memory of the driver JVM plus its Python
  workers, sampled from ``/proc`` during the repetitions;
* ``boundary``: the JVM <-> Python crossing, from the SQL metrics of the
  ``mapInPandas`` / ``applyInPandas`` plan nodes;
* ``salt``: the giant-document branch (split, chunk kernel, reassembly);
* ``kernel``: ``operators.kernel``'s stages timed in the driver on a
  sample of the workload's own documents;
* ``dedup``: ``operators.dedup`` candidate work, reported by
  ``corpus_dedup`` only;
* ``queries``: each ``__spark_entry__.queries()`` headline query.

Each value is the median over the run's traced repetitions. A metric a
workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

import tracing
from workloads import HEADLINE

#: name -> unit of every per-layer metric a traced run reports
METRICS = {
    "kernel.parse_us_per_span": "us",
    "kernel.guess_us_per_span": "us",
    "kernel.rules_us_per_span": "us",
    "kernel.flatten_us_per_span": "us",
    "kernel.codec_us_per_span": "us",
    "kernel.share": "ratio",
    "boundary.py_run_s": "s",
    "boundary.py_init_s": "s",
    "boundary.py_start_s": "s",
    "boundary.py_sent_bytes": "bytes",
    "boundary.py_returned_bytes": "bytes",
    "salt.docs": "count",
    "salt.chunks": "count",
    "salt.split_run_s": "s",
    "salt.chunk_kernel_run_s": "s",
    "salt.reassemble_run_s": "s",
    "salt.shuffle_bytes": "bytes",
    "pipeline.plan_build_s": "s",
    "pipeline.plan_jobs": "count",
    "pipeline.action_s": "s",
    "pipeline.epilogue_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.slot_busy_frac": "ratio",
    "spark.task_skew": "ratio",
    **{f"queries.{q}_s": "s" for q in HEADLINE},
    "process.peak_rss_mb": "MiB",
    "sources.generate_s": "s",
    "trace.overhead_s": "s",
    "trace.untiled_frac": "ratio",
}
#: name -> unit of the metrics only ``corpus_dedup`` reports, on top of METRICS
DEDUP_METRICS = {
    "dedup.reps": "count",
    "dedup.candidate_pairs": "count",
    "dedup.useful_pair_frac": "ratio",
}

PLAN = "pipeline.plan"
ACTIONS = ("pipeline.action", "spark.action")
EPILOGUE = "pipeline.epilogue"
#: a traced repetition's top-level spans must cover this share of its wall_s
TILING_MIN = 0.99


def _rep_layers(tracer, rest, by_group, rep: dict, slots: int) -> dict:
    """Layer numbers of one traced repetition; ``by_group`` holds the
    (stages, jobs, SQL executions) of each job group."""
    root = next(s for s in tracer.spans if s["name"] == "rep" and s["run"] == rep["run"])
    spans = [root] + tracer.descendants(root)
    dur = lambda names: sum(s["end"] - s["start"] for s in spans if s["name"] in names)  # noqa: E731
    stages_by, jobs_by, sql_by = by_group
    groups = {s["group"] for s in spans}
    stages = [st for g in groups for st in stages_by.get(g, [])]
    action_groups = {s["group"] for s in spans if s["name"] in ACTIONS}
    action_stages = [st for g in action_groups for st in stages_by.get(g, [])]
    out = {}

    totals = tracing.stage_totals(stages)
    out["spark.jobs"] = sum(len(jobs_by.get(g, [])) for g in groups)
    for k, v in totals.items():
        out[f"spark.{k}"] = v
    action_s = dur(ACTIONS)
    action_run = tracing.stage_totals(action_stages)["executor_run_s"]
    out["spark.slot_busy_frac"] = action_run / (slots * action_s) if action_s else 0.0
    ran = [st for st in action_stages if st.get("completionTime") and st["numCompleteTasks"] > 1]
    if ran:
        longest = max(ran, key=lambda st: st["executorRunTime"])
        med, mx = rest.task_quantiles(longest)
        out["spark.task_skew"] = mx / med if med else 0.0
    else:
        out["spark.task_skew"] = 0.0

    out["pipeline.plan_build_s"] = dur({PLAN})
    out["pipeline.plan_jobs"] = sum(
        len(jobs_by.get(s["group"], [])) for s in spans if s["name"] == PLAN
    )
    out["pipeline.action_s"] = action_s
    out["pipeline.epilogue_s"] = dur({EPILOGUE})

    nodes = []
    seen = set()
    for g in groups:
        for ex in sql_by.get(g, []):
            if ex["id"] not in seen:
                seen.add(ex["id"])
                nodes += tracing.python_nodes(ex)
    for k in tracing.PY_METRICS:
        out[f"boundary.{k}"] = sum(n[k] for n in nodes)
    role = lambda r, k: sum(n[k] for n in nodes if n["role"] == r)  # noqa: E731
    out["salt.chunks"] = role("split", "rows")
    out["salt.split_run_s"] = role("split", "py_run_s")
    out["salt.chunk_kernel_run_s"] = role("chunk_kernel", "py_run_s")
    out["salt.reassemble_run_s"] = role("reassemble", "py_run_s")
    out["salt.shuffle_bytes"] = sum(n["shuffle_in_bytes"] for n in nodes if n["role"] in ("chunk_kernel", "reassemble"))

    for q in HEADLINE:
        out[f"queries.{q}_s"] = dur({f"queries.{q}"})
    out["trace.untiled_frac"] = max(0.0, 1 - tracer.covered(root) / rep["wall_s"])
    return out


def per_layer(bench, wl, reps, props, generate_s) -> tuple[dict, dict]:
    """(metrics, details) for the result line of a traced run."""
    slots = bench.spark.sparkContext.defaultParallelism
    rest = tracing.SparkRest(bench.spark.sparkContext)
    snap = rest.snapshot()
    traced = [r for r in reps if r["traced"]]
    plain = [r for r in reps if not r["traced"]]
    by_group = (tracing.group_stages(snap), tracing.group_jobs(snap), tracing.group_sql(snap))
    per_rep = [_rep_layers(bench.tracer, rest, by_group, r, slots) for r in traced]
    values = dict.fromkeys(METRICS, 0.0)
    for k in per_rep[0]:
        values[k] = statistics.median(p[k] for p in per_rep)

    values["trace.untiled_frac"] = max(p["trace.untiled_frac"] for p in per_rep)
    own = wl.layer_metrics(bench, traced[-1]["out"])
    values.update({k: v for k, v in own.items() if k in METRICS or k in DEDUP_METRICS})
    if "kernel_s_per_rep" in own and values["boundary.py_run_s"]:
        values["kernel.share"] = own["kernel_s_per_rep"] / values["boundary.py_run_s"]
    values["salt.docs"] = props.get("salted_docs", 0)

    values["process.peak_rss_mb"] = statistics.median(r["peak_rss"] for r in reps) / (1 << 20)
    values["sources.generate_s"] = generate_s
    values["trace.overhead_s"] = statistics.median(
        r["wall_s"] for r in traced
    ) - statistics.median(r["wall_s"] for r in plain)
    ungrouped = sum(1 for j in snap["jobs"] if j.get("jobGroup") is None)
    details = {
        "traced_reps": len(traced),
        "tiling_ok": values["trace.untiled_frac"] <= 1 - TILING_MIN,
        "jobs_without_span": ungrouped,
    }
    units = {**METRICS, **{k: DEDUP_METRICS[k] for k in own if k in DEDUP_METRICS}}
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    return metrics, details
