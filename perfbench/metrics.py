"""Turn a finished workload into the benchmark's result object.

End-to-end metrics (untraced), the same three on every workload:

* ``unit_cpu_s``: median CPU time the engine's processes (the Python
  driver, the JVM, its Python workers) spend on the workload's unit of
  work: on ``pipeline`` the backfill wake-up plus every weekly
  wake-up, on ``query_mix`` one pass over the mix.
* ``op_cpu_p50_s``: median CPU time of one operation: a weekly
  wake-up (files landed until ``run_all`` returns, dims and fact
  current), or one entry's build plus collect.
* ``setup_s``: wall time of session start, registry import and input
  generation.

CPU time rather than wall time, because on a shared host the wall time
of the same unit moves with the neighbours' load (see the README); the
wall times are the ``trace.unit_wall_s`` and ``trace.op_wall_p50_s``
per-layer metrics.

Per-layer metrics (traced unit) are the ``per_layer`` list of
``BENCHMARK.json``, which also gives every metric's unit; a layer a
workload does not touch reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

import workloads

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_METRICS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_values(wl) -> dict[str, float]:
    t = wl.tracer
    self_s = t.self_times()
    c = t.counts
    spark_jobs = sum(n for _, n in t.op_jobs)
    # jobs per timed operation, the backfill wake-up excluded
    op_jobs = [n for layer, n in t.op_jobs if layer != "backfill"]
    v = {
        "sources.refresh_s": self_s["sources.refresh"] + self_s["sources.copy_into"],
        "sources.refresh_jobs": t.layer_jobs("sources.refresh"),
        "sources.files_loaded": c["sources.files_loaded"],
        "sources.rows_loaded": c["sources.rows_loaded"],
        "tasks.raw_tsk_s": c["tasks.raw_tsk_s"],
        "tasks.dim_tsk_s": c["tasks.dim_tsk_s"],
        "tasks.fact_tsk_s": c["tasks.fact_tsk_s"],
        "tasks.truncate_tsk_s": c["tasks.truncate_tsk_s"],
        "tasks.gate_s": self_s["changelog.gate"],
        "tasks.skipped": c["tasks.skipped"],
        "changelog.read_s": self_s["changelog.read"] + self_s["changelog.gate"],
        "changelog.record_s": self_s["changelog.record"],
        "changelog.record_jobs": t.layer_jobs("changelog.record"),
        "changelog.versions": c["changelog.versions"],
        "merge.plan_s": self_s["merge.plan"],
        "merge.eager_jobs": t.layer_jobs("merge.plan"),
        "catalog.write_s": self_s["catalog.write"] + self_s["catalog.read"],
        "catalog.write_jobs": t.layer_jobs("catalog.write"),
        "catalog.files_written": c["catalog.files_written"],
        "catalog.bytes_per_input_byte": (
            c["catalog.bytes_written"] / wl.input_bytes if wl.input_bytes else 0.0
        ),
        "dml.footer_s": self_s["dml.footer"],
        "spark.jobs": spark_jobs,
        "spark.stages": t.counters.stages,
        "spark.tasks": t.counters.tasks,
        "spark.failed_tasks": t.counters.failed_tasks,
        "spark.jobs_per_cycle": sum(op_jobs) / len(op_jobs) if op_jobs else 0.0,
        "session.jvm_peak_rss_mb": wl.jvm_peak_rss_mb,
        "sqldialect.lower_s": self_s["sqldialect.lower"],
        "sqldialect.lower_calls": c["sqldialect.lower_calls"],
        "trace.unattributed_s": sum(self_s[r] for r in t.root_layers),
        "trace.overhead_s": t.overhead_s,
        "trace.unit_cpu_s": _median(wl.samples.unit_cpu),
        "trace.unit_wall_s": _median(wl.samples.units),
        "trace.op_wall_p50_s": _median(wl.samples.ops),
    }
    per_query = getattr(wl, "per_query", {})
    for q in workloads.QUERY_MIX:
        build_s, exec_s = per_query.get(q, (0.0, 0.0))
        v[f"query.{q}.build_s"] = build_s
        v[f"query.{q}.build_jobs"] = t.path_jobs(f"query.{q}/plans.build")
        v[f"query.{q}.exec_s"] = exec_s
    v["plans.build_s"] = sum(b for b, _ in per_query.values())
    v["plans.build_jobs"] = t.layer_jobs("plans.build")
    return v


def report(wl, session_s: float, trace: bool) -> dict:
    attempted = max(1, wl.attempted)
    failed = min(len(wl.errors), attempted)
    if trace:
        values = layer_values(wl)
        values["error_rate"] = failed / attempted
        units = LAYER_METRICS
    else:
        values = {
            "unit_cpu_s": _median(wl.samples.unit_cpu),
            "op_cpu_p50_s": _median(wl.samples.op_cpu),
            "setup_s": session_s + sum(wl.setup_s.values()),
        }
        units = E2E
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
