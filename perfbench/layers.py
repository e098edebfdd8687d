"""Per-layer metrics of a traced run, and its one-screen report.

Span-based numbers are medians over the traced warm passes; Spark
numbers come from the event log, attributed to passes through the job
group every step sets, and are medians over all warm passes (the event
log does not depend on whether the wrappers recorded).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

from tracing import LAYERS
from workloads import SUITE_QUERIES

CASE_METHODS = ["summary", "grid", "rft", "equil"]

#: Report detail: name -> span whose total time it is.  These are not
#: metrics, because a layer or step one workload never enters would read 0
#: on every run of it; they are printed in the report and kept in the
#: result file.
SPAN_DETAIL = {
    "sources.deck.read_deck_s": "sources.deck.read_deck",
    "sources.deck.parse_deck_s": "sources.deck.parse_deck",
    "sources.eclbin.grid_geometry_s": "sources.eclbin.grid_geometry_pandas",
    "sources.eclbin.init_vectors_s": "sources.eclbin.init_vectors_pandas",
    "sources.eclbin.unrst_vectors_s": "sources.eclbin.unrst_vectors_pandas",
    "sources.eclbin.summary_long_s": "sources.eclbin.summary_long_pandas",
    "sources.eclbin.rft_s": "sources.eclbin.rft_pandas",
    "sources.eclbin.write_summary_s": "sources.eclbin.write_summary",
    "sources.eclbin.summary_long_many_s": "sources.eclbin.summary_long_many",
    "spark.create_df_s": "spark.create_df",
    "sinks.writers.write_dataframe_s": "sinks.writers.write_dataframe",
    "sinks.writers.write_parquet_with_metadata_s": "sinks.writers.write_parquet_with_metadata",
    "sinks.df2res.equil_s": "sinks.df2res.df2res_equil",
    **{f"case.{m}.build_s": f"case.{m}" for m in CASE_METHODS},
}
#: Engine layers above the binary decode, reported together as
#: ``layer.engine.self_s`` (each one alone is 0 on some workload).
ENGINE_LAYERS = ["sources.deck", "case", "modules", "operators", "llm", "sinks.writers",
                 "sinks.df2res", "suite"]
#: Counts that both workloads produce (the ensemble's executor-side
#: decode is counted from the files its glob names).
COUNT_METRICS = {
    "sources.eclbin.bytes_read": "bytes",
    "sinks.bytes_written": "bytes",
}
#: Counts of layers only ``case_reek`` enters: report detail.
COUNT_DETAIL = ["sources.deck.records", "sources.eclbin.bytes_written",
                "spark.create_df_rows"]
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_per_stage": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.busy_ratio": "ratio",
    "spark.deserialize_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.result_mb": "MB",
}


def metric_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better).  Each time among
    them is spent on every workload."""
    out = {"session.get_spark_s": ("s", "lower"), "session.first_job_s": ("s", "lower"),
           "steps.build_s": ("s", "lower"), "steps.exec_s": ("s", "lower")}
    for layer in ("sources.eclbin", "engine", "spark", "bench"):
        out[f"layer.{layer}.self_s"] = ("s", "lower")
    for k, u in COUNT_METRICS.items():
        out[k] = (u, "lower")
    for k, u in SPARK_METRICS.items():
        out[k] = (u, "higher" if k == "spark.busy_ratio" else "lower")
    out["spark.jvm_rss_peak_mb"] = ("MB", "lower")
    out["trace.coverage"] = ("ratio", "higher")
    out["trace.warm_s"] = ("s", "lower")
    out["trace.overhead_ratio"] = ("ratio", "lower")
    return out


def read_event_log(evdir: str) -> list[dict]:
    """Every event of the run's event log.  Spark may roll the log into
    several files under one directory; their order does not matter to
    the aggregation below."""
    events = []
    for path in glob.glob(os.path.join(evdir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a torn last line of an unfinished log
    return events


def spark_by_pass(events: list[dict]) -> dict[int, dict]:
    """Spark work per pass index, from the job groups ``p<i>:<step>``."""
    stage_pass, jobs = {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            m = re.match(r"p(\d+):", group)
            if m:
                i = int(m.group(1))
                jobs[i] = jobs.get(i, 0) + 1
                for sid in e.get("Stage IDs", []):
                    stage_pass.setdefault(sid, i)
    out = {i: {"spark.jobs": n, "_stages": set(), "spark.tasks": 0,
               "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
               "spark.deserialize_s": 0.0, "spark.gc_s": 0.0,
               "spark.shuffle_write_mb": 0.0, "spark.spill_mb": 0.0,
               "spark.result_mb": 0.0} for i, n in jobs.items()}
    mb = 1024.0 * 1024.0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        i = stage_pass.get(e.get("Stage ID"))
        if i is None:
            continue
        o = out[i]
        tm = e.get("Task Metrics") or {}
        o["_stages"].add(e.get("Stage ID"))
        o["spark.tasks"] += 1
        o["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        o["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        o["spark.deserialize_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
        o["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        o["spark.shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / mb
        o["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / mb
        o["spark.result_mb"] += tm.get("Result Size", 0) / mb
    for o in out.values():
        o["spark.stages"] = len(o.pop("_stages"))
        o["spark.tasks_per_stage"] = o["spark.tasks"] / max(1, o["spark.stages"])
    return out


def _self_by_span(spans, lo, hi):
    inside = [s for s in spans if lo <= s["start"] < hi and s["end"] is not None]
    child = {}
    for s in inside:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return [(s, s["end"] - s["start"] - child.get(s["id"], 0.0)) for s in inside]


def _totals_by_name(spans, lo, hi):
    """Total time per span name, counting only the outermost call when a
    name nests inside itself."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        if not (lo <= s["start"] < hi) or s["end"] is None:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != s["name"]:
            p = by_id[p]["parent"]
        if p is None:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def pass_values(tracer, rec: dict) -> dict[str, float]:
    """Span-based metrics and report detail of one traced pass."""
    lo, hi = rec["start"], rec["end"]
    spans = tracer.spans
    totals = _totals_by_name(spans, lo, hi)
    v = {k: totals.get(name, 0.0) for k, name in SPAN_DETAIL.items()}
    by_layer = {layer: 0.0 for layer in LAYERS}
    by_name = {}
    for s, own in _self_by_span(spans, lo, hi):
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + own
    for layer, t in by_layer.items():
        v[f"layer.{layer}.self_s"] = t
    v["layer.engine.self_s"] = sum(by_layer[la] for la in ENGINE_LAYERS)
    steps = rec["steps"]
    for meth in CASE_METHODS:
        v[f"case.{meth}.self_s"] = by_name.get(f"case.{meth}", 0.0)
        v[f"case.{meth}.exec_s"] = sum(s.get("exec", 0.0) for s in steps.values()
                                       if s.get("layer") == f"case.{meth}")
    for q in SUITE_QUERIES:
        s = steps.get(q, {})
        v[f"suite.{q}.build_s"] = s.get("build", 0.0)
        v[f"suite.{q}.exec_s"] = s.get("exec", 0.0)
    for k in [*COUNT_METRICS, *COUNT_DETAIL]:
        v[k] = rec.get("counts", {}).get(k, 0)
    v["trace.coverage"] = 1.0 - by_layer["bench"] / rec["wall"]
    return v


def per_layer(tracer, warm, setup, events, cpus, jvm_peak):
    """Per-layer metrics of the warm passes ``warm`` as name -> (value,
    unit), and the report lines (which carry the detail too)."""
    units = metric_units()
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    per = [pass_values(tracer, p) for p in traced]
    values = {k: statistics.median(d[k] for d in per) for k in per[0]}
    for phase in ("build", "exec"):
        values[f"steps.{phase}_s"] = statistics.median(
            sum(s.get(phase, 0.0) for s in p["steps"].values()) for p in warm)
    sp = spark_by_pass(events)
    for k in SPARK_METRICS:
        if k == "spark.busy_ratio":
            vals = [sp.get(p["index"], {}).get("spark.executor_run_s", 0.0) / (p["wall"] * cpus)
                    for p in warm]
        else:
            vals = [sp.get(p["index"], {}).get(k, 0) for p in warm]
        values[k] = statistics.median(vals)
    values["session.get_spark_s"] = setup["session.get_spark_s"]
    values["session.first_job_s"] = setup["session.first_job_s"]
    values["spark.jvm_rss_peak_mb"] = jvm_peak
    t_warm = statistics.median(p["wall"] for p in traced)
    t_plain = statistics.median(p["wall"] for p in plain)
    values["trace.warm_s"] = t_warm
    values["trace.overhead_ratio"] = t_warm / t_plain
    out = {k: (values[k], units[k][0]) for k in units}

    lines = [f"layers by self time, median of {len(traced)} traced warm passes "
             f"(pass wall {t_warm:.3f} s):",
             f"  {'layer':16s} {'self s':>9s} {'share':>7s}"]
    ranked = sorted(((values[f"layer.{la}.self_s"], la) for la in LAYERS), reverse=True)
    for v, la in ranked:
        if v > 0:
            lines.append(f"  {la:16s} {v:9.4f} {v / t_warm:7.1%}")
    lines.append(f"named-span coverage of the warm pass: {values['trace.coverage']:.1%}")
    lines.append(f"tracing overhead: traced warm {t_warm:.4f} s - untraced warm "
                 f"{t_plain:.4f} s = {t_warm - t_plain:+.4f} s, ratio "
                 f"{values['trace.overhead_ratio']:.4f} (medians, n={len(traced)}/{len(plain)})")
    lines.append("spark per warm pass: " + ", ".join(
        f"{k.split('.', 1)[1]}={values[k]:.4g}" for k in SPARK_METRICS))
    detail = [f"{k}={values[k]:.4g}" for k in sorted(values) if k not in units and values[k]]
    lines.append("detail (median of traced warm passes, s or count):")
    for i in range(0, len(detail), 3):
        lines.append("  " + "  ".join(detail[i:i + 3]))
    return out, lines
