"""Metric assembly for a finished run.

``end_to_end`` gives what a caller of the engine sees; every workload
reports the metrics listed in BENCHMARK.json plus its own named ones.
``per_layer`` turns the traced run's spans into per-op layer figures.
All per-layer figures are per timed op unless the name says otherwise.
"""

from __future__ import annotations

import json
import os

from . import stats
from .trace import covered, self_times


def listed(root: str) -> tuple[list[dict], list[dict]]:
    """The end-to-end and per-layer metrics BENCHMARK.json lists (name,
    unit): the ones the result line carries."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_per_s": "1/s",
         "_frac": "ratio", "_per_doc": "rows/doc", "_per_user_byte": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def metric(value: float, n: int | None = None, unit: str | None = None, name: str = "") -> dict:
    out = {"value": value, "unit": unit or unit_of(name)}
    if n is not None:
        out["n"] = n
    return out


def _pct(out: dict, prefix: str, samples: list[float]) -> None:
    s = stats.summarize(samples)
    for p in ("p50", "p90", "p99"):
        if p in s:
            out[f"{prefix}_{p}_s"] = metric(s[p], s["n"], "s")


def end_to_end(wl, setup_s: float, peak_rss_mb: float) -> dict:
    all_s = [o["s"] for o in wl.timed_ops]
    out = {
        "setup_s": metric(setup_s, 1, "s"),
        "ops_per_s": metric(len(all_s) / wl.window_s, len(all_s), "1/s"),
        "op_p50_s": metric(stats.summarize(all_s)["p50"], len(all_s), "s"),
        "peak_rss_mb": metric(peak_rss_mb, None, "MB"),
        "failed_ops_frac": metric(wl.failed / max(wl.attempted, 1), wl.attempted, "ratio"),
    }
    if wl.name == "batch_queries":
        _pct(out, "query", all_s)
    if wl.name == "index_serve":
        for kind, label in (("bm25", "bm25"), ("ann", "ann"), ("prf", "prf"), ("kv", "kv_get")):
            s = stats.summarize(wl.samples.get(kind, []))
            if "p50" in s:
                out[f"{label}_p50_s"] = metric(s["p50"], s["n"], "s")
        if "p90" in stats.summarize(wl.samples.get("bm25", [])):
            _pct(out, "bm25", wl.samples["bm25"])
    if wl.name in ("index_serve", "index_ingest"):
        t = sum(wl.samples.get("ingest_docs", []))
        n_docs = len(wl.samples.get("ingest_docs", [])) * wl.ing.shape["docs_per_batch"]
        out["ingest_docs_per_s"] = metric(n_docs / t if t else 0.0, n_docs, "1/s")
        fresh = [s for k, v in wl.samples.items() if k.startswith("fresh_") for s in v]
        out["fresh_read_p50_s"] = metric(stats.summarize(fresh)["p50"], len(fresh), "s")
        out["stored_bytes_per_user_byte"] = metric(wl.stored_bytes / wl.user_bytes, None, "ratio")
    return out


def per_layer(wl, tracer) -> dict:
    """Per-op layer figures over the timed ops of a traced run."""
    spans = tracer.spans
    ops = [s for s in tracer.ops() if s.attrs.get("timed")]
    n = max(len(ops), 1)
    op_ids = {o.sid for o in ops}
    kids = [s for s in spans if s.op in op_ids and s.sid not in op_ids]
    by_name: dict[str, list] = {}
    for s in kids:
        by_name.setdefault(s.name, []).append(s)
    jobs = by_name.get("spark.job", [])
    build_ids = {s.sid for s in by_name.get("registry.build", [])}
    selfs = self_times(spans)
    stage = {k: sum(o.attrs.get("stages", {}).get(k, 0) for o in ops)
             for k in ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                       "shuffle_read", "shuffle_write", "spill", "input")}
    phases = {p: sum(s.attrs.get(p, 0.0) for s in by_name.get("plans.inspect", []))
              for p in ("analysis", "optimization", "planning")}
    inspect_self = sum(selfs[s.sid] for s in by_name.get("plans.inspect", []))
    job_cover = sum(
        covered([(j.t0, j.t1) for j in jobs if j.op == o.sid], o.t0, o.t1) for o in ops
    )
    out = {
        "session.start_s": wl.layers["session.start_s"],
        "session.cold_pass_s": wl.layers["session.cold_pass_s"],
        "registry.build_s": sum(s.dur for s in by_name.get("registry.build", [])) / n,
        "registry.build_jobs": sum(1 for j in jobs if j.parent in build_ids) / n,
        "plans.analysis_s": phases["analysis"] / n,
        "plans.optimization_s": phases["optimization"] / n,
        "plans.planning_s": phases["planning"] / n,
        "plans.codegen_compiles": sum(o.attrs.get("codegen", 0) for o in ops) / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": stage["stages"] / n,
        "exec.tasks": stage["tasks"] / n,
        "exec.job_s": sum(j.dur for j in jobs) / n,
        "exec.task_run_s": stage["run_ms"] / 1e3 / n,
        "exec.task_cpu_s": stage["cpu_ns"] / 1e9 / n,
        "exec.gc_s": stage["gc_ms"] / 1e3 / n,
        "exec.shuffle_read_bytes": stage["shuffle_read"] / n,
        "exec.shuffle_write_bytes": stage["shuffle_write"] / n,
        "exec.spill_bytes": stage["spill"] / n,
        "exec.input_bytes": stage["input"] / n,
        "exec.failed_tasks": stage["failed_tasks"] / n,
        # the op's time outside Spark jobs, less the tracer's own
        # re-planning of the op's DataFrame (plans.inspect)
        "driver.self_s": (sum(o.dur for o in ops) - job_cover - inspect_self) / n,
        "driver.cpu_s": wl.cpu_window["driver"] / n,
        "jvm.cpu_s": wl.cpu_window["jvm"] / n,
        "pyworker.cpu_s": wl.cpu_window["pyworker"] / n,
        # tracing's own cost inside the op: re-planning for the phase read
        "trace.plan_inspect_s": inspect_self / n,
    }
    for k in ("session.worker_spawn_s", "registry.load_s"):
        if k in wl.layers:
            out[k] = wl.layers[k]
    # operator calls: mean seconds per call
    for span_name in ("mr.run_documents", "retrieval.query", "retrieval.prf_expand",
                      "similarity.query", "kv.fold", "stream_ops.ingest_batch",
                      "retrieval.merge", "retrieval.delete", "similarity.add",
                      "similarity.compact", "similarity.delete", "kv.append"):
        calls = by_name.get(span_name, [])
        if calls:
            out[f"{span_name}_s"] = sum(s.dur for s in calls) / len(calls)
    out.update(wl.layer_extras(ops))
    return out
