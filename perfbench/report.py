"""Metric definitions and the run's output.

``E2E`` and ``layer_metrics()`` are the names ``BENCHMARK.json`` lists;
every run prints all of one set (untraced: end-to-end, traced:
per-layer), whatever its workload. A per-call quantity of a call the
workload never makes is reported as 0.
"""

from __future__ import annotations

from perfbench.spans import CALL_FIELDS, check_name, median, percentile, tail_percentile
from perfbench.workloads import CALLS, Run

# name -> unit; what each means per workload is in README.md
E2E = {
    "setup_s": "s",
    "small_batch_p50_s": "s",
    "rows_per_s": "rows/s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

COUNTS = {
    "session.start_s": "s",
    "hnsw.ann_search.serving_share": "ratio",
    "hnsw.insert_batch.index_partitions": "count",
    "hnsw.insert_batch.reject_ratio": "ratio",
    "graph_io.bytes_per_vector_byte": "ratio",
    "storage.resident_mb": "MB",
    "storage.spill_mb": "MB",
    "trace.harness_s": "s",
}


def _field_unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    return "MB" if field.endswith("_mb") else "count"


def layer_metrics() -> dict[str, str]:
    out = {f"{c}.{f}": _field_unit(f) for c in CALLS for f in CALL_FIELDS}
    out.update(COUNTS)
    return {check_name(k): v for k, v in out.items()}


def build_rate(run: Run) -> float:
    """Corpus vectors per second of build calls, on the warm JVM: the
    median over every set-up after the first."""
    return run.sizes.corpus / median(run.samples["build_s"][1:])


def end_to_end(run: Run, peak_rss_mb: float) -> dict[str, float]:
    s = run.samples
    return {
        "setup_s": median(s["setup_s"]),
        "small_batch_p50_s": median(s["small_s"]),
        "rows_per_s": sum(s["rows"]) / sum(s["rows_s"]),
        # a failed probe recalls nothing
        "recall_at_10": s.get("recall", [0.0])[-1],
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(run: Run) -> dict[str, float]:
    tr, info = run.tracer, run.info
    out: dict[str, float] = {}
    for call in CALLS:
        profiles = [tr.call_profile(i) for i in tr.calls(call)]
        for f in CALL_FIELDS:
            out[f"{call}.{f}"] = median([p[f] for p in profiles]) if profiles else 0
    paths = info["paths"]
    rounds = info["rounds"]
    out["session.start_s"] = median(run.samples["session_s"])
    out["hnsw.ann_search.serving_share"] = paths.count("serving") / len(paths)
    out["hnsw.insert_batch.index_partitions"] = (
        rounds[-1]["partitions"] if rounds else 0)
    out["hnsw.insert_batch.reject_ratio"] = (
        sum(r["rejected"] for r in rounds) / (len(rounds) * run.sizes.insert)
        if rounds else 0)
    out["graph_io.bytes_per_vector_byte"] = (
        info.get("manifest_bytes", 0) / (run.sizes.corpus * 64 * 8))
    out["storage.resident_mb"] = max(mb for _, mb in info["storage_mb"])
    out["storage.spill_mb"] = tr.spill_mb()
    out["trace.harness_s"] = tr.harness_s
    return out


def named(run: Run) -> dict[str, list]:
    """The workload-specific figures, by the names a reader expects:
    ``{name: [value, unit]}``."""
    s = run.samples
    out: dict[str, list] = {}
    small = s.get("small_s", [])
    out["small_batch_p50_s"] = [median(small), "s"]
    tail = tail_percentile(len(small))
    if tail is not None:
        out[f"small_batch_p{tail}_s"] = [percentile(small, tail), "s"]
    out["small_batches"] = [len(small), "count"]
    if run.workload == "serve":
        out["large_batch_p50_s"] = [median(s["large_s"]), "s"]
        out["large_batches"] = [len(s["large_s"]), "count"]
        out["queries_per_s"] = [sum(s["rows"]) / sum(s["rows_s"]), "q/s"]
        out["recall_at_10"] = [s.get("recall", [0.0])[-1], "ratio"]
    else:
        out["insert_batch_p50_s"] = [median(s["insert_s"]), "s"]
        out["delete_batch_p50_s"] = [median(s["delete_s"]), "s"]
        out["rounds"] = [len(s["insert_s"]), "count"]
        out["churn_recall_at_10"] = [s.get("recall", [0.0])[-1], "ratio"]
        out["churn_self_recall"] = [median(s.get("self_recall", [0.0])), "ratio"]
    out["build_vectors_per_s"] = [build_rate(run), "vec/s"]
    if "load_s" in s:
        out["restart_load_s"] = [median(s["load_s"]), "s"]
    out["setup_s"] = [median(s["setup_s"]), "s"]
    out["failed_ops_ratio"] = [len(run.failures) / run.attempted, "ratio"]
    return out


def accounting(run: Run) -> dict[str, float]:
    """How much of the measured ops' time the layer calls cover; the rest
    is the benchmark's own gaps (building query frames, checks)."""
    tr = run.tracer
    ops = [i for i, sp in enumerate(tr.spans)
           if sp.kind == "op" and sp.parent is None and sp.name != "setup"
           and not sp.name.startswith("setup.")]
    timed = sum(tr.spans[i].wall for i in ops)
    gaps = sum(tr.self_time(i) for i in ops)
    return {"ops_s": timed, "layer_calls_s": timed - gaps, "gaps_s": gaps}


def text_lines(run: Run, e2e: dict, layer: dict | None) -> list[str]:
    """Human-readable summary printed before the result line."""
    lines = [f"perfbench {run.workload} seed={run.seed} "
             f"trace={int(run.traced)}: {run.attempted} ops, "
             f"{len(run.failures)} failed"]
    for op, checks in sorted(run.failures.items()):
        lines.append(f"  FAILED {op}: {'; '.join(sorted(checks))}")
    for name, (value, unit) in named(run).items():
        lines.append(f"  {name:28s} {value:14.6g} {unit}")
    for name, value in e2e.items():
        lines.append(f"  e2e {name:24s} {value:14.6g} {E2E[name]}")
    if run.info["rounds"]:
        lines.append("  round  insert_s  index_partitions  rejected  delete_s"
                     "  partitions_after_delete  probe_s")
        for r in run.info["rounds"]:
            # an op that raised leaves its fields out
            g = {k: r.get(k, float("nan")) for k in (
                "insert_s", "partitions", "rejected", "delete_s",
                "partitions_after_delete", "probe_s")}
            lines.append(
                f"  {r['round']:5d} {g['insert_s']:9.3f} {g['partitions']:17} "
                f"{g['rejected']:9} {g['delete_s']:9.3f} "
                f"{g['partitions_after_delete']:24} {g['probe_s']:8.3f}")
    if run.info["contrasts"]:
        lines.append("  large batch: ann_search_s (path)  search_serving_s  "
                     "l2_topk_numpy_s")
        for c in run.info["contrasts"]:
            lines.append(
                f"  {c['ann_search_s']:10.3f} ({c['path']:7s}) "
                f"{c['search_serving_s']:17.3f} {c['l2_topk_numpy_s']:16.3f}")
    if layer is not None:
        for call in CALLS:
            row = " ".join(f"{f}={layer[f'{call}.{f}']:.4g}" for f in
                           ("wall_s", "driver_s", "jobs", "tasks",
                            "executor_run_s", "python_udf_s"))
            lines.append(f"  {call:32s} {row}")
    return lines
