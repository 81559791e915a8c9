"""Per-layer table of a traced run, storage probes and the summary.

Each per-layer metric is computed per traced op and reported as the
median over the traced ops. Layers a workload does not touch report 0.
The metric names and units come from BENCHMARK.json's ``per_layer``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from perfbench import trace


def layer_metrics() -> list:
    """[(name, unit)] of every per-layer metric, in BENCHMARK.json order."""
    bench = json.loads((Path(__file__).resolve().parents[1]
                        / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in bench["per_layer"]]


def storage(sc) -> tuple:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return len(sc._jsc.getPersistentRDDs()), held


def _spark_sum(et: dict, layer: str, metric: str) -> float:
    """Sum of an event-log metric over a layer and its sub-layers."""
    return sum(row[metric] for name, row in et["layers"].items()
               if name == layer or name.startswith(layer + "."))


def _op_values(st: dict, et: dict, op: dict) -> dict:
    """One traced op's per-layer values."""
    spans, events, counts = st["layers"], et["layers"], op["counts"]

    def span(layer, key="busy_s"):
        return spans.get(layer, {}).get(key, 0)

    def event(layer, key):
        return events.get(layer, {}).get(key, 0)

    kernels = span("fit", "kernels")
    v = {
        "fitter.self_s": span("fitter", "self_s"),
        "fitter.wait_s": st["wait_s"],
        "fitter.jobs": event("fitter", "jobs"),
        "sampling.rows": span("sampling", "rows"),
        "fit.kernels": kernels,
        "fit.ok_ratio": counts.get("result_rows", 0) / kernels
        if kernels else 0.0,
        "fit.fanout_s": et["fanout_s"],
        "fit.task_p50_s": trace.median(et["task_s"]),
        "fit.task_max_s": max(et["task_s"], default=0.0),
        "fit.python_s": event("fit", "python_s"),
        # the fan-out runs inside the first results action: not results'
        "results.busy_s": max(0.0, span("results", "self_s")
                              - et["fanout_s"]),
        "results.jobs": event("results", "jobs"),
        "metrics.ks_ad_calls": span("metrics", "calls"),
        "metrics.busy_s": span("metrics"),
        "copula.corr_s": span("copula.corr"),
        "copula.corr_jobs": event("copula.corr", "jobs"),
        "copula.corr_shuffle_bytes": event("copula.corr", "shuffle_bytes"),
        "generate.busy_s": span("generate"),
        "generate.tasks": event("generate", "tasks"),
        "generate.python_s": event("generate", "python_s"),
        "dedup.minhash_s": span("dedup.minhash"),
        "dedup.clusters_s": span("dedup.clusters"),
        "dedup.pairs": counts.get("minhash_pairs", 0),
        "dedup.clusters": counts.get("cluster_rows", 0),
        "linkage.setsim_s": span("linkage"),
        "linkage.pairs": counts.get("setsim_pairs", 0),
        "textstats.tfidf_s": span("textstats"),
        "textstats.pairs": counts.get("tfidf_pairs", 0),
        "trace.unaccounted_s": op["seconds"] - st["top_s"],
    }
    for layer in ("stats", "histogram", "sampling"):
        v[f"{layer}.busy_s"] = span(layer)
        v[f"{layer}.jobs"] = event(layer, "jobs")
    for layer in ("stats", "histogram"):
        v[f"{layer}.tasks"] = event(layer, "tasks")
    for layer in trace.SPARK_LAYERS:
        for m in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
            v[f"{layer}.{m}"] = _spark_sum(et, layer, m)
    return v


def per_layer(ops, tracer, log_path, jvm_rss_mb):
    """Per-layer metrics {name: (value, unit)} and the number of Spark
    jobs submitted during traced ops that carry no layer job group."""
    log = trace.parse_event_log(log_path)
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    per_op = [
        _op_values(trace.span_table(tracer.spans, tracer.waits, o["op"]),
                   trace.event_table(log, o["op"]), o)
        for o in traced
    ]
    values = {k: trace.median(v[k] for v in per_op) for k in per_op[0]} \
        if per_op else {}
    values["spark.persisted_rdds"] = max(
        (o["storage"][0] for o in traced), default=0)
    values["spark.cached_bytes"] = max(
        (o["storage"][1] for o in traced), default=0)
    values["jvm.peak_rss_mb"] = jvm_rss_mb
    values["trace.overhead_s"] = (
        trace.median(o["seconds"] for o in traced)
        - trace.median(o["seconds"] for o in untraced)
        if traced and untraced else 0.0)
    ungrouped = sum(trace.ungrouped_jobs(log, *o["epoch"]) for o in traced)
    values["trace.ungrouped_jobs"] = ungrouped
    values["trace.ops"] = len(traced)
    table = {name: (values.get(name, 0), unit)
             for name, unit in layer_metrics()}
    return table, ungrouped


def print_summary(workload, ops, metrics, unit, failed) -> None:
    """Human-readable lines (before the final JSON line)."""
    attempted = len(ops)
    print(f"# {workload}: {attempted} ops, {failed} failed, failed_ratio "
          f"{failed / attempted if attempted else 0:.3f}; throughput in "
          f"{unit}/s")
    for name, (value, u) in metrics.items():
        print(f"#   {name:<32} {value:>16.6g} {u}")
    sys.stdout.flush()
