"""Per-layer metrics of a traced run, named ``<layer>.<metric>`` after
the program's modules; BENCHMARK.json lists them with their units. Every
workload reports every metric; a layer the workload does not exercise
reads 0.

Conventions: ``*_s`` of a span is its median duration per call;
``count/pass`` and ``s/pass`` are totals per traced pass; ``plans.qNN_s``
is the query's mean traced latency and ``operators.<module>_s`` sums the
``plans.qNN_s`` of the queries whose builders reach that module (the
cost of one run of each). The operator-heavy queries, ``streaming`` and
``sigstore`` figures come from analyst_mix's probe.
"""

from __future__ import annotations

import statistics

from workloads import MIX, OPERATOR_LAYERS, PROBED

# counters the tracer accumulates that are reported per traced pass
PER_PASS = (
    "sources.pages", "sources.rows_parsed", "sources.fetch_busy_s",
    "sources.fetch_errors", "pipelines.files_written", "spark.failed_tasks",
)

# span name -> metric holding its median duration
SPANS = {
    "pipelines.transform": "pipelines.transform_s",
    "pipelines.write": "pipelines.write_s",
    "pipelines.consolidate": "pipelines.consolidate_s",
    "plans.build": "plans.build_s",
    "plans.execute": "plans.execute_s",
    "sigstore.sink": "sigstore.sink_s",
    "caching.release": "caching.release_s",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tr, wl, passes: int, measured: dict) -> dict[str, float]:
    """Every per-layer value, from the tracer's spans and counts, the
    workload's own records and the ``measured`` values of ``run.py``."""
    c = tr.counts
    val = dict(measured)
    val.update({k: c[k] / passes for k in PER_PASS})
    val.update({m: _median(tr.durations(s)) for s, m in SPANS.items()})
    val["functions.royalty_match_frac"] = _ratio(
        c["functions.royalty_rows"], c["sources.rows_parsed"])
    val["pipelines.bytes_out_per_byte_in"] = _ratio(
        c["pipelines.bytes_out"], c["pipelines.bytes_in"])
    batches = getattr(wl, "batch_times", [])  # analyst_mix's probe
    val["streaming.trigger_s"] = _median(t for t, _ in batches)
    val["streaming.add_batch_s"] = _median(a for _, a in batches)
    val["streaming.overhead_s"] = _median(t - a for t, a in batches)
    for k in ("streaming.batches", "sigstore.store_files",
              "sigstore.store_bytes", "sigstore.flags"):
        val[k] = c[k]
    val["caching.leaked_rdds"] = _ratio(c["caching.leaked_rdds"],
                                        c["spark.ops"])
    layers = getattr(wl, "layers", {})
    for m in OPERATOR_LAYERS:
        val[f"operators.{m}_s"] = 0.0
    for q in MIX + PROBED:
        k = f"plans.{q.split('_')[0]}"
        val[f"{k}_s"] = _ratio(c[f"{k}_s"], c[f"{k}.n"])
        for m in layers.get(q, set()) & set(OPERATOR_LAYERS):
            val[f"operators.{m}_s"] += val[f"{k}_s"]
    val["spark.jobs_per_op"] = _ratio(c["spark.jobs"], c["spark.ops"])
    val["spark.tasks_per_op"] = _ratio(c["spark.tasks"], c["spark.ops"])
    return val
