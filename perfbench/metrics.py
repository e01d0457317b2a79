"""Metric names, units and the arithmetic that turns timings and spans
into them.  ``BENCHMARK.json`` lists the same names; a test keeps the two
in step."""

from __future__ import annotations

import statistics

import numpy as np

from spans import COUNT_KEYS, Span, self_times
from workloads import LLM_BUILDS, MODULES

END_TO_END = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "heap_live_mb": "MB",
}

#: layers whose Spark counts (jobs, tasks, shuffle, spill) are reported
COUNTED_LAYERS = (
    "catalog", "dfs", "relational", "relational_ext", "relational_tpch",
    "events", "multimodal", "text_analysis", "text_scoring", "dedup",
    "similarity", "compression", "parity", "windowed",
)
#: calls into the jobs layers, wrapped with spans in traced runs
JOB_CALLS = {
    "mapreduce.run_job_s": "mapreduce.run_job",
    "wordcount.word_count_s": "wordcount.word_count",
    "pagerank.pagerank_s": "pagerank.pagerank",
}
DFS_CALLS = ("store_file", "retrieve_file", "delete_file")


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "session.first_setup_s": "s",
        "catalog.load_table_s": "s",
        "catalog.scan_mb": "MB",
    }
    for m in MODULES:
        units[f"{m}.plan_s"] = "s"
        units[f"{m}.exec_s"] = "s"
    for span, *_ in LLM_BUILDS:
        units[f"{span}_s"] = "s"
    units["windowed.drain_s"] = "s"
    for call in DFS_CALLS:
        units[f"dfs.{call}_s"] = "s"
    units.update({"dfs.store_mb_s": "MB/s", "dfs.retrieve_mb_s": "MB/s", "dfs.blocks": "count"})
    for name in JOB_CALLS:
        units[name] = "s"
    units["mapreduce.pairs_out"] = "count"
    for layer in COUNTED_LAYERS:
        units[f"{layer}.jobs"] = "count"
        units[f"{layer}.tasks"] = "count"
        units[f"{layer}.shuffle_write_mb"] = "MB"
        units[f"{layer}.spill_mb"] = "MB"
    units["jvm.peak_rss_mb"] = "MB"
    units["python_workers.peak_rss_mb"] = "MB"
    units["trace.wall_s"] = "s"
    units["trace.bookkeeping_s"] = "s"
    return units


PER_LAYER = _per_layer_units()

MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, sample count) for the highest percentile with at
    least MIN_BEYOND samples beyond it: the (MIN_BEYOND + 1)-th largest
    value, at percentile 100 * (n - MIN_BEYOND) / n.  None when that
    percentile would be below the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * MIN_BEYOND:
        return None
    return xs[n - MIN_BEYOND - 1], 100.0 * (n - MIN_BEYOND) / n, n


def failed_count(failures: dict, wrong: dict) -> int:
    """Operations that raised, plus operations whose checked output was
    wrong; ``fail_frac`` is this over the operations attempted."""
    return len(failures) + len(wrong)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics weighted by a Beta((n + 1)/2, (n + 1)/2) distribution over
    their ranks.  A workload's operation latencies form one cluster per
    operation, and the sample median jumps between the two clusters
    nearest the middle as the host's speed shifts; this estimate moves
    smoothly instead."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        return 0.0
    a = (n + 1) / 2
    steps = 200  # integration points per rank interval
    grid = np.linspace(0.0, 1.0, steps * n + 1)[1:-1]
    log_pdf = (a - 1) * (np.log(grid) + np.log1p(-grid))
    pdf = np.concatenate(([0.0], np.exp(log_pdf - log_pdf.max()), [0.0]))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    weights = np.diff(cdf[::steps]) / cdf[-1]
    return float(weights @ xs)


def _sum(spans, pred, key=lambda s: s.duration) -> float:
    return sum(key(s) for s in spans if pred(s))


def layer_self_s(spans: list[Span], measured: list[str]) -> dict[str, float]:
    """Each layer's self time per measured pass (median over the passes):
    the time spent in the layer's own spans and not in a nested layer."""
    own = self_times(spans)
    layers = sorted({s.layer for s in spans if s.phase in measured})
    return {
        layer: median([
            sum(own[s.id] for s in spans if s.phase == p and s.layer == layer) for p in measured
        ])
        for layer in layers
    }


def per_layer(spans: list[Span], measured: list[str], setups: int, extra: dict) -> dict[str, float]:
    """Per-layer metrics from a traced run's spans.

    ``measured`` names the warm phases the end-to-end statistics use;
    a layer's warm value is the median over them of its per-pass total.
    Builds, drains and job calls are one-off costs of a fresh
    session, taken from the build and cold phases.  Set-up layers are the
    median over the run's set-ups.  ``extra`` carries values the spans do
    not hold (scan size, DFS blocks, job outputs, peak RSS)."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    cold = [s for s in spans if s.phase in ("build", "cold")]

    def warm(pred, key=lambda s: s.duration) -> float:
        return median([_sum(spans, lambda s: s.phase == p and pred(s), key) for p in measured])

    setup_phases = [f"setup{i}" for i in range(1, setups + 1)]

    def per_setup(name) -> float:
        return median([_sum(spans, lambda s: s.phase == p and s.name == name) for p in setup_phases])

    out["session.get_spark_s"] = per_setup("session.get_spark")
    out["catalog.load_table_s"] = per_setup("catalog.load_table")
    out["session.first_setup_s"] = _sum(spans, lambda s: s.phase == "setup1" and s.parent is None)
    for m in MODULES:
        out[f"{m}.plan_s"] = warm(lambda s, m=m: s.name == f"{m}.plan")
        out[f"{m}.exec_s"] = warm(lambda s, m=m: s.name == f"{m}.exec")
    for span, *_ in LLM_BUILDS:
        out[f"{span}_s"] = _sum(cold, lambda s, n=span: s.name == n)
    out["windowed.drain_s"] = _sum(cold, lambda s: s.layer == "windowed" and s.parent is None)
    for call in DFS_CALLS:
        out[f"dfs.{call}_s"] = warm(lambda s, c=call: s.name == f"dfs.{c}")
    for metric, name in JOB_CALLS.items():
        out[metric] = _sum(cold, lambda s, n=name: s.name == n)
    for layer in COUNTED_LAYERS:
        for k in COUNT_KEYS:
            if layer == "catalog":
                vals = [
                    _sum(spans, lambda s, p=p: s.phase == p and s.layer == "catalog",
                         lambda s, k=k: s.counts.get(k, 0))
                    for p in setup_phases
                ]
                out[f"{layer}.{k}"] = median(vals)
            else:
                out[f"{layer}.{k}"] = warm(
                    lambda s, l=layer: s.layer == l, lambda s, k=k: s.counts.get(k, 0)
                )
    out.update(extra)
    return out
