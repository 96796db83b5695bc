"""Per-layer metrics of a traced run: span times plus Spark counters.

Every traced run reports the same fixed list (BENCHMARK.json per_layer),
so a layer the workload does not touch reads 0. Span-time metrics are
medians over the calls made after set-up (set-up calls when there are
no others); counter metrics are medians per call, except
``max_post_shuffle_partitions``, which is the maximum over calls.
perfbench/README.md says which end-to-end metric each one should move.
"""

from __future__ import annotations

from pathlib import Path

from stats import median
from tracing import COUNTERS, attribute, parse_event_log, span_counters
from workloads import BATCH_SIZES, PREP_KEYS, PREP_TRACED_KEYS, SEARCH_KINDS, op_ms

REGISTRY_KEYS = PREP_TRACED_KEYS + PREP_KEYS
COUNTED_SPANS = (
    ("creator.create", "searcher.init")
    + tuple(f"searcher.{k}" for k in SEARCH_KINDS)
    + ("searcher.many_q16", "fetcher.fetch", "searcher.first_after_refresh")
    + ("updater.update", "updater.delete", "compactor.compact")
    + tuple(f"registry.{k}" for k in REGISTRY_KEYS)
)
TIMED_SPANS = (
    ("session.start", "creator.create", "searcher.init")
    + tuple(f"searcher.{k}.{p}" for k in SEARCH_KINDS for p in ("construct", "exec"))
    + ("searcher.chunks",)
    + tuple(f"searcher.many_q{q}" for q in BATCH_SIZES)
    + ("fetcher.fetch", "searcher.refresh", "searcher.first_after_refresh")
    + ("updater.update", "updater.delete", "compactor.compact")
    + tuple(f"registry.{k}" for k in REGISTRY_KEYS)
)
WRITE_STATS = {
    "bytes_written": "bytes",
    "files_written": "count",
    "dirs_rewritten": "count",
    "write_amp": "ratio",
}
COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "max_post_shuffle_partitions": "count",
    "shuffle_bytes": "bytes",
    "gc_ms": "ms",
}


def metric_names() -> dict[str, str]:
    """name -> unit of every per-layer metric, in report order."""
    out = {f"{s}_ms": "ms" for s in TIMED_SPANS}
    out.update(
        {
            "creator.create.bytes_written": "bytes",
            "creator.create.files_written": "count",
            "searcher.cache_mb": "MB",
            "serving.search.overhead_ms": "ms",
            "compactor.compact.files_before": "count",
            "compactor.compact.files_after": "count",
            "trace.overhead_pct": "%",
        }
    )
    for s in ("updater.update", "updater.delete"):
        out.update({f"{s}.{k}": unit for k, unit in WRITE_STATS.items()})
    for s in COUNTED_SPANS:
        for c in COUNTERS:
            out[f"{s}.{c}"] = COUNTER_UNITS[c]
    return out


def _measured(spans, name: str, setup_end: float):
    mine = [s for s in spans if s.name == name and s.end is not None]
    late = [s for s in mine if s.start >= setup_end]
    return late or mine


def layer_metrics(workload: str, run, log_dir: Path) -> dict[str, dict]:
    spans = run.tracer.spans
    setup_end = run.info["setup_end"]
    jobs, stages = parse_event_log(log_dir)
    attribute(spans, jobs)
    counters = span_counters(spans, jobs, stages)
    run.info["jobs_total"] = len(jobs)
    run.info["jobs_unattributed"] = sum(1 for j in jobs.values() if j.span is None)

    values: dict[str, float | None] = dict.fromkeys(metric_names(), 0.0)
    for name in TIMED_SPANS:
        ms = [s.ms for s in _measured(spans, name, setup_end)]
        if ms:
            values[f"{name}_ms"] = median(ms)
    for name in COUNTED_SPANS:
        calls = [counters[s.id] for s in _measured(spans, name, setup_end)]
        if not calls:
            continue
        for c in COUNTERS:
            per_call = [k[c] for k in calls]
            values[f"{name}.{c}"] = (
                max(per_call) if c == "max_post_shuffle_partitions" else median(per_call)
            )

    info, samples = run.info, run.samples
    if workload == "serve":
        values["creator.create.bytes_written"] = info["create_bytes"]
        values["creator.create.files_written"] = info["create_files"]
        values["searcher.cache_mb"] = info["cache_mb"]
        # tool calls and decomposed calls alternate in the same window
        if samples.get("search_ms") and samples.get("decomposed_hybrid_ms"):
            values["serving.search.overhead_ms"] = median(samples["search_ms"]) - median(
                samples["decomposed_hybrid_ms"]
            )
        for s in ("updater.update", "updater.delete", "compactor.compact"):
            for k, v in info.get(s, {}).items():
                values[f"{s}.{k}"] = v
    # traced and untraced calls alternate in the same window; None (a
    # failed figure) when the window missed either kind
    traced, untraced = op_ms(workload, samples), op_ms(workload, samples, untraced=True)
    values["trace.overhead_pct"] = (
        100.0 * (traced / untraced - 1.0) if traced and untraced else None
    )
    units = metric_names()
    return {
        k: {"value": None if v is None else float(v), "unit": units[k]}
        for k, v in values.items()
    }
