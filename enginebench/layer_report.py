"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Builder, writer, merge and searcher numbers come from the spans inside the
timed part, except ``builder.bulk_*``, which come from the set-up
``build_index`` that ``build_docs_per_s`` times. Session, analysis, codecs
and kernel numbers come from their own measurements (see layers.py). A
layer that does no work in a workload's timed part reports 0 there, which
is the prediction for that workload.
"""

from __future__ import annotations

from statistics import fmean as mean

import tracing
from checks import median

SELF_TIME = {"index.builder": "builder.self_s", "index.writer": "writer.self_s",
             "index.merge": "merge.self_s",
             "search.searcher": "searcher.self_s"}


def per_layer(r, tr: tracing.Tracer, start_s: float, events: str,
              cores: int) -> dict[str, float]:
    by_group = tracing.read_event_log(events)
    timed = tr.descendants(r.timed) if r.timed else []
    out: dict[str, float] = {"session.start_s": start_s}
    out.update(r.layer)

    if r.bulk is not None:
        c = tracing.span_counters(tr, r.bulk, by_group)
        out.update({
            "builder.bulk_wall_s": r.bulk.wall_s,
            "builder.bulk_spark_stages": c.stages,
            "builder.bulk_shuffle_write_bytes": c.shuffle_write_bytes,
            "builder.bulk_core_util": c.executor_run_s / (
                r.bulk.wall_s * cores),
        })
    builds = [s for s in timed if s.layer == "index.builder"]
    if builds:
        cs = [tracing.span_counters(tr, s, by_group) for s in builds]
        walls = [s.wall_s for s in builds]
        out.update({
            "builder.wall_s": median(walls),
            "builder.spark_jobs": median([c.jobs for c in cs]),
            "builder.spark_stages": median([c.stages for c in cs]),
            "builder.tasks": median([c.tasks for c in cs]),
            "builder.shuffle_write_bytes": median(
                [c.shuffle_write_bytes for c in cs]),
            "builder.shuffle_read_bytes": median(
                [c.shuffle_read_bytes for c in cs]),
            "builder.spill_bytes": median([c.spill_bytes for c in cs]),
            "builder.executor_run_s": median([c.executor_run_s for c in cs]),
            "builder.jvm_gc_s": median([c.jvm_gc_s for c in cs]),
            "builder.core_util": median(
                [c.executor_run_s / (w * cores) for c, w in zip(cs, walls)]),
        })

    updates = [s for s in timed if s.name == "update_documents"]
    if updates:
        out["writer.spark_jobs_per_update"] = median(
            [tracing.span_counters(tr, s, by_group).jobs for s in updates])

    searches = [s for s in timed if s.layer == "search.searcher"
                and s.name.startswith("search.")]
    if searches:
        cs = [tracing.span_counters(tr, s, by_group) for s in searches]
        out.update({
            "searcher.spark_jobs_per_query": mean([c.jobs for c in cs]),
            "searcher.spark_stages_per_query": mean([c.stages for c in cs]),
            "searcher.tasks_per_query": mean([c.tasks for c in cs]),
            "searcher.shuffle_bytes_per_query": mean(
                [c.shuffle_write_bytes for c in cs]),
        })
    opens = [s for s in timed if s.name == "open"]
    if opens:
        out["searcher.open_ms"] = median([s.wall_s * 1e3 for s in opens])

    for layer, name in SELF_TIME.items():
        out[name] = sum(tr.self_s(s) for s in timed if s.layer == layer)
    if r.timed:
        out["trace.layer_coverage"] = tr.coverage(r.timed)
    spans = list(tr.spans.values())
    out["trace.span_overhead_ms"] = mean(
        s.overhead_s for s in spans) * 1e3
    out["failed_ops_frac"] = r.failed / max(1, r.attempted)
    for name, v in r.e2e.items():
        out[f"traced.{name}"] = v
    return out
