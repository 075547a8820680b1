"""Metric catalogue: the end-to-end metrics every untraced run reports, the
per-layer metrics every traced run reports, and which end-to-end metric
each layer metric is expected to move on which workload."""

from __future__ import annotations

import re

from .catalog_api import QUERIES

RUN_SECONDS = 8
WORKLOAD_WHY = {
    "pipeline": "the three loops on one table: epoch-ordered claim slices ingested (backlog, then live), "
                "then enrich and egress rounds; loads ingest, both sink write paths, state and egress",
    "catalog_api": "read API: two closed-loop clients over 18 deal-surface and catalog queries; loads "
                   "api, plans.registry, operators.* and models, no sink or stream",
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name → (unit, better, bound). Each workload maps its work onto the
# latency and throughput pair:
#   pipeline     latency = slice freshness (ingest live tail),
#                throughput = deals enriched + deals offered to the API, per second of rounds
#   catalog_api  latency = one request, throughput = requests/s
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "latency_p90_ms": ("ms", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
}

# layer metric → (unit, better, end-to-end metric it should move, workload)
_INGEST = ("latency_p50_ms/latency_p90_ms", "pipeline")
_ROUNDS = ("throughput_per_s", "pipeline")
_API = ("latency_p50_ms/latency_p90_ms/throughput_per_s", "catalog_api")
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    # streaming.ingest
    "ingest.batch_s": ("s", "lower", "latency_p50_ms", "pipeline"),
    "ingest.trigger_overhead_s": ("s", "lower", "latency_p50_ms", "pipeline"),
    "ingest.jobs_per_batch": ("count", "lower", "latency_p50_ms", "pipeline"),
    "ingest.no_data_batches": ("count", "lower", "latency_p90_ms", "pipeline"),
    "ingest.state_rows": ("count", "lower", *_INGEST),
    "ingest.state_bytes": ("bytes", "lower", *_INGEST),
    "ingest.late_dropped_rows": ("count", "lower", *_INGEST),
    "ingest.state_updates_per_event": ("ratio", "lower", *_INGEST),
    "ingest.backlog_files_max": ("count", "lower", "latency_p90_ms", "pipeline"),
    # streaming.sink, append path (operators.merge.dedup_insert)
    "sink.append_dedup_s": ("s", "lower", *_INGEST),
    "sink.partitions_touched_per_append": ("count", "lower", *_INGEST),
    "sink.files_in_touched_partitions": ("count", "lower", *_INGEST),
    "sink.table_files_end": ("count", "lower", *_INGEST),
    # streaming.sink, merge path (operators.merge.merge_update)
    "sink.merge_overwrite_s": ("s", "lower", *_ROUNDS),
    "sink.rows_rewritten_per_merge": ("count", "lower", *_ROUNDS),
    "sink.rows_changed_per_merge": ("count", "higher", *_ROUNDS),
    "sink.write_amplification": ("ratio", "lower", *_ROUNDS),
    # operators.state
    "state.plan_build_s": ("s", "lower", *_ROUNDS),
    "state.queue_rows_per_tick": ("count", "higher", *_ROUNDS),
    "state.resolved_per_tick": ("count", "higher", *_ROUNDS),
    "state.useful_ratio": ("ratio", "higher", *_ROUNDS),
    # streaming.egress
    "egress.post_calls": ("count", "higher", *_ROUNDS),
    "egress.post_s": ("s", "lower", *_ROUNDS),
    "egress.skipped_batches": ("count", "lower", *_ROUNDS),
    "egress.cursor_s": ("s", "lower", *_ROUNDS),
    "egress.mark_s": ("s", "lower", *_ROUNDS),
    "egress.jobs_per_tick": ("count", "lower", *_ROUNDS),
    # api + plans.registry + operators.*
    **{f"api.q.{q}.p50_ms": ("ms", "lower", *_API) for q in QUERIES},
    **{f"api.q.{q}.jobs": ("count", "lower", *_API) for q in QUERIES},
    "api.errors": ("count", "lower", *_API),
    # operators.models
    "models.artifacts_published": ("count", "lower", "setup_s", "catalog_api"),
    "models.cold_publish_s": ("s", "lower", "setup_s", "catalog_api"),
    # session (a conf change shows on every workload)
    "session.start_s": ("s", "lower", "setup_s", "all"),
    "session.peak_rss_mb": ("MB", "lower", "setup_s", "all"),
    "spark.jobs": ("count", "lower", "setup_s", "all"),
    "spark.tasks": ("count", "lower", "setup_s", "all"),
    # the tracing itself: compare with the untraced run's latency_p50_ms
    "trace.latency_p50_ms": ("ms", "lower", "latency_p50_ms", "all"),
    "trace.overhead_s": ("s", "lower", "latency_p50_ms", "all"),
}


def benchmark_json() -> dict:
    """The repository's BENCHMARK.json, built from this catalogue
    (`python3 -m perfbench.metrics > BENCHMARK.json`)."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOAD_WHY.items()],
        "end_to_end": [{"name": k, "unit": u, "better": b, "bound": bd} for k, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": k, "unit": v[0], "better": v[1]} for k, v in PER_LAYER.items()],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))
