"""Benchmark of the deal pipeline: ingest freshness, enrichment and egress
ticks, and catalog API latency. Entry point: `perfbench/run.py`."""
