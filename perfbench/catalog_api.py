"""catalog_api: the read surface — `api.create_app` over a generated corpus.

Two closed-loop client threads (fewer than the task slots) send
`/query?name=…` requests. The request stream is a sequence of cycles; each
cycle holds every deal-surface query twice and every catalog family once
(20 : 8), in a seeded order, and the run always ends on a whole cycle so
every run sees the same mix. Load sits on `api`, `plans.registry` with
`operators.*`, the CBOR decode in `sources.events`, artifact reuse in
`operators.models` and the session's codegen cache; no sink and no
streaming run.
"""

from __future__ import annotations

import http.client
import json
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from . import checks, gen
from .harness import Outcome, pct
from .trace import Tracer

SETUP_REPS = 3
CLIENTS = 2
WARM_THREADS = 4
DEAL_QUERIES = (
    "eligible_deals", "count_by_state", "topn_asc", "event_to_deal", "dedup_insert",
    "state_update_merge", "resolve_state_tick", "cbor_decode_pipeline",
    "enrich_cached_peer", "scd2_deal_history",
)
CATALOG_QUERIES = (
    "agg_revenue_by_nation", "dedup_minhash_lsh", "ann_brute_force", "bm25_scores",
    "sessionize_events", "interval_range_join", "hll_set_ops_audit", "pagerank_entities",
)
QUERIES = DEAL_QUERIES + CATALOG_QUERIES
CYCLE = DEAL_QUERIES * 2 + CATALOG_QUERIES


def _get(port: int, name: str) -> tuple[int, dict | None, float]:
    """(status, body, seconds) of one request on a fresh connection."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"/query?name={name}")
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    finally:
        conn.close()
    dt = time.perf_counter() - t0
    try:
        body = json.loads(raw)
    except ValueError:
        body = None
    return status, body, dt


class RegistryProbe:
    """Traced-run wrappers: each registered query runs under its own job
    group (set in the server thread that executes it), and artifact builds
    in `operators.models.published` are counted and timed."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.groups: dict[str, list[str]] = {q: [] for q in QUERIES}
        self.builds: list[float] = []
        self._n = 0
        self._lock = threading.Lock()

    def install(self):
        from spark_deal_observer_spark.operators import models
        from spark_deal_observer_spark.plans.registry import REGISTRY, QueryDef

        originals = {q: REGISTRY[q] for q in QUERIES}
        sc = self.tracer.spark.sparkContext

        def wrap(name, qd):
            def fn(spark, sf_dir):
                t0 = time.perf_counter()
                with self._lock:
                    self._n += 1
                    group = f"perfbench-api-{name}-{self._n}"
                    self.groups[name].append(group)
                sc.setJobGroup(group, name)  # thread-local: covers this request's actions
                with self._lock:
                    self.tracer.overhead_s += time.perf_counter() - t0
                return qd.fn(spark, sf_dir)
            return QueryDef(fn, qd.oracle)

        for q, qd in originals.items():
            REGISTRY[q] = wrap(q, qd)

        orig_published = models.published
        probe = self

        def published(source, name, params, build):
            def timed_build():
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    probe.builds.append(time.perf_counter() - t0)
            return orig_published(source, name, params, timed_build)

        models.published = published

        def uninstall():
            REGISTRY.update(originals)
            models.published = orig_published

        return uninstall


def run(spark, work, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    from spark_deal_observer_spark.api import create_app, serve_in_background
    from spark_deal_observer_spark.plans.oracle_check import duckdb_connect
    from spark_deal_observer_spark.plans.registry import REGISTRY

    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = work.fresh("corpus")
        gen.catalog_tables(seed, sf_dir)
        reps.append(time.perf_counter() - t0)

    probe = RegistryProbe(tracer)
    uninstall = probe.install() if tracer.enabled else (lambda: None)
    server = create_app(spark, sf_dir)
    thread = serve_in_background(server)
    port = server.server_address[1]
    try:
        # warm-up: every query once, cold (artifact publishes included)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            warm = dict(zip(QUERIES, pool.map(lambda q: _get(port, q), QUERIES)))
        warmup_s = time.perf_counter() - t0
        published_warm = len(probe.builds)
        cold_publish_s = sum(probe.builds)

        # untimed: each query's row count against its DuckDB oracle twin
        con = duckdb_connect(sf_dir)
        cap = 1000
        expected = {}
        out_checks = []
        for q in QUERIES:
            n_oracle = con.execute(f"SELECT COUNT(*) FROM ({REGISTRY[q].oracle}) AS t").fetchone()[0]
            expected[q] = min(int(n_oracle), cap)
            status, body, _ = warm[q]
            got = body.get("n") if body else None
            out_checks.append((f"catalog.oracle_rows.{q}", status == 200 and got == expected[q],
                               f"status={status} spark={got} oracle={expected[q]}"))
        con.close()

        # -- timed closed loop, whole cycles only -------------------------------
        rng = random.Random(seed)
        lat: dict[str, list[float]] = {q: [] for q in QUERIES}
        all_ms: list[float] = []
        bad: list[str] = []
        lock = threading.Lock()

        def client(queue: list[str]) -> None:
            while True:
                with lock:
                    if not queue:
                        return
                    q = queue.pop()
                with tracer.span("api.request", query=q):
                    status, body, dt = _get(port, q)
                with lock:
                    if checks.response_ok(status, body, expected[q]):
                        lat[q].append(dt * 1000.0)
                        all_ms.append(dt * 1000.0)
                    else:
                        bad.append(f"{q}: status={status} n={body.get('n') if body else None}")

        began = time.perf_counter()
        cycles = 0
        while cycles == 0 or time.perf_counter() - began < seconds:
            order = list(CYCLE)
            rng.shuffle(order)
            workers = [threading.Thread(target=client, args=(order,), name=f"client-{i}")
                       for i in range(CLIENTS)]
            for w in workers:
                w.start()
            for w in workers:
                w.join()
            cycles += 1
        busy = time.perf_counter() - began
    finally:
        server.shutdown()
        server.server_close()
        thread.join(30)
        uninstall()

    sent = cycles * len(CYCLE)
    out = Outcome(latency_ms=all_ms, items=len(all_ms), busy_s=busy,
                  setup_reps_s=reps, warmup_s=warmup_s)
    out.attempted += sent
    out.failed += len(bad)
    for name, ok, detail in out_checks:
        out.check(name, ok, detail)
    out.check("catalog.responses", not bad, "; ".join(bad[:3]))
    n = len(all_ms)
    if n:
        out.named["api_latency_p50_ms"] = (pct(all_ms, 50), "ms", n)
        out.named["api_latency_p90_ms"] = (pct(all_ms, 90), "ms", n)
    out.named["api_queries_per_s"] = (n / busy, "req/s", n)
    out.notes.update({"cycles": cycles, "requests": sent, "clients": CLIENTS})

    if tracer.enabled:
        L = out.layers
        jobs = tasks = 0
        for q in QUERIES:
            groups = probe.groups[q]
            timed = groups[1:]  # the first request of each query is the warm-up
            qj = qt = 0
            for g in timed:
                j, t = tracer.jobs_tasks(g)
                qj, qt = qj + j, qt + t
            jobs, tasks = jobs + qj, tasks + qt
            L[f"api.q.{q}.p50_ms"] = statistics.median(lat[q]) if lat[q] else 0.0
            L[f"api.q.{q}.jobs"] = qj / max(1, len(timed))
        L["api.errors"] = float(len(bad))
        L["models.artifacts_published"] = float(published_warm)
        L["models.cold_publish_s"] = cold_publish_s
        L["spark.jobs"] = float(jobs)
        L["spark.tasks"] = float(tasks)
    return out
