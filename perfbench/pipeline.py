"""pipeline: the reference's three loops on one `active_deals` table.

1. Observe/ingest. A backlog of epoch-contiguous slice files is drained with
   `start_ingest(available_now=True, max_files_per_trigger=…)` (catch-up);
   then slices land on an open-loop schedule — due times fixed before the
   first one lands — while `start_ingest` runs its default partitioned sink
   with `processing_time="0 seconds"` (live tail). A slice's freshness is
   its due time → end of the micro-batch that committed it, from the query
   listener's progress and the file source's log.
2. Enrichment then egress, back to back, on the ingested table: each round
   is `resolve_tick` → `sink.merge_overwrite` (composed as the end-to-end
   test does, so the whole post-merge table is the update) followed by
   `submit_eligible` with a stub poster. These writes merge and rewrite
   instead of appending.

Load sits on `streaming.ingest`, `streaming.sink` (both write paths),
`operators.merge`, `operators.state` and `streaming.egress`; the catalog is
never called. The ingested table is checked row for row against a numpy
restatement of the ingest derivation, and every round against a pandas
replay of the same tick sequence.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import zlib
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from . import checks, gen
from .harness import Outcome, pct
from .trace import Tracer

SETUP_REPS = 3
SLICES_PER_S = 12  # live arrival rate (~600 events/s), one that the batch loop keeps up with
MIN_LIVE_SLICES = 100
MAX_FILES_PER_TRIGGER = 10
DRAIN_TIMEOUT_S = 60.0
MAX_DEALS = 1_000  # per enrichment tick
MIN_ROUNDS = 2
STEP = pd.Timedelta(days=4)  # `now` per round: past the 3-day retry backoff, so retries reach TERMINAL
REF_TS = pd.Timestamp("2025-01-18 03:00:00")
POST_DELAY_S = 0.002  # stands in for the spark-api round trip
POST_FAIL_PCT = 10


class ProgressLog(StreamingQueryListener):
    """Every micro-batch's progress, as plain dicts keyed by (run, batch)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: dict[tuple[str, int], dict] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        dur = dict(p.durationMs or {})
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        ops = p.stateOperators or []
        rec = {
            "run": str(p.runId),
            "batch": p.batchId,
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "trigger_s": dur.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": dur.get("addBatch", 0) / 1000.0,
            "rows_in": p.numInputRows,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_updates": sum(o.numRowsUpdated for o in ops),
            "late_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            "log_offset": _log_offset(p.sources[0].endOffset) if p.sources else -1,
        }
        with self.lock:
            self.batches[(rec["run"], rec["batch"])] = rec

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def of(self, run: str) -> list[dict]:
        with self.lock:
            return sorted((b for (r, _), b in self.batches.items() if r == run), key=lambda b: b["batch"])


def _log_offset(offset) -> int:
    if not offset:
        return -1
    return int((json.loads(offset) if isinstance(offset, str) else offset)["logOffset"])


def source_log(checkpoint: str) -> dict[str, int]:
    """File name → the file source's log offset that admitted it (plain and
    compacted log entries alike). A micro-batch commits every file whose
    offset is at most the batch's end offset."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]  # the first line is the log version
        except OSError:
            continue
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _listing(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "epoch_bucket=*", "*.parquet")))


class SinkProbe:
    """Traced-run wrappers around the partitioned sink's two write paths:
    a span per call, plus what the table's file listing shows afterwards
    (partitions and files an append touched, rows it added; rows a merge
    rewrote)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.appends: list[dict] = []

    def install(self):
        from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink as Sink

        orig_append, orig_merge = Sink.append_dedup, Sink.merge_overwrite
        probe, tracer = self, self.tracer

        def append_dedup(sink, batch):
            t0 = time.perf_counter()
            before = _listing(sink.path)
            tracer.overhead_s += time.perf_counter() - t0
            # no job group of its own: the jobs stay in the streaming query's group
            with tracer.span("sink.append_dedup") as sp:
                orig_append(sink, batch)
            t1 = time.perf_counter()
            after = _listing(sink.path)
            new = after - before
            parts = {os.path.dirname(f) for f in new}
            probe.appends.append({
                "s": sp.dur,
                "partitions": len(parts),
                "files_in_partitions": sum(1 for f in after if os.path.dirname(f) in parts),
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in new),
            })
            tracer.overhead_s += time.perf_counter() - t1

        def merge_overwrite(sink, updates, on):
            with tracer.span("sink.merge_overwrite", jobs=True) as sp:
                orig_merge(sink, updates, on)
            t0 = time.perf_counter()
            sp.attrs["rows_rewritten"] = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in _listing(sink.path) if os.path.getmtime(f) >= sp.start - 1e-3)
            tracer.overhead_s += time.perf_counter() - t0

        Sink.append_dedup, Sink.merge_overwrite = append_dedup, merge_overwrite

        def uninstall():
            Sink.append_dedup, Sink.merge_overwrite = orig_append, orig_merge

        return uninstall


class StubPoster:
    """Fixed-delay POST stand-in. A seeded share of calls raise, chosen by
    the batch's first piece size so the choice does not depend on timing.
    Logs which deals each call carried (piece sizes are distinct per deal)."""

    def __init__(self, seed: int, size_to_id: dict[str, int], tracer: Tracer):
        self.seed = seed
        self.size_to_id = size_to_id
        self.tracer = tracer
        self.ticks: list[list[tuple[set[int], bool]]] = []

    def __call__(self, payload: list[dict]) -> dict[str, int]:
        with self.tracer.span("egress.post"):
            ids = {self.size_to_id[p["pieceSize"]] for p in payload}
            fail = zlib.crc32(f"{self.seed}:{payload[0]['pieceSize']}".encode()) % 100 < POST_FAIL_PCT
            self.ticks[-1].append((ids, not fail))
            time.sleep(POST_DELAY_S)
            if fail:
                raise ConnectionError("stub spark-api refused the batch")
            return {"ingested": len(payload)}


def _round(sink, peers, pays, poster: StubPoster, now: pd.Timestamp, tracer: Tracer):
    """One enrichment tick then one egress tick: their durations and errors."""
    from pyspark.sql import functions as F
    from spark_deal_observer_spark.operators.state import resolve_tick
    from spark_deal_observer_spark.streaming.egress import submit_eligible

    now_col = F.lit(str(now)).cast("timestamp_ntz")
    errors = []
    t0 = time.perf_counter()
    try:
        with tracer.span("enrich.tick", jobs=True):
            with tracer.span("state.resolve_tick"):
                after = resolve_tick(sink.read(), peers, pays, now_col, max_deals=MAX_DEALS)
            sink.merge_overwrite(after, ["id"])
    except Exception as exc:  # noqa: BLE001 - a raising tick is a failed op
        errors.append(f"enrich: {exc!r}")
    t1 = time.perf_counter()
    poster.ticks.append([])
    try:
        with tracer.span("egress.tick", jobs=True):
            submit_eligible(sink, poster, now=now_col)
    except Exception as exc:  # noqa: BLE001
        errors.append(f"egress: {exc!r}")
    return t1 - t0, time.perf_counter() - t1, errors


def _wait(cond, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.05)
    return cond()


def run(spark, work, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    from spark_deal_observer_spark.streaming.ingest import start_ingest
    from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink

    plan = gen.IngestPlan(live_slices=max(MIN_LIVE_SLICES, round(seconds * SLICES_PER_S)))
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        root = work.fresh("pipeline")
        source, staged = os.path.join(root, "source"), os.path.join(root, "staged")
        os.makedirs(source)
        os.makedirs(staged)
        inp = gen.ingest_input(seed, source, staged, plan)
        reps.append(time.perf_counter() - t0)
    table, ckpt = os.path.join(root, "table"), os.path.join(root, "ckpt")
    names = [os.path.basename(f) for f in inp.live]

    log = ProgressLog()
    spark.streams.addListener(log)
    probe = SinkProbe(tracer)
    uninstall = probe.install() if tracer.enabled else (lambda: None)
    try:
        # -- catch-up; its first micro-batch is the ingest warm-up --------------
        q = start_ingest(spark, source, table, ckpt, available_now=True,
                         max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        q.awaitTermination(DRAIN_TIMEOUT_S)
        catchup_run = str(q.runId)

        # -- live tail -------------------------------------------------------
        q = start_ingest(spark, source, table, ckpt, processing_time="0 seconds")
        live_run = str(q.runId)
        _wait(lambda: "Waiting" in q.status.get("message", ""), 20.0)
        due0 = time.time() + 0.2
        due = [due0 + i / SLICES_PER_S for i in range(len(names))]
        landed: list[float] = []

        def land():
            for name, d in zip(names, due):
                pause = d - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(os.path.join(staged, name), os.path.join(source, name))
                landed.append(time.time())

        writer = threading.Thread(target=land, name="slice-writer")
        writer.start()
        writer.join(len(names) / SLICES_PER_S + 30)

        def drained() -> bool:
            admitted = source_log(ckpt)
            if not all(n in admitted for n in names):
                return False
            last = max(admitted[n] for n in names)
            return any(b["log_offset"] >= last for b in log.of(live_run))

        _wait(drained, DRAIN_TIMEOUT_S)
        # stopping mid-batch interrupts the stream thread; let a trailing
        # no-data batch finish first
        _wait(lambda: not q.status.get("isTriggerActive", False), 10.0)
        q.stop()
        q.awaitTermination(DRAIN_TIMEOUT_S)
        spark.streams.removeListener(log)
        sink = PartitionedDealTableSink(spark, table)
        ingested = sink.read().toPandas()

        # -- enrichment + egress rounds; round 0 is their warm-up ---------------
        peers = spark.createDataFrame(inp.peers, "miner_id INT, peer_id STRING").localCheckpoint()
        pays = spark.createDataFrame(inp.pays, "peer_id STRING, piece_cid STRING, payload_cid STRING")
        pays = pays.localCheckpoint()
        sizes = dict(zip(inp.expected["piece_size"].astype(str), inp.expected["id"]))
        poster = StubPoster(seed, sizes, Tracer())
        t0 = time.perf_counter()
        _, _, errors = _round(sink, peers, pays, poster, REF_TS, poster.tracer)
        round0_s = time.perf_counter() - t0
        poster.tracer = tracer
        nows, enrich_s, egress_s = [REF_TS], [], []
        began = time.perf_counter()
        while len(enrich_s) < MIN_ROUNDS or time.perf_counter() - began < seconds:
            now = REF_TS + len(nows) * STEP
            a, b, errs = _round(sink, peers, pays, poster, now, tracer)
            enrich_s.append(a)
            egress_s.append(b)
            nows.append(now)
            errors.extend(errs)
        final = sink.read().toPandas()
    finally:
        uninstall()

    # -- ingest results ---------------------------------------------------------
    admitted = source_log(ckpt)
    catchup = [b for b in log.of(catchup_run) if b["rows_in"] > 0]
    live_batches = log.of(live_run)
    fresh_ms, missing = [], 0
    for name, d in zip(names, due):
        off = admitted.get(name)
        end = next((b["end"] for b in live_batches if off is not None and b["log_offset"] >= off), None)
        if end is None:
            missing += 1
        else:
            fresh_ms.append((end - d) * 1000.0)

    # -- replay of the enrichment and egress rounds ----------------------------
    state = inp.expected
    attempted, resolved, posted, egress_ok = [], [], [], True
    offered_timed = sum(len(ids) for calls in poster.ticks[1:] for ids, _ in calls)
    for now, calls in zip(nows, poster.ticks):
        state, n_att, n_res = checks.enrich_tick(state, inp.peers, inp.pays, now, MAX_DEALS)
        attempted.append(n_att)
        resolved.append(n_res)
        egress_ok &= checks.egress_tick([ids for ids, _ in calls], state)[0]
        posted.append({i for ids, good in calls if good for i in ids})
        state = checks.mark_submitted(state, posted[-1], now)
    posted_timed = sum(len(p) for p in posted[1:])
    enriched_timed = sum(attempted[1:])

    out = Outcome(
        latency_ms=fresh_ms,
        # a refused POST batch is work done too (its deals are offered again next tick),
        # and counting it keeps the seeded refusals from swinging the rate
        items=enriched_timed + offered_timed,
        busy_s=sum(enrich_s) + sum(egress_s),
        setup_reps_s=reps,
        warmup_s=(catchup[0]["trigger_s"] if catchup else 0.0) + round0_s,
    )
    out.attempted += len(inp.backlog) + len(names) + 2 * len(nows)
    out.failed += missing + sum(1 for f in inp.backlog if os.path.basename(f) not in admitted) + len(errors)
    out.check("ingest.slices_visible", missing == 0, f"{missing} of {len(names)} live slices never committed")
    out.check("ingest.key_set", *checks.ingest_keys(ingested, inp.expected))
    want, got = checks.table_hash(inp.expected), checks.table_hash(ingested)
    out.check("ingest.table_hash", want == got, f"derived={want:#x} engine={got:#x}")
    out.check("rounds.raise_nothing", not errors, "; ".join(errors[:3]))
    out.check("egress.offers_exactly_eligible", egress_ok, "each tick's POST batches vs the replayed eligible set")
    out.check("egress.flags_match_posts", *checks.flags_match(
        final[final["submitted_at"] >= REF_TS], set().union(*posted)))
    want, got = checks.table_hash(state), checks.table_hash(final)
    out.check("rounds.table_hash", want == got and len(state) == len(final),
              f"replay={want:#x} engine={got:#x} rows={len(state)}/{len(final)}")

    warm = catchup[1:]
    catchup_rate = sum(b["rows_in"] for b in warm) / max(1e-9, sum(b["trigger_s"] for b in warm))
    out.named["ingest_catchup_events_per_s"] = (catchup_rate, "events/s", len(warm))
    if fresh_ms:
        out.named["ingest_freshness_p50_s"] = (pct(fresh_ms, 50) / 1000.0, "s", len(fresh_ms))
        out.named["ingest_freshness_p90_s"] = (pct(fresh_ms, 90) / 1000.0, "s", len(fresh_ms))
    rounds = len(enrich_s)
    out.named["enrich_tick_p50_s"] = (statistics.median(enrich_s), "s", rounds)
    out.named["enrich_deals_per_s"] = (enriched_timed / sum(enrich_s), "deals/s", rounds)
    out.named["egress_tick_p50_s"] = (statistics.median(egress_s), "s", rounds)
    out.named["egress_deals_per_s"] = (posted_timed / sum(egress_s), "deals/s", rounds)
    lateness_ms = [(a - d) * 1000.0 for a, d in zip(landed, due)]
    out.notes.update({
        "generator_lateness_ms_p50": pct(lateness_ms, 50) if lateness_ms else None,
        "generator_lateness_ms_max": max(lateness_ms, default=None),
        "events_delivered": inp.events_total,
        "late_rows": inp.late_rows,
        "redelivered_rows": inp.redelivered_rows,
        "deals": len(inp.expected),
        "rounds": rounds,
        "resolved": sum(resolved),
        "posted": sum(len(p) for p in posted),
    })

    if tracer.enabled:
        _ingest_layers(out, tracer, log, probe, catchup_run, live_run, landed, admitted, names, table,
                       len(inp.expected))
        _round_layers(out, tracer, poster.ticks[1:], attempted[1:], resolved[1:], rounds)
    return out


def _ingest_layers(out, tracer, log, probe, catchup_run, live_run, landed, admitted, names, table,
                   unique_events) -> None:
    runs = [catchup_run, live_run]
    everything = [b for r in runs for b in log.of(r)]
    data = [b for b in everything if b["rows_in"] > 0]
    jobs = tasks = 0
    for r in runs:
        j, t = tracer.jobs_tasks(r)  # a streaming query runs its jobs under its run id
        jobs, tasks = jobs + j, tasks + t
    for b in everything:
        tracer.record("ingest.batch", b["start"], b["end"], batch=b["batch"], rows=b["rows_in"])
    # live files landed but not yet admitted when each live batch started
    backlog, prev_end = [], max((b["log_offset"] for b in log.of(catchup_run)), default=-1)
    for b in log.of(live_run):
        arrived = sum(1 for t in landed if t <= b["start"])
        taken = sum(1 for n in names if admitted.get(n, 1 << 62) <= prev_end)
        backlog.append(arrived - taken)
        prev_end = max(prev_end, b["log_offset"])
    appends = [c for c in probe.appends if c["rows"] > 0]
    last = everything[-1] if everything else {}
    L = out.layers
    L["ingest.batch_s"] = statistics.median([b["trigger_s"] for b in data])
    L["ingest.trigger_overhead_s"] = statistics.median([b["trigger_s"] - b["add_batch_s"] for b in data])
    L["ingest.jobs_per_batch"] = jobs / max(1, len(data))
    L["ingest.no_data_batches"] = float(len(everything) - len(data))
    L["ingest.state_rows"] = float(last.get("state_rows", 0))
    L["ingest.state_bytes"] = float(last.get("state_bytes", 0))
    # each new event id enters the dedup state once per execution of its
    # batch's plan, so this is how often a batch's plan ran
    L["ingest.state_updates_per_event"] = sum(b["state_updates"] for b in everything) / max(1, unique_events)
    L["ingest.late_dropped_rows"] = float(sum(b["late_dropped"] for b in everything))
    L["ingest.backlog_files_max"] = float(max(backlog, default=0))
    L["sink.append_dedup_s"] = statistics.median([c["s"] for c in probe.appends])
    L["sink.partitions_touched_per_append"] = sum(c["partitions"] for c in appends) / max(1, len(appends))
    L["sink.files_in_touched_partitions"] = sum(c["files_in_partitions"] for c in appends) / max(1, len(appends))
    L["sink.table_files_end"] = float(len(_listing(table)))
    L["spark.jobs"] = L.get("spark.jobs", 0.0) + jobs
    L["spark.tasks"] = L.get("spark.tasks", 0.0) + tasks


def _round_layers(out, tracer, ticks, attempted, resolved, rounds) -> None:
    enrich_ticks, egress_ticks = tracer.named("enrich.tick"), tracer.named("egress.tick")
    enrich_ids = {s.sid for s in enrich_ticks}
    timed = enrich_ids | {s.sid for s in egress_ticks}  # the untraced warm-up round has no tick spans
    merges = [m for m in tracer.named("sink.merge_overwrite") if m.parent in timed]
    # an egress tick merges only when at least one POST was accepted
    egress_changed = iter([n for n in (sum(len(ids) for ids, ok in calls if ok) for calls in ticks) if n])
    enrich_changed = iter(attempted)
    changed = [next(enrich_changed) if m.parent in enrich_ids else next(egress_changed) for m in merges]
    rewritten = [m.attrs["rows_rewritten"] for m in merges]
    posts = tracer.named("egress.post")
    post_s: dict[int, float] = {}
    for p in posts:
        post_s[p.parent] = post_s.get(p.parent, 0.0) + p.dur
    mark_s = {m.parent: m.dur for m in merges if m.parent not in enrich_ids}
    cursor = [t.dur - post_s.get(t.sid, 0.0) - mark_s.get(t.sid, 0.0) for t in egress_ticks]
    e_jobs, e_tasks = tracer.span_jobs("egress.tick")
    n_jobs, n_tasks = tracer.span_jobs("enrich.tick")
    L = out.layers
    L["sink.merge_overwrite_s"] = statistics.median([m.dur for m in merges])
    L["sink.rows_rewritten_per_merge"] = sum(rewritten) / max(1, len(rewritten))
    L["sink.rows_changed_per_merge"] = sum(changed) / max(1, len(changed))
    # base: rows the ticks changed (attempted by enrichment, accepted by egress)
    L["sink.write_amplification"] = sum(rewritten) / max(1, sum(changed))
    L["state.plan_build_s"] = statistics.median([s.dur for s in tracer.named("state.resolve_tick")])
    L["state.queue_rows_per_tick"] = sum(attempted) / rounds
    L["state.resolved_per_tick"] = sum(resolved) / rounds
    L["state.useful_ratio"] = sum(resolved) / max(1, sum(attempted))
    L["egress.post_calls"] = float(len(posts))
    L["egress.post_s"] = sum(post_s.values()) / rounds
    L["egress.skipped_batches"] = float(sum(1 for calls in ticks for _, ok in calls if not ok))
    L["egress.cursor_s"] = statistics.median(cursor)
    L["egress.mark_s"] = statistics.median(list(mark_s.values())) if mark_s else 0.0
    L["egress.jobs_per_tick"] = e_jobs / rounds
    L["spark.jobs"] = L.get("spark.jobs", 0.0) + n_jobs + e_jobs
    L["spark.tasks"] = L.get("spark.tasks", 0.0) + n_tasks + e_tasks
