"""Deal-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The engine is driven only through its
public functions; inputs come from `--seed`. Lines before the last one
report the workload's own metrics by name with unit and sample count, the
correctness checks and the share of the machine's CPU other processes used
during the run. The last line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` — the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1` (spans are then written to
`.perfbench_out/`). The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pipeline", "catalog_api"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(CHECKOUT, "spark_deal_observer_spark")):
        print(f"engine package not found under {CHECKOUT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    import importlib

    from perfbench import harness
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer

    trace = bool(args.trace)
    work = harness.WorkDir(CHECKOUT, trace)
    module = importlib.import_module(f"perfbench.{args.workload}")
    from spark_deal_observer_spark.benchkit import cpu_snapshot, foreign_between

    spark = None
    try:
        spark, session_s = harness.start_session()
        tracer = Tracer(spark, enabled=trace)
        snap, t0 = cpu_snapshot(), time.perf_counter()
        out = module.run(spark, work, args.seed, args.seconds, tracer)
        wall = time.perf_counter() - t0
        foreign = foreign_between(snap, cpu_snapshot()) / (harness.cpu_count() * wall)
        rss = harness.tree_peak_rss_mb()
        if trace:
            layers = {name: 0.0 for name in PER_LAYER}  # a layer the workload never calls did no work
            layers.update(out.layers)
            layers["session.start_s"] = session_s
            layers["session.peak_rss_mb"] = rss
            layers["trace.latency_p50_ms"] = harness.pct(out.latency_ms, 50) if out.latency_ms else 0.0
            layers["trace.overhead_s"] = tracer.overhead_s
            os.makedirs(os.path.join(CHECKOUT, harness.OUT_ROOT), exist_ok=True)
            tracer.write(
                os.path.join(CHECKOUT, harness.OUT_ROOT, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "layers": layers},
            )
    except Exception:  # noqa: BLE001 - report, then exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        work.remove()

    correct = out.failed == 0 and all(ok for _, ok, _ in out.checks) and bool(out.latency_ms)
    e2e = {
        "setup_s": session_s + statistics.median(out.setup_reps_s) + out.warmup_s,
        "latency_p50_ms": harness.pct(out.latency_ms, 50) if out.latency_ms else 0.0,
        "latency_p90_ms": harness.pct(out.latency_ms, 90) if out.latency_ms else 0.0,
        "throughput_per_s": out.items / out.busy_s if out.busy_s > 0 else 0.0,
    }
    samples = {"latency_p50_ms": len(out.latency_ms), "latency_p90_ms": len(out.latency_ms),
               "setup_s": len(out.setup_reps_s), "throughput_per_s": out.items}
    for name, value in e2e.items():
        print(f"metric {name} = {value} {END_TO_END[name][0]} (n={samples[name]})")
    # reported, not bounded: the JVM's resident heap follows GC timing (13-16% run to run)
    print(f"metric peak_rss_mb = {rss} MB (n=1)")
    for name, (value, unit, n) in out.named.items():
        print(f"metric {name} = {value} {unit} (n={n})")
    print(f"metric failed_ops_ratio = {out.failed / max(1, out.attempted)} ratio (n={out.attempted})")
    print(f"setup session_s={session_s:.3f} reps_s={[round(s, 3) for s in out.setup_reps_s]} "
          f"warmup_s={out.warmup_s:.3f}")
    flag = "CONTAMINATED" if foreign > 0.05 else "clean"
    print(f"box foreign_cpu_share={foreign:.4f} ({flag}) cpus={harness.cpu_count()}")
    for name, ok, detail in out.checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    print(f"notes {json.dumps(out.notes, default=str)}")

    if trace:
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, out.attempted),
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
