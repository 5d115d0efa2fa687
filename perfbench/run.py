#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_er --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<cores>]`` from this driver process with one
closed-loop client, checks every output, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics from a traced run (spans around each layer call,
Spark event-log attribution per span). The lines before it print every
figure by name with its unit and direction.

Exits non-zero without a result line when the package under test is not
in the checkout or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

E2E = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "quality": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# per-layer metrics in the JSON of a traced run (BENCHMARK.json per_layer):
# name → unit. A count on a layer the workload's path does not reach reads
# 0; layer span times go to the report and the trace file, not here, since
# a bypassed layer has none.
PER_LAYER = {
    "functions.udfs.normalize_rows": "count",
    "functions.udfs.jw_pairs_in": "count",
    "operators.blocking.pairs_out": "count",
    "operators.blocking.shuffle_bytes": "bytes",
    "operators.blocking.task_skew": "ratio",
    "operators.blocking.pairs_quality": "ratio",
    "operators.blocking.recall": "ratio",
    "pipeline.matches_out": "count",
    "operators.cc.edges_in": "count",
    "operators.cc.components_out": "count",
    "operators.incremental.delta_edges": "count",
    "operators.incremental.nodes_out": "count",
    "model.scorer_udf.pairs_scored": "count",
    "operators.ranker.pairs_examined": "count",
    "operators.ranker.examined_per_result": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "setup.warmup_s": "s",
    "host.probe_s": "s",
    "host.steal_share": "ratio",
    "trace.overhead": "ratio",
}


def _check_package() -> None:
    """The code under test is the checkout's own package, never an
    installed copy."""
    sys.path.insert(0, harness.ROOT)
    try:
        import deezymatch_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import {harness.PACKAGE} from {harness.ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(deezymatch_spark.__file__))
    if where != os.path.join(harness.ROOT, harness.PACKAGE):
        sys.exit(f"perfbench: {harness.PACKAGE} resolved to {where}, not the checkout")


def _fmt(name: str, value, unit: str, better: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"  {name:<46} {v:>14} {unit:<8} {better}"


def measure(wl, ctx, seconds: float):
    """Closed loop: one operation at a time until ``seconds`` have passed
    and at least ``wl.min_ops`` ran. → (samples, ops attempted, ops failed)."""
    samples, ops, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while ops < wl.min_ops or time.perf_counter() < t_end:
        out, bad = attempt(ctx, lambda: wl.op(ctx))
        samples.extend(out or [])
        ops, failed = ops + 1, failed + bad
    return samples, ops, failed


def attempt(ctx, fn):
    """Run one checked step → (result or None, 1 if it failed)."""
    before = len(ctx.failures)
    try:
        out = fn()
    except Exception:
        ctx.failures.append(traceback.format_exc(limit=3))
        out = None
    return out, int(len(ctx.failures) > before)


def run(args, work: str):
    from tracing import NullTracer, Tracer, attribute, self_times
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    report: list[str] = []
    with harness.RssSampler() as rss:
        probe_s = harness.host_probe()
        t0 = time.perf_counter()
        spark = harness.start_spark(work, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        tr = Tracer(spark.sparkContext) if args.trace else NullTracer()
        ctx = Ctx(spark, work, args.seed, args.size)
        try:
            prep = []
            for _ in range(wl.setup_reps):
                t0 = time.perf_counter()
                with tr.span("setup.prepare"):
                    wl.prepare(ctx, tr)
                prep.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tr.span("setup.warmup"):
                wl.warmup(ctx)
            warmup_s = time.perf_counter() - t0
            setup_s = harness.median(prep) + warmup_s

            t0, cpu0 = time.perf_counter(), harness.cpu_times()
            untraced, attempted, failed = measure(wl, ctx, args.seconds)
            measure_s = time.perf_counter() - t0
            steal = harness.steal_share(cpu0, harness.cpu_times())
            t0 = time.perf_counter()
            quality, bad = attempt(ctx, lambda: wl.quality(ctx))
            quality_s = time.perf_counter() - t0
            attempted, failed = attempted + 1, failed + bad
            if args.trace:
                def traced():
                    with tr.span(f"workload.{wl.name}"):
                        return wl.traced(ctx, tr)
                layer, bad = attempt(ctx, traced)
                attempted, failed = attempted + 1, failed + bad
        finally:
            harness.stop_spark(spark)
    if not untraced or quality is None or (args.trace and layer is None):
        raise RuntimeError("no usable measurement: " + " | ".join(ctx.failures[:3]))

    lat = [s for s, _ in untraced]
    items = sum(n for _, n in untraced)
    tail_v, tail_pct, n_samples = harness.tail(lat)
    names = wl.labels
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": items / sum(lat),
        "latency_p50_ms": 1000 * harness.median(lat),
        "quality": quality[names["quality"]],
        "peak_rss_mb": rss.peak_mb,
    }
    report.append(f"workload {wl.name}: seed {args.seed}, {args.seconds} s, "
                  f"local[{harness.cores()}], {harness.driver_memory_gb()}g driver")
    for k, (unit, better) in E2E.items():
        report.append(_fmt(f"{k} ({names.get(k, k)})", e2e[k], unit, better))
    # printed, not a metric: with a few samples per run no percentile has
    # ten samples beyond it, and the maximum it falls back to is too noisy
    # to bound
    report.append(_fmt(f"latency_tail_ms ({names['latency_tail_ms']})", 1000 * tail_v, "ms",
                       f"lower; p{tail_pct:.1f} of {n_samples} samples"))
    for k, v in quality.items():
        report.append(_fmt(k, v, "ratio" if isinstance(v, float) else "count",
                           "higher" if isinstance(v, float) else ""))
    for k, v in getattr(wl, "extra", {}).items():
        report.append(_fmt(k, v, "ms", "lower"))
    report.append(_fmt("error_rate", failed / attempted, "ratio", "lower"))
    report.append(_fmt("session_start_s", session_s, "s", "lower"))
    report.append(_fmt("setup.prepare_median_s", harness.median(prep), "s", "lower"))
    report.append(_fmt("setup.warmup_s", warmup_s, "s", "lower"))
    report.append(_fmt("measure_s", measure_s, "s", ""))
    report.append(_fmt("quality_s", quality_s, "s", ""))
    report.append(_fmt("host.probe_s", probe_s, "s", ""))
    report.append(_fmt("host.steal_share", steal, "ratio", ""))
    report.append("  samples_ms: " + " ".join(f"{1000 * x:.0f}" for x in lat))
    for f in ctx.failures[:10]:
        report.append("  FAILED: " + f.strip().replace("\n", " | "))

    result = {"correct": not ctx.failures, "attempted": attempted, "failed": failed}
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": E2E[k][0]} for k, v in e2e.items()}
        return report, result

    whole, per_span = attribute(tr.spans, os.path.join(work, "events"))
    selft = self_times(tr.spans)
    durations: dict[str, list[float]] = {}
    for s in tr.spans:
        durations.setdefault(s["name"], []).append(s["end"] - s["start"])
    layer_time = {k: harness.median(v) for k, v in durations.items()}
    for s in tr.spans:
        if s["name"] == "operators.blocking.scored_candidate_pairs":
            layer["operators.blocking.shuffle_bytes"] = per_span[s["id"]]["shuffle_write_bytes"]
            layer["operators.blocking.task_skew"] = per_span[s["id"]]["task_skew"]
    layer.update({f"spark.{k}": v for k, v in whole.items() if f"spark.{k}" in PER_LAYER})
    layer["setup.warmup_s"] = warmup_s
    layer["host.probe_s"] = probe_s
    layer["host.steal_share"] = steal
    # the traced operation's own span against the untraced median
    traced_s = [s["end"] - s["start"] for s in tr.spans if s["name"] == wl.traced_span]
    layer["trace.overhead"] = harness.median(traced_s) / harness.median(lat)
    report.append("per-layer (traced run; span times are medians per call):")
    for name in sorted(layer_time):
        report.append(_fmt(name + "_s", layer_time[name], "s", "lower"))
    for k, v in layer.items():
        report.append(_fmt(k, v, PER_LAYER.get(k, "")))
    report.append("spans (self time, spark jobs/tasks/gc/shuffle per span):")
    for s in tr.spans:
        m = per_span[s["id"]]
        report.append(
            f"  {s['id']:<18} parent={str(s['parent']):<18} {s['name']:<44} "
            f"self={selft[s['id']]:.4f}s jobs={m['jobs']} tasks={m['tasks']} "
            f"sched={m['scheduler_delay_s']:.3f}s gc={m['gc_s']:.3f}s "
            f"shuffle={m['shuffle_write_bytes']} spill={m['spill_bytes']}"
        )
    trace_dir = os.path.join(harness.WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, os.path.basename(work) + ".json"), "w") as fh:
        json.dump({"run_id": tr.run_id, "workload": wl.name, "seed": args.seed,
                   "spans": [dict(s, self_s=selft[s["id"]], spark=per_span[s["id"]])
                             for s in tr.spans],
                   "spark": whole, "layer": layer}, fh, indent=1)
    result["metrics"] = {k: {"value": layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_er", "pair_scoring", "ranker_queries", "incremental_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="input sizes; 'smoke' is the tiny self-test size")
    args = ap.parse_args(argv)
    _check_package()
    work = harness.make_work_dir(f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
