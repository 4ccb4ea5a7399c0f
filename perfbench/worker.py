"""One benchmark run in its own process: session, set-up, warm-up, the
timed closed loop, checks, and the run's metrics. Started by
``perfbench/run.py``, which owns the run's scratch directory, samples the
memory of this process tree and prints the result.

Usage: python -m perfbench.worker --workload W --seed N --seconds S
       --trace 0|1 --run-dir DIR --cpus C --t-spawn EPOCH --result FILE
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from perfbench.trace import Tracer, fold_event_log, union_ms
from perfbench.workload import Context


def _workloads():
    from perfbench.message_plane import MessagePlane
    from perfbench.query_mix import QueryMix

    return {w.name: w for w in (MessagePlane, QueryMix)}


def _log(t_spawn: float, msg: str) -> None:
    print(f"[perfbench {time.time() - t_spawn:7.2f}s] {msg}", file=sys.stderr, flush=True)


def mark(run_dir: str, name: str) -> None:
    """Tell the parent where the timed region starts and ends."""
    open(os.path.join(run_dir, name), "w").close()


def _p90(values):
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10)[8]


def _run_op(wl, tracer, index, spec, traced):
    """prepare (untimed) -> run (timed) -> check (untimed)."""
    wl.op_index = index
    prep = wl.prepare(spec)
    tracer.op, tracer.active = index, traced
    w0, t0 = time.time(), time.perf_counter()
    out = wl.run(spec, prep)
    wall_s, w1 = time.perf_counter() - t0, time.time()
    tracer.op, tracer.active = None, False
    ok = wl.check(spec, prep, out)
    rec = {
        "index": index,
        "spec": spec,
        "kind": spec["kind"] if isinstance(spec, dict) else spec,
        "traced": traced,
        "w0": w0 * 1000,
        "w1": w1 * 1000,
        "latency_ms": out.pop("latency_s") * 1000,
        "wall_ms": wall_s * 1000,
        "ok": ok,
        "out": out,
    }
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace))
    ctx = Context(args.seed % 2**32, bool(args.trace), args.run_dir, tracer)
    wl = _workloads()[args.workload](ctx)
    try:
        return _run(args, ctx, wl)
    finally:
        wl.close()


def _run(args, ctx: Context, wl) -> int:
    tracer = ctx.tracer
    wl.before_session()

    from pulsar_lunar_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{wl.name}", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    cores = spark.sparkContext.defaultParallelism
    _log(args.t_spawn, f"session up, {cores} cores")
    wl.setup()
    if args.trace:
        wl.wrap(tracer)
    tracer.active = False
    _log(args.t_spawn, "fixtures ready")

    # Warm-up ops: untimed, counted in setup_s; a failing one aborts the run.
    warm = wl.plan()
    for k in range(wl.warmup_ops):
        rec = _run_op(wl, tracer, -1 - k, next(warm), False)
        if rec["ok"] is False:
            raise RuntimeError(f"warm-up op failed: {rec['spec']}")
        _log(args.t_spawn, f"warm-up {rec['spec']}: {rec['latency_ms']:.0f} ms")
    wl.ready()
    _log(args.t_spawn, "helpers done")

    # Timed closed loop. A traced run executes every op twice in a row,
    # once traced and once not (alternating which goes first), so the
    # tracing overhead is measured on the same inputs.
    ops: list[dict] = []
    plan = wl.plan()
    mark(args.run_dir, "timed.start")
    w_first = time.time()
    rounds = max(1, round(args.seconds / wl.round_seconds))
    for index in range(rounds * wl.round_ops):
        spec = next(plan)
        if args.trace:
            for traced in ((True, False) if index % 2 == 0 else (False, True)):
                ops.append(_run_op(wl, tracer, len(ops), spec, traced))
        else:
            ops.append(_run_op(wl, tracer, len(ops), spec, False))
    mark(args.run_dir, "timed.end")
    _log(args.t_spawn, f"{len(ops)} timed ops: " + " ".join(f"{r['kind']}={r['latency_ms']:.0f}" for r in ops))
    deferred = wl.verify()
    topic_files = wl.topic_files()
    for rec in ops:
        if rec["ok"] is None:
            rec["ok"] = deferred.get(rec["index"], False)
    warm_failed = [i for i, ok in deferred.items() if i < 0 and not ok]

    _log(args.t_spawn, "checks done")
    spark.stop()

    failed = sum(1 for r in ops if not r["ok"])
    result = {
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and not warm_failed,
        "cores": cores,
        "setup_s": w_first - args.t_spawn,
        "ops": [{k: v for k, v in r.items() if k != "out"} for r in ops],
    }
    if args.trace:
        result["metrics"] = _layer_metrics(ctx, ops, topic_files)
        tracer.dump(
            os.path.join(os.getcwd(), ".perfbench_out", f"trace-{wl.name}-seed{args.seed}.json"),
            result["ops"],
        )
    else:
        lat = [r["latency_ms"] for r in ops]
        result["metrics"] = {
            "setup_s": (result["setup_s"], "s"),
            "latency_p50_ms": (statistics.median(lat), "ms"),
            "latency_p90_ms": (_p90(lat), "ms"),
            "ops_per_s": (len(ops) / (sum(r["wall_ms"] for r in ops) / 1000), "1/s"),
        }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _layer_metrics(ctx: Context, ops: list[dict], topic_files: int) -> dict:
    """Per-layer metrics of the traced ops. A layer's time is the mean
    over the ops that entered the layer; Spark counters are per op."""
    tracer = ctx.tracer
    traced = [r for r in ops if r["traced"]]
    plain = [r for r in ops if not r["traced"]]
    n = len(traced)
    per_layer: dict[str, list[float]] = {}
    coverage = []
    for r in traced:
        spans = tracer.op_spans(r["index"])
        totals: dict[str, float] = {}
        for s in spans:
            totals[s["name"]] = totals.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1000
        for name, ms in totals.items():
            per_layer.setdefault(name, []).append(ms)
        r["spans_ms"] = totals
        top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None) * 1000
        coverage.append(top / r["wall_ms"])
    setup_spans = {s["name"]: (s["end"] - s["start"]) * 1000 for s in tracer.spans if s["op"] is None}

    def span_ms(name):
        return _mean(per_layer.get(name, []))

    def out_mean(key, sub=None):
        vals = [
            (r["out"].get(key) or {}).get(sub, 0.0) if sub else r["out"][key]
            for r in traced
            if key in r["out"]
        ]
        return _mean(vals)

    windows = [(r["index"], r["w0"], r["w1"]) for r in traced]
    spark_ops = fold_event_log(os.path.join(ctx.run_dir, "eventlog"), windows)

    def ev_mean(key):
        return sum(spark_ops.get(r["index"], {}).get(key, 0) for r in traced) / n

    residual = []
    for r in traced:
        jobs = [
            (max(lo, r["w0"]), min(hi, r["w1"]))
            for lo, hi in spark_ops.get(r["index"], {}).get("job_spans", [])
        ]
        residual.append(r["wall_ms"] - union_ms([j for j in jobs if j[1] > j[0]]))
    drains = [r for r in traced if "streaming" in r["out"]]
    bringup = [
        r["spans_ms"].get("streaming.drain", 0.0) - r["out"]["streaming"]["triggerExecution"]
        for r in drains
    ]
    t_lat = [r["latency_ms"] for r in traced]
    u_lat = [r["latency_ms"] for r in plain] or t_lat
    m = {
        "session.get_spark_ms": (setup_spans.get("session.get_spark", 0.0), "ms"),
        "session.shared_spool_ms": (ctx.stats.get("spool_build_ms", 0.0), "ms"),
        "session.spool_builds": (ctx.stats.get("spool_builds", 0), "count"),
        "envelope.to_envelope_ms": (span_ms("envelope.to_envelope"), "ms"),
        "envelope.decode_payload_ms": (span_ms("envelope.decode_payload"), "ms"),
        "log.produce_ms": (span_ms("log.produce"), "ms"),
        "log.register_schema_ms": (span_ms("log.register_schema"), "ms"),
        "log.files_per_produce": (out_mean("files_added"), "count"),
        "log.topic_files": (topic_files, "count"),
        "log.replay_time_ms": (span_ms("log.replay_time"), "ms"),
        "log.replay_seek_ms": (span_ms("log.replay_seek"), "ms"),
        "log.compacted_ms": (span_ms("log.compacted"), "ms"),
        "log.pending_ms": (span_ms("log.pending"), "ms"),
        "log.read_pattern_ms": (span_ms("log.read_pattern"), "ms"),
        "log.rows_returned": (out_mean("rows"), "count"),
        "streaming.drain_ms": (span_ms("streaming.drain"), "ms"),
        "streaming.bringup_ms": (_mean(bringup), "ms"),
        "streaming.add_batch_ms": (out_mean("streaming", "addBatch"), "ms"),
        "streaming.trigger_overhead_ms": (
            out_mean("streaming", "triggerExecution") - out_mean("streaming", "addBatch"),
            "ms",
        ),
        "streaming.latest_offset_ms": (out_mean("streaming", "latestOffset"), "ms"),
        "streaming.query_planning_ms": (out_mean("streaming", "queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (out_mean("streaming", "walCommit"), "ms"),
        "streaming.batches_per_drain": (out_mean("streaming", "batches"), "count"),
        "queries.build_ms": (span_ms("queries.build"), "ms"),
        "queries.collect_ms": (span_ms("queries.collect"), "ms"),
        "spark.analysis_ms": (out_mean("phases", "analysis"), "ms"),
        "spark.optimization_ms": (out_mean("phases", "optimization"), "ms"),
        "spark.planning_ms": (out_mean("phases", "planning"), "ms"),
        "spark.jobs_per_op": (ev_mean("jobs"), "count"),
        "spark.stages_per_op": (ev_mean("stages"), "count"),
        "spark.tasks_per_op": (ev_mean("tasks"), "count"),
        "spark.executor_run_ms": (ev_mean("run_ms"), "ms"),
        "spark.executor_cpu_ms": (ev_mean("cpu_ms"), "ms"),
        "spark.jvm_gc_ms": (ev_mean("gc_ms"), "ms"),
        "spark.shuffle_read_bytes": (ev_mean("shuffle_read"), "bytes"),
        "spark.shuffle_write_bytes": (ev_mean("shuffle_write"), "bytes"),
        "spark.spill_bytes": (ev_mean("spill"), "bytes"),
        "python.udf_ms": (ev_mean("python_ms"), "ms"),
        "driver.residual_ms": (_mean(residual), "ms"),
        "trace.traced_ops": (n, "count"),
        "trace.op_p50_ms": (statistics.median(t_lat), "ms"),
        "trace.untraced_op_p50_ms": (statistics.median(u_lat), "ms"),
        "trace.overhead_ms": (statistics.median(t_lat) - statistics.median(u_lat), "ms"),
        "trace.span_coverage_min": (min(coverage), "ratio"),
        "trace.span_coverage_max": (max(coverage), "ratio"),
    }
    return m


if __name__ == "__main__":
    raise SystemExit(main())
