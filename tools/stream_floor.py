#!/usr/bin/env python
"""Per-query durationMs decomposition of the streaming one-shot floor.

Every registered streaming query is a BOUNDED bring-up of a real
Structured Streaming pipeline (fresh checkpoint, fresh state store,
availableNow drain, trailing watermark batch). Locally that bring-up is
the dominant cost — per-BATCH machinery, not per-ROW work — so the
perfcmp wall-clock of a streaming entry measures the floor, not the
operator. This tool makes that claim auditable query by query: it runs
each entry twice (first run warms the produced topic + JIT), then on the
measured run intercepts ``run_available_now`` and folds every drain's
``recentProgress[*].durationMs`` into one row:

    addBatch      real work: the micro-batch's plan execution + sink write
    trigger-add   per-batch machinery: triggerExecution - addBatch
                  (offset log WAL, source listing, planning, commit log)
    outside       wall clock outside the streaming drains: fixture reads,
                  sink re-reads, result assembly, query bring-up/teardown

``addBatch`` is the only component that grows with data volume (the
stress probes in SCALE.md pin its slope); ``trigger-add`` is a constant
per micro-batch that amortizes to zero on an unbounded stream; and
``outside`` is the harness shell around a one-shot run.

Usage: python tools/stream_floor.py [SF_DIR] [query ...]
Prints a markdown table + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_lunar_spark.queries import all_queries
from pulsar_lunar_spark.session import get_spark

DEFAULT_QUERIES = [
    "q_stream_custom_session",
    "q_dlq_routing",
    "q_stream_outer_join",
    "q_incremental_mv",
    "q_stream_session",
    "q_stream_stream_join",
    "q_stream_stateful_count",
    "q_stream_dedup_ttl",
    "q_stream_backpressure",
    "q_txn_sink",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = args[1:] or DEFAULT_QUERIES
    specs = all_queries()
    spark = get_spark("stream_floor")

    import pulsar_lunar_spark.streaming.ops as ops

    orig = ops.run_available_now
    # every engine module that binds the function (ops, the streaming
    # package, each query module that imported it)
    binders = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("pulsar_lunar_spark")
        and getattr(m, "run_available_now", None) is orig
    ]
    captured: list[dict] = []

    def capture(writer, checkpoint, **kw):
        t0 = time.perf_counter()
        q = orig(writer, checkpoint, **kw)
        wall = time.perf_counter() - t0
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        # recentProgress is a ring buffer capped at
        # spark.sql.streaming.numRecentProgressUpdates (default 100): a
        # drain with more micro-batches silently loses its EARLIEST
        # batches, which would corrupt the decomposition (lost addBatch
        # time misattributed to "outside"). Flag it loudly.
        if len(progress) >= 100:
            print(
                "# WARNING: recentProgress at ring-buffer capacity — early "
                "batches may be missing; decomposition undercounts addBatch",
                flush=True,
            )
        captured.append({"wall": wall, "progress": progress})
        return q

    rows = []
    for name in names:
        spec = specs[name]
        spec.fn(spark, sf_dir).count()  # warm: topic produce, JIT, codegen
        captured.clear()
        for m in binders:
            m.run_available_now = capture
        try:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            total = time.perf_counter() - t0
        finally:
            for m in binders:
                m.run_available_now = orig
        drains = len(captured)
        batches = add_ms = trig_ms = 0
        stream_wall = 0.0
        for c in captured:
            stream_wall += c["wall"]
            for p in c["progress"]:
                d = p.get("durationMs", {})
                batches += 1
                add_ms += d.get("addBatch", 0)
                trig_ms += d.get("triggerExecution", 0)
        outside = total - stream_wall
        rows.append(
            (
                name,
                total,
                drains,
                batches,
                add_ms / 1000,
                max(0.0, (trig_ms - add_ms) / 1000),
                max(0.0, outside),
            )
        )
        print(
            f"# {name}: total={total:.2f}s drains={drains} batches={batches} "
            f"addBatch={add_ms / 1000:.2f}s trigger-add={(trig_ms - add_ms) / 1000:.2f}s "
            f"outside={outside:.2f}s",
            flush=True,
        )

    print("\n| query | total_s | drains | batches | addBatch_s | trigger-add_s | outside_s |")
    print("|---|---|---|---|---|---|---|")
    for name, total, drains, batches, add_s, machine_s, outside in rows:
        print(
            f"| {name} | {total:.2f} | {drains} | {batches} | {add_s:.2f} "
            f"| {machine_s:.2f} | {outside:.2f} |"
        )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "rows": {
                    r[0]: {
                        "total_s": round(r[1], 3),
                        "drains": r[2],
                        "batches": r[3],
                        "addBatch_s": round(r[4], 3),
                        "trigger_minus_add_s": round(r[5], 3),
                        "outside_s": round(r[6], 3),
                    }
                    for r in rows
                },
            }
        )
    )


if __name__ == "__main__":
    main()
