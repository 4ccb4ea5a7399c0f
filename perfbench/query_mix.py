"""``query_mix``: the analyst's loop over a fixed list of registry entries.

Setup generates the fixture tables at sf0.1 from the seed, imports the
registry once the session is up (a registry module needs a live
SparkContext at import time), starts the DuckDB oracle for every entry
and runs each entry once as a warm-up. The loop then runs the entries in
passes, each pass in a seeded order; a run measures whole passes, so
every entry weighs the same in every run. Each op is a
DataFrame build plus a collect, and its result hash is compared with the
oracle's using the canonicalisation of ``tools/parity.py``.

Left out on purpose: entries whose timed call reuses a memoised result of
the operator under test (for example ``q_unigram_lm_train``, which
memoises its EM training per process) — a later fix that makes them
train on every call would otherwise read as a regression. The PageRank
entry's trade-edge table is a shared fixture spool, not the operator.
Also left out: ``q_events_session``, which returns one row per session
(about 95k at sf0.1), so its time is mostly the Python side of the
collect; it was the slowest and most variable entry (1.4-2.9 s warm) and
alone decided the run's 90th percentile.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from perfbench.datagen import write_tables
from perfbench.trace import phases_ms, replace_everywhere
from perfbench.workload import Workload

SCALE = 0.1
ENTRIES = (
    "q3_shipping_priority",
    "q_rollup",
    "q_window_topk_per_group",
    "q_events_tumbling",
    "q_events_asof",
    "q_quality_gopher",
    "q_pagerank_trade",
)


class QueryMix(Workload):
    name = "query_mix"
    warmup_ops = len(ENTRIES)
    round_seconds = 7.0
    round_ops = len(ENTRIES)

    def before_session(self):
        self.data_dir = os.path.join(self.ctx.run_dir, "data")
        self._gen = threading.Thread(
            target=write_tables, args=(self.data_dir, SCALE, self.ctx.seed)
        )
        self._gen.start()

    def setup(self):
        self._gen.join()
        from pulsar_lunar_spark.queries import all_queries

        specs = all_queries()
        self.specs = {name: specs[name] for name in ENTRIES}
        self.rng = np.random.default_rng([self.ctx.seed, 0x0A11A5])
        self.hashes: list[tuple[int, str, str]] = []
        # The oracle runs beside the warm-up ops, in a process of its own
        # (see perfbench/oracle.py); ready() waits for it to end before the
        # timed region starts.
        run_dir = self.ctx.run_dir
        queries = os.path.join(run_dir, "oracle_queries.json")
        with open(queries, "w") as f:
            json.dump({name: spec.oracle for name, spec in self.specs.items()}, f)
        self.oracle_path = os.path.join(run_dir, "oracle.json")
        self.oracle = subprocess.Popen(
            [sys.executable, "-m", "perfbench.oracle", self.data_dir, queries, self.oracle_path]
        )

    def wrap(self, tracer):
        import pulsar_lunar_spark.session as session

        stats = self.ctx.stats
        stats.setdefault("spool_builds", 0)
        stats.setdefault("spool_build_ms", 0.0)
        orig = session.shared_spool

        def shared_spool(spark, sf_dir, kind, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            t0 = time.perf_counter()
            df = orig(spark, sf_dir, kind, counted_build)
            if built:
                stats["spool_builds"] += 1
                stats["spool_build_ms"] += (time.perf_counter() - t0) * 1000
            return df

        replace_everywhere(orig, shared_spool)

    def ready(self):
        self.oracle.wait()

    def plan(self):
        while True:
            for name in self.rng.permutation(ENTRIES):
                yield str(name)

    def run(self, spec, prep):
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        with tracer.span("queries.build"):
            df = self.specs[spec].fn(self.spark, self.data_dir)
        with tracer.span("queries.collect"):
            rows = [tuple(r) for r in df.collect()]
        out = {"latency_s": time.perf_counter() - t0, "rows": rows, "cols": df.columns}
        if tracer.active:
            out["phases"] = phases_ms(df)
        return out

    def check(self, spec, prep, out):
        from tools.parity import value_hash

        rows, cols = out.pop("rows"), out.pop("cols")
        out["n_rows"] = len(rows)
        self.hashes.append((self.op_index, spec, value_hash(rows, [c.lower() for c in cols])))
        return None  # compared with the oracle by verify()

    def verify(self):
        if self.oracle.returncode != 0:
            return {index: False for index, _, _ in self.hashes}
        with open(self.oracle_path) as f:
            oracle = json.load(f)
        return {index: digest == oracle[name] for index, name, digest in self.hashes}

    def close(self):
        self._gen.join()
        oracle = getattr(self, "oracle", None)  # absent when set-up failed
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
            oracle.wait()
