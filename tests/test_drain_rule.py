"""Structural guard for the one bounded-drain contract: engine code and
tests drain a stream only through ``streaming.ops.run_available_now``,
which awaits the query, stops it and raises on timeout, and returns it
terminated. An ``awaitTermination(`` or ``processAllAvailable(`` call
anywhere else in the engine or the tests is a second drain contract (one
that can drop a timeout's ``False`` or a failure, that waits without a
bound, or that a new caller copies)."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXEMPT = {
    os.path.join("pulsar_lunar_spark", "streaming", "ops.py"),
    os.path.join("tests", "test_drain_rule.py"),
}
_DRAIN_CALLS = ("awaitTermination(", "processAllAvailable(")


def test_streams_are_awaited_only_in_run_available_now():
    hits = []
    for top in ("pulsar_lunar_spark", "tests"):
        for root, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for name in files:
                path = os.path.join(root, name)
                rel = os.path.relpath(path, ROOT)
                if not name.endswith(".py") or rel in _EXEMPT:
                    continue
                with open(path, encoding="utf-8") as fh:
                    for n, line in enumerate(fh, 1):
                        if any(call in line for call in _DRAIN_CALLS):
                            hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
