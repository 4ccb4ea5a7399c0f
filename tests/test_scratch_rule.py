"""Structural guard for the one working-directory rule: engine and tool
code gets a directory from ``session.scratch_dir``/``artifact_dir`` and
rewrites one in place through ``session.replace_dir``. A
``tempfile.gettempdir()``/``mkdtemp()`` root or a hand-written
``os.rename`` swap anywhere else is a second rule (one that ignores the
spool override, is never cleaned up, or deletes the live copy first)."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FORBIDDEN = re.compile(r"tempfile\.(gettempdir|mkdtemp)\(|os\.rename\(")
_HOME = os.path.join("pulsar_lunar_spark", "session.py")


def test_working_dirs_come_only_from_session():
    hits = []
    for top in ("pulsar_lunar_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for name in files:
                path = os.path.join(root, name)
                rel = os.path.relpath(path, ROOT)
                if not name.endswith(".py") or rel == _HOME:
                    continue
                with open(path, encoding="utf-8") as fh:
                    for n, line in enumerate(fh, 1):
                        if _FORBIDDEN.search(line):
                            hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
