"""DuckDB oracle hashes for registry entries, in a process of its own that
ends before the timed region starts, so that DuckDB's memory stays out of
the driver process and out of the run's peak RSS.

Usage: python -m perfbench.oracle DATA_DIR QUERIES_JSON OUT_JSON

``QUERIES_JSON`` maps entry name to oracle SQL; ``OUT_JSON`` gets entry
name to result hash, canonicalised as in ``tools/parity.py``.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from tools.parity import value_hash


def main() -> int:
    data_dir, queries_path, out_path = sys.argv[1:4]
    with open(queries_path) as f:
        queries = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    hashes = {}
    for name, sql in queries.items():
        rel = con.sql(sql)
        hashes[name] = value_hash(rel.fetchall(), [c.lower() for c in rel.columns])
    with open(out_path + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.replace(out_path + ".tmp", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
