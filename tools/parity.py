"""Local t2-parity harness: run every registered query on Spark AND its
DuckDB oracle, compare row count / column names / order-insensitive value
hash — a faithful local mirror of the driver's CORRECTNESS gate.

Usage:
    python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_lunar_spark.queries import all_queries
from pulsar_lunar_spark.session import TABLE_NAMES, get_spark


def _canon(v):
    # Type-class preserving (the one canon: tests/test_parity.py and
    # perfbench/oracle.py import value_hash from here): an int 25 and a
    # float 25.0 must NOT collapse to the same canonical string — the
    # driver's hash distinguishes them (the r2 q_math_funcs red), so an
    # output-dtype skew must fail HERE, not at the driver.
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "b" + str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        s = f"{v:.6g}" if v == int(v) else repr(round(v, 6))
        return s + "f"
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    specs = all_queries()
    n_pass = n_fail = n_rowsonly = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(spec.oracle)
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(ocols):
            problems.append(f"cols spark={scols_l} duck={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            sh = value_hash(srows, scols_l)
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                sset = {tuple(_canon(v) for v in r) for r in srows}
                oset = {tuple(_canon(v) for v in r) for r in orows}
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                if so:
                    problems.append(f"  spark-only: {so}")
                if os_:
                    problems.append(f"  duck-only:  {os_}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
