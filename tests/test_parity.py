"""t2 mirror: every registered oracle query must hash-match DuckDB at
sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from pulsar_lunar_spark.queries import all_queries
from tools.parity import value_hash

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]

    if spec.oracle is None:
        # rows-only contract: must run and return a stable schema
        assert len(scols) > 0
        return

    rel = duck.sql(spec.oracle)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count differs"
    assert value_hash(srows, scols) == value_hash(orows, ocols), f"{name}: value hash differs"
