"""Seeded input generators.

Everything a run feeds the engine comes from here, derived from the run's
``--seed``: the same seed gives byte-identical inputs, and every generator
can produce as much input as a run asks for (message batches are fresh on
every call, never a slice of a fixed table that could run dry).

- :func:`write_tables` writes the TPC-H-shaped star schema plus the
  ``events`` and ``documents`` tables at a scale factor, with the schemas
  and value domains of the engine's fixtures (FIXTURES.md).
- :class:`MessageSource` yields batches of messages in the shape of the
  ``events`` fixture, with a fixed key skew.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.15, 0.41, 0.15, 0.14, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _choice(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a 31-word vocabulary; every 20th document
    is a near duplicate of an earlier one (a few words swapped), so the
    MinHash lane always has real candidate pairs."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i, k in enumerate(lengths):
        if i >= 20 and i % 20 == 7:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the fixture tables at scale ``sf`` into ``out_dir``; returns
    the row count per table."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": _choice(rng, tuple(names), n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc,
    }


class MessageSource:
    """Endless seeded message stream for one topic, in the shape of the
    ``events`` fixture mapped onto the envelope as FIXTURES.md maps it
    (``user_id`` -> key, ``ts`` -> event time, ``event_id`` -> sequence
    id): ``n_keys`` users, messages spaced ``spacing_us`` apart, event
    time in arrival order as in the fixture.

    One shape is not from the fixture, whose users are uniform: keys
    follow a Zipf law of exponent :attr:`KEY_SKEW`, an assumption (no
    workload description gives a value), so the latest-per-key shuffle of
    compacted reads and the key-hash routing of ``produce`` see hot keys.
    Sequence ids are consecutive across batches, so every message is
    unique and a batch is never empty; only the values drawn depend on the
    seed.
    """

    PAYLOAD = ("seq", "user", "amount", "note", "event_time")
    KEY_SKEW = 1.0

    def __init__(self, seed: int, n_keys: int, spacing_us: int, start: str = "2024-03-01"):
        self.rng = np.random.default_rng([seed, 0x5EB5])
        ranks = np.arange(1, n_keys + 1, dtype=np.float64)
        weights = ranks ** -self.KEY_SKEW
        self.key_p = weights / weights.sum()
        self.spacing_us = spacing_us
        self.clock_us = int((np.datetime64(start, "us") - np.datetime64(0, "us")).astype(np.int64))
        self.next_seq = 0

    def batch(self, n: int) -> pa.Table:
        rng = self.rng
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        keys = rng.choice(len(self.key_p), size=n, p=self.key_p)
        arrival = self.clock_us + np.arange(n, dtype=np.int64) * self.spacing_us
        self.clock_us = int(arrival[-1]) + self.spacing_us
        times = pa.array(arrival, pa.timestamp("us", tz="UTC"))
        return pa.table({
            "seq": pa.array(seq),
            "user": pa.array([f"u{k:04d}" for k in keys]),
            "amount": pa.array(np.round(rng.uniform(0.0, 1000.0, n), 2)),
            "note": pa.array([f"n{v}" for v in rng.integers(0, 1 << 20, n)]),
            "event_time": times,
            "publish_time": times,
        })
