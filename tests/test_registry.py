"""Registry invariants: the contract documents' tallies may not drift
from the actual registry, and the curated sample-window head may not
contain duplicates (a duplicate silently shrinks the ~50-query budget
the driver spends on unconfirmed queries)."""

from __future__ import annotations

import os

from pulsar_lunar_spark.queries import all_queries
from pulsar_lunar_spark.queries.registry import _DRIVER_CONFIRMED, _NEWEST_FIRST

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_doc_tallies_match_registry():
    n = len(all_queries())
    for fname, needle in (
        ("COVERAGE.md", f"{n} queries"),
        ("README.md", f"{n} queries"),
        ("SURVEY.md", f"{n} registered queries"),
    ):
        with open(os.path.join(REPO, fname)) as f:
            assert needle in f.read(), f"{fname}: stale tally (registry has {n})"


def test_newest_first_has_no_duplicates():
    assert len(set(_NEWEST_FIRST)) == len(_NEWEST_FIRST)


def test_newest_first_overrides_confirmed():
    # rewrites are treated like additions (ADVICE r6): a name in
    # _NEWEST_FIRST must sort at the very head even if an older
    # implementation earned a _DRIVER_CONFIRMED row
    names = list(all_queries())
    for i, nm in enumerate(_NEWEST_FIRST):
        assert names[i] == nm, (
            f"head[{i}] = {names[i]!r}, expected {nm!r} — a rewrite is not "
            "reaching the driver's sample window"
        )


def test_confirmed_names_exist():
    names = set(all_queries())
    missing = _DRIVER_CONFIRMED - names
    assert not missing, f"confirmed-but-unregistered: {sorted(missing)}"


def test_newest_first_names_exist():
    # a typo'd name here silently vanishes from the driver's sample
    # window (all_queries() filters by registered specs) — make it loud
    names = set(all_queries())
    missing = set(_NEWEST_FIRST) - names
    assert not missing, f"curated-but-unregistered: {sorted(missing)}"


def test_sf_cache_tag_distinguishes_same_basename(tmp_path):
    # two sf_dirs sharing a basename must never share a fixture-cache
    # slot (a topic produced from one dataset silently serving the other)
    from pulsar_lunar_spark.session import sf_cache_tag

    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    assert sf_cache_tag(str(a)) != sf_cache_tag(str(b))
    # stable for the same resolved path, trailing slash or not
    assert sf_cache_tag(str(a)) == sf_cache_tag(str(a) + "/")


def test_artifacts_follow_dataset_content(spark, sf_dir, tmp_path):
    # every cached derived value follows the dataset's content: rewriting
    # events.parquet IN PLACE rebuilds the cutoff constant, the table plan
    # and the produced topic; two datasets sharing a basename never share
    # an entry (same hazard class as sf_cache_tag)
    import shutil

    import pyarrow.parquet as pq

    from pulsar_lunar_spark.queries.messaging import _seek_log
    from pulsar_lunar_spark.queries.streaming_q import _events_max_us
    from pulsar_lunar_spark.session import load_table

    base = os.path.basename(os.path.normpath(sf_dir))
    a, b = tmp_path / "x" / base, tmp_path / "y" / base
    for d in (a, b):
        d.mkdir(parents=True)
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                shutil.copyfile(os.path.join(sf_dir, name), d / name)
    events = pq.read_table(a / "events.parquet").sort_by("ts")
    head = events.slice(0, events.num_rows // 2)  # pyarrow keeps the ts type

    def observed(d):
        return (
            _events_max_us(spark, str(d)),
            load_table(spark, str(d), "events").count(),
            _seek_log(spark, str(d)).read("events").count(),
        )

    pq.write_table(head, b / "events.parquet")
    full, half = observed(a), observed(b)
    assert full[1:] == (events.num_rows, events.num_rows)
    assert half[1:] == (head.num_rows, head.num_rows)
    assert half[0] < full[0]
    pq.write_table(head, a / "events.parquet")
    assert observed(a) == half


def test_sample_head_leads_with_unconfirmed():
    # every query without a driver-green row must precede every confirmed
    # one, so a head-first ~50-query sample never wastes budget (there may
    # be fewer than 50 unconfirmed queries left — then the head is exactly
    # all of them)
    names = list(all_queries())
    fresh = {
        n for n in names if n in _NEWEST_FIRST or n not in _DRIVER_CONFIRMED
    }
    confirmed_in_head = [n for n in names[: len(fresh)] if n not in fresh]
    assert not confirmed_in_head
