"""Smoke: the driver contract — entry() returns rows with a stable
schema; every queries() key either has an oracle or is documented as
rows-only; pagination/top-k determinism."""

from __future__ import annotations

import threading

import pytest

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query callable is (spark, sf_dir) -> DataFrame
    assert all(callable(f) for f in qs.values())


def test_queries_run_at_sf0001(spark, sf0001):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf0001)
        assert df.count() >= 0, name


@pytest.mark.parametrize(
    "slot, module, func",
    [
        ("media_plans", entrymod.dedup, "connected_components"),
        ("corpus_sample", entrymod.corpus_prep, "stratified_sample"),
    ],
)
def test_pooled_slot_drains_its_pool_on_error(
    spark, sf0001, monkeypatch, slot, module, func
):
    """A failure inside a slot's thread-pool region propagates as the
    original exception, and only after the pool drained: no pool thread
    and no Spark job outlives the call."""

    class Boom(RuntimeError):
        pass

    def boom(*args, **kwargs):
        raise Boom(func)

    monkeypatch.setattr(module, func, boom)
    before = set(threading.enumerate())
    with pytest.raises(Boom):
        entrymod.queries()[slot](spark, sf0001)
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert leaked == []
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
