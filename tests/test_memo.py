"""Invalidation rules of tez_spark.memo, once per scope the engine uses:
a SparkSession (relations, artifacts, runtime confs), the Py4J gateway
(expression families) and the process (footer stats, centroids)."""

from __future__ import annotations

import gc
import weakref

import pytest

from tez_spark.memo import memo, stats

SCOPES = {
    "session": lambda spark: spark,
    "gateway": lambda spark: spark.sparkContext._gateway,
    "process": lambda spark: None,
}


class Value:
    """A weak-referenceable stand-in for a memoized DataFrame/array."""


def _new_session(spark):
    """spark.newSession() that leaves RDD.toDF as it was: SparkSession's
    constructor rebinds it to a closure over the newest session, which
    would keep that session alive and hand it to later tests."""
    from pyspark import RDD

    saved = RDD.toDF
    try:
        return spark.newSession()
    finally:
        RDD.toDF = saved


def _delta(before: dict) -> dict:
    after = stats()
    return {k: after[k] - before[k] for k in after}


@pytest.mark.parametrize("kind", sorted(SCOPES))
def test_memo_invalidation_per_scope(spark, tmp_path, kind):
    scope = SCOPES[kind](spark)
    src = tmp_path / "input.bin"
    src.write_bytes(b"v1")
    builds, evicted = [], []

    def get(param, inputs=(str(src),)):
        def build():
            builds.append(param)
            return Value()

        key = ("test", str(tmp_path), param)
        return memo(scope, key, build, inputs, on_evict=evicted.append)

    # same key + unchanged input: a hit returning the identical object
    before = stats()
    a = get(3)
    assert get(3) is a and builds == [3]
    assert _delta(before) == {"hits": 1, "misses": 1, "evictions": 0, "uncached": 0}

    # keys differing only in params coexist: alternating never rebuilds
    b = get(4)
    for _ in range(3):
        assert get(3) is a and get(4) is b
    assert builds == [3, 4] and evicted == []

    # a rewritten input: exactly one rebuild, the old value to on_evict
    src.write_bytes(b"version two")
    before = stats()
    a2 = get(3)
    assert a2 is not a and get(3) is a2
    assert builds == [3, 4, 3] and evicted == [a]
    assert _delta(before) == {"hits": 1, "misses": 1, "evictions": 1, "uncached": 0}

    # a missing input: every call builds, nothing is stored or evicted
    before = stats()
    missing = (str(tmp_path / "never_written"),)
    assert get(5, missing) is not get(5, missing)
    assert builds == [3, 4, 3, 5, 5] and evicted == [a]
    assert _delta(before)["uncached"] == 2


@pytest.mark.parametrize("kind", ["session", "gateway"])
def test_memo_dead_scope_drops_entries(spark, kind):
    # a stopped JVM's gateway cannot be recreated in-process; any object
    # that dies stands in for it
    scope = _new_session(spark) if kind == "session" else Value()
    ref = weakref.ref(memo(scope, ("test", kind), Value))
    gc.collect()
    assert ref() is not None  # held by the live scope's entry
    del scope
    gc.collect()
    assert ref() is None
