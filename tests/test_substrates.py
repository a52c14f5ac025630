"""The session-substrate registry (`naive_query_engine_spark.substrates`):
keying, reuse, and the `clear` that drops entries and unpersists their
frames.  Keying tests use a fake ``spark`` namespace, so they need no
corpus and no JVM."""

from __future__ import annotations

import re
import sys
import types

import pytest
from pyspark import StorageLevel

from naive_query_engine_spark import substrates
from naive_query_engine_spark.substrates import substrate


@pytest.fixture
def cache(monkeypatch):
    """A fresh registry dict, so the test leaves the session's live
    substrates alone (the decorator finds the dict by name per call)."""
    fresh: dict = {}
    monkeypatch.setattr(substrates, "_SUBSTRATE_CACHE", fresh)
    return fresh


def _fake_spark(app: str):
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=app))


builds: list[tuple] = []


@substrate
def _rows(spark, sf_dir, n=3):
    builds.append((sf_dir, n))
    return list(range(n))


@substrate
def _other(spark, sf_dir):
    return object()


def test_package_has_one_cache_dict():
    import naive_query_engine_spark.queries  # noqa: F401 - imports every operator

    found = [
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if mod is not None and name.split(".")[0] == "naive_query_engine_spark"
        for attr, val in list(vars(mod).items())
        if re.fullmatch(r"_\w+_CACHE", attr) and isinstance(val, dict)
    ]
    assert found == ["naive_query_engine_spark.substrates._SUBSTRATE_CACHE"]


def test_second_call_reuses_without_rebuilding(cache):
    spark = _fake_spark("app-1")
    builds.clear()
    first = _rows(spark, "sf")
    assert _rows(spark, "sf") is first
    assert builds == [("sf", 3)]


def test_default_and_explicit_default_share_one_entry(cache):
    spark = _fake_spark("app-1")
    assert _rows(spark, "sf") is _rows(spark, "sf", 3) is _rows(spark, "sf", n=3)
    assert len(cache) == 1
    assert _rows(spark, "sf", 4) is not _rows(spark, "sf")
    assert len(cache) == 2


def test_new_application_builds_new_entry(cache):
    builds.clear()
    a = _rows(_fake_spark("app-1"), "sf")
    b = _rows(_fake_spark("app-2"), "sf")
    assert a is not b and len(builds) == 2 and len(cache) == 2


def test_clear_named_drops_only_that_substrate(cache):
    spark = _fake_spark("app-1")
    _rows(spark, "sf")
    _rows(spark, "sf2")
    kept = _other(spark, "sf")
    substrates.clear(_rows)
    assert len(cache) == 1 and _other(spark, "sf") is kept
    builds.clear()
    _rows(spark, "sf")
    assert builds == [("sf", 3)]


def test_clear_all_unpersists_held_frames(spark, cache):
    @substrate
    def persisted(spark, sf_dir):
        return spark.range(5).persist(StorageLevel.MEMORY_AND_DISK)

    @substrate
    def pair(spark, sf_dir):
        return (spark.range(3).persist(StorageLevel.MEMORY_AND_DISK), {"meta": 1})

    df = persisted(spark, "sf")
    held, _ = pair(spark, "sf")
    assert df.count() == 5 and df.storageLevel != StorageLevel.NONE
    substrates.clear()
    assert cache == {}
    assert df.storageLevel == StorageLevel.NONE
    assert held.storageLevel == StorageLevel.NONE


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("max_iter", [25, 1])
def test_connected_components_releases_its_edge_frame(spark, monkeypatch, max_iter):
    """The symmetrized edge frame is persisted for the fixpoint and
    released after it, whether it converges or raises.  Lazy cuts keep
    the per-round localCheckpoints out of the persistent-RDD count, so
    the count isolates that frame."""
    from naive_query_engine_spark.operators.clustering import connected_components

    monkeypatch.setenv("SPARK_GRAFT_LAZY_CUTS", "1")
    vertices = spark.range(6)
    # stars converge in two plain rounds, which keeps the lazy plans small
    edges = spark.createDataFrame([(0, 1), (0, 2), (4, 5)], "a long, b long")
    before = _persistent_rdds(spark)
    if max_iter == 1:  # the first round changes labels, so one is too few
        with pytest.raises(RuntimeError, match="not converged"):
            connected_components(vertices, edges, max_iter=max_iter)
    else:
        labels = connected_components(vertices, edges, max_iter=max_iter)
        assert sorted(map(tuple, labels.collect())) == [
            (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)
        ]
    assert _persistent_rdds(spark) <= before
