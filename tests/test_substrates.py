"""The session-substrate registry (`naive_query_engine_spark.substrates`):
keying, reuse, and the `clear` that drops entries, unpersists their
frames and releases their lineage cuts.  Keying tests use a fake
``spark`` namespace, so they need no corpus and no JVM."""

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


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _chain(spark, n=6):
    vertices = spark.range(n)
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    return vertices, edges


@pytest.mark.parametrize("shape", ["direct_cut", "components"])
def test_clear_releases_cut_backed_values(spark, cache, shape):
    """A substrate whose value is a lineage cut, or a projection of one
    (``connected_components`` labels), holds checkpoint blocks that
    ``unpersist`` alone does not free; ``clear`` releases them."""
    from naive_query_engine_spark.operators.clustering import connected_components
    from naive_query_engine_spark.queries import cut_lineage

    @substrate
    def cut(spark, sf_dir):
        if shape == "direct_cut":
            return cut_lineage(spark.range(5).selectExpr("id", "id * 2 AS v"))
        return connected_components(*_chain(spark))

    before = _persistent_rdds(spark)
    cut(spark, "sf")
    assert len(_persistent_rdds(spark) - before) == 1
    substrates.clear(cut)
    assert _persistent_rdds(spark) <= before


def _cut_rdd_id(df) -> int:
    """Id of the checkpointed RDD that the (filtered, projected) cut frame reads."""
    return df._jdf.queryExecution().analyzed().collectLeaves().head().rdd().id()


@pytest.mark.parametrize("max_iter", [25, 1])
def test_connected_components_releases_its_edge_frame(spark, uncoalesced, max_iter):
    """Each round's lineage cut is released once the next has
    materialized, and the last one backs the result.  With coalescing
    off the chain spreads over many partitions and takes several
    rounds, so a converged call keeps only the cut behind its result,
    and a call that runs out of rounds keeps none."""
    from naive_query_engine_spark.operators.clustering import connected_components

    vertices, edges = _chain(spark)
    before = _persistent_rdds(spark)
    if max_iter == 1:  # the chain spans partitions, so one round is too few
        with pytest.raises(RuntimeError, match="not converged"):
            connected_components(vertices, edges, max_iter=max_iter)
        assert _persistent_rdds(spark) <= before
    else:
        labels = connected_components(vertices, edges, max_iter=max_iter)
        assert sorted(map(tuple, labels.collect())) == [(i, 0) for i in range(6)]
        assert _persistent_rdds(spark) - before == {_cut_rdd_id(labels)}
