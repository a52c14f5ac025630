"""``clustering.connected_components``: rounds of partition-local
union-find, checked against a pure-Python union-find on graphs spread
over many partitions, and its one-round job bill on a graph that fits
one partition."""

from __future__ import annotations

import random

from naive_query_engine_spark.operators import clustering
from naive_query_engine_spark.operators.clustering import connected_components


def _reference(vertices, edges):
    """{id: min id of its component}: union-find, independent of Spark."""
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def _graphs():
    """Disjoint shapes, each on its own id range of one long-id graph."""
    rng = random.Random(7)
    shapes = {}
    chain = list(range(0, 40))
    shapes["chain"] = (chain, [(i, i + 1) for i in chain[:-1]])
    shuffled = list(range(100, 160))
    rng.shuffle(shuffled)
    shapes["shuffled_chain"] = (
        sorted(shuffled),
        [(shuffled[i], shuffled[i + 1]) for i in range(len(shuffled) - 1)],
    )
    rand = list(range(1000, 1500))
    shapes["random"] = (rand, [(rng.choice(rand), rng.choice(rand)) for _ in range(400)])
    star = list(range(2000, 2060))
    shapes["star_with_isolated"] = (star, [(2030, v) for v in star[:40] if v != 2030])
    messy = list(range(3000, 3012))
    shapes["loops_duplicates_orientations"] = (
        messy,
        [(3000, 3000), (3001, 3002), (3002, 3001), (3001, 3002), (3005, 3004),
         (3004, 3003), (3003, 3004), (3007, 3007), (3011, 3009), (3009, 3010)],
    )
    return shapes


def test_matches_python_union_find_across_partitions(spark, uncoalesced):
    shapes = _graphs()
    vertices = [v for vs, _ in shapes.values() for v in vs]
    edges = [e for _, es in shapes.values() for e in es]
    got = {
        r.id: r.component
        for r in connected_components(
            spark.createDataFrame([(v,) for v in vertices], "id long"),
            spark.createDataFrame(edges, "a long, b long"),
        ).collect()
    }
    assert len(got) == len(vertices)
    for name, (vs, es) in shapes.items():
        assert {v: got[v] for v in vs} == _reference(vs, es), name


def test_string_ids_across_partitions(spark, uncoalesced):
    vertices = [f"n{i:02d}" for i in range(30)]
    edges = [(vertices[i], vertices[i + 3]) for i in range(0, 27, 2)]
    comp = connected_components(
        spark.createDataFrame([(v,) for v in vertices], "id string"),
        spark.createDataFrame(edges, "a string, b string"),
    )
    assert dict(map(tuple, comp.collect())) == _reference(vertices, edges)


def test_one_partition_graph_takes_one_round(spark, monkeypatch):
    """A graph that fits one partition is closed by the first round's
    union-find: one lineage cut, and at most 5 Spark jobs for the call
    and the read of its result."""
    cuts = []
    cut_lineage = clustering.cut_lineage

    def counting_cut(df):
        cuts.append(df)
        return cut_lineage(df)

    monkeypatch.setattr(clustering, "cut_lineage", counting_cut)
    sc = spark.sparkContext
    vertices = spark.range(6)
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "a long, b long")
    group = "cc-one-round"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        rows = connected_components(vertices, edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, rows)) == [(i, 0) for i in range(6)]
    assert len(cuts) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
