"""Reliable-checkpoint toggle for iterative operators (VERDICT r3 #7).

``cut_lineage`` defaults to ``localCheckpoint`` (executor-memory resident,
not resilient to executor loss — fine in local mode); with
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` and a configured checkpoint dir it
switches every iterative lineage cut to a reliable ``checkpoint()``."""

from __future__ import annotations

import pytest

from naive_query_engine_spark.operators.clustering import connected_components
from naive_query_engine_spark.queries import QUERIES, cut_lineage

from .conftest import SF_SMOKE


def test_reliable_branch_requires_dir_then_checkpoints_to_it(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    df = spark.range(10)

    # the error branch must run FIRST (setCheckpointDir is session-sticky)
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(RuntimeError, match="checkpoint dir"):
            cut_lineage(df)

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    assert cut_lineage(df).count() == 10
    ckpt_files = [p for p in tmp_path.rglob("*") if p.is_file()]
    assert ckpt_files, "reliable checkpoint wrote nothing to the configured dir"

    # an iterative operator end-to-end on the reliable branch, unchanged result
    vertices = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "a long, b long")
    comp = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_stream_replay_cuts_through_reliable_checkpoint(
    spark, tmp_path, monkeypatch
):
    """A streaming equivalence query's read-back goes through
    ``cut_lineage``, so the reliable branch covers it too: the configured
    checkpoint dir receives the cut's files, and the rows equal the
    default (local-cut) run's."""
    fn = QUERIES["streaming_countmin_sink_equivalence"].fn
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    want = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    got = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    assert [p for p in tmp_path.rglob("*") if p.is_file()]
    assert got == want and got


def test_default_branch_stays_local(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    df = cut_lineage(spark.range(5))
    assert df.count() == 5
    assert not df.isStreaming  # a checkpointed leaf, executable repeatedly
    assert df.count() == 5


def test_lazy_cuts_inspection_mode(spark, monkeypatch):
    """SPARK_GRAFT_LAZY_CUTS=1: cut_lineage is a no-op, so iterative
    operators can be CONSTRUCTED and explained without running jobs, and
    the pre-cut iteration exchanges become visible to the static plan."""
    import naive_query_engine_spark.plans as plans
    from naive_query_engine_spark.queries import cut_lineage

    monkeypatch.setenv("SPARK_GRAFT_LAZY_CUTS", "1")
    # direct: the helper returns its input unchanged
    base = spark.range(100).selectExpr("id", "id % 7 AS k")
    assert cut_lineage(base) is base
    # an aggregation behind a lazy cut keeps its exchange visible
    agg = cut_lineage(base.groupBy("k").count())
    text = plans.explain_text(agg, "simple")
    assert "Exchange" in text
