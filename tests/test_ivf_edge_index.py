"""Persistent bucketed IVF edge index (the maintained-index form of the
r7 substrate).

The five IVF-substrate queries ride a session cache; at 100 TB the
substrate is a MAINTAINED table.  These tests pin

1. per-vertex aggregation over the bucketed table is exchange-free (the
   groupBy key is the bucket key),
2. the neighbor-lookup probe join is exchange-free on the INDEX side
   (the serving-path property), and
3. the table's contents equal the session-built edge frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from naive_query_engine_spark import plans
from naive_query_engine_spark.operators.kmeans import (
    ivf_mutual_knn_edges,
    write_ivf_edge_index,
)

from .conftest import SF_SMOKE

INDEX_TABLE = "b_ivf_edge_index"


@pytest.fixture(scope="module")
def ivf_index(spark):
    # A crashed prior session can leave a managed-table LOCATION on
    # disk while the catalog has no such table — saveAsTable then fails
    # with LOCATION_ALREADY_EXISTS.  The index write creates FOUR
    # managed tables ({t}, {t}_assign, {t}_centroids, {t}_conf); drop
    # every table and sweep every orphan dir.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    for suffix in ("", "_assign", "_centroids", "_conf"):
        spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}{suffix}")
        if warehouse:
            import shutil

            shutil.rmtree(
                f"{warehouse}/{INDEX_TABLE}{suffix}", ignore_errors=True
            )
    write_ivf_edge_index(spark, SF_SMOKE, INDEX_TABLE, n_buckets=8)
    yield
    spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}")


def test_degree_aggregation_has_no_exchange(spark, ivf_index):
    """groupBy on the bucket key aggregates without any Exchange — the
    write-once-shuffle-never property for the graph-overlay rollups."""
    deg = spark.table(INDEX_TABLE).groupBy("vec_a").agg(
        F.count(F.lit(1)).alias("deg")
    )
    text = plans.explain_text(deg, "simple")
    assert "Exchange" not in text, text


def test_probe_join_is_exchange_free_on_index_side(spark, ivf_index):
    """A query-id set probing for neighbors exchanges ONLY itself; the
    index side reads bucket-aligned (exactly one Exchange in the plan,
    and it is the probe's)."""
    probe = spark.range(0, 50).select(F.col("id").alias("vec_a"))
    hits = spark.table(INDEX_TABLE).join(probe, "vec_a")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        text = plans.explain_text(hits, "simple")
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert text.count("Exchange") == 1, text
    assert "SortMergeJoin" in text, text


def test_table_matches_session_built_edges(spark, ivf_index):
    via_table = sorted(tuple(r) for r in spark.table(INDEX_TABLE).collect())
    via_session = sorted(
        tuple(r) for r in ivf_mutual_knn_edges(spark, SF_SMOKE).collect()
    )
    assert via_table == via_session and via_table


# ---------------------------------------------------------------------------
# Incremental maintenance (VERDICT r7 #2): the living-index trio


MAINT_TABLE = "b_ivf_maint_index"
#: measured Spark jobs of one upsert_ivf_vector_index call on maint_index
UPSERT_JOBS = 14
#: measured Spark jobs of one repair_ivf_vector_index call of two cells
REPAIR_JOBS = 23


def _vectors(spark, pred: str):
    from naive_query_engine_spark.queries import t

    e = t(spark, SF_SMOKE, "embeddings")
    return e.filter(F.expr(pred)).select("vec_id", "embedding")


@pytest.fixture()
def maint_index(spark):
    from naive_query_engine_spark.operators.kmeans import (
        build_ivf_vector_index,
    )

    # same crash-recovery sweep as ivf_index: the builder creates FOUR
    # managed tables; orphaned locations from a killed session would
    # fail the first saveAsTable with LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    for suffix in ("", "_assign", "_centroids", "_conf"):
        spark.sql(f"DROP TABLE IF EXISTS {MAINT_TABLE}{suffix}")
        if warehouse:
            import shutil

            shutil.rmtree(
                f"{warehouse}/{MAINT_TABLE}{suffix}", ignore_errors=True
            )
    build_ivf_vector_index(
        spark, _vectors(spark, "vec_id % 3 <> 0"), MAINT_TABLE, n_buckets=8
    )
    yield
    for suffix in ("", "_assign", "_centroids", "_conf"):
        spark.sql(f"DROP TABLE IF EXISTS {MAINT_TABLE}{suffix}")


def _rebuild_reference(spark):
    """From-scratch final state under the SAME frozen centroids: train on
    the base corpus, assign everyone, mutual-kNN per cell."""
    from naive_query_engine_spark.operators.kmeans import (
        KMEANS_ITERS,
        KMEANS_K,
        _assign_to_cells,
        cell_mutual_knn_edges,
        train_centroids,
    )
    from naive_query_engine_spark.operators.similarity import (
        TOP_K,
        _qtable,
    )
    from naive_query_engine_spark.queries import cut_lineage, spread

    qt = cut_lineage(spread(_qtable(spark, SF_SMOKE).select("vec_id", "q", "nrm2")))
    centroids = train_centroids(
        qt.filter("vec_id % 3 <> 0").select("vec_id", "q"), KMEANS_K, KMEANS_ITERS
    )
    assign = _assign_to_cells(qt, centroids)
    edges = cell_mutual_knn_edges(assign, TOP_K, with_cell=True)
    return assign, edges


def test_upsert_converges_to_batch_rebuild(spark, maint_index):
    """Two arrival batches upserted into the persisted index must leave the
    edge AND assignment tables equal to the from-scratch build over the
    full corpus under the same frozen centroids — the batching-invariance
    contract of touched-cell recompute."""
    from naive_query_engine_spark.operators.kmeans import (
        upsert_ivf_vector_index,
    )

    r1 = upsert_ivf_vector_index(
        spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 0")
    )
    r2 = upsert_ivf_vector_index(
        spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 3")
    )
    assert r1["n_arrivals"] > 0 and r2["n_arrivals"] > 0
    want_assign, want_edges = _rebuild_reference(spark)
    got_edges = sorted(
        tuple(r) for r in spark.table(MAINT_TABLE).collect()
    )
    assert got_edges == sorted(tuple(r) for r in want_edges.collect())
    assert got_edges
    got_assign = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.table(f"{MAINT_TABLE}_assign").collect()
    )
    assert got_assign == sorted(
        (r["vec_id"], r["cell"]) for r in want_assign.collect()
    )


def test_upsert_job_ceiling_and_one_kernel_pass(spark, maint_index):
    """One upsert runs at most UPSERT_JOBS Spark jobs (counted by job
    group), and its edge recompute executes the per-cell kernel once,
    with no Window: ranking and the mutual filter happen inside that
    pass.  Ranking the pairs frame with a window and a reverse-rank
    self-join ran the pair kernel four times, in 20 jobs per upsert."""
    from naive_query_engine_spark.operators.kmeans import (
        cell_mutual_knn_edges,
        upsert_ivf_vector_index,
    )
    from naive_query_engine_spark.operators.similarity import TOP_K

    arrivals = _vectors(spark, "vec_id % 6 = 0")
    sc = spark.sparkContext
    group = "ivf-upsert-jobs"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        res = upsert_ivf_vector_index(spark, MAINT_TABLE, arrivals)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["n_arrivals"] > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= UPSERT_JOBS, n_jobs
    spark.catalog.refreshTable(f"{MAINT_TABLE}_assign")
    edges = cell_mutual_knn_edges(
        spark.table(f"{MAINT_TABLE}_assign").filter(
            F.col("cell").isin(res["touched_cells"])
        ),
        TOP_K,
        with_cell=True,
    )
    assert len(edges.collect()) == res["n_edges_written"]
    final_plan = (
        edges._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert final_plan.count("MapInPandas") == 1, final_plan
    assert "Window" not in final_plan, final_plan


def test_upsert_members_scan_is_partition_pruned(spark, maint_index):
    """The maintenance cost bound: reading a touched-cells membership slice
    scans ONLY those cell partitions (PartitionFilters in the scan node),
    so an upsert's work scales with the batch's cell footprint, never the
    corpus."""
    sliced = spark.table(f"{MAINT_TABLE}_assign").filter(
        F.col("cell").isin([0, 1])
    )
    text = plans.explain_text(sliced, "formatted")
    assert "PartitionFilters" in text
    seg = text[text.index("PartitionFilters"):].splitlines()[0]
    assert "cell" in seg, seg


def test_maintained_degree_rollup_still_exchange_free(spark, maint_index):
    """Cell-partitioning must not cost the bucketed property: the degree
    rollup on the maintained (partitioned + bucketed) edge table still
    runs without any Exchange."""
    deg = spark.table(MAINT_TABLE).groupBy("vec_a").agg(
        F.count(F.lit(1)).alias("deg")
    )
    text = plans.explain_text(deg, "simple")
    assert "Exchange" not in text, text


def test_registered_upsert_query_matches_table_path(spark, maint_index):
    """The registered similarity_ivf_index_upsert (the in-memory fold the
    driver oracle-checks) and the persisted-table upsert path must agree
    on the final per-cell census — same helpers, same fixpoint."""
    from naive_query_engine_spark.operators.kmeans import (
        _EDGE_CKSUM,
        upsert_ivf_vector_index,
    )
    from naive_query_engine_spark.queries import QUERIES

    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 0"))
    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 3"))
    ed = spark.table(MAINT_TABLE)
    mem = spark.table(f"{MAINT_TABLE}_assign")
    got = {
        r["cell"]: (r["n_members"], r["n_edges"], r["cksum"])
        for r in mem.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(
            ed.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_edges"),
                F.sum(F.col("vec_a") * _EDGE_CKSUM + F.col("vec_b")).alias("cksum"),
            ),
            "cell",
            "left",
        )
        .fillna(0, ["n_edges", "cksum"])
        .collect()
    }
    want = {
        r["cell"]: (r["n_members"], r["n_edges"], r["edge_checksum"])
        for r in QUERIES["similarity_ivf_index_upsert"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and got


def test_repair_flagged_cells_partial_retrain(spark, maint_index):
    """The control loop's repair arm: re-cluster two cells of the
    maintained index.  Untouched cells must be byte-identical, the
    repaired region must equal a direct Lloyd recompute from the pooled
    members under the refreshed centroids, and the centroids table must
    carry the hybrid set — all without reading any unflagged partition
    (partial retrain is O(pool)).  The repair runs at most REPAIR_JOBS
    Spark jobs: its pool and edge counts come from one grouped count
    each."""
    from naive_query_engine_spark.operators.kmeans import (
        KMEANS_ITERS,
        _assign_to_cells,
        cell_mutual_knn_edges,
        repair_ivf_vector_index,
        train_centroids,
    )
    from naive_query_engine_spark.operators.similarity import TOP_K

    repaired = [0, 1]
    before_assign = {
        c: sorted(
            (r["vec_id"], tuple(r["q"]), r["nrm2"])
            for r in spark.table(f"{MAINT_TABLE}_assign")
            .filter(F.col("cell") == c)
            .collect()
        )
        for c in range(8)
    }
    before_edges = {
        c: sorted(
            (r["vec_a"], r["vec_b"])
            for r in spark.table(MAINT_TABLE).filter(F.col("cell") == c).collect()
        )
        for c in range(8)
    }
    pool = (
        spark.table(f"{MAINT_TABLE}_assign")
        .filter(F.col("cell").isin(repaired))
        .select("vec_id", "q", "nrm2")
    )
    pool_rows = sorted(
        (r["vec_id"], tuple(r["q"]), r["nrm2"]) for r in pool.collect()
    )
    old_centroids = {
        r["c_label"]: list(r["centroid"])
        for r in spark.table(f"{MAINT_TABLE}_centroids").collect()
    }

    sc = spark.sparkContext
    group = "ivf-repair-jobs"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        res = repair_ivf_vector_index(spark, MAINT_TABLE, repaired)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["n_members"] == len(pool_rows) > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= REPAIR_JOBS, n_jobs

    spark.catalog.refreshTable(MAINT_TABLE)
    spark.catalog.refreshTable(f"{MAINT_TABLE}_assign")
    spark.catalog.refreshTable(f"{MAINT_TABLE}_centroids")

    # (a) untouched cells byte-identical, both tables
    for c in range(2, 8):
        got_a = sorted(
            (r["vec_id"], tuple(r["q"]), r["nrm2"])
            for r in spark.table(f"{MAINT_TABLE}_assign")
            .filter(F.col("cell") == c)
            .collect()
        )
        assert got_a == before_assign[c], c
        got_e = sorted(
            (r["vec_a"], r["vec_b"])
            for r in spark.table(MAINT_TABLE).filter(F.col("cell") == c).collect()
        )
        assert got_e == before_edges[c], c

    # (b) repaired region == direct recompute from the pool under the
    # refreshed centroids (same seeding: Lloyd on the pool, relabeled)
    pool_df = spark.createDataFrame(
        [(v, list(q), n) for v, q, n in pool_rows],
        "vec_id long, q array<long>, nrm2 long",
    )
    trained = train_centroids(pool_df.select("vec_id", "q"), len(repaired), KMEANS_ITERS)
    refreshed = {repaired[j]: v for j, v in trained.items()}
    want_assign = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_to_cells(pool_df, refreshed).collect()
    )
    got_assign = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.table(f"{MAINT_TABLE}_assign")
        .filter(F.col("cell").isin(repaired))
        .collect()
    )
    assert got_assign == want_assign
    # the pool neither grew nor shrank — members only migrate inside it
    assert sorted(v for v, _ in got_assign) == sorted(v for v, _, _ in pool_rows)
    want_edges = sorted(
        tuple(r)
        for r in cell_mutual_knn_edges(
            _assign_to_cells(pool_df, refreshed), TOP_K, with_cell=True
        ).collect()
    )
    got_edges = sorted(
        tuple(r)
        for r in spark.table(MAINT_TABLE)
        .filter(F.col("cell").isin(repaired))
        .collect()
    )
    assert got_edges == want_edges

    # (c) centroids table = hybrid (frozen outside, refreshed inside)
    after_centroids = {
        r["c_label"]: list(r["centroid"])
        for r in spark.table(f"{MAINT_TABLE}_centroids").collect()
    }
    for c, v in after_centroids.items():
        if c in repaired:
            assert v == refreshed[c], c
        else:
            assert v == old_centroids[c], c


def test_clear_partitions_empties_exactly_the_named_cells(spark, maint_index):
    """The repair path's stale-partition guard: clearing named cells
    empties exactly those partitions and leaves the rest untouched."""
    from naive_query_engine_spark.operators.kmeans import _clear_partitions

    before = spark.table(MAINT_TABLE).groupBy("cell").count().collect()
    before = {r["cell"]: r["count"] for r in before}
    victims = [c for c in sorted(before) if before[c] > 0][:2]
    _clear_partitions(spark, MAINT_TABLE, victims)
    spark.catalog.refreshTable(MAINT_TABLE)
    after = {
        r["cell"]: r["count"]
        for r in spark.table(MAINT_TABLE).groupBy("cell").count().collect()
    }
    for c in victims:
        assert after.get(c, 0) == 0, c
    for c, n in before.items():
        if c not in victims:
            assert after.get(c, 0) == n, c


def test_registered_repair_query_matches_table_path(spark, maint_index):
    """The control loop, both halves: ingest the two arrival batches into
    the persisted index, repair the drift-flagged cells via the TABLE
    path, and check the post-repair (cell, n_members) census equals the
    registered similarity_ivf_index_repair fold (whose DuckDB oracle
    re-derives the same state from scratch) — plus the hybrid centroids
    table matches the fold's checksums."""
    from naive_query_engine_spark.operators.kmeans import (
        repair_ivf_vector_index,
        upsert_ivf_vector_index,
    )
    from naive_query_engine_spark.queries import QUERIES

    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 0"))
    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 3"))
    rows = QUERIES["similarity_ivf_index_repair"].fn(spark, SF_SMOKE).collect()
    flagged = sorted(r["cell"] for r in rows if r["repaired"])
    assert flagged  # the gate flags something on this corpus
    repair_ivf_vector_index(spark, MAINT_TABLE, flagged)
    spark.catalog.refreshTable(f"{MAINT_TABLE}_assign")
    spark.catalog.refreshTable(f"{MAINT_TABLE}_centroids")
    got_census = {
        r["cell"]: r["count"]
        for r in spark.table(f"{MAINT_TABLE}_assign").groupBy("cell").count().collect()
    }
    want_census = {r["cell"]: r["n_members"] for r in rows}
    assert got_census == want_census
    got_cks = {
        r["c_label"]: sum(
            v * (d + 1) for d, v in enumerate(r["centroid"])
        )
        for r in spark.table(f"{MAINT_TABLE}_centroids").collect()
    }
    want_cks = {r["cell"]: r["centroid_checksum"] for r in rows}
    assert got_cks == want_cks


def test_index_drift_report_matches_registered_gate(spark, maint_index):
    """The production gate (read off the maintained tables, no
    retraining) must agree row-for-row with the registered self-
    contained drift check once the index holds the same state (base
    build + both arrival batches == the frozen-assignment regime)."""
    from naive_query_engine_spark.operators.kmeans import (
        index_drift_report,
        upsert_ivf_vector_index,
    )
    from naive_query_engine_spark.queries import QUERIES

    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 0"))
    upsert_ivf_vector_index(spark, MAINT_TABLE, _vectors(spark, "vec_id % 6 = 3"))
    got = {
        r["cell"]: (r["n_members"], r["drift2"], r["retrain"])
        for r in index_drift_report(spark, MAINT_TABLE).collect()
    }
    want = {
        r["cell"]: (r["n_members"], r["drift2"], r["retrain"])
        for r in QUERIES["embedding_centroid_drift_check"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and got
    assert {v[2] for v in got.values()} == {True, False}


def test_repair_empty_flag_path(spark, maint_index, monkeypatch):
    """ADVICE r8: the relative drift gate can flag NOTHING on a corpus
    whose drift is uniform — both repair arms must then no-op gracefully
    instead of exercising a k=0 Lloyd / empty-centroid assign / isin([]).

    Table path: explicit cells=[] returns the zero summary and leaves
    every table byte-identical.  Registered query: with the gate forced
    unflaggable, the fold returns the UNREPAIRED census (all cells,
    repaired=false) equal to the frozen assignment's group counts."""
    from naive_query_engine_spark.operators import kmeans
    from naive_query_engine_spark.queries import QUERIES

    before_assign = sorted(
        tuple(r) for r in spark.table(f"{MAINT_TABLE}_assign").collect()
    )
    before_centroids = sorted(
        (r["c_label"], tuple(r["centroid"]))
        for r in spark.table(f"{MAINT_TABLE}_centroids").collect()
    )
    res = kmeans.repair_ivf_vector_index(spark, MAINT_TABLE, [])
    assert res == {"repaired_cells": [], "n_members": 0, "n_edges_written": 0}
    assert (
        sorted(tuple(r) for r in spark.table(f"{MAINT_TABLE}_assign").collect())
        == before_assign
    )
    assert (
        sorted(
            (r["c_label"], tuple(r["centroid"]))
            for r in spark.table(f"{MAINT_TABLE}_centroids").collect()
        )
        == before_centroids
    )

    # registered query: an unflaggable gate (numerator made enormous)
    monkeypatch.setattr(kmeans, "DRIFT_NUM", 10**12)
    rows = QUERIES["similarity_ivf_index_repair"].fn(spark, SF_SMOKE).collect()
    assert rows and all(not r["repaired"] for r in rows)
    assign, centroids = kmeans._frozen_assignment(spark, SF_SMOKE)
    want_census = {
        r["cell"]: r["count"]
        for r in assign.groupBy("cell").count().collect()
    }
    assert {r["cell"]: r["n_members"] for r in rows} == want_census
    want_cks = {
        c: sum(v[d] * (d + 1) for d in range(len(v)))
        for c, v in centroids.items()
    }
    assert {r["cell"]: r["centroid_checksum"] for r in rows} == want_cks


def test_upsert_compaction_preserves_state_and_drops_files(spark, maint_index):
    """VERDICT r8 #4: M upserts accrete one file set per batch on the
    touched assign partitions; compaction must drop the file count while
    leaving the table row-for-row identical (and the in-upsert trigger
    must fire once a touched cell crosses the threshold)."""
    from naive_query_engine_spark.operators.kmeans import (
        _assign_partition_file_counts,
        compact_ivf_assign,
        upsert_ivf_vector_index,
    )

    # threshold=None: accrete without the in-upsert trigger
    for m in range(4):
        upsert_ivf_vector_index(
            spark,
            MAINT_TABLE,
            _vectors(spark, f"vec_id % 12 = {3 * m}"),
            compact_threshold=None,
        )
    spark.catalog.refreshTable(f"{MAINT_TABLE}_assign")
    before_rows = sorted(
        tuple(r) for r in spark.table(f"{MAINT_TABLE}_assign").collect()
    )
    before_files = _assign_partition_file_counts(spark, MAINT_TABLE)
    assert max(before_files.values()) > 1  # the append really accreted

    res = compact_ivf_assign(spark, MAINT_TABLE, max_files_per_cell=1)
    assert res["compacted_cells"]  # something crossed the threshold
    after_rows = sorted(
        tuple(r) for r in spark.table(f"{MAINT_TABLE}_assign").collect()
    )
    assert after_rows == before_rows  # row-for-row identical
    after_files = _assign_partition_file_counts(spark, MAINT_TABLE)
    assert sum(after_files.values()) < sum(before_files.values())
    for c in res["compacted_cells"]:
        assert after_files[c] <= before_files[c]
        assert after_files[c] == 1  # repartition("cell") -> one task's file
    for c, n in before_files.items():  # untouched cells never rewritten
        if c not in res["compacted_cells"]:
            assert after_files[c] == n

    # the in-upsert trigger: a tiny threshold compacts the touched cells
    r = upsert_ivf_vector_index(
        spark, MAINT_TABLE, _vectors(spark, "vec_id % 12 = 6"),
        compact_threshold=1,
    )
    assert set(r["compacted_cells"]) <= set(r["touched_cells"])
    assert r["compacted_cells"]  # 1-file threshold + fresh append crosses
    trig_files = _assign_partition_file_counts(
        spark, MAINT_TABLE, r["compacted_cells"]
    )
    assert all(n == 1 for n in trig_files.values())
