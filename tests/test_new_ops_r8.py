"""Behavioral recomputes / invariants for the round-8 operators: the
incremental IVF index maintenance fold and the decontamination / split-
leakage audits composed onto the IVF substrate.

(The persisted-table maintenance path — build/upsert/stream — is pinned in
tests/test_ivf_edge_index.py and tests/test_streaming.py; oracle equality
for all registered queries is tests/test_oracle.py.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from naive_query_engine_spark.queries import QUERIES, t

from .conftest import SF_SMOKE


def test_leakage_ivf_zero_for_cells_only_split(spark):
    """Structural invariant of the IVF substrate: every edge is
    within-cell, so a split assigned PER CELL (here: cell parity) can
    never produce a cross-split edge — the leakage-safe-split property,
    substrate edition.  (The registered query's md5 split does cross
    cells, which is exactly the leakage it measures.)"""
    from naive_query_engine_spark.operators.kmeans import (
        ivf_corpus_assignment,
        ivf_mutual_knn_edges,
    )

    assign, _ = ivf_corpus_assignment(spark, SF_SMOKE)
    tag = assign.select(
        "vec_id", (F.col("cell") % 2).alias("split")
    )
    edges = ivf_mutual_knn_edges(spark, SF_SMOKE)
    crossed = (
        edges.join(
            tag.select(F.col("vec_id").alias("vec_a"), F.col("split").alias("sa")),
            "vec_a",
        )
        .join(
            tag.select(F.col("vec_id").alias("vec_b"), F.col("split").alias("sb")),
            "vec_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed == 0
    assert edges.count() > 0  # non-vacuous


def test_leakage_ivf_counts_recompute(spark):
    """Plain-Python recompute of the audit over the collected substrate
    edge set + md5 tags — pins the rollup arithmetic (cross edges,
    contaminated test vectors, ppm floors) independently of both
    engines' SQL."""
    import hashlib

    from naive_query_engine_spark.operators.kmeans import ivf_mutual_knn_edges
    from naive_query_engine_spark.operators.quality import TRAIN_BUCKETS

    def split_of(vid: int) -> str:
        h = int(hashlib.md5(str(vid).encode()).hexdigest()[0], 16)
        return "train" if h < TRAIN_BUCKETS else "test"

    edges = [
        (r["vec_a"], r["vec_b"])
        for r in ivf_mutual_knn_edges(spark, SF_SMOKE).collect()
    ]
    vec_ids = [
        r["vec_id"] for r in t(spark, SF_SMOKE, "embeddings").select("vec_id").collect()
    ]
    n_cross = sum(1 for a, b in edges if split_of(a) != split_of(b))
    contaminated = {
        (a if split_of(a) == "test" else b)
        for a, b in edges
        if split_of(a) != split_of(b)
    }
    n_test = sum(1 for v in vec_ids if split_of(v) == "test")
    row = (
        QUERIES["dataset_split_neardup_leakage_ivf"].fn(spark, SF_SMOKE).collect()[0]
    )
    assert row["n_edges"] == len(edges)
    assert row["n_cross_edges"] == n_cross
    assert row["n_test_vecs"] == n_test
    assert row["n_contaminated_test_vecs"] == len(contaminated)
    assert row["cross_edge_ppm"] == (1_000_000 * n_cross) // len(edges)
    assert row["contamination_ppm"] == (1_000_000 * len(contaminated)) // n_test


def test_contamination_ivf_subset_of_exact_pairs(spark):
    """The IVF restriction can only UNDERCOUNT: every flagged semantic
    (train, eval) pair must appear in the EXACT >= tau cosine pair set
    (the n-squared calibration twin), with correct eval/train membership
    on each side."""
    from naive_query_engine_spark.operators.kmeans import (
        _SEM_EVAL_MOD,
        _SEM_EVAL_REM,
    )

    flagged = QUERIES["dataset_contamination_check_ivf"].fn(spark, SF_SMOKE).collect()
    assert flagged  # non-vacuous at the smoke SF (2 rows)
    exact = {
        (min(r["vec_a"], r["vec_b"]), max(r["vec_a"], r["vec_b"]))
        for r in QUERIES["similarity_cosine_pairs"].fn(spark, SF_SMOKE).collect()
    }
    for r in flagged:
        assert r["eval_vec"] % _SEM_EVAL_MOD == _SEM_EVAL_REM
        assert r["train_vec"] % _SEM_EVAL_MOD != _SEM_EVAL_REM
        key = (min(r["train_vec"], r["eval_vec"]), max(r["train_vec"], r["eval_vec"]))
        assert key in exact, key


def test_upsert_fold_single_vs_two_batches_agree(spark):
    """Batching invariance of the registered incremental fold, checked a
    third way (beyond the DuckDB rebuild oracle and the table path):
    folding the two arrival batches as ONE batch must give the same
    census, because each touched cell is rebuilt from its full current
    membership either way."""
    from naive_query_engine_spark.operators.kmeans import (
        KMEANS_ITERS,
        KMEANS_K,
        _EDGE_CKSUM,
        _UPSERT_TRAIN_PRED,
        _assign_to_cells,
        cell_mutual_knn_edges,
        train_centroids,
    )
    from naive_query_engine_spark.operators.similarity import TOP_K, _qtable
    from naive_query_engine_spark.queries import cut_lineage, spread

    qt = cut_lineage(spread(_qtable(spark, SF_SMOKE).select("vec_id", "q", "nrm2")))
    base = qt.filter(F.expr(_UPSERT_TRAIN_PRED))
    centroids = train_centroids(base.select("vec_id", "q"), KMEANS_K, KMEANS_ITERS)
    # one-shot fold: everything arrives at once
    assign = _assign_to_cells(qt, centroids)
    edges = cell_mutual_knn_edges(assign, TOP_K, with_cell=True)
    want = {
        (r["cell"], r["n_members"], r["n_edges"], r["cksum"])
        for r in assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(
            edges.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_edges"),
                F.sum(F.col("vec_a") * _EDGE_CKSUM + F.col("vec_b")).alias("cksum"),
            ),
            "cell",
            "left",
        )
        .fillna(0, ["n_edges", "cksum"])
        .collect()
    }
    got = {
        (r["cell"], r["n_members"], r["n_edges"], r["edge_checksum"])
        for r in QUERIES["similarity_ivf_index_upsert"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want and got


def test_leakage_safe_split_ivf_zero_cross_edges(spark):
    """The constructive guarantee end-to-end: tag every vector with the
    component-keyed split the query ships, then check NO substrate edge
    straddles the split (the audit that motivated it reads zero on it
    by construction)."""
    from naive_query_engine_spark.operators.clustering import (
        connected_components,
    )
    from naive_query_engine_spark.operators.kmeans import ivf_mutual_knn_edges
    from naive_query_engine_spark.operators.quality import (
        TRAIN_BUCKETS,
        hash_bucket,
    )

    e = t(spark, SF_SMOKE, "embeddings")
    edges = ivf_mutual_knn_edges(spark, SF_SMOKE)
    comp = connected_components(
        e.select(F.col("vec_id").alias("id")),
        edges.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b")),
    )
    tag = comp.select(
        F.col("id").alias("vec_id"),
        F.when(hash_bucket(F.col("component")) < TRAIN_BUCKETS, "train")
        .otherwise("test")
        .alias("split"),
    )
    crossed = (
        edges.join(
            tag.select(F.col("vec_id").alias("vec_a"), F.col("split").alias("sa")),
            "vec_a",
        )
        .join(
            tag.select(F.col("vec_id").alias("vec_b"), F.col("split").alias("sb")),
            "vec_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed == 0
    # census covers the corpus exactly, both splits present
    rows = QUERIES["dataset_split_leakage_safe_ivf"].fn(spark, SF_SMOKE).collect()
    assert sum(r["n_vecs"] for r in rows) == e.count()
    assert {r["split"] for r in rows} == {"train", "test"}


def test_centroid_drift_matches_numpy(spark):
    """Per-cell drift² and the relative retrain flag vs a plain numpy
    recompute from the collected quantized vectors and the same frozen
    base-trained centroids — pins the floor-mean (non-negative modulus)
    and cross-multiplied gate arithmetic independently of both engines'
    SQL."""
    import numpy as np

    from naive_query_engine_spark.operators.kmeans import (
        DRIFT_DEN,
        DRIFT_NUM,
        KMEANS_ITERS,
        KMEANS_K,
        _UPSERT_TRAIN_PRED,
        train_centroids,
    )
    from naive_query_engine_spark.operators.similarity import _qtable
    from naive_query_engine_spark.queries import cut_lineage, spread

    qt = cut_lineage(spread(_qtable(spark, SF_SMOKE).select("vec_id", "q")))
    centroids = train_centroids(
        qt.filter(F.expr(_UPSERT_TRAIN_PRED)), KMEANS_K, KMEANS_ITERS
    )
    rows = qt.collect()
    ids = np.array([r["vec_id"] for r in rows])
    Q = np.array([list(r["q"]) for r in rows], dtype=np.int64)
    labels = sorted(centroids)
    C = np.array([centroids[j] for j in labels], dtype=np.int64)
    d2 = (Q * Q).sum(1)[:, None] - 2 * (Q @ C.T) + (C * C).sum(1)[None, :]
    a = d2.argmin(1)  # ties: argmin picks the first = lowest cell id
    want = {}
    for i, j in enumerate(labels):
        members = Q[a == i]
        s = members.sum(0)
        n = len(members)
        mean = (s - ((s % n) + n) % n) // n  # the shared floor-mean
        drift2 = int(((mean - C[i]) ** 2).sum())
        n_new = int((ids[a == i] % 3 == 0).sum())
        want[j] = (n, n_new, drift2)
    total = sum(v[2] for v in want.values())
    got = {
        r["cell"]: (r["n_members"], r["n_new"], r["drift2"], r["retrain"])
        for r in QUERIES["embedding_centroid_drift_check"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for j, (n, n_new, drift2) in want.items():
        gn, gnew, gd, gflag = got[j]
        assert (gn, gnew, gd) == (n, n_new, drift2), j
        assert gflag == (DRIFT_DEN * drift2 * len(want) > DRIFT_NUM * total), j
    flags = {v[3] for v in got.values()}
    assert flags == {True, False}  # the relative gate splits on this corpus


def test_semantic_dedup_ivf_refines_exact_partition(spark):
    """Conservative-failure property of substrate dedup: the IVF edge set
    is a subset of the exact >= tau edge set, so every IVF duplicate
    group must sit INSIDE one exact group (cross-cell misses only SPLIT
    groups, never merge) — substrate dedup keeps more, never deletes a
    non-duplicate.  Checked on memberships, plus census consistency
    with the registered queries."""
    from naive_query_engine_spark.operators.clustering import (
        connected_components,
    )
    from naive_query_engine_spark.operators.kmeans import ivf_cell_cosine_pairs
    from naive_query_engine_spark.operators.similarity import (
        COSINE_THRESHOLD,
        _qtable,
        cosine_block_pairs,
    )

    e = t(spark, SF_SMOKE, "embeddings")
    verts = e.select(F.col("vec_id").alias("id"))
    ivf_edges = (
        ivf_cell_cosine_pairs(spark, SF_SMOKE)
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    )
    exact_edges = cosine_block_pairs(_qtable(spark, SF_SMOKE)).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    ivf_comp = {
        r["id"]: r["component"]
        for r in connected_components(verts, ivf_edges).collect()
    }
    exact_comp = {
        r["id"]: r["component"]
        for r in connected_components(verts, exact_edges).collect()
    }
    # refinement: two vectors in the same IVF group share the exact group
    by_ivf: dict = {}
    for v, c in ivf_comp.items():
        by_ivf.setdefault(c, []).append(v)
    for members in by_ivf.values():
        assert len({exact_comp[v] for v in members}) == 1
    # and the substrate is conservative: at least as many groups
    assert len(by_ivf) >= len(set(exact_comp.values()))
    # census consistency with the registered query
    got = {
        r["canonical_vec_id"]: r["n_members"]
        for r in QUERIES["dedup_semantic_ivf"].fn(spark, SF_SMOKE).collect()
    }
    want = {c: len(ms) for c, ms in by_ivf.items()}
    assert got == want
    assert any(n > 1 for n in got.values())  # non-vacuous: real dup groups


def test_hard_negatives_ivf_dominated_by_exact(spark):
    """Substrate restriction semantics: each flagged negative is SAME-CELL
    and CROSS-LABEL, and per query the IVF top-k cosine at rank r can
    never exceed the exact twin's rank-r cosine (restricting candidates
    can only produce equal-or-softer negatives)."""
    from naive_query_engine_spark.operators.kmeans import ivf_corpus_assignment

    ivf = QUERIES["embedding_hard_negatives_ivf"].fn(spark, SF_SMOKE).collect()
    exact = QUERIES["embedding_hard_negatives"].fn(spark, SF_SMOKE).collect()
    assert ivf  # non-vacuous
    assign, _ = ivf_corpus_assignment(spark, SF_SMOKE)
    cell = {r["vec_id"]: r["cell"] for r in assign.collect()}
    label = {
        r["vec_id"]: r["label"]
        for r in t(spark, SF_SMOKE, "embeddings").select("vec_id", "label").collect()
    }
    by_q_ivf: dict = {}
    for r in ivf:
        assert cell[r["query_id"]] == cell[r["negative_id"]]  # same cell
        assert label[r["query_id"]] != label[r["negative_id"]]  # cross label
        by_q_ivf.setdefault(r["query_id"], {})[r["rnk"]] = r["cosine"]
    by_q_exact: dict = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], {})[r["rnk"]] = r["cosine"]
    for q, ranks in by_q_ivf.items():
        for rk, cos in ranks.items():
            assert cos <= by_q_exact[q][rk] + 1e-12, (q, rk)
