"""kNN-graph overlay primitives shared across substrates (leaf module).

The RA link-prediction and Newman-modularity overlays run over ANY
mutual-kNN edge frame — the exact n² graph (small-SF calibration,
registered in :mod:`clustering`) and the per-IVF-cell production
substrate (registered in :mod:`kmeans` next to the substrate).  Both
registration sites import from HERE, and this module registers nothing
and imports no sibling operator module, so the overlay code cannot
create an import cycle no matter which operator module is the entry
import (queries → register_all re-enters sibling modules mid-init;
see the registration notes in clustering.py).

The reference has no graph surface at all (SURVEY §2.8+); both overlays
are LLM-pipeline extensions.  Determinism: every score is exact-integer
fixed-point (``FP DIV degree`` / ``(d²·FP) DIV (4m²)``) with total-order
tie-breaks, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale for the resource-allocation score (1e6 DIV degree —
#: integer division, exact in both engines; degrees are small ints)
RA_FP = 1_000_000
LINK_PRED_TOP = 25

MODULARITY_FP = 1_000_000  #: fixed-point scale for the modularity terms


def link_prediction_oracle_with(knn_with: str) -> str:
    """RA link-prediction oracle over any substrate: ``knn_with`` opens
    the WITH clause and must define ``knn(vec_a, vec_b)``."""
    return f"""
    WITH {knn_with},
    sym AS MATERIALIZED (
      SELECT vec_a AS a, vec_b AS b FROM knn
      UNION ALL
      SELECT vec_b, vec_a FROM knn
    ),
    deg AS (SELECT a AS z, COUNT(*) AS d FROM sym GROUP BY a),
    wedge AS (
      SELECT s1.a AS a, s2.b AS b, s1.b AS z
      FROM sym s1 JOIN sym s2 ON s1.b = s2.a AND s1.a < s2.b
    ),
    cand AS (
      SELECT w.a, w.b,
             COUNT(*) AS cn,
             SUM({RA_FP} // d.d) AS ra
      FROM wedge w JOIN deg d ON d.z = w.z
      LEFT JOIN knn e ON e.vec_a = w.a AND e.vec_b = w.b
      WHERE e.vec_a IS NULL
      GROUP BY w.a, w.b
    )
    SELECT CAST(a AS BIGINT) AS vec_a, CAST(b AS BIGINT) AS vec_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(ra AS BIGINT) AS ra_score_fp
    FROM cand
    ORDER BY ra DESC, cn DESC, a, b
    LIMIT {LINK_PRED_TOP}
    """


def ra_overlay(knn: DataFrame) -> DataFrame:
    """The RA link-prediction overlay over any mutual-kNN edge frame
    (cols ka/kb, ka < kb) — shared by the exact-substrate calibration
    variant and the per-IVF-cell production variant."""
    sym = knn.select(F.col("ka").alias("a"), F.col("kb").alias("b")).unionAll(
        knn.select(F.col("kb").alias("a"), F.col("ka").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = s1.join(
        s2, (F.col("s1.b") == F.col("s2.a")) & (F.col("s1.a") < F.col("s2.b"))
    ).select(F.col("s1.a").alias("a"), F.col("s2.b").alias("b"), F.col("s1.b").alias("z"))
    cand = (
        wedge.join(deg, "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr(f"{RA_FP} DIV d")).alias("ra"),
        )
        .join(
            knn,
            (F.col("a") == F.col("ka")) & (F.col("b") == F.col("kb")),
            "left_anti",
        )
    )
    return (
        cand.orderBy(
            F.col("ra").desc(), F.col("cn").desc(), F.col("a"), F.col("b")
        )
        .limit(LINK_PRED_TOP)
        .select(
            F.col("a").cast("long").alias("vec_a"),
            F.col("b").cast("long").alias("vec_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("ra").cast("long").alias("ra_score_fp"),
        )
    )


def label_modularity_oracle_with(knn_with: str) -> str:
    """Label-modularity oracle over any substrate: ``knn_with`` opens
    the WITH clause and must define ``knn(vec_a, vec_b)``."""
    fp = MODULARITY_FP
    return f"""
    WITH {knn_with},
    lab AS (SELECT vec_id, label FROM embeddings),
    tagged AS (
      SELECT e.vec_a, e.vec_b, la.label AS label_a, lb.label AS label_b
      FROM knn e
      JOIN lab la ON la.vec_id = e.vec_a
      JOIN lab lb ON lb.vec_id = e.vec_b
    ),
    m AS (
      SELECT COUNT(*) AS m,
             SUM(CASE WHEN label_a = label_b THEN 1 ELSE 0 END) AS intra
      FROM tagged
    ),
    deg AS (
      SELECT label, SUM(cnt) AS d FROM (
        SELECT label_a AS label, COUNT(*) AS cnt FROM tagged GROUP BY 1
        UNION ALL
        SELECT label_b, COUNT(*) FROM tagged GROUP BY 1
      ) u GROUP BY label
    ),
    ex AS (
      SELECT SUM((d.d * d.d * {fp}) // (4 * m.m * m.m)) AS expected_fp
      FROM deg d CROSS JOIN m
    )
    SELECT CAST(m.m AS BIGINT) AS n_edges,
           CAST(m.intra AS BIGINT) AS n_intra_label,
           CAST((m.intra * {fp}) // m.m AS BIGINT) AS intra_share_fp,
           CAST(ex.expected_fp AS BIGINT) AS expected_share_fp,
           CAST((m.intra * {fp}) // m.m - ex.expected_fp AS BIGINT)
             AS modularity_fp
    FROM m CROSS JOIN ex
    """


def modularity_overlay(lab: DataFrame, edges: DataFrame) -> DataFrame:
    """The Newman-modularity overlay over any mutual-kNN edge frame
    (cols vec_a/vec_b) — shared by the exact-substrate calibration
    variant and the per-IVF-cell production variant."""
    fp = MODULARITY_FP
    tagged = (
        edges.join(
            lab.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a")),
            "vec_a",
        ).join(
            lab.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b")),
            "vec_b",
        )
    )
    m = tagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(
            F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0)
        ).alias("intra"),
    )
    deg = (
        tagged.select(F.col("label_a").alias("label"))
        .unionAll(tagged.select(F.col("label_b").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ex = deg.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.expr(f"(d * d * {fp}) DIV (4 * m * m)")
        ).alias("expected_fp")
    )
    return (
        m.crossJoin(F.broadcast(ex))
        .select(
            F.col("m").cast("long").alias("n_edges"),
            F.col("intra").cast("long").alias("n_intra_label"),
            F.expr(f"CAST((intra * {fp}) DIV m AS BIGINT)").alias(
                "intra_share_fp"
            ),
            F.col("expected_fp").cast("long").alias("expected_share_fp"),
            (
                F.expr(f"(intra * {fp}) DIV m") - F.col("expected_fp")
            ).cast("long").alias("modularity_fp"),
        )
    )


def knn_components_oracle_with(knn_with: str, recursive: bool = True) -> str:
    """Connected-components cluster-size histogram oracle over any
    substrate: ``knn_with`` opens the WITH clause and must define
    ``knn(vec_a, vec_b)``.  The reach CTE is recursive, so the opener
    is ``WITH RECURSIVE`` (legal for a mixed recursive/plain chain)."""
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} {knn_with},
    sym AS MATERIALIZED (
      SELECT vec_a AS a, vec_b AS b FROM knn
      UNION
      SELECT vec_b, vec_a FROM knn
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT v.vec_id,
             CAST(LEAST(v.vec_id, COALESCE(MIN(r.b), v.vec_id)) AS BIGINT)
               AS component
      FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
      GROUP BY v.vec_id
    ),
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS csize FROM comp GROUP BY 1
    )
    SELECT csize AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(csize * COUNT(*) AS BIGINT) AS n_vectors
    FROM sizes GROUP BY csize
    """


def component_size_histogram(comp: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters, n_vectors) over connected-components
    labels (id, component) — the Spark twin of
    :func:`knn_components_oracle_with`'s final SELECT."""
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy(F.col("csize").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_vectors"),
    )


def leakage_safe_split_oracle_with(knn_with: str) -> str:
    """Component-keyed leakage-safe split census over any substrate:
    ``knn_with`` opens the WITH clause and must define
    ``knn(vec_a, vec_b)``.  Components by min-reachable-vec_id (the
    shared reach CTE), split by the md5-first-hex-digit bucket of the
    component id (quality.hash_bucket's SQL twin), per-split census."""
    from .quality import TRAIN_BUCKETS

    return f"""
    WITH RECURSIVE {knn_with},
    sym AS MATERIALIZED (
      SELECT vec_a AS a, vec_b AS b FROM knn
      UNION
      SELECT vec_b, vec_a FROM knn
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT v.vec_id,
             CAST(LEAST(v.vec_id, COALESCE(MIN(r.b), v.vec_id)) AS BIGINT)
               AS component
      FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
      GROUP BY v.vec_id
    ),
    tagged AS (
      SELECT vec_id, component,
             CASE WHEN strpos('0123456789abcdef',
                              SUBSTR(MD5(CAST(component AS VARCHAR)), 1, 1)) - 1
                       < {TRAIN_BUCKETS}
                  THEN 'train' ELSE 'test' END AS split
      FROM comp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components
    FROM tagged GROUP BY split
    """


# ---------------------------------------------------------------------------
# k-core peeling overlay (bounded synchronized rounds)

#: core order on a mutual-kNN substrate: degree is bounded by top-k
#: (= 5 in the registered substrate).  2 (the cycle core) — probed via
#: the oracle: k=3 peels in a slow cascade that is STILL not at
#: fixpoint after 10 rounds at sf0.01 (long mutual-kNN chains), while
#: k=2 reaches fixpoint within 4 rounds at every registered SF with a
#: >450-row core; bounded-round semantics stays exact either way, but
#: the fixpoint-at-SF test claim only holds at 2
KCORE_OVERLAY_K = 2
#: peeling budget — the operator's semantics IS this many synchronized
#: rounds (both engines run the same bounded recurrence); consumers
#: assert fixpoint-at-SF in tests, production early-exits on a no-op
#: round
KCORE_OVERLAY_ROUNDS = 4


def kcore_overlay(
    knn: DataFrame,
    k: int = KCORE_OVERLAY_K,
    rounds: int = KCORE_OVERLAY_ROUNDS,
    cut=None,
) -> DataFrame:
    """Bounded k-core peeling over ANY mutual-kNN edge frame
    (cols vec_a/vec_b, vec_a < vec_b): each round drops vertices with
    fewer than ``k`` surviving neighbors; returns the survivors with
    their within-core degree (vec_id, kcore_degree).  ``cut`` (e.g. the
    caller's lineage cut) is applied to the shrinking survivor set per
    round — this leaf module imports no sibling, so the cut is
    dependency-injected."""
    keep = cut if cut is not None else (lambda d: d)
    sym = knn.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b")).unionAll(
        knn.select(F.col("vec_b").alias("a"), F.col("vec_a").alias("b"))
    )
    alive = sym.select(F.col("a").alias("node")).distinct()

    def restricted_deg(alive_set: DataFrame) -> DataFrame:
        return (
            sym.join(alive_set.select(F.col("node").alias("a")), "a")
            .join(alive_set.select(F.col("node").alias("b")), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    for _ in range(rounds):
        alive = keep(
            restricted_deg(alive)
            .filter(F.col("d") >= k)
            .select(F.col("a").alias("node"))
        )
    return restricted_deg(alive).select(
        F.col("a").cast("long").alias("vec_id"),
        F.col("d").cast("long").alias("kcore_degree"),
    )


def kcore_oracle_with(
    knn_with: str,
    k: int = KCORE_OVERLAY_K,
    rounds: int = KCORE_OVERLAY_ROUNDS,
) -> str:
    """k-core oracle over any substrate: ``knn_with`` opens the WITH
    clause and must define ``knn(vec_a, vec_b)``; the peeling budget is
    the unrolled CTE chain (same recurrence as :func:`kcore_overlay`)."""
    chain = ["alive0 AS (SELECT DISTINCT a AS node FROM sym)"]
    for r in range(1, rounds + 1):
        chain.append(f"""deg{r} AS (
      SELECT s.a AS node, COUNT(*) AS d FROM sym s
      JOIN alive{r - 1} x ON x.node = s.a
      JOIN alive{r - 1} y ON y.node = s.b
      GROUP BY 1
    ),
    alive{r} AS (SELECT node FROM deg{r} WHERE d >= {k})""")
    steps = ",\n    ".join(chain)
    return f"""
    WITH {knn_with},
    sym AS MATERIALIZED (
      SELECT vec_a AS a, vec_b AS b FROM knn
      UNION ALL
      SELECT vec_b, vec_a FROM knn
    ),
    {steps},
    degf AS (
      SELECT s.a AS node, COUNT(*) AS d FROM sym s
      JOIN alive{rounds} x ON x.node = s.a
      JOIN alive{rounds} y ON y.node = s.b
      GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(d AS BIGINT) AS kcore_degree
    FROM degf
    """
