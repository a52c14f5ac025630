"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise dedup (Jaccard/MinHash/SimHash) emits EDGES; choosing one canonical
document per duplicate *group* needs the transitive closure — connected
components.  This is the iterative-algorithm case the reference cannot
express at all and Spark has no single built-in for:

- Spark path: **label propagation to fixpoint** — each iteration joins the
  current labels across the (symmetrized) edge set and takes the min; the
  driver loop stops when an iteration changes nothing.  Per iteration: one
  shuffle join keyed by vertex; iterations ≤ graph diameter (near-dup
  clusters are shallow).  ``localCheckpoint`` truncates the lineage so the
  plan doesn't grow with iterations — the standard Spark idiom for
  iterative graph algorithms at scale.
- Oracle path: a recursive CTE computing reachability (DuckDB) — an
  independent formulation agreeing on the result.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import cut_lineage, query, t
from ..substrates import substrate
from .shingles_sql import (
    EDGES_SQL as _LEAF_EDGES_SQL,
    JACCARD_THRESHOLD,
    SHINGLES_SQL as _SHINGLES_SQL,
)


def connected_components(
    vertices: DataFrame,  # (id)
    edges: DataFrame,  # (a, b) undirected
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) with component = min vertex id reachable.

    Min-label propagation, HYBRID-accelerated (r13, guide §1.2 "the
    distributed algorithm"): the first two rounds are the plain
    neighbor-min update (one join each — near-dup graphs usually
    converge here: the sf0.1 jaccard doc graph needs 2 rounds, and the
    accelerated round's extra joins cost ~3× for nothing on it); from
    round 3 each round applies
    ``label(v) = min(label(v), min_u label(u), label(label(v)))``
    TWICE — the plain term plus one POINTER JUMP per substep.  The
    invariant (a node's label is always the id of some node in its
    component, monotone nonincreasing) is preserved — ``label(v)``
    names a reachable node, so anything that node already reached is
    reachable too — and any state stable under the combined update is
    stable under plain neighbor-min (the combined min includes that
    term), so the fixpoint is unchanged: the component's minimum id.
    On deep graphs information flows along shortcut pointers as well as
    edges: the sf0.1 semantic graph converges in 17 plain rounds but 6
    hybrid rounds.

    The convergence probe rides the checkpointed frame: the changed
    flag is computed as a column BEFORE the lineage cut, so the check
    is a filter+limit over materialized rows instead of the old
    new-vs-old self-join job."""
    sym = (
        edges.select(F.col("a"), F.col("b"))
        .unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        # reused every iteration; near-dup edge sets are candidate-bounded
        # but still corpus-shaped — spill, don't OOM
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = vertices.select(F.col("id"), F.col("id").alias("component"))

    def _one_step(lab: DataFrame) -> DataFrame:
        """One combined update over (id, component): neighbor-min + one
        pointer jump.  c1 is always a live vertex id (labels only ever
        hold vertex ids), so the left joins' null arms never fire for
        real graphs; coalesce keeps the expressions total regardless."""
        neighbor_min = (
            sym.join(lab, sym.b == lab.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        prop = lab.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("c1"),
        )
        ptr = lab.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_component")
        )
        return prop.join(ptr, prop.c1 == ptr.p_id, "left").select(
            "id",
            F.least(
                F.col("c1"), F.coalesce(F.col("p_component"), F.col("c1"))
            ).alias("component"),
        )

    # the returned labels come from an eager cut, so nothing reads sym
    # after the fixpoint: release it whether it converges or raises
    try:
        converged = False
        for r in range(max_iter):
            if r < 2:
                # plain round: one neighbor-min join; old and new labels live
                # in the same row, so the changed flag is a free projection
                neighbor_min = (
                    sym.join(labels, sym.b == labels.id)
                    .groupBy(F.col("a").alias("id"))
                    .agg(F.min("component").alias("nbr_component"))
                )
                newc = F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                )
                stepped = labels.join(neighbor_min, "id", "left").select(
                    "id",
                    newc.alias("component"),
                    (newc != F.col("component")).alias("chg"),
                )
            else:
                # accelerated round: two pointer-jumping substeps before the
                # cut — the per-round cost is one eager lineage-cut job + one
                # tiny convergence count regardless of plan depth at these
                # label-frame sizes, so folding two updates into each round
                # halves the round count for the same job bill
                old = labels.select("id", F.col("component").alias("old_component"))
                stepped = (
                    _one_step(_one_step(labels))
                    .join(old, "id")
                    .select(
                        "id",
                        "component",
                        (F.col("component") != F.col("old_component")).alias("chg"),
                    )
                )
            new_labels = stepped.transform(cut_lineage)
            changed = new_labels.filter(F.col("chg")).limit(1).count()
            labels = new_labels.select("id", "component")
            if changed == 0:
                converged = True
                break
        if not converged:
            # silent non-convergence would emit wrong (split) components for
            # any cluster whose diameter exceeds max_iter — fail loudly instead
            raise RuntimeError(
                f"connected_components: not converged after {max_iter} iterations "
                "(a component's diameter exceeds max_iter); raise max_iter"
            )
        return labels
    finally:
        sym.unpersist()


# ---------------------------------------------------------------------------
# the shared near-dup edge frame (VERDICT r4 #3)


@substrate
def near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) near-dup edge frame (a < b), built once per session per
    corpus and persisted (MEMORY_AND_DISK — candidate-bounded but
    corpus-shaped; spill, don't OOM).  Construction is lazy: no Spark
    job runs until a consumer's first action, so plan-inspection paths
    stay job-free.  Six queries (components, keep-best, dedup-rate
    profile, leakage-safe split, BFS, degree distribution) share it, as a
    deployment shares the maintained edge TABLE (:func:`write_edge_table`)."""
    from pyspark import StorageLevel

    from .dedup import (
        cached_capped_index,
        cached_capped_postings,
        cached_capped_sizes,
        ngram_jaccard_pairs,
    )

    d = t(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(
            d,
            sh=cached_capped_index(spark, sf_dir),
            grouped=cached_capped_postings(spark, sf_dir),
            sizes=cached_capped_sizes(spark, sf_dir),
        )
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


@substrate
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ``connected_components`` labels (id, component)
    over (all doc_ids, :func:`near_dup_edges`).  EAGER on first build
    (the fixpoint runs its convergence jobs), like the edge frame's
    first materialization.  The cluster-assignment table of the six
    component consumers; a pure function of the edge frame."""
    d = t(spark, sf_dir, "documents")
    return connected_components(
        d.select(F.col("doc_id").alias("id")), near_dup_edges(spark, sf_dir)
    )


def symmetrized_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-direction near-dup edge set (a, b) — the frame BFS / degree
    consumers key their joins on.  Built from the cached half-edge frame
    so the jaccard machinery still runs at most once per session."""
    e = near_dup_edges(spark, sf_dir)
    return e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def write_edge_table(d: DataFrame, table: str, n_buckets: int = 32) -> None:
    """Persist the SYMMETRIZED near-dup edge set BUCKETED BY SOURCE
    VERTEX ``a`` — the production form of the duplicate graph at 100 TB
    (the graph twin of :func:`dedup.write_shingle_index`): the shuffle
    onto the vertex key is paid once at write time, after which every
    graph probe that keys on ``a`` — BFS frontier expansion, degree
    aggregation, component label joins — reads the edge side with NO
    exchange (``tests/test_edge_table.py`` pins the plan property and
    byte-identical results vs the self-contained registered queries).
    Maintenance on edge churn is ``sources.merge_upsert`` on the same
    bucketed layout."""
    from .dedup import ngram_jaccard_pairs

    from ..sources import write_bucketed

    edges = ngram_jaccard_pairs(d).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    sym = edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    write_bucketed(sym, table, ["a"], n_buckets)


# edge CTEs live in shingles_sql (leaf) — see EDGES_SQL there
_EDGES_SQL = _LEAF_EDGES_SQL


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """,
    tags=("dedup", "pipeline", "clustering", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups: connected components over n-gram-Jaccard near-dup
    edges; component id = lowest doc_id in the group (the canonical doc)."""
    return near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("component")
    )


def _semantic_oracle() -> str:
    from .similarity import _Q_SQL, COSINE_THRESHOLD

    return f"""
    WITH RECURSIVE {_Q_SQL},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    cedges AS MATERIALIZED (
      SELECT vec_a AS a, vec_b AS b
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
      WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
            >= {COSINE_THRESHOLD}
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM cedges
      UNION
      SELECT b, a FROM cedges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT v.vec_id,
             CAST(LEAST(v.vec_id, COALESCE(MIN(r.b), v.vec_id)) AS BIGINT) AS component
      FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
      GROUP BY v.vec_id
    )
    SELECT component AS canonical_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY component
    """


@query(
    "dedup_semantic",
    oracle=_semantic_oracle(),
    tags=("dedup", "pipeline", "clustering", "similarity", "iterative"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup: cosine >= threshold pairs from the
    distributed block-pair matmul become edges, connected components
    resolves transitive duplicate groups, and each group keeps its lowest
    vec_id as the canonical representative — the end-to-end "semantic
    dedup" stage of an LLM data pipeline as one query.

    Scale: edge generation is the blocked matmul (or swap in the
    LSH-bucketed candidates for sub-quadratic); clustering is the same
    label-propagation fixpoint as dedup_connected_components (one keyed
    shuffle per iteration, lineage truncated via localCheckpoint)."""
    from .similarity import _qtable, cached_blocked_frame, cosine_block_pairs

    qt = _qtable(spark, sf_dir)
    edges = cosine_block_pairs(
        qt, blocked=cached_blocked_frame(spark, sf_dir)
    ).select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    vertices = qt.select(F.col("vec_id").alias("id"))
    return (
        connected_components(vertices, edges)
        .groupBy(F.col("component").alias("canonical_vec_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )


# ---------------------------------------------------------------------------
# PageRank: iterative link analysis in exact integer arithmetic


#: initial per-node rank in "micro-rank" units.  Integer ranks make every
#: iteration deterministic across engines: contributions are
#: floor(rank / outdeg), the damping update is floor((15*SCALE + 85*s)/100)
#: — all operands < 2^53, so the one double division per step is
#: IEEE-exact and identical in Spark and DuckDB.
PR_SCALE = 1_000_000
PR_ITERS = 3
PR_TOPN = 20


def pagerank_int(
    edges: DataFrame, iters: int = PR_ITERS, seeds: DataFrame | None = None
) -> DataFrame:
    """(node, rank): integer micro-rank PageRank after ``iters`` synchronous
    iterations over the symmetrized edge set (undirected → no dangling
    nodes, every node has outdeg >= 1).

    ``seeds`` (a (node) frame) switches the teleport term from uniform
    to PERSONALIZED: seed nodes get the full 15% restart mass
    (15·PR_SCALE) and everyone else 0, and the initial rank vector is
    the seed indicator — random-walk-with-restart toward the seed set
    (Personalized PageRank).  The per-node teleport column is computed
    ONCE (node-keyed, lineage-cut) and joins each iteration's node-keyed
    aggregate partition-aligned, so personalization adds no exchange to
    the iteration loop.

    Scale shape: the one-time setup (symmetrize, degrees, degree-annotated
    edges) is materialized ONCE via ``localCheckpoint``, which preserves
    output partitioning — ``src_side`` arrives hash-partitioned on ``src``
    (its join key) and every iteration's ranks frame leaves its
    aggregation hash-partitioned on ``node``, so the per-iteration
    ranks-onto-sources join lines up partition-for-partition with NO new
    exchange on either side.  The only per-iteration shuffle is the
    contribution sum keyed by ``dst`` — the synchronous-PageRank minimum.
    Total cost = iters x O(|E|) with nothing on the driver.  Note:
    unnormalized ranks grow with |V| x PR_SCALE; a deployment at 10^10+
    nodes would shrink PR_SCALE (or use decimal) to keep 85 * sum < 2^53."""
    sym = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # consumed by deg AND src_side below — materialize once (r2 kept it
        # persist()ed, but each iteration's job still replayed the
        # deg-join lineage from the cache; the checkpoint cuts that).
        # Same trade-offs as graph_triangle_count (ADVICE r2/r4):
        # localCheckpoint is EAGER — merely building this frame executes
        # the setup jobs (set SPARK_GRAFT_LAZY_CUTS=1 for job-free plan
        # inspection) — it hides pre-cut exchanges from the static plan,
        # and it is not executor-loss resilient (use
        # SPARK_GRAFT_RELIABLE_CHECKPOINT=1 for restartable jobs)
        .transform(cut_lineage)
    )
    deg = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
        .transform(cut_lineage)  # hash-partitioned on node
    )
    src_side = (
        sym.join(deg, sym.src == deg.node)
        .select("src", "dst", "outdeg")
        .transform(cut_lineage)  # hash-partitioned on src — reused every iteration
    )
    if seeds is None:
        tele = None
        ranks = deg.select("node", F.lit(PR_SCALE).cast("long").alias("rank"))
    else:
        is_seed = F.col("seed_node").isNotNull()
        tele = (
            deg.join(
                seeds.select(F.col("node").alias("seed_node")),
                deg.node == F.col("seed_node"),
                "left",
            )
            .select(
                "node",
                F.when(is_seed, F.lit(15 * PR_SCALE))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("tp"),
                F.when(is_seed, F.lit(PR_SCALE))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("r_init"),
            )
            .transform(cut_lineage)  # node-keyed — aligns with each agg
        )
        ranks = tele.select("node", F.col("r_init").alias("rank"))
    for i in range(iters):
        contrib = src_side.join(ranks, src_side.src == ranks.node).select(
            F.col("dst"),
            F.floor(F.col("rank").cast("double") / F.col("outdeg")).cast("long").alias("c"),
        )
        summed = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("s")
        )
        if tele is None:
            tp = F.lit(15 * PR_SCALE).cast("double")
        else:
            summed = summed.join(tele.select("node", "tp"), "node")
            tp = F.col("tp").cast("double")
        ranks = summed.select(
            "node",
            F.floor((tp + F.lit(85) * F.col("s").cast("double")) / F.lit(100))
            .cast("long")
            .alias("rank"),
        )
        if i < iters - 1:
            # truncate lineage so iteration k+1 doesn't replay 1..k
            # (ranks change every pass → ReuseExchange can't help);
            # the last iteration stays lazy for the caller's plan
            ranks = ranks.transform(cut_lineage)
    return ranks


def _pr_oracle() -> str:
    cte = [
        f"""
    edges0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg)"""
    ]
    for k in range(1, PR_ITERS + 1):
        cte.append(f"""
    s{k} AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(CAST(r.rank AS DOUBLE) / d.outdeg) AS BIGINT)) AS s
      FROM edges e
      JOIN r{k - 1} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      GROUP BY 1
    ),
    r{k} AS (
      SELECT node,
             CAST(FLOOR(({15 * PR_SCALE} + 85 * CAST(s AS DOUBLE)) / 100) AS BIGINT) AS rank
      FROM s{k}
    )""")
    return f"""
    WITH {",".join(cte)}
    SELECT node, pagerank_micro, rnk FROM (
      SELECT node, rank AS pagerank_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rnk
      FROM r{PR_ITERS}
    ) WHERE rnk <= {PR_TOPN}
    """


@query(
    "graph_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "iterative", "pipeline"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer–supplier transaction graph: an edge
    links a customer to every supplier that filled one of their orders
    (node ids namespaced even=customer / odd=supplier), symmetrized so
    rank flows both ways.  Top-``PR_TOPN`` nodes by rank after
    ``PR_ITERS`` synchronous iterations — the canonical iterative
    link-analysis workload (the reference engine has no iteration at
    all; in Spark it is a driver loop of shuffle joins, the same
    fixpoint idiom as :func:`connected_components`).

    Exact integer micro-ranks (see :func:`pagerank_int`) keep both
    engines bit-identical — no float accumulation anywhere."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # TakeOrdered (distributed top-k), THEN rank the k survivors — the
    # single-partition row_number window only ever sees PR_TOPN rows
    # (same idiom as graph_triangle_count)
    w = Window.orderBy(F.col("rank").desc(), F.col("node"))
    return (
        pagerank_int(edges)
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(PR_TOPN)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("node", F.col("rank").alias("pagerank_micro"), "rnk")
    )


#: the personalization seed segment for graph_pagerank_personalized
PPR_SEGMENT = "BUILDING"


def _ppr_oracle() -> str:
    cte = [
        f"""
    edges0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    seeds AS (SELECT c_custkey * 2 AS node FROM customer
              WHERE c_mktsegment = '{PPR_SEGMENT}'),
    tele AS (
      SELECT d.node,
             CAST(CASE WHEN s.node IS NOT NULL THEN {15 * PR_SCALE}
                       ELSE 0 END AS BIGINT) AS tp
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
    ),
    r0 AS (
      SELECT d.node,
             CAST(CASE WHEN s.node IS NOT NULL THEN {PR_SCALE}
                       ELSE 0 END AS BIGINT) AS rank
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
    )"""
    ]
    for k in range(1, PR_ITERS + 1):
        cte.append(f"""
    s{k} AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(CAST(r.rank AS DOUBLE) / d.outdeg) AS BIGINT)) AS s
      FROM edges e
      JOIN r{k - 1} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      GROUP BY 1
    ),
    r{k} AS (
      SELECT s{k}.node,
             CAST(FLOOR((t.tp + 85 * CAST(s AS DOUBLE)) / 100) AS BIGINT) AS rank
      FROM s{k} JOIN tele t ON t.node = s{k}.node
    )""")
    return f"""
    WITH {",".join(cte)}
    SELECT node, ppr_micro, rnk FROM (
      SELECT node, rank AS ppr_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rnk
      FROM r{PR_ITERS} WHERE node % 2 = 1
    ) WHERE rnk <= {PR_TOPN}
    """


@query(
    "graph_pagerank_personalized",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "pipeline", "retrieval"),
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) over the
    customer–supplier graph: the 15% teleport mass restarts at the
    {PPR_SEGMENT}-segment customers instead of uniformly, so the
    stationary mass measures proximity TO THAT SEGMENT — the top
    suppliers by personalized rank are "which suppliers matter to this
    market segment", the seed-conditioned recommendation readout (the
    recsys/retrieval workhorse built on the same iterate as global
    PageRank).

    Shares :func:`pagerank_int` (seeds switch the teleport term and the
    init vector); the per-node teleport column is computed once,
    lineage-cut node-keyed, and joins each iteration's node-keyed
    aggregate partition-aligned — personalization adds ZERO exchanges
    to the iteration loop.  Exact integer micro-ranks; supplier-side
    (odd-namespace) top-``PR_TOPN`` via TakeOrdered, never a global
    sort.

    Reference basis: no iteration in the reference at all (SURVEY
    §2.8+); extends the graph_pagerank extension."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    edges = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = c.filter(F.col("c_mktsegment") == PPR_SEGMENT).select(
        (F.col("c_custkey") * 2).alias("node")
    )
    w = Window.orderBy(F.col("rank").desc(), F.col("node"))
    return (
        pagerank_int(edges, seeds=seeds)
        .filter(F.col("node") % 2 == 1)
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(PR_TOPN)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("node", F.col("rank").alias("ppr_micro"), "rnk")
    )


# ---------------------------------------------------------------------------
# canonical selection by quality: keep the BEST duplicate, not the first


def _keep_best_oracle() -> str:
    from .pipeline import MODEL_WEIGHTS

    w = MODEL_WEIGHTS
    return rf"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    feat AS (
      SELECT doc_id,
             {w[0]} * CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT)
             + {w[1]} * CAST(LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT)
             + {w[2]} * CAST(LENGTH(regexp_extract_all(text, '[^\w \t\n\r\f]')) AS BIGINT)
             + {w[3]} * CAST(LENGTH(text) AS BIGINT) AS score
      FROM documents
    ),
    ranked AS (
      SELECT c.component, c.doc_id, f.score,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY f.score DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN feat f ON f.doc_id = c.doc_id
    )
    SELECT component, doc_id AS kept_doc, CAST(score AS BIGINT) AS score,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """


@query(
    "dedup_keep_best",
    oracle=None,  # patched below (needs pipeline.MODEL_WEIGHTS at import time)
    tags=("dedup", "pipeline", "clustering", "quality"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY: resolve near-dup clusters
    (connected components over Jaccard edges), then keep each cluster's
    highest-scoring member under the linear quality model — the curation
    decision a real pipeline makes (keeping the lowest doc_id throws away
    the cleanest copy whenever the duplicate is the better-extracted one).
    Tie-break on doc_id keeps both engines deterministic.

    Composes three oracle-checked stages — near-dup edges, label-
    propagation components, model scoring — into one query; the scale
    shapes are unchanged from the parts."""
    from .pipeline import MODEL_WEIGHTS
    from .text import bpe_ish_token_count, token_count

    d = t(spark, sf_dir, "documents")
    comp = near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    txt = F.col("text")
    w = MODEL_WEIGHTS
    score = (
        F.lit(w[0]) * token_count(txt)
        + F.lit(w[1]) * bpe_ish_token_count(txt)
        + F.lit(w[2]) * F.size(F.regexp_extract_all(txt, F.lit(r"[^\w \t\n\r\f]"), 0)).cast("long")
        + F.lit(w[3]) * F.length(txt).cast("long")
    )
    scored = d.select("doc_id", score.alias("score"))
    from pyspark.sql import Window

    wn = Window.partitionBy("component").orderBy(F.col("score").desc(), F.col("doc_id"))
    wc = Window.partitionBy("component")
    return (
        comp.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(wn))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc"),
            F.col("score").cast("long").alias("score"),
            "n_members",
        )
    )


import dataclasses as _dc  # noqa: E402

from ..queries import QUERIES as _QREG  # noqa: E402

_QREG["dedup_keep_best"] = _dc.replace(_QREG["dedup_keep_best"], oracle=_keep_best_oracle())


# ---------------------------------------------------------------------------
# triangle counting: degree-ordered edge orientation (exact, bounded fan-out)

TRI_TOPN = 10


def _cosupplier_graph(spark: SparkSession, sf_dir: str):
    """Shared builder for the dominant co-supplier graph queries
    (``graph_triangle_count``, ``graph_clustering_coefficient``): returns
    ``(edges, deg, tri)`` — undirected edges (top-2 suppliers per part),
    per-node degrees, and the exactly-once triangle list from the
    degree-ordered orientation."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")

    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty")
    )
    wp = Window.partitionBy("l_partkey").orderBy(F.col("qty").desc(), F.col("l_suppkey"))
    pe = (
        ps.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 2)
        .groupBy("l_partkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("l_suppkey"))).alias("s1"),
            F.min(F.when(F.col("rn") == 2, F.col("l_suppkey"))).alias("s2"),
        )
        .filter(F.col("s2").isNotNull())
    )
    edges = pe.select(
        F.least("s1", "s2").alias("u"), F.greatest("s1", "s2").alias("v")
    ).distinct()
    # the edge list (≤ |part| rows, one per part) fans out to FIVE consumers
    # (degree twice, orientation, both wedge sides via orientation); cut the
    # lineage so the lineitem aggregation runs once, not per consumer — the
    # same localCheckpoint idiom as pagerank/connected_components.
    # Trade-offs (ADVICE r2): localCheckpoint is EAGER — merely building
    # this DataFrame (plan dumps, budget tests) executes the lineitem agg —
    # and it hides the checkpointed stages' exchanges from the static plan
    # (the declared budget counts post-checkpoint work only) and is not
    # resilient to executor loss (acceptable in-session; a restartable
    # production job would use reliable checkpoint() to cluster storage)
    edges = edges.transform(cut_lineage)

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ku = F.struct(F.col("du"), F.col("u"))
    kv = F.struct(F.col("dv"), F.col("v"))
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(ku < kv, F.col("dv")).otherwise(F.col("du")).alias("td"),
        )
    )
    # three consumers (two wedge sides + closing-edge probe)
    oriented = oriented.transform(cut_lineage)

    o1 = oriented.select(F.col("s"), F.col("t").alias("b"), F.col("td").alias("bd"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("c"), F.col("td").alias("cd"))
    wedges = o1.join(o2, "s").filter(
        F.struct(F.col("bd"), F.col("b")) < F.struct(F.col("cd"), F.col("c"))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("s", "b", "c")
    return edges, deg, tri


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    rk AS (
      SELECT l_partkey, l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY qty DESC, l_suppkey) AS rn
      FROM ps
    ),
    pe AS (
      SELECT l_partkey,
             MIN(CASE WHEN rn = 1 THEN l_suppkey END) AS s1,
             MIN(CASE WHEN rn = 2 THEN l_suppkey END) AS s2
      FROM rk WHERE rn <= 2 GROUP BY 1
    ),
    edges AS (
      SELECT DISTINCT LEAST(s1, s2) AS u, GREATEST(s1, s2) AS v
      FROM pe WHERE s2 IS NOT NULL
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
      SELECT o1.s AS a, o1.t AS b, o2.t AS c
      FROM oriented o1
      JOIN oriented o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
      JOIN oriented o3 ON o3.s = o1.t AND o3.t = o2.t
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node
    )
    SELECT s_suppkey, s_name, triangles,
           CAST(ROW_NUMBER() OVER (ORDER BY triangles DESC, s_suppkey) AS BIGINT)
             AS rnk
    FROM pn JOIN supplier ON s_suppkey = pn.node
    QUALIFY rnk <= {TRI_TOPN}
    """,
    tags=("graph", "triangle", "pipeline"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the dominant co-supplier graph.

    Graph: for every part, one edge linking its top-2 suppliers by total
    shipped quantity (exact DECIMAL sums; ties broken by suppkey) — a
    sparse "strongest affinity" projection of the complete co-supply
    relation.  Counting uses the canonical scale shape: orient every
    undirected edge from the lower- to the higher-degree endpoint (total
    order on ``(degree, node)``), so each triangle is enumerated exactly
    once from its lowest-ordered vertex and wedge fan-out is bounded by
    the max out-degree — O(E^1.5) work, never O(V^3).  The reference
    engine has no graph surface at all (SURVEY §2.8); in Spark the whole
    pipeline is equi-joins + aggregations, fully shuffle-parallel.
    Output: top suppliers by triangle participation.
    """
    from pyspark.sql import Window

    sup = t(spark, sf_dir, "supplier")
    _, _, tri = _cosupplier_graph(spark, sf_dir)

    pn = (
        tri.select(F.explode(F.array("s", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    wr = Window.orderBy(F.col("triangles").desc(), F.col("s_suppkey"))
    top = (
        pn.join(sup, pn.node == sup.s_suppkey)
        .select("s_suppkey", "s_name", "triangles")
        # TakeOrdered (distributed top-k), THEN rank the k survivors — the
        # single-partition row_number window only ever sees TRI_TOPN rows
        .orderBy(F.col("triangles").desc(), F.col("s_suppkey"))
        .limit(TRI_TOPN)
    )
    return top.withColumn("rnk", F.row_number().over(wr).cast("long"))


# ---------------------------------------------------------------------------
# data-card metric: near-duplicate rate per source


@query(
    "profile_dedup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY 1)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN s.csize > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate
    FROM documents d
    JOIN comp c ON c.doc_id = d.doc_id
    JOIN sizes s ON s.component = c.component
    GROUP BY d.source
    """,
    tags=("dedup", "pipeline", "profile", "clustering", "iterative"),
)
def profile_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card metric: what fraction of each SOURCE's documents sit in a
    near-duplicate cluster — the number a curation run reports per feed
    (a crawler stuck in a template farm shows up as one source's dup_rate
    spiking, long before eyeballs reach the documents).  Components come
    from the same Jaccard-edge label propagation as
    ``dedup_connected_components``; a doc counts as duplicated when its
    cluster has >1 member.  One extra join + per-source aggregation on
    top of machinery already proven — the per-source rate is exact, not
    sampled."""
    d = t(spark, sf_dir, "documents")
    comp = near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    is_dup = F.when(F.col("csize") > 1, 1).otherwise(0)
    return (
        d.select("doc_id", "source")
        .join(comp, "doc_id")
        .join(sizes, "component")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(is_dup).cast("long").alias("n_dup_docs"),
            (F.sum(is_dup).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


def _leakage_safe_oracle() -> str:
    from .quality import TRAIN_BUCKETS

    return f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    tagged AS (
      SELECT doc_id, component,
             CASE WHEN strpos('0123456789abcdef',
                              SUBSTR(MD5(CAST(component AS VARCHAR)), 1, 1)) - 1
                       < {TRAIN_BUCKETS}
                  THEN 'train' ELSE 'test' END AS split
      FROM comp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components
    FROM tagged GROUP BY split
    """


@query(
    "dataset_split_leakage_safe",
    oracle=_leakage_safe_oracle(),
    tags=("pipeline", "split", "dedup", "clustering", "composition"),
)
def dataset_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split — the fix for the subtle eval bug a
    plain per-document split has: when two near-duplicate documents land
    on opposite sides, the test side is contaminated and the benchmark
    lies.  Here the split key is the near-dup COMPONENT id (Jaccard edges
    → connected components → lowest-doc-id canonical), so a whole
    duplicate cluster moves as one unit and a test document can never
    have a training-side near-twin — by construction, not by audit.
    Same content-hash bucketing as ``dataset_train_test_split`` (applied
    to the component id), same ~81/19 target; singleton docs are their
    own component, so non-duplicated data splits exactly as before."""
    from .quality import TRAIN_BUCKETS, hash_bucket

    d = t(spark, sf_dir, "documents")
    comp = near_dup_components(spark, sf_dir)
    split = F.when(
        hash_bucket(F.col("component")) < TRAIN_BUCKETS, "train"
    ).otherwise("test")
    return (
        comp.select(split.alias("split"), "component")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct(F.col("component")).cast("long").alias("n_components"),
        )
    )


BFS_MAX_HOPS = 4  # value quoted in graph_bfs_reach's docstring
BFS_SEED_MOD = 97  # deterministic seed set: doc_id % 97 == 0


@query(
    "graph_bfs_reach",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    walk(doc, dist) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % {BFS_SEED_MOD} = 0
      UNION
      SELECT s.b, w.dist + 1
      FROM walk w JOIN sym s ON s.a = w.doc
      WHERE w.dist < {BFS_MAX_HOPS}
    ),
    mind AS (SELECT doc, MIN(dist) AS hops FROM walk GROUP BY doc)
    SELECT CAST(hops AS BIGINT) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc) AS BIGINT) AS min_doc
    FROM mind GROUP BY hops
    """,
    tags=("graph", "bfs", "iterative", "dedup"),
)
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS over the near-dup edge graph: exact shortest hop
    distance (≤ BFS_MAX_HOPS = 4) from a deterministic seed set to every
    reachable document, reported as a per-distance histogram — the
    "blast radius" probe behind contamination tracing (how far does a
    tainted document's duplicate neighborhood spread?).

    Spark path is frontier BFS — per level: one join of the (shrinking)
    frontier against the symmetrized edge set + one anti-join against the
    visited set, lineage cut per level, so each level is one keyed
    shuffle of frontier-sized data and the plan never grows.  Level-by-
    level discovery IS min-dist (first touch is shortest), so this
    matches the oracle's recursive CTE with MIN(dist) semantics — the
    depth cap makes the CTE finite on cyclic duplicate clusters.
    """
    d = t(spark, sf_dir, "documents")
    sym = cut_lineage(symmetrized_edges(spark, sf_dir))
    seeds = d.select(F.col("doc_id").alias("doc")).filter(
        F.col("doc") % BFS_SEED_MOD == 0
    )
    return bfs_hops_histogram(seeds, sym)


def bfs_hops_histogram(seeds: DataFrame, sym: DataFrame) -> DataFrame:
    """Frontier-BFS body shared by the registered query (session-cached
    edges) and the maintained-edge-table probe (``write_edge_table`` +
    ``tests/test_edge_table.py``): per level one keyed join of the
    shrinking frontier against ``sym`` (a, b) plus one anti-join against
    the visited set; emits the per-hops histogram."""
    visited = cut_lineage(seeds.withColumn("hops", F.lit(0).cast("long")))
    frontier = visited.select("doc")
    for level in range(1, BFS_MAX_HOPS + 1):
        cand = (
            frontier.join(sym, frontier.doc == sym.a)
            .select(F.col("b").alias("doc"))
            .distinct()
        )
        newly = cut_lineage(cand.join(visited, "doc", "left_anti"))
        visited = cut_lineage(
            visited.unionAll(
                newly.withColumn("hops", F.lit(level).cast("long")).select(
                    "doc", "hops"
                )
            )
        )
        frontier = newly
    return visited.groupBy("hops").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc").cast("long").alias("min_doc"),
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    rk AS (
      SELECT l_partkey, l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY qty DESC, l_suppkey) AS rn
      FROM ps
    ),
    pe AS (
      SELECT l_partkey,
             MIN(CASE WHEN rn = 1 THEN l_suppkey END) AS s1,
             MIN(CASE WHEN rn = 2 THEN l_suppkey END) AS s2
      FROM rk WHERE rn <= 2 GROUP BY 1
    ),
    edges AS (
      SELECT DISTINCT LEAST(s1, s2) AS u, GREATEST(s1, s2) AS v
      FROM pe WHERE s2 IS NOT NULL
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
      SELECT o1.s AS a, o1.t AS b, o2.t AS c
      FROM oriented o1
      JOIN oriented o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
      JOIN oriented o3 ON o3.s = o1.t AND o3.t = o2.t
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri),
    wd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1)) AS BIGINT) AS wedges_x2
      FROM deg
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
    SELECT wd.n_nodes, ne.n_edges,
           CAST(wd.wedges_x2 / 2 AS BIGINT) AS wedges,
           m.n_triangles,
           CASE WHEN wd.wedges_x2 = 0 THEN NULL
                ELSE CAST(6 * m.n_triangles AS DOUBLE) / wd.wedges_x2
           END AS global_clustering
    FROM wd CROSS JOIN ne CROSS JOIN m
    """,
    tags=("graph", "triangle", "clustering-coefficient"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (transitivity) clustering coefficient of the co-supplier
    graph: C = 3·triangles / wedges — the closure statistic that tells a
    graph-quality audit whether affinity edges form cliques (template
    supply chains) or stars (hub suppliers).  Composes the shared
    :func:`_cosupplier_graph` builder with two bounded reductions: the
    triangle list count and Σd(d−1) (= 2·wedges, an exact BIGINT).  The
    only double is the final 6T/Σd(d−1) (≡ 3T/W) division; the NULL case
    (no wedges) is emitted identically by both engines."""
    edges, deg, tri = _cosupplier_graph(spark, sf_dir)
    m = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    wd = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("wedges_x2"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        wd.crossJoin(ne)
        .crossJoin(m)
        .select(
            "n_nodes",
            "n_edges",
            (F.col("wedges_x2") / 2).cast("long").alias("wedges"),
            "n_triangles",
            F.when(F.col("wedges_x2") == 0, F.lit(None).cast("double"))
            .otherwise(
                (6 * F.col("n_triangles")).cast("double") / F.col("wedges_x2")
            )
            .alias("global_clustering"),
        )
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM sym GROUP BY a)
    SELECT CAST(LENGTH(bin(d)) AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS sum_degree
    FROM deg GROUP BY 1
    """,
    tags=("graph", "profile", "histogram", "dedup"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph on exact power-of-2 bins
    (the bit-length log-bin trick) — the graph-QA chart read before
    trusting any component/BFS result on it: boilerplate collapse shows
    up as a heavy high-degree tail (exactly what MAX_SHINGLE_DF guards
    against), and Σdegree = 2·|edges| gives the edge count for free.
    Isolated documents are excluded (degree 0 has no bin); the node
    frame is survivor-bounded after one edge aggregation."""
    # cut so the static plan shows post-edge work only (the cached edge
    # frame materializes once per session regardless; the cut keeps the
    # declared 2-exchange budget meaningful) — same idiom as BFS's sym cut
    return degree_log_histogram(cut_lineage(symmetrized_edges(spark, sf_dir)))


def degree_log_histogram(sym: DataFrame) -> DataFrame:
    """Degree log2-bin histogram body over a symmetrized (a, b) edge
    frame — shared by the registered query (session-cached edges) and
    the maintained-edge-table probe (``tests/test_edge_table.py``)."""
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(
        F.length(F.bin(F.col("d"))).cast("long").alias("log2_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
        F.sum("d").cast("long").alias("sum_degree"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup graph (bounded peeling)

#: the core order: survivors keep >= KCORE_K neighbors among survivors.
#: 2 (cycles, not just pairs) — the corpus's near-dup graph is
#: pair/path-heavy, so the 3-core is EMPTY at sf0.01 (probed via the
#: oracle at k=2/3); k=2 keeps the registered row non-vacuous at every
#: SF while still separating chains from genuine mirror blobs
KCORE_K = 2
#: peeling rounds — the OPERATOR'S SEMANTICS is exactly this many
#: synchronized peels (both engines run the same bounded recurrence, so
#: results agree at any SF by construction); production iterates with an
#: early exit once a round peels nothing, which at the registered SFs
#: happens within this budget (fixpoint asserted in tests)
KCORE_ROUNDS = 4


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    alive = ["alive0 AS (SELECT DISTINCT a AS node FROM sym)"]
    for r in range(1, rounds + 1):
        alive.append(f"""deg{r} AS (
      SELECT s.a AS node, COUNT(*) AS d FROM sym s
      JOIN alive{r - 1} x ON x.node = s.a
      JOIN alive{r - 1} y ON y.node = s.b
      GROUP BY 1
    ),
    alive{r} AS (SELECT node FROM deg{r} WHERE d >= {k})""")
    chain = ",\n    ".join(alive)
    return f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    {chain},
    degf AS (
      SELECT s.a AS node, COUNT(*) AS d FROM sym s
      JOIN alive{rounds} x ON x.node = s.a
      JOIN alive{rounds} y ON y.node = s.b
      GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(d AS BIGINT) AS kcore_degree
    FROM degf
    """


@query(
    "graph_kcore_peeling",
    oracle=_kcore_oracle(),
    tags=("graph", "dedup", "iterative", "quality"),
)
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the near-dup graph by synchronized peeling: each round
    drops every document with fewer than ``KCORE_K`` surviving
    neighbors; what remains after ``KCORE_ROUNDS`` rounds is the dense
    duplication COMMUNITY structure — template farms and mirror
    clusters that pairwise dedup under-reports (a k-core survivor sits
    in a blob of mutually-similar documents even if no single pair
    crosses the keep-best tie-break).  Output = surviving (doc_id,
    within-core degree).

    Semantics are the BOUNDED recurrence (exactly ``KCORE_ROUNDS``
    synchronized peels, the oracle's unrolled CTE chain); production
    iterates to fixpoint with an early exit once a round peels nothing
    — at the registered SFs the budget reaches that fixpoint
    (test-asserted), and extra rounds past fixpoint are no-ops, so the
    two phrasings agree wherever the budget suffices.

    Scale shape: each round is one degree aggregation over the
    (bucketed-writable, see `write_edge_table`) symmetrized edge frame
    plus two semi-join restrictions on the shrinking survivor set —
    map-side joins once survivors fit a broadcast; the driver never
    sees a row (`cut_lineage` bounds the plan, not the data).  Peeling
    is the degeneracy-ordering building block (Matula–Beck) — the
    kNN-graph twin would run per-IVF-cell like the other overlays.

    Reference basis: no graph surface in the reference (SURVEY §2.8+);
    LLM-pipeline extension."""
    sym = cut_lineage(symmetrized_edges(spark, sf_dir))
    alive = sym.select(F.col("a").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        deg = (
            sym.join(alive.select(F.col("node").alias("a")), "a")
            .join(alive.select(F.col("node").alias("b")), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = cut_lineage(
            deg.filter(F.col("d") >= KCORE_K).select(F.col("a").alias("node"))
        )
    degf = (
        sym.join(alive.select(F.col("node").alias("a")), "a")
        .join(alive.select(F.col("node").alias("b")), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("kcore_degree"))
    )
    return degf.select(
        F.col("a").cast("long").alias("doc_id"), "kcore_degree"
    )


# ---------------------------------------------------------------------------
# dedup-aware mixture planning (the composition after profiling)


@query(
    "pipeline_dedup_weighted_mixture",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    per_src AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN c.component = d.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_effective
      FROM documents d JOIN comp c ON c.doc_id = d.doc_id
      GROUP BY d.source
    ),
    tot AS (
      SELECT CAST(SUM(n_effective) AS BIGINT) AS total_eff,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_src
    )
    SELECT p.source, p.n_docs, p.n_effective,
           CAST(p.n_docs - p.n_effective AS DOUBLE) / p.n_docs AS dup_rate,
           CAST(t.total_eff // t.n_sources AS BIGINT) AS source_budget,
           CASE WHEN p.n_effective > t.total_eff // t.n_sources
                THEN CAST(t.total_eff // t.n_sources AS DOUBLE) / p.n_effective
                ELSE CAST(1 AS DOUBLE) END AS sample_rate
    FROM per_src p CROSS JOIN tot t
    """,
    tags=("dedup", "pipeline", "mixture", "clustering", "composition", "iterative"),
)
def pipeline_dedup_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE MIXTURE PLANNING — the composition a training-data run
    executes between profiling and sampling: compute each source's
    EFFECTIVE (post-dedup) document mass, then size an equal-share
    mixture against effective docs rather than raw docs.  Raw-count
    mixing over-weights duplicate-heavy feeds (a template farm with 40%
    dup rate contributes 40% less unique signal than its row count
    claims); planning on canonical-representative counts is the fix, and
    the per-source ``sample_rate`` is directly consumable by the
    content-hash samplers (``dataset_mixture_sample``'s bucketing).

    Effective mass = docs that are their near-dup component's canonical
    representative (doc_id == component id, the lowest id in the
    cluster) — singletons count themselves; a cross-source cluster
    credits the canonical doc's source (the deterministic convention;
    the alternative — fractional credit — needs no new machinery, just
    a different aggregate).  ``source_budget`` = ⌊total_effective /
    n_sources⌋; a source under budget keeps rate 1.0 (never
    up-sampled).

    Scale shape: everything corpus-sized is the proven components
    machinery (session-cached Jaccard edges → label-propagation
    fixpoint); this adds one source-keyed aggregation and a 1-row
    totals broadcast.  Determinism: exact integer masses and integer
    floor division for the budget; rates are single double divisions;
    the CASE guard keeps under-budget sources at literal 1.0 in both
    engines."""
    d = t(spark, sf_dir, "documents")
    comp = near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    per_src = (
        d.select("doc_id", "source")
        .join(comp, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("component") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_effective"),
        )
    )
    tot = per_src.agg(
        F.sum("n_effective").alias("total_eff"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # exact integer division (Spark `div` ≙ DuckDB `//`): floor of a
    # DOUBLE quotient could disagree at the 2^53 boundary on a cluster-
    # scale corpus, integer division never does
    budget = F.expr("CAST(total_eff AS BIGINT) div CAST(n_sources AS BIGINT)").cast(
        "long"
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_effective").cast("long").alias("n_effective"),
        (
            (F.col("n_docs") - F.col("n_effective")).cast("double")
            / F.col("n_docs")
        ).alias("dup_rate"),
        budget.alias("source_budget"),
        F.when(
            F.col("n_effective") > budget,
            budget.cast("double") / F.col("n_effective"),
        )
        .otherwise(F.lit(1.0))
        .alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style clusters over the mutual k-NN graph


def _knn_components_oracle() -> str:
    from ..queries import QUERIES as _Q
    from .graph_overlays import knn_components_oracle_with

    knn = _Q["similarity_mutual_knn"].oracle
    return knn_components_oracle_with(f"knn AS MATERIALIZED ({knn})")


@query(
    "graph_knn_components",
    oracle=_knn_components_oracle(),
    tags=("similarity", "graph", "clustering", "curation", "iterative"),
)
def graph_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC CLUSTER STRUCTURE of the embedding corpus — connected
    components over the MUTUAL k-NN graph, reported as a cluster-size
    histogram (size → how many clusters → how many vectors).  This is
    the SemDeDup-style grouping: where ``dedup_semantic`` clusters by a
    global cosine THRESHOLD (degree unbounded — one dense region can
    chain everything), the kNN graph has degree ≤ k BY CONSTRUCTION, so
    cluster growth is bounded by actual neighborhood structure and the
    histogram is the corpus-redundancy fingerprint a curation run reads
    before deciding how hard to prune (mass in big clusters ⇒ heavy
    semantic duplication).

    Scale shape: the edge set is ≤ n·k rows (mutual-kNN output), every
    vertex has ≤ k neighbors, so each label-propagation round is one
    bounded-fanout join — no hub blowup possible, unlike threshold
    graphs.  The histogram is cluster-size-bounded.  All corpus-scale
    cost lives in the spliced mutual-kNN operator (blocked kernel,
    per-block top-k).

    Determinism: component = min reachable vec_id (exact integers); the
    histogram is exact counting.  The oracle splices the mutual-kNN SQL
    behind MATERIALIZED hints (referenced twice in sym — the DuckDB
    CTE-inlining discipline) into the recursive-reach components CTE."""
    from ..queries import QUERIES as _Q

    e = t(spark, sf_dir, "embeddings")
    edges = _Q["similarity_mutual_knn"].fn(spark, sf_dir).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    comp = connected_components(e.select(F.col("vec_id").alias("id")), edges)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy(F.col("csize").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# link prediction over the mutual-kNN graph (resource-allocation index)

# The overlay + oracle builder live in graph_overlays (a leaf module)
# so kmeans.py can register the per-IVF-cell variant without importing
# this module; re-exported here under the original names for existing
# importers (tests).
from .graph_overlays import (  # noqa: E402
    LINK_PRED_TOP,
    MODULARITY_FP,
    RA_FP,
    label_modularity_oracle_with as _label_modularity_oracle_with,
    link_prediction_oracle_with as _link_prediction_oracle_with,
    modularity_overlay as _modularity_overlay,
    ra_overlay as _ra_overlay,
)


def _link_prediction_oracle() -> str:
    from ..queries import QUERIES as _Q

    knn = _Q["similarity_mutual_knn"].oracle
    return _link_prediction_oracle_with(f"knn AS MATERIALIZED ({knn})")


@query(
    "graph_link_prediction",
    oracle=_link_prediction_oracle(),
    tags=("similarity", "graph", "link-prediction", "curation"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the mutual-kNN graph: score non-adjacent
    vector pairs by the resource-allocation index (Zhou et al. 2009,
    RA = Σ_z 1/deg(z) over common neighbors z) — the "which documents
    are probably near-duplicates that the kNN cutoff missed" probe, and
    the standard relevance-feedback primitive for growing a semantic
    cluster.  RA beats raw common-neighbor counting because a promiscuous
    hub neighbor (high degree) contributes almost nothing.

    Chosen over Adamic-Adar deliberately: AA's 1/ln(deg) would put a
    cross-engine libm call inside a SUM; RA's 1/deg becomes EXACT integer
    arithmetic (``RA_FP DIV degree`` — non-negative operands, so Spark's
    truncating DIV and DuckDB's flooring // agree) and the ranking is
    hash-stable with no float-sum order hazard.

    Scale shape: wedge enumeration on a DEGREE-BOUNDED graph (mutual-kNN
    degree ≤ k by construction) is ≤ n·k² rows — the hub blowup that
    makes wedge counting explode on threshold graphs cannot happen here.
    One shuffle keys the wedge join on z, one keys the (a,b) aggregate,
    the anti-join reuses the knn frame, and the top-N is
    TakeOrdered-style with a total tie-break order (ra, cn, a, b).  The
    corpus-scale cost lives in the spliced mutual-kNN build (blocked
    Arrow matmul) — intrinsically n²: THIS variant is the small-SF
    calibration; production runs the SHIPPED composition
    ``graph_link_prediction_ivf`` (same overlay, per-IVF-cell
    substrate, linear once cell count grows with n)."""
    from ..queries import QUERIES as _Q

    knn = _Q["similarity_mutual_knn"].fn(spark, sf_dir).select(
        F.col("vec_a").alias("ka"), F.col("vec_b").alias("kb")
    )
    knn = cut_lineage(knn)  # edge set reused 4× below — build the matmul once
    return _ra_overlay(knn)


# NOTE: ``graph_link_prediction_ivf`` — the same overlay on the
# per-IVF-cell production substrate — is registered in kmeans.py (next
# to the substrate), because registering it HERE would import kmeans at
# clustering's module scope and deadlock any direct ``import kmeans``
# entry (queries → register_all → clustering → kmeans mid-init).
# kmeans imports the shared overlay from graph_overlays (leaf) instead.


# ---------------------------------------------------------------------------
# cross-split near-dup leakage AUDIT — the measurement counterpart of
# dataset_split_leakage_safe's construction guarantee


def _split_neardup_leakage_oracle() -> str:
    from .quality import TRAIN_BUCKETS

    return f"""
    WITH {_SHINGLES_SQL},
    {_EDGES_SQL},
    tagged AS (
      SELECT doc_id,
             CASE WHEN strpos('0123456789abcdef',
                              SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                       < {TRAIN_BUCKETS}
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    tag_edges AS (
      SELECT e.doc_a, e.doc_b, ta.split AS split_a, tb.split AS split_b
      FROM edges e
      JOIN tagged ta ON ta.doc_id = e.doc_a
      JOIN tagged tb ON tb.doc_id = e.doc_b
    ),
    contaminated AS (
      SELECT DISTINCT CASE WHEN split_a = 'test' THEN doc_a ELSE doc_b END
               AS doc_id
      FROM tag_edges WHERE split_a <> split_b
    ),
    e AS (
      SELECT COUNT(*) AS n_edges,
             SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
               AS n_cross_edges
      FROM tag_edges
    ),
    tt AS (
      SELECT COUNT(*) AS n_test_docs FROM tagged WHERE split = 'test'
    ),
    c AS (SELECT COUNT(*) AS n_contaminated FROM contaminated)
    SELECT CAST(e.n_edges AS BIGINT) AS n_edges,
           CAST(e.n_cross_edges AS BIGINT) AS n_cross_edges,
           CAST(CASE WHEN e.n_edges = 0 THEN NULL
                     ELSE (1000000 * e.n_cross_edges) // e.n_edges END
             AS BIGINT) AS cross_edge_ppm,
           CAST(tt.n_test_docs AS BIGINT) AS n_test_docs,
           CAST(c.n_contaminated AS BIGINT) AS n_contaminated_test_docs,
           CAST(CASE WHEN tt.n_test_docs = 0 THEN NULL
                     ELSE (1000000 * c.n_contaminated) // tt.n_test_docs END
             AS BIGINT) AS contamination_ppm
    FROM e CROSS JOIN tt CROSS JOIN c
    """


@query(
    "dataset_split_neardup_leakage",
    oracle=_split_neardup_leakage_oracle(),
    tags=("pipeline", "split", "dedup", "evaluation", "composition"),
)
def dataset_split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE AUDIT — measures what the plain
    per-document split (`dataset_train_test_split`) leaks: near-dup
    pairs whose endpoints landed on opposite sides, and the test
    documents with a training-side near-twin (each one a benchmark row
    whose answer the model may have memorized).  This is the audit a
    team runs on an EXISTING split before trusting its eval numbers;
    `dataset_split_leakage_safe` is the fix (component-keyed split,
    leakage zero by construction) — together they are the
    measure-then-fix pair.

    Scale shape: the edge frame is the session-cached near-dup edge set
    (built once, shared by 7 consumers — see ``near_dup_edges``); the
    audit itself is two doc_id-keyed broadcast-eligible joins of the
    edge list against the split tags plus counting — edge-list-linear,
    nothing quadratic.  At 100 TB the edge frame is the maintained
    table (``write_edge_table``) and this audit is a scan over it.

    Determinism: split tags are the content-hash bucketing shared with
    `dataset_train_test_split`; counts are exact integers; ppm rates
    are integer division, NULL-guarded on zero denominators (the
    ADVICE-r5 NULLIF discipline)."""
    from .quality import TRAIN_BUCKETS, hash_bucket

    d = t(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id")) < TRAIN_BUCKETS, "train")
        .otherwise("test")
        .alias("split"),
    )
    e = near_dup_edges(spark, sf_dir)
    tag_edges = (
        e.join(
            tagged.select(
                F.col("doc_id").alias("a"), F.col("split").alias("split_a")
            ),
            "a",
        ).join(
            tagged.select(
                F.col("doc_id").alias("b"), F.col("split").alias("split_b")
            ),
            "b",
        )
    )
    cross = F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
    edge_stats = tag_edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(cross).alias("n_cross_edges"),
    )
    contaminated = (
        tag_edges.filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "test", F.col("a"))
            .otherwise(F.col("b"))
            .alias("doc_id")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_test = tagged.filter(F.col("split") == "test").agg(
        F.count(F.lit(1)).alias("n_test_docs")
    )
    return (
        edge_stats.crossJoin(F.broadcast(n_test))
        .crossJoin(F.broadcast(contaminated))
        .select(
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_cross_edges").cast("long").alias("n_cross_edges"),
            F.when(
                F.col("n_edges") == 0, F.lit(None).cast("long")
            )
            .otherwise(
                F.expr("CAST((1000000 * n_cross_edges) DIV n_edges AS BIGINT)")
            )
            .alias("cross_edge_ppm"),
            F.col("n_test_docs").cast("long").alias("n_test_docs"),
            F.col("n_contaminated").cast("long").alias(
                "n_contaminated_test_docs"
            ),
            F.when(
                F.col("n_test_docs") == 0, F.lit(None).cast("long")
            )
            .otherwise(
                F.expr(
                    "CAST((1000000 * n_contaminated) DIV n_test_docs AS BIGINT)"
                )
            )
            .alias("contamination_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# label-partition modularity over the mutual-kNN graph — the graph-level
# "do labels align with semantic structure" score

# MODULARITY_FP and the shared oracle builder/overlay are imported from
# graph_overlays at the link-prediction section above.


def _label_modularity_oracle() -> str:
    from ..queries import QUERIES as _Q

    knn = _Q["similarity_mutual_knn"].oracle
    return _label_modularity_oracle_with(f"knn AS MATERIALIZED ({knn})")


@query(
    "graph_label_modularity",
    oracle=None,  # patched below (splices the mutual-kNN oracle)
    tags=("graph", "evaluation", "similarity", "clustering"),
)
def graph_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the LABEL partition over the mutual-kNN
    graph — one number answering "do the labels align with the corpus's
    semantic neighborhood structure?": observed intra-label edge share
    minus the share expected under the degree-preserving null model,
    Q = Σ_c [e_c/m − (deg_c/2m)²].  Q ≈ 0 means labels are no better
    than chance at predicting edges (this corpus's random embeddings
    read exactly that); a label set worth using for supervised pruning
    or stratified sampling reads Q ≫ 0.  The graph-level summary above
    `embedding_label_knn_disagreement`'s per-vector view.

    Scale shape: edges are the spliced mutual-kNN frame (≤ n·k rows);
    two vec_id-keyed label joins; the degree rollup and the null-model
    sum are |labels|-bounded.  All corpus-scale cost lives in the
    mutual-kNN substrate — exact and n² here, so THIS variant is the
    small-SF calibration; production reads the SHIPPED composition
    ``graph_label_modularity_ivf`` (same overlay, per-IVF-cell
    substrate, linear once cell count grows with n).

    Determinism: every term is an exact-integer fixed-point division
    ((intra·FP) DIV m and per-label (deg²·FP) DIV (4m²)) summed over
    the bounded label domain — no float accumulation anywhere, so
    engine summation order cannot matter."""
    from ..queries import QUERIES as _Q

    e = t(spark, sf_dir, "embeddings")
    lab = e.select("vec_id", "label")
    edges = _Q["similarity_mutual_knn"].fn(spark, sf_dir).select("vec_a", "vec_b")
    return _modularity_overlay(lab, edges)


# NOTE: ``graph_label_modularity_ivf`` is registered in kmeans.py next
# to the substrate (same circular-import reason as link prediction —
# see the note above ``graph_link_prediction``'s section).


def _patch_label_modularity_oracle() -> None:
    from ..queries import QUERIES as _Q
    import dataclasses as _dcm

    _Q["graph_label_modularity"] = _dcm.replace(
        _Q["graph_label_modularity"], oracle=_label_modularity_oracle()
    )


_patch_label_modularity_oracle()


# ---------------------------------------------------------------------------
# token-mass dedup savings — the budget-level "what did dedup buy" report


def _tokens_saved_oracle() -> str:
    return rf"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
               AS component
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    toks AS (
      SELECT doc_id, source,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)),
                                               '[ \t\n\r\f]+')) AS BIGINT)
               AS tk
      FROM documents
    ),
    tagged AS (
      SELECT t.doc_id, t.source, t.tk, c.component,
             CASE WHEN t.doc_id = c.component THEN 1 ELSE 0 END AS kept
      FROM toks t JOIN comp c ON c.doc_id = t.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(tk) AS BIGINT) AS tokens_total,
           CAST(SUM(kept * tk) AS BIGINT) AS tokens_kept,
           CAST((1000000 * (SUM(tk) - SUM(kept * tk))) // SUM(tk) AS BIGINT)
             AS tokens_saved_ppm
    FROM tagged GROUP BY source ORDER BY source
    """


@query(
    "dedup_tokens_saved_by_source",
    oracle=_tokens_saved_oracle(),
    tags=("dedup", "pipeline", "profiling", "budget", "composition"),
)
def dedup_tokens_saved_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-MASS dedup savings per source — the budget-level number a
    curation run reports upward: after near-dup clustering, how many
    training TOKENS does keeping one representative per cluster save?
    `profile_dedup_rate_by_source` counts duplicated DOCUMENTS; this
    weighs them by token mass, which is what actually prices compute —
    one duplicated 10k-token document costs what fifty 200-token ones
    do.  Canonical representative = the cluster's component id (lowest
    doc_id — the same deterministic choice the components oracle pins);
    the keep-BEST variant (`dedup_keep_best`) swaps the rule without
    changing this report's shape.

    Scale shape: components over the session-cached edge frame (8th
    consumer); one token-count scan; one doc_id join + source rollup —
    everything past the cached edges is linear with bounded output.

    Determinism: exact integer token sums; ppm is integer division;
    kept flag is an integer id comparison."""
    from .text import token_count

    d = t(spark, sf_dir, "documents")
    comp = near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    toks = d.select("doc_id", "source", token_count(F.col("text")).alias("tk"))
    kept = F.when(F.col("doc_id") == F.col("component"), 1).otherwise(0)
    tagged = toks.join(comp, "doc_id").select(
        "source", "tk", kept.alias("kept")
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum("tk").cast("long").alias("tokens_total"),
            F.sum(F.col("kept") * F.col("tk")).cast("long").alias("tokens_kept"),
            F.expr(
                "CAST((1000000 * (sum(tk) - sum(kept * tk))) DIV sum(tk)"
                " AS BIGINT)"
            ).alias("tokens_saved_ppm"),
        )
        .orderBy("source")
    )
