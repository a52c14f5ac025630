"""Similarity search over embedding columns (`array<float>`).

Determinism/portability design: embeddings are quantized to integers
(``floor(value * 1e6)`` — float→double is exact, the multiply and floor are
IEEE-deterministic) so every dot product and norm is **exact integer
arithmetic** in both Spark and the DuckDB oracle; the final cosine is a
single double division of identical operands.  No float-summation-order
hazard anywhere.

Scale paths:
- brute-force top-k: broadcast the (small) query set, stream the corpus —
  no shuffle until the final per-query top-k (TakeOrdered-style window).
- LSH buckets: sign-bit bucket on leading dimensions → candidate pairs only
  within a bucket (bounded fan-out; the 100 TB shape for pairwise work).
- vectorized Pandas-UDF path: identical results via Arrow-batched numpy
  matmul (integers < 2^53 are exact in float64) — the throughput variant.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import cut_lineage, query, t
from ..substrates import substrate

QUANT = 1_000_000  # quantization scale; |v|<~100 keeps all sums << 2^53
# Pair threshold: the synthetic corpus has max pairwise cosine ~0.51
# (random 64-dim vectors), so 0.8 made every *_pairs query vacuously
# empty — a correctness row that can't fail.  0.4 yields a non-trivial
# pair set at every SF while staying selective (<0.1% of all pairs).
COSINE_THRESHOLD = 0.4
N_QUERY_VECS = 5
TOP_K = 5
LSH_SIGN_BITS = 12
#: vectors per block in the distributed all-pairs matmul.  One block PAIR
#: is 2 × BLOCK_SIZE × dim int64s (~0.5 MB at dim=64); per-task input
#: memory is (Arrow batch rows) × that, bounded by
#: spark.sql.execution.arrow.maxRecordsPerBatch — see the sizing note in
#: cosine_block_pairs.
COSINE_BLOCK_SIZE = 256


def quantized(col: Column) -> Column:
    """array<long>: floor(v * 1e6) per element — exact & engine-agnostic."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT))))


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def cosine_q(dot: Column, na2: Column, nb2: Column) -> Column:
    """cosine from integer dot + squared norms (single double division)."""
    return dot.cast("double") / (F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double")))


@substrate
def cached_cut_qtable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ``cut_lineage(spread(_qtable(...)))`` with columns
    (vec_id, q, nrm2).  EAGER on first build (the cut materializes).
    The frame every iterative vector operator folds over (r14)."""
    from ..queries import spread

    return cut_lineage(
        spread(_qtable(spark, sf_dir).select("vec_id", "q", "nrm2"))
    )


def _qtable(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        quantized(F.col("embedding")).alias("q"),
    ).withColumn("nrm2", dot_q(F.col("q"), F.col("q")))


#: r14: MATERIALIZED — `e` is referenced up to three times per consumer
#: (dots joins it twice, norms once) and re-inlined per fixpoint
#: iteration in recursive consumers (dedup_semantic's reach recursion
#: re-ran the whole unnest chain every round: 298 s → 12 s at sf0.1).
#: Pure planner hint: results are bit-identical.
_Q_SQL = f"""
    e AS MATERIALIZED (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    norms AS MATERIALIZED (SELECT vec_id, SUM(v * v) AS nrm2 FROM e GROUP BY vec_id)
"""


@query(
    "similarity_cosine_pairs",
    oracle=f"""
    WITH {_Q_SQL},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
             AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
          >= {COSINE_THRESHOLD}
    """,
    tags=("similarity", "pipeline", "dedup"),
)
def similarity_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, via a **distributed
    block-pair matmul** — no driver collect, no corpus broadcast.

    Vectors are grouped into blocks of ``COSINE_BLOCK_SIZE`` by
    ``floor(vec_id / BS)`` (monotone → every id in block i < every id in
    block j for i<j, so the upper-triangle block pairing plus an
    ``a < b`` element filter enumerates each pair exactly once).  The
    B(B+1)/2 block pairs are enumerated WITHOUT any pair-key join: each
    block bj explodes ``sequence(0, bj)`` to name its lower partners, so
    the b-side payload arrives attached to its keys and a single equi-join
    on bi brings the a-side payload.  Each task multiplies one block
    against one block with numpy — quantized integers are exact in
    float64, so cosines are identical to the JVM/oracle formulation
    regardless of summation order.

    Total work is the intrinsic O(n²) of exact all-pairs, but it is
    spread over B² bounded-memory tasks with nothing resident on the
    driver.  At corpus sizes where even distributed n² is too much, use
    ``similarity_lsh_bucketed`` (bounded fan-out candidates)."""
    return cosine_block_pairs(
        _qtable(spark, sf_dir), blocked=cached_blocked_frame(spark, sf_dir)
    )


def _blocked_frame(qt: DataFrame, block_size: int = COSINE_BLOCK_SIZE) -> DataFrame:
    """(block, ids, n2s, vecs): the corpus grouped into contiguous
    vec_id blocks — the materialized substrate under the block-pair
    enumeration.  Eagerly lineage-cut: consumed twice per enumeration
    (pair keys + a-side payload) through alias-divergent plans that
    defeat ReuseExchange, so the grouping job must run exactly ONCE and
    both consumers read the materialized blocks (the triangle-count /
    pagerank idiom; r2's persist() still re-ran 4 divergent plans).
    Same trade-offs as graph_triangle_count (ADVICE r2/r4): EAGER —
    building this frame runs the grouping job (SPARK_GRAFT_LAZY_CUTS=1
    for job-free plan inspection) — pre-cut exchanges are invisible
    to the static plan, and the cut is not executor-loss resilient
    (SPARK_GRAFT_RELIABLE_CHECKPOINT=1 for restartable jobs)."""
    return (
        qt.groupBy((F.floor(F.col("vec_id") / block_size)).alias("block"))
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "nrm2", "q"))).alias("vs"))
        .select(
            "block",
            F.transform(F.col("vs"), lambda s: s.vec_id).alias("ids"),
            F.transform(F.col("vs"), lambda s: s.nrm2).alias("n2s"),
            F.transform(F.col("vs"), lambda s: s.q).alias("vecs"),
        )
        .transform(cut_lineage)
    )


@substrate
def cached_blocked_frame(
    spark: SparkSession, sf_dir: str, block_size: int = COSINE_BLOCK_SIZE
) -> DataFrame:
    """Session-cached :func:`_blocked_frame` over the corpus ``_qtable``,
    shared by the four all-pairs consumers (thresholded cosine, mutual
    k-NN, TwoNN, semantic components)."""
    return _blocked_frame(_qtable(spark, sf_dir), block_size)


def block_pair_frame(
    qt: DataFrame,
    block_size: int = COSINE_BLOCK_SIZE,
    blocked: DataFrame | None = None,
) -> DataFrame:
    """Upper-triangle block-pair frame over a quantized embedding frame
    (vec_id, q: array<long>, nrm2: long): one row per block pair
    (bi ≤ bj) carrying both blocks' ids/norms/vectors — the shared
    enumeration under every distributed all-pairs kernel here
    (``cosine_block_pairs`` thresholded pairs, ``similarity_mutual_knn``
    per-row top-k candidates).  ``blocked`` — a prebuilt
    :func:`_blocked_frame`: full-corpus registered queries pass the
    session-cached :func:`cached_blocked_frame`."""
    if blocked is None:
        blocked = _blocked_frame(qt, block_size)
    # upper-triangle enumeration without a pair-key join: block bj knows
    # its own lower partners 0..bj, so one generator emits every (bi, bj)
    # key with the bj payload already attached — no BNLJ, no second
    # payload shuffle.  Repartition the B-row frame BEFORE the explode:
    # that shuffle moves only one payload per block (O(corpus) bytes) and
    # spreads the B(B+1)/2-row expansion — and the matmuls pipelined
    # behind it — across all cores; repartitioning after the explode
    # would shuffle O(B × corpus) duplicated payload bytes instead (the
    # measured 10×-probe bottleneck: one coalesced task writing the whole
    # exploded frame).
    n_parts = max(qt.sparkSession.sparkContext.defaultParallelism, 8)
    b_side = blocked.repartition(n_parts).select(
        F.col("block").alias("bj"),
        F.col("ids").alias("ids_b"),
        F.col("n2s").alias("n2s_b"),
        F.col("vecs").alias("vecs_b"),
        F.explode(F.sequence(F.lit(0), F.col("block"))).alias("bi"),
    )
    a_side = blocked.select(
        F.col("block").alias("bi"),
        F.col("ids").alias("ids_a"),
        F.col("n2s").alias("n2s_a"),
        F.col("vecs").alias("vecs_a"),
    )
    return b_side.join(a_side, "bi")


def cosine_block_pairs(
    qt: DataFrame,
    block_size: int = COSINE_BLOCK_SIZE,
    blocked: DataFrame | None = None,
) -> DataFrame:
    """Block-pair all-pairs cosine over a quantized frame
    (vec_id, q: array<long>, nrm2: long) — see ``similarity_cosine_pairs``.
    ``block_size`` is parameterized so property tests can exercise the
    multi-block path on tiny corpora (``tests/test_properties.py``)."""
    import numpy as np
    import pandas as pd

    pairs = block_pair_frame(qt, block_size, blocked=blocked)

    def block_matmul(batches):
        # one yield per block pair: peak memory = one input Arrow batch
        # plus a single pair's matmul; output never accumulates
        got_any = False
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                mat_a = np.asarray(list(row.vecs_a), dtype=np.float64)
                mat_b = np.asarray(list(row.vecs_b), dtype=np.float64)
                nrm_a = np.sqrt(np.asarray(row.n2s_a, dtype=np.float64))
                nrm_b = np.sqrt(np.asarray(row.n2s_b, dtype=np.float64))
                cos = (mat_a @ mat_b.T) / (nrm_a[:, None] * nrm_b[None, :])
                keep = (cos >= COSINE_THRESHOLD) & (ids_a[:, None] < ids_b[None, :])
                ai, bj = np.nonzero(keep)
                if len(ai):
                    got_any = True
                    yield pd.DataFrame(
                        {"vec_a": ids_a[ai], "vec_b": ids_b[bj], "cosine": cos[ai, bj]}
                    )
        if not got_any:
            yield pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})

    # memory note: each pairs row carries two full blocks (~0.5 MB at the
    # defaults), and Arrow materializes up to
    # spark.sql.execution.arrow.maxRecordsPerBatch rows per pandas batch —
    # per-task input memory is batch_rows x 2 x block bytes, so at very
    # large B size maxRecordsPerBatch (and shuffle partitions) to budget,
    # e.g. 64-row batches ~ 32 MB
    return pairs.mapInPandas(
        block_matmul, "vec_a long, vec_b long, cosine double"
    )


@query(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH {_Q_SQL},
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < {N_QUERY_VECS} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) /
             (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pipeline", "topk"),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, scan the
    corpus once, per-query top-k via ranking window."""
    from pyspark.sql import Window

    qt = _qtable(spark, sf_dir)
    queries = qt.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("nrm2").alias("nq2")
    )
    corpus = qt.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qn"), F.col("nrm2").alias("nn2")
    )
    cos = cosine_q(dot_q(F.col("qq"), F.col("qn")), F.col("nq2"), F.col("nn2"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


def _sign_bucket_spark(col: Column) -> Column:
    return F.concat(
        *[
            F.when(F.element_at(col, i + 1) >= 0, "1").otherwise("0")
            for i in range(LSH_SIGN_BITS)
        ]
    )


def _sign_bucket_sql(col: str) -> str:
    return " || ".join(
        f"CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(LSH_SIGN_BITS)
    )


#: salt fan-out for the bucket self-join.  Sign-bit buckets over natural
#: data are heavily skewed (correlated dimensions pile most vectors into a
#: few sign patterns); the salt splits each hot bucket's probe side S ways
#: at the cost of replicating the build side S× — bounded, predictable
#: shuffle growth instead of one straggler task per hot bucket.
N_BUCKET_SALTS = 4


def lsh_bucket_candidates(buck: DataFrame, n_salts: int = N_BUCKET_SALTS) -> DataFrame:
    """(vec_a, vec_b) same-bucket candidate pairs via a SALTED self-join.

    The probe side salts on a deterministic hash of vec_id; the build side
    replicates once per salt value.  Every same-bucket pair appears in
    exactly one (bucket, salt) cell, so the result set is identical to the
    unsalted join — ``tests/test_lsh_salt.py`` pins equality on a corpus
    with one dominant bucket, plus the plan shape."""
    from .skew import deterministic_salt

    xb = buck.select(F.col("vec_id").alias("vec_a"), "bucket").withColumn(
        "_salt", deterministic_salt(F.col("vec_a"), n_salts)
    )
    yb = buck.select(
        F.col("vec_id").alias("vec_b"), F.col("bucket").alias("bucket_y")
    ).withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return (
        xb.join(
            yb,
            (xb.bucket == yb.bucket_y)
            & (xb._salt == yb._salt)
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
    )


@query(
    "similarity_lsh_bucketed",
    oracle=f"""
    WITH buck AS (
      SELECT vec_id, {_sign_bucket_sql('embedding')} AS bucket FROM embeddings
    ),
    {_Q_SQL},
    cand AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM buck x JOIN buck y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    dots AS (
      SELECT c.vec_a, c.vec_b, SUM(a.v * b.v) AS dot
      FROM cand c
      JOIN e a ON a.vec_id = c.vec_a
      JOIN e b ON b.vec_id = c.vec_b AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
             AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
          >= {COSINE_THRESHOLD}
    """,
    tags=("similarity", "pipeline", "lsh"),
)
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucketing (random-hyperplane-style, axis-aligned): only
    same-bucket vectors are compared — the bounded-fan-out ANN shape that
    replaces the O(n²) cross join at scale.  The bucket self-join is
    salted (see ``lsh_bucket_candidates``)."""
    e = t(spark, sf_dir, "embeddings")
    buck = e.select("vec_id", _sign_bucket_spark(F.col("embedding")).alias("bucket"))
    qt = _qtable(spark, sf_dir)
    a = lsh_bucket_candidates(buck)
    qa = qt.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("nrm2").alias("na2"))
    qb = qt.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("nrm2").alias("nb2"))
    cos = cosine_q(dot_q(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2"))
    return (
        a.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


@query(
    "similarity_topk_vectorized",
    oracle=None,  # patched below to reuse the bruteforce oracle (must hash-match)
    tags=("similarity", "pipeline", "topk", "pandas-udf"),
)
def similarity_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as ``similarity_topk_bruteforce``, computed via an
    Arrow-batched ``mapInPandas`` numpy matmul — the vectorized throughput
    path.  Quantized integers stay < 2^53, so float64 matmul is exact and
    the output hash-matches the JVM-side variant (and its oracle).

    The kernel keeps only each query's per-batch top-``TOP_K`` (under the
    SAME total order the global window uses — cosine desc, neighbor_id
    asc — so no global winner can be cut), which makes the shuffle into
    the final ranking window O(n_q x K x n_batches) instead of
    O(n_q x corpus): the 100 TB shape, where per-scan output is
    corpus-size-independent.  Self-matches are masked inside the kernel
    (before the cut, or a batch-local top-K could evict a needed row)."""
    import pandas as pd

    from pyspark.sql import Window

    import numpy as np

    qt = _qtable(spark, sf_dir)
    # bounded driver collect: N_QUERY_VECS rows by construction (the query
    # set must sit in one numpy matrix inside every kernel instance).
    # Shipped as a sparkContext.broadcast (VERDICT r3 #5): closure capture
    # re-pickles the matrix into every task's serialized closure, while a
    # broadcast moves it to each executor once, regardless of task count
    # or N_QUERY_VECS.
    queries = qt.filter(F.col("vec_id") < N_QUERY_VECS).select("vec_id", "q", "nrm2").collect()
    bc = spark.sparkContext.broadcast(
        (
            np.asarray([r["vec_id"] for r in queries], dtype=np.int64),
            np.asarray([r["q"] for r in queries], dtype=np.float64),
            np.sqrt(np.asarray([r["nrm2"] for r in queries], dtype=np.float64)),
        )
    )

    def score(batches):
        import numpy as np

        qid, qm, qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            nm = np.asarray(list(pdf["q"]), dtype=np.float64)
            nn = np.sqrt(np.asarray(pdf["nrm2"], dtype=np.float64))
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cos = (qm @ nm.T) / (qn[:, None] * nn[None, :])
            cos[qid[:, None] == nid[None, :]] = -np.inf  # self-match mask
            k = min(TOP_K, cos.shape[1])
            out_q, out_n, out_c = [], [], []
            for i in range(cos.shape[0]):
                row = cos[i]
                # lexsort: primary -cosine, tie-break neighbor_id — the
                # global window's exact order
                top = np.lexsort((nid, -row))[:k]
                top = top[np.isfinite(row[top])]
                out_q.append(np.full(len(top), qid[i]))
                out_n.append(nid[top])
                out_c.append(row[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = qt.select("vec_id", "q", "nrm2").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


# the vectorized path must hash-match the JVM brute-force path → same oracle
import dataclasses as _dc  # noqa: E402

from ..queries import QUERIES as _Q  # noqa: E402

_Q["similarity_topk_vectorized"] = _dc.replace(
    _Q["similarity_topk_vectorized"], oracle=_Q["similarity_topk_bruteforce"].oracle
)


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH e AS (
      SELECT label,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    SELECT label, CAST(i AS BIGINT) AS dim,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS centroid_q
    FROM e GROUP BY label, i
    """,
    tags=("similarity", "pipeline", "centroid"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the (quantized) embeddings, one row per
    (label, dimension) — exact integer sums, single double division.
    This is the k-means/IVF building block: the coarse quantizer's
    centroid update is exactly this aggregation."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(quantized(F.col("embedding"))).alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg((F.sum("v").cast("double") / F.count(F.lit(1))).alias("centroid_q"))
    )


IVF_NPROBE = 2  # cells searched per query in the multi-probe variant


def _ivf_cells_sql(nprobe: int) -> str:
    """Coarse-quantizer CTE block (append after ``_Q_SQL``): per-label
    exact centroids, nearest-centroid ``assign`` (vec_id, cell), and the
    per-query ``probe`` of its ``nprobe`` nearest cells — shared by the
    exact-rerank IVF oracles and the IVF-PQ composition."""
    return f"""cent AS (
      SELECT e2.label, e2.i, CAST(SUM(e2.v) AS DOUBLE) / COUNT(*) AS c
      FROM (SELECT m.label, q.v, q.i
            FROM e q JOIN embeddings m ON m.vec_id = q.vec_id) e2
      GROUP BY e2.label, e2.i
    ),
    -- assign each vector to its nearest centroid (exact arithmetic on
    -- quantized ints vs exact centroid doubles; tie-break lowest label)
    dists AS (
      SELECT e.vec_id, cent.label,
             SUM((CAST(e.v AS DOUBLE) - cent.c) * (CAST(e.v AS DOUBLE) - cent.c)) AS d2
      FROM e JOIN cent ON cent.i = e.i
      GROUP BY e.vec_id, cent.label
    ),
    ranked_cells AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      FROM dists
    ),
    assign AS (
      SELECT vec_id, label AS cell FROM ranked_cells WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id, label AS cell FROM ranked_cells
      WHERE rn <= {nprobe} AND vec_id < {N_QUERY_VECS}
    )"""


def _ivf_oracle(nprobe: int) -> str:
    return f"""
    WITH {_Q_SQL},
    {_ivf_cells_sql(nprobe)},
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(ea.v * eb.v) AS dot
      FROM probe a
      JOIN assign b ON a.cell = b.cell AND b.vec_id <> a.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) /
             (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def _score_cells(qt: DataFrame) -> DataFrame:
    """(vec_id, q, nrm2, ranked): every vector with its full
    distance-ranked cell list — the coarse-quantizer state both
    ``assign`` (rank 1) and any-``nprobe`` ``probe`` (rank ≤ nprobe)
    derive from row-locally.  Factored out of ``_label_cells`` so the
    session cache can persist ONE frame per corpus and serve every
    (consumer, nprobe) combination."""
    # exact centroid per (label, dim) from quantized components
    cent = (
        qt.select("label", F.posexplode(F.col("q")).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg((F.sum("v").cast("double") / F.count(F.lit(1))).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("cs"))
        .select("label", F.transform(F.col("cs"), lambda s: s.c).alias("centroid"))
    )
    # nearest-centroid assignment (exact doubles; tie-break lowest label)
    # — ROW-LOCAL ranking (r13, guide §2.4): the old shape crossJoined
    # every vector against every centroid and ranked the N×L fan-out
    # through a window exchange + sort; collecting the L centroids into
    # ONE broadcast row lets `array_sort(transform(...))` rank the cells
    # inside the row.  d2 is the same zip_with/aggregate left-fold (same
    # double-summation order), and ascending struct (d2, c_label) order
    # IS the window's ORDER BY d2, c_label — identical assign and probe.
    cent_row = cent.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label").alias("c_label"), "centroid"))
        ).alias("cents")
    )

    def _d2(c):
        return F.aggregate(
            F.zip_with(
                F.col("q"),
                c["centroid"],
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ranked = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(_d2(c).alias("d2"), c["c_label"].alias("c_label")),
        )
    )
    return qt.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", "q", "nrm2", ranked.alias("ranked")
    )


def _cells_from_scored(
    scored: DataFrame, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """Derive (assign, probe) from a ``_score_cells`` frame — row-local
    projections (rank-1 cell; explode of the first ``nprobe`` cells)."""
    assign = scored.select(
        "vec_id", "q", "nrm2", F.element_at("ranked", 1)["c_label"].alias("cell")
    )
    probe = (
        scored.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            "vec_id",
            "q",
            "nrm2",
            F.explode(F.slice(F.col("ranked"), 1, nprobe)).alias("rc"),
        )
        .select("vec_id", "q", "nrm2", F.col("rc")["c_label"].alias("cell"))
    )
    return assign, probe


def _label_cells(
    qt: DataFrame, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """Coarse-quantizer assignment over a ``_qtable`` frame: per-label
    exact centroids (doubles), nearest-centroid ``assign``
    (vec_id, q, nrm2, cell) and the per-query ``probe`` of its
    ``nprobe`` nearest cells — shared by the exact-rerank IVF search
    and the IVF-PQ composition (mirrors `_ivf_cells_sql`)."""
    return _cells_from_scored(_score_cells(qt), nprobe)


@substrate
def cached_scored_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached :func:`_score_cells` over the corpus qtable,
    persisted MEMORY_AND_DISK.  Lazy: no job runs until a consumer's
    first action.  The maintained coarse-quantizer assignment of an IVF
    index: ivf_topk, ivf_multiprobe, ivfpq_adc_topk and pq_adc read it
    for every nprobe."""
    return _score_cells(_qtable(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def _ivf_search(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared IVF body: centroid build, cell assignment, probe of the
    query's ``nprobe`` nearest cells, cosine rank within the probed pool.
    A corpus vector lives in exactly one cell and a query probes distinct
    cells, so (query, neighbor) pairs are unique without a dedup.

    r14: assign/probe derive from the session-cached ``_score_cells``
    frame (one persisted coarse-quantizer state per corpus) instead of
    rebuilding the centroid aggregation — and leaking one new qtable
    persist — per call."""
    from pyspark.sql import Window

    assign, probe = _cells_from_scored(cached_scored_cells(spark, sf_dir), nprobe)
    queries = probe.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm2").alias("nq2"),
        "cell",
    )
    cos = cosine_q(dot_q(F.col("qq"), F.col("qn")), F.col("nq2"), F.col("nn2"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        assign.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("qn"),
            F.col("nrm2").alias("nn2"),
            "cell",
        )
        .join(F.broadcast(queries), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


@query(
    "similarity_ivf_topk",
    oracle=_ivf_oracle(1),
    tags=("similarity", "pipeline", "ivf", "topk"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer (the label centroids — in a real
    index, k-means centroids; the centroid-update step IS
    ``embedding_label_centroids``) assigns every vector to a cell; each
    query searches only its own cell.  Search cost drops from O(N) to
    O(N / n_cells) per query — the inverted-file structure that makes
    billion-vector search tractable.  Approximate by construction: a true
    neighbor in another cell is missed (nprobe=1)."""
    return _ivf_search(spark, sf_dir, nprobe=1)


@query(
    "similarity_ivf_multiprobe",
    oracle=_ivf_oracle(IVF_NPROBE),
    tags=("similarity", "pipeline", "ivf", "topk", "multiprobe"),
)
def similarity_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: each query searches its ``IVF_NPROBE`` nearest
    cells instead of one — the standard recall lever for inverted-file
    ANN (a true neighbor just across a cell boundary is recovered by the
    second probe).  Search cost is nprobe × the single-probe scan, still
    O(nprobe · N / n_cells) per query; the corpus-side index is shared
    unchanged with ``similarity_ivf_topk``."""
    return _ivf_search(spark, sf_dir, nprobe=IVF_NPROBE)


# ---------------------------------------------------------------------------
# quantization-aware top-k with exact re-ranking


#: int8-style quantization scale for the coarse scoring pass.  |v| < ~1 in
#: the corpus, so floor(v*127) fits int8's range; dot products of 64 such
#: components stay < 2^21 — exact in every engine.
Q8_SCALE = 127
#: coarse-pass pool size fed to the exact re-ranker
RERANK_POOL = 20


@query(
    "similarity_quantized_rerank",
    oracle=f"""
    WITH {_Q_SQL},
    e8 AS (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {Q8_SCALE}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    dots8 AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot8
      FROM e8 a JOIN e8 b ON a.i = b.i AND a.vec_id < {N_QUERY_VECS}
                         AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    pool AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot8 DESC, neighbor_id) AS crnk
        FROM dots8
      ) WHERE crnk <= {RERANK_POOL}
    ),
    exact AS (
      SELECT p.query_id, p.neighbor_id, SUM(ea.v * eb.v) AS dot
      FROM pool p
      JOIN e ea ON ea.vec_id = p.query_id
      JOIN e eb ON eb.vec_id = p.neighbor_id AND eb.i = ea.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) /
             (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM exact
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pipeline", "topk", "quantization"),
)
def similarity_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-aware ANN: coarse top-``RERANK_POOL`` by **int8-range
    dot product** (floor(v*127) — 8× less data movement than float32 and
    SIMD-friendly on a real deployment), then exact-cosine re-ranking of
    the pool only — the memory-bandwidth-saving shape production vector
    stores use (scan cheap codes, re-rank a constant-size pool with full
    precision).  Approximate by construction: a true neighbor the coarse
    pass ranks below the pool cutoff is missed.  All arithmetic is exact
    integer → deterministic across engines; both ranking windows break
    ties by neighbor_id."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    q8 = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(float(Q8_SCALE)))
    )
    qt8 = e.select("vec_id", q8.alias("v8"))
    queries8 = qt8.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v8").alias("q8")
    )
    # coarse pass: int8-range dot, per-query pool of RERANK_POOL ids
    dot8 = dot_q(F.col("q8"), F.col("v8"))
    w8 = Window.partitionBy("query_id").orderBy(F.col("dot8").desc(), F.col("neighbor_id"))
    pool = (
        qt8.select(F.col("vec_id").alias("neighbor_id"), "v8")
        .crossJoin(queries8)  # 5 rows: AQE broadcasts by size, no hint
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot8.alias("dot8"))
        .withColumn("crnk", F.row_number().over(w8))
        .filter(F.col("crnk") <= RERANK_POOL)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank on the pool only
    qt = _qtable(spark, sf_dir)
    qa = qt.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("nrm2").alias("nq2"))
    qb = qt.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qn"), F.col("nrm2").alias("nn2"))
    cos = cosine_q(dot_q(F.col("qq"), F.col("qn")), F.col("nq2"), F.col("nn2"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pool.join(qa, "query_id")
        .join(qb, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the approximate path vs brute force


def _recall_oracle() -> str:
    """Combined oracle: both rankings as nested-CTE subqueries, then exact
    set intersection — recall is a single division of integer counts."""
    bf = _Q["similarity_topk_bruteforce"].oracle
    qr = _Q["similarity_quantized_rerank"].oracle
    return f"""
    WITH bf AS ({bf}),
    qr AS ({qr}),
    m AS (SELECT COUNT(*) AS matched FROM bf JOIN qr USING (query_id, neighbor_id)),
    tot AS (SELECT COUNT(*) AS total FROM bf)
    SELECT CAST(matched AS BIGINT) AS matched,
           CAST(total AS BIGINT) AS total,
           CAST(matched AS DOUBLE) / total AS recall_at_k
    FROM m CROSS JOIN tot
    """


@query(
    "similarity_recall_at_k",
    oracle=None,  # patched below — needs both member oracles registered first
    tags=("similarity", "pipeline", "evaluation"),
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the quantized-rerank ANN path against the exact
    brute-force top-k — the evaluation loop every approximate index needs
    before it ships: both rankings are deterministic, so the recall is a
    stable, regression-testable number (one double division of exact
    counts; a drop means the coarse quantizer started missing true
    neighbors)."""
    bf = similarity_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    qr = similarity_quantized_rerank(spark, sf_dir).select("query_id", "neighbor_id")
    matched = bf.join(qr, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("matched")
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    return matched.crossJoin(total).select(
        "matched",
        "total",
        (F.col("matched").cast("double") / F.col("total")).alias("recall_at_k"),
    )


_Q["similarity_recall_at_k"] = _dc.replace(
    _Q["similarity_recall_at_k"], oracle=_recall_oracle()
)


# ---------------------------------------------------------------------------
# product quantization: M-subspace codes + asymmetric-distance (ADC) scoring


#: PQ geometry: 64-dim embeddings split into PQ_M contiguous subspaces of
#: PQ_SUB_DIM dims each.  A real PQ index stores PQ_M one-byte codes per
#: vector (here 8 bytes vs 256 for float32 — a 32× compression).
PQ_M = 8
PQ_SUB_DIM = 8
#: centroid quantization scale.  The per-(label, dim) centroid mean is a
#: ratio of exact integers; FLOOR(PQ_CENT_SCALE * sum / count) makes it an
#: exact BIGINT in one IEEE division (sum * scale < 2^53), so every
#: downstream distance/dot is pure integer arithmetic in both engines.
PQ_CENT_SCALE = 16


def _pq_parts(qt: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(subcent, subv, codes): the PQ codebook (per-(label, subspace)
    sub-centroid arrays, exact BIGINTs), the per-(vector, subspace)
    slice rows, and each vector's nearest-codeword code — shared by the
    flat ADC scan (`similarity_pq_adc_topk`) and the IVF-PQ composition
    (`similarity_ivfpq_adc_topk`)."""
    K = F.lit(PQ_CENT_SCALE)
    # codebook: per-(label, subspace) sub-centroid arrays, exact BIGINTs
    comps = qt.select("label", "vec_id", F.posexplode(F.col("q")).alias("pos", "v"))
    cent = (
        comps.groupBy("label", "pos")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "label",
            "pos",
            F.floor(K * F.col("sv").cast("double") / F.col("cnt")).cast("long").alias("cq"),
        )
    )
    subcent = (
        cent.groupBy("label", F.floor(F.col("pos") / PQ_SUB_DIM).cast("long").alias("s"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cq"))).alias("cs"))
        .select("label", "s", F.transform(F.col("cs"), lambda x: x.cq).alias("subc"))
    )
    # corpus side: one row per (vector, subspace), payload = the 8-dim slice
    slices = F.array(*[F.slice(F.col("q"), m * PQ_SUB_DIM + 1, PQ_SUB_DIM) for m in range(PQ_M)])
    subv = qt.select(
        "vec_id", F.posexplode(slices).alias("s_int", "subq")
    ).select("vec_id", F.col("s_int").cast("long").alias("s"), "subq")
    # encode: nearest sub-centroid per (vector, subspace) — ROW-LOCAL
    # argmin over the subspace's codeword list (r13, guide §2.4): the old
    # shape broadcast-joined every (vector, subspace) row against every
    # codeword and ranked the N×M×L fan-out through a window exchange +
    # sort; grouping the codebook per subspace (M tiny rows, broadcast)
    # lets `array_min(transform(...))` pick min-(d2, label) inside the
    # row — same exact integer d2, same tie-break (struct ordering IS
    # the window's ORDER BY d2, label), zero exchanges.
    cwlists = subcent.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("label", "subc"))).alias("cws")
    )

    def _d2(cw):
        return F.aggregate(
            F.zip_with(
                F.col("subq"), cw["subc"], lambda x, y: (K * x - y) * (K * x - y)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.transform(
            F.col("cws"), lambda cw: F.struct(_d2(cw).alias("d2"), cw["label"].alias("label"))
        )
    )
    codes = subv.join(F.broadcast(cwlists), "s").select(
        "vec_id", "s", best["label"].alias("code")
    )
    return subcent, subv, codes


@substrate
def cached_pq_substrate(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Session-cached (subcent, subv, codes, adc): the PQ codebook, the
    per-(vector, subspace) slices, each vector's codes and the per-query
    ADC lookup tables — codes and adc persisted (the frames consumers
    actually scan; subcent/adc are labels×M / queries×M×labels tiny).
    Lazy: no job runs until a consumer's first action.  The maintained
    PQ index of `similarity_pq_adc_topk` and `similarity_ivfpq_adc_topk`."""
    subcent, subv, codes = _pq_parts(_qtable(spark, sf_dir))
    codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
    adc = _pq_adc_tables(subv, subcent).persist(StorageLevel.MEMORY_AND_DISK)
    return (subcent, subv, codes, adc)


def _pq_adc_tables(subv: DataFrame, subcent: DataFrame) -> DataFrame:
    """Per-query ADC lookup tables (query_id, s, label, pdot): exact
    integer query×sub-centroid partial dots — N_QUERY_VECS × PQ_M ×
    labels rows, tiny and broadcast at the consumer."""
    pdot = F.aggregate(
        F.zip_with(F.col("subq"), F.col("subc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        subv.filter(F.col("vec_id") < N_QUERY_VECS)
        .join(F.broadcast(subcent), "s")
        .select(F.col("vec_id").alias("query_id"), "s", "label", pdot.alias("pdot"))
    )


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH {_Q_SQL},
    lab AS (SELECT vec_id, label FROM embeddings),
    cq AS (
      SELECT l.label, e.i,
             CAST(FLOOR({PQ_CENT_SCALE} * CAST(SUM(e.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
      FROM e JOIN lab l ON l.vec_id = e.vec_id
      GROUP BY 1, 2
    ),
    subd AS (
      SELECT e.vec_id, c.label, CAST(FLOOR((e.i - 1) / {PQ_SUB_DIM}) AS BIGINT) AS s,
             SUM(({PQ_CENT_SCALE} * e.v - c.cq) * ({PQ_CENT_SCALE} * e.v - c.cq)) AS d2
      FROM e JOIN cq c ON c.i = e.i
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, label AS code FROM (
        SELECT vec_id, s, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, label) AS rn
        FROM subd) WHERE rn = 1
    ),
    adc AS (
      SELECT e.vec_id AS query_id, c.label,
             CAST(FLOOR((e.i - 1) / {PQ_SUB_DIM}) AS BIGINT) AS s,
             SUM(e.v * c.cq) AS pdot
      FROM e JOIN cq c ON c.i = e.i
      WHERE e.vec_id < {N_QUERY_VECS}
      GROUP BY 1, 2, 3
    ),
    approx AS (
      SELECT a.query_id, k.vec_id AS neighbor_id, SUM(a.pdot) AS adc_dot
      FROM codes k JOIN adc a ON a.s = k.s AND a.label = k.code
      WHERE k.vec_id <> a.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, CAST(adc_dot AS DOUBLE) AS adc_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dot DESC, neighbor_id) AS rnk
      FROM approx
    )
    SELECT query_id, neighbor_id, adc_score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pipeline", "topk", "quantization", "pq"),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring — the
    billion-scale compression shape (Jégou et al., the structure behind
    FAISS's IVFPQ): each vector is stored as ``PQ_M`` one-byte codebook
    ids (one per contiguous subspace) instead of floats; a query scores a
    candidate by summing ``PQ_M`` precomputed query×centroid partial dots
    (the ADC lookup table) — no decompression, O(M) adds per candidate.

    Codebooks here are the per-label subspace centroids (a real index
    would k-means each subspace; the centroid update IS
    ``embedding_label_centroids``), quantized to exact BIGINTs so both
    engines rank identically.  Scale path: the codebook (labels × M
    sub-centroids) and the per-query ADC tables (``N_QUERY_VECS`` × M ×
    labels partial dots) are tiny and broadcast; the corpus side touches
    only the N×M code rows — map-side lookup join, one skinny shuffle for
    the per-(query, neighbor) sum, window top-k.  Nothing driver-side,
    nothing O(n²).  Approximate by construction (quantization error),
    which is the point: 32× less corpus data movement per scan."""
    from pyspark.sql import Window

    _subcent, _subv, codes, adc = cached_pq_substrate(spark, sf_dir)
    # scan codes, look up partial dots, sum per (query, neighbor), top-k
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dot").desc(), F.col("neighbor_id"))
    return (
        codes.join(
            F.broadcast(adc),
            (codes.s == adc.s) & (codes.code == adc.label),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adc_dot"))
        .withColumn("adc_score", F.col("adc_dot").cast("double"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_score", "rnk")
    )


@query(
    "similarity_ivfpq_adc_topk",
    oracle=f"""
    WITH {_Q_SQL},
    {_ivf_cells_sql(IVF_NPROBE)},
    lab AS (SELECT vec_id, label FROM embeddings),
    cq AS (
      SELECT l.label, e.i,
             CAST(FLOOR({PQ_CENT_SCALE} * CAST(SUM(e.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
      FROM e JOIN lab l ON l.vec_id = e.vec_id
      GROUP BY 1, 2
    ),
    subd AS (
      SELECT e.vec_id, c.label, CAST(FLOOR((e.i - 1) / {PQ_SUB_DIM}) AS BIGINT) AS s,
             SUM(({PQ_CENT_SCALE} * e.v - c.cq) * ({PQ_CENT_SCALE} * e.v - c.cq)) AS d2
      FROM e JOIN cq c ON c.i = e.i
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, label AS code FROM (
        SELECT vec_id, s, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, label) AS rn
        FROM subd) WHERE rn = 1
    ),
    adc AS (
      SELECT e.vec_id AS query_id, c.label,
             CAST(FLOOR((e.i - 1) / {PQ_SUB_DIM}) AS BIGINT) AS s,
             SUM(e.v * c.cq) AS pdot
      FROM e JOIN cq c ON c.i = e.i
      WHERE e.vec_id < {N_QUERY_VECS}
      GROUP BY 1, 2, 3
    ),
    approx AS (
      SELECT p.vec_id AS query_id, m.vec_id AS neighbor_id, SUM(a.pdot) AS adc_dot
      FROM probe p
      JOIN assign m ON m.cell = p.cell AND m.vec_id <> p.vec_id
      JOIN codes k ON k.vec_id = m.vec_id
      JOIN adc a ON a.query_id = p.vec_id AND a.s = k.s AND a.label = k.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, CAST(adc_dot AS DOUBLE) AS adc_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dot DESC, neighbor_id) AS rnk
      FROM approx
    )
    SELECT query_id, neighbor_id, adc_score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pipeline", "topk", "quantization", "pq", "ivf"),
)
def similarity_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN index (Jégou et al.; the
    structure FAISS ships as ``IndexIVFPQ``): the coarse quantizer
    (per-label exact centroids, shared with `similarity_ivf_topk`)
    restricts each query's candidates to its ``IVF_NPROBE`` nearest
    cells, and within those cells candidates are scored from their
    ``PQ_M`` one-byte codes via the precomputed ADC lookup tables
    (shared `_pq_parts`/`_pq_adc_tables` with the flat ADC scan) — no
    float decompression, O(nprobe · N/cells · M) adds per query instead
    of the flat scan's O(N · M).

    This is the 100 TB serving shape: the inverted file bounds the scan
    set, the codes bound the bytes per candidate (8 vs 256 — 32×), and
    the ADC tables (queries × M × codewords) broadcast.  The corpus
    side moves only (cell-pruned) code rows; one skinny shuffle for the
    per-(query, neighbor) sum; window top-k.  Approximate on both axes
    by construction (cell misses + quantization error) — recall is
    priced by `similarity_recall_at_k`'s methodology against the exact
    twin.

    Reference basis: the §2.8 extension surface (no ANN plane in the
    reference; its scan machinery is datasource/mod.rs:20-28)."""
    from pyspark.sql import Window

    assign, probe = _cells_from_scored(
        cached_scored_cells(spark, sf_dir), IVF_NPROBE
    )
    _subcent, _subv, codes, adc = cached_pq_substrate(spark, sf_dir)
    cand = (
        assign.select(F.col("vec_id").alias("neighbor_id"), "cell")
        .join(
            F.broadcast(probe.select(F.col("vec_id").alias("query_id"), "cell")),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    adcx = adc.select(
        F.col("query_id").alias("a_query"),
        F.col("s").alias("a_s"),
        F.col("label").alias("a_code"),
        "pdot",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dot").desc(), F.col("neighbor_id"))
    return (
        cand.join(codes, cand.neighbor_id == codes.vec_id)
        .join(
            F.broadcast(adcx),
            (F.col("query_id") == F.col("a_query"))
            & (F.col("s") == F.col("a_s"))
            & (F.col("code") == F.col("a_code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pdot").alias("adc_dot"))
        .withColumn("adc_score", F.col("adc_dot").cast("double"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_score", "rnk")
    )


# ---------------------------------------------------------------------------
# hard-negative mining for contrastive embedding training


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH {_Q_SQL},
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS negative_id, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < {N_QUERY_VECS}
      JOIN lab la ON la.vec_id = a.vec_id
      JOIN lab lb ON lb.vec_id = b.vec_id AND lb.label <> la.label
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, negative_id,
             CAST(dot AS DOUBLE) /
             (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = negative_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored
    )
    SELECT query_id, negative_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pipeline", "training", "topk"),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op: for each
    query vector, the most-similar vectors with a DIFFERENT label (the
    negatives the model currently confuses most; random negatives are too
    easy to carry gradient).  Same broadcast-queries / one-corpus-scan /
    window-top-k shape as ``similarity_topk_bruteforce`` with the label
    inequality applied in the join condition, so mismatched pairs never
    reach the scorer.  At billion-vector scale the scan side swaps for
    the IVF/LSH candidate generators in this module unchanged."""
    from pyspark.sql import Window

    qt = _qtable(spark, sf_dir)
    queries = qt.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qq"),
        F.col("nrm2").alias("nq2"),
    )
    corpus = qt.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("nlabel"),
        F.col("q").alias("qn"),
        F.col("nrm2").alias("nn2"),
    )
    cos = cosine_q(dot_q(F.col("qq"), F.col("qn")), F.col("nq2"), F.col("nn2"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("negative_id"))
    return (
        corpus.join(F.broadcast(queries), F.col("nlabel") != F.col("qlabel"))
        .select("query_id", "negative_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# label-noise audit: kNN label disagreement (cleanlab-style)

KNN_AUDIT_VECS = 20  # audit sample (vec_id < this); bounded like N_QUERY_VECS
KNN_K = 10


@query(
    "embedding_label_knn_disagreement",
    oracle=f"""
    WITH {_Q_SQL},
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             SUM(ea.v * eb.v) AS dot
      FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < {KNN_AUDIT_VECS}) a
      JOIN (SELECT DISTINCT vec_id FROM e) b ON b.vec_id <> a.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) /
             (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {KNN_K}
    )
    SELECT CAST(t.query_id AS BIGINT) AS vec_id,
           CAST(ql.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN nl.label <> ql.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disagree,
           CAST(SUM(CASE WHEN nl.label <> ql.label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS disagree_frac
    FROM topk t
    JOIN lab ql ON ql.vec_id = t.query_id
    JOIN lab nl ON nl.vec_id = t.neighbor_id
    GROUP BY t.query_id, ql.label
    """,
    tags=("similarity", "pipeline", "evaluation", "quality", "pandas-udf"),
)
def embedding_label_knn_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: for each audit vector, the fraction of its
    {KNN_K} nearest neighbors (exact cosine) carrying a DIFFERENT label — the
    neighbor-voting mislabel detector (confident-learning style).  A high
    ``disagree_frac`` flags a vector whose label its embedding
    neighborhood contradicts — the rows a label-cleaning pass reviews
    first.

    Same corpus-size-independent shuffle shape as
    ``similarity_topk_vectorized``: the audit matrix ({A} vectors) rides
    in one broadcast, the Arrow kernel emits per-batch top-{KNN_K} under the
    global window's exact order, and labels join onto K x {A} rows.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    qt = _qtable(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    audit = qt.filter(F.col("vec_id") < KNN_AUDIT_VECS).select(
        "vec_id", "q", "nrm2"
    ).collect()
    bc = spark.sparkContext.broadcast(
        (
            np.asarray([r["vec_id"] for r in audit], dtype=np.int64),
            np.asarray([r["q"] for r in audit], dtype=np.float64),
            np.sqrt(np.asarray([r["nrm2"] for r in audit], dtype=np.float64)),
        )
    )

    def score(batches):
        import numpy as np

        qid, qm, qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            nm = np.asarray(list(pdf["q"]), dtype=np.float64)
            nn = np.sqrt(np.asarray(pdf["nrm2"], dtype=np.float64))
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cos = (qm @ nm.T) / (qn[:, None] * nn[None, :])
            cos[qid[:, None] == nid[None, :]] = -np.inf
            k = min(KNN_K, cos.shape[1])
            out_q, out_n, out_c = [], [], []
            for i in range(cos.shape[0]):
                row = cos[i]
                top = np.lexsort((nid, -row))[:k]
                top = top[np.isfinite(row[top])]
                out_q.append(np.full(len(top), qid[i]))
                out_n.append(nid[top])
                out_c.append(row[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = qt.select("vec_id", "q", "nrm2").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("query_id", "neighbor_id")
    )
    lab = _qtable(spark, sf_dir).select("vec_id", "label")
    # audit labels: bounded by the same literal filter as the audit matrix
    # (vec_id < KNN_AUDIT_VECS) — broadcastable at any corpus size.  The
    # neighbor-label side is corpus-sized and stays unhinted (AQE's call;
    # the tiny top-k frame is the natural build side).
    ql = (
        lab.filter(F.col("vec_id") < KNN_AUDIT_VECS)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel")
    )
    nl = lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel")
    diff = F.when(F.col("nlabel") != F.col("qlabel"), 1).otherwise(0)
    return (
        topk.join(F.broadcast(ql), "query_id")
        .join(nl, "neighbor_id")
        .groupBy(
            F.col("query_id").cast("long").alias("vec_id"),
            F.col("qlabel").cast("long").alias("label"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum(diff).cast("long").alias("n_disagree"),
            (F.sum(diff).cast("double") / F.count(F.lit(1))).alias("disagree_frac"),
        )
    )


OUTLIER_K = 5  #: flagged vectors per label


@query(
    "embedding_centroid_outliers",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, SUM(v) AS s, COUNT(*) AS n FROM e GROUP BY 1, 2
    ),
    d2 AS (
      SELECT e.vec_id, e.label,
             SUM(CAST(cent.n * e.v - cent.s AS HUGEINT)
                 * CAST(cent.n * e.v - cent.s AS HUGEINT)) AS d2s
      FROM e JOIN cent ON cent.label = e.label AND cent.dim = e.dim
      GROUP BY 1, 2
    )
    SELECT label, vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY label ORDER BY d2s DESC, vec_id) AS BIGINT) AS rnk,
           CAST(d2s AS DOUBLE) AS dist2_scaled
    FROM d2 QUALIFY rnk <= {OUTLIER_K}
    """,
    tags=("similarity", "pipeline", "outlier", "centroid"),
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier audit — the other half of the mislabel
    review queue next to ``embedding_label_knn_disagreement``: the
    OUTLIER_K vectors FARTHEST from their own label's centroid, per label.
    Exactness trick: comparing ||v - S/n||^2 ranks identically to the
    all-integer n^2 * ||v - S/n||^2 = sum_dims (n*v_d - S_d)^2, so the
    whole ranking is exact integer arithmetic (DECIMAL(38,0) here /
    HUGEINT in the oracle — n*v fits int64 but its square does not) and
    the emitted distance is one deterministic integer->double conversion.
    Plan: one map-side-combined centroid aggregation (K x D rows out),
    centroids BROADCAST back onto the exploded scan (no second corpus
    shuffle), one (vec,label) re-aggregation, one per-label ranking window
    over N rows — everything corpus-sized moves at most twice."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(quantized(F.col("embedding"))).alias("dim", "v")
    )
    cent = e.groupBy("label", "dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dev = (F.col("n") * F.col("v") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        e.join(F.broadcast(cent), ["label", "dim"])
        .select("vec_id", "label", (dev * dev).alias("dev2"))
        .groupBy("vec_id", "label")
        .agg(F.sum("dev2").alias("d2s"))
    )
    w = Window.partitionBy("label").orderBy(F.col("d2s").desc(), F.col("vec_id"))
    return (
        d2.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= OUTLIER_K)
        .select("label", "vec_id", "rnk", F.col("d2s").cast("double").alias("dist2_scaled"))
    )


@query(
    "embedding_gram_matrix",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    SELECT CAST(a.i AS BIGINT) AS dim_i, CAST(b.i AS BIGINT) AS dim_j,
           CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS DOUBLE) AS gram
    FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
    tags=("similarity", "pipeline", "pandas-udf", "linear-algebra"),
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gram matrix X'X of the (quantized) embedding corpus — the
    primitive under PCA / whitening / covariance / linear-probe fitting.
    The scalable shape is NOT the self-join the oracle uses (that's
    O(N x D^2) rows through a shuffle): each Arrow batch computes its own
    D x D partial ``Q.T @ Q`` in one numpy int64 matmul (exact — batch
    partials stay far under 2^63) and emits D(D+1)/2 upper-triangle rows,
    so the ONLY shuffle is batch-count x 2080 tiny partial rows, reduced
    by an exact DECIMAL(38,0) sum (the cross-batch total can exceed int64
    at cluster scale).  Map-only over the corpus — the same
    partial-aggregate algebra as ``mv_incremental_refresh``, applied to a
    matrix product."""
    e = t(spark, sf_dir, "embeddings").select("embedding")

    def gram_batches(batches):
        # closure (NOT module-level): pickles by value so bare-session
        # executors outside the repo cwd can run it
        import numpy as np
        import pandas as pd

        q = float(QUANT)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy())
            Q = np.floor(V.astype("float64") * q).astype("int64")
            G = Q.T @ Q
            ii, jj = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {"dim_i": ii + 1, "dim_j": jj + 1, "partial": G[ii, jj]}
            )

    partials = e.mapInPandas(gram_batches, "dim_i long, dim_j long, partial long")
    return partials.groupBy("dim_i", "dim_j").agg(
        F.sum(F.col("partial").cast("decimal(38,0)")).cast("double").alias("gram")
    )


# ---------------------------------------------------------------------------
# top principal component by fixed-point power iteration

PC_ITERS = 6  #: power-iteration count (the result is DEFINED as 6 steps)
PC_SCALE = 1_000_000  #: fixed-point scale of the iterated vector


def _top_pc_oracle() -> str:
    """Unrolled power-iteration CTEs (the BPE-trainer idiom): u_k = G·v_{k-1}
    exactly in HUGEINT, then max-normalize back to PC_SCALE fixed point
    through ONE double expression — (u/m)·S floored — identical in both
    engines."""
    # r14: every CTE in the recurrence is MATERIALIZED — DuckDB 1.0
    # inlines plain CTEs, and each v_k references u_k twice (via m_k),
    # so the inlined expansion re-evaluated the Gram join ~2^ITERS times
    # (21-29 s for a 64×64 recurrence).  Pure planner hint: results are
    # bit-identical.
    parts = [
        f"""e AS MATERIALIZED (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )""",
        """g AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS gij
      FROM e a JOIN e b ON b.vec_id = a.vec_id
      GROUP BY 1, 2
    )""",
        f"v0 AS MATERIALIZED (SELECT DISTINCT i AS j, CAST({PC_SCALE} AS HUGEINT) AS v FROM e)",
    ]
    for k in range(1, PC_ITERS + 1):
        parts.append(
            f"""u{k} AS MATERIALIZED (
      SELECT g.i, SUM(g.gij * x.v) AS u FROM g JOIN v{k - 1} x ON x.j = g.j GROUP BY 1
    )"""
        )
        parts.append(f"m{k} AS MATERIALIZED (SELECT MAX(ABS(u)) AS m FROM u{k})")
        parts.append(
            f"""v{k} AS MATERIALIZED (
      SELECT u{k}.i AS j,
             CAST(FLOOR((CAST(u AS DOUBLE) / CAST(m{k}.m AS DOUBLE))
                        * CAST({PC_SCALE} AS DOUBLE)) AS HUGEINT) AS v
      FROM u{k} CROSS JOIN m{k}
    )"""
        )
    last = f"v{PC_ITERS}"
    parts.append(
        f"""uf AS (
      SELECT g.i, SUM(g.gij * x.v) AS u FROM g JOIN {last} x ON x.j = g.j GROUP BY 1
    )"""
    )
    parts.append(
        f"""ray AS (
      SELECT SUM(x.v * uf.u) AS num, SUM(x.v * x.v) AS den
      FROM uf JOIN {last} x ON x.j = uf.i
    )"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(x.j - 1 AS BIGINT) AS dim,
           CAST(x.v AS BIGINT) AS pc_fixed,
           CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE) AS eigenvalue
    FROM {last} x CROSS JOIN ray
    """


@query(
    "embedding_top_pc_power_iteration",
    oracle=_top_pc_oracle(),
    tags=("similarity", "pipeline", "linear-algebra", "iterative", "pca"),
)
def embedding_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by FIXED-POINT
    power iteration over the exact integer Gram matrix — the first step
    of PCA / whitening / spectral embedding-QA (a corpus whose top PC
    eats most of the variance is collapsed or mis-normalized; the PC
    direction itself is the debias/whitening axis).

    Exactness design: the Gram matrix reuses ``embedding_gram_matrix``'s
    Arrow kernel (batch-local int64 Q'Q partials, DECIMAL(38,0) merge —
    the ONLY corpus-sized stage, map-only + one tiny D² reduce); the
    iteration then runs on the D²-row frame: u = G·v in exact decimal,
    max-normalize back to PC_SCALE fixed point via one floored double
    expression (decimal→double casts are correctly rounded identically
    in both engines), repeat PC_ITERS times, Rayleigh quotient from
    exact integer num/den at the end.  The result is DEFINED as
    "PC_ITERS fixed-point steps from the all-ones start", so both
    engines agree bit-for-bit regardless of spectral gap; the all-ones
    start also pins the sign.  Convergence honesty: the rate is
    (λ2/λ1)^k, and this corpus's spectrum is nearly flat (λ2/λ1 ≈ 0.93
    measured), so six steps land a top-eigenspace MIX whose Rayleigh
    quotient reaches ~0.88·λ1 (``tests/test_top_pc.py`` pins bit-exact
    recurrence equality + the variational bounds); a production run on a
    corpus with an actual dominant direction converges in the same six,
    and more steps cost one broadcast join over a D²-row frame each —
    iterate until the Rayleigh delta is small.  Magnitudes: |G_ij| ≤ N·(100·QUANT)² ~
    2e19 (needs decimal/HUGEINT), |u_i| ≤ D·|G|·PC_SCALE ~ 1.3e27,
    Rayleigh num ≤ 8e34 — all < 1e38.

    Scale shape: corpus cost is one map-only Gram pass (batch-count ×
    D(D+1)/2 partial rows through the one shuffle); the iteration state
    is the D×D Gram — CORPUS-INDEPENDENT, like the K×D centroid table
    Lloyd training collects — so r13 moved the 6 fixed-point steps onto
    the driver over the collected Gram (bounded collect: D(D+1)/2 =
    2,080 rows at D=64, annotated below).  The old form ran each step as
    Spark jobs over the D²-row frame with an eager localCheckpoint per
    iteration — ~15 driver-scheduled jobs of 4,096-row work, pure
    scheduling overhead at any scale (guide §1.2: the distributed
    algorithm should distribute the corpus pass, not the bounded-state
    recurrence).  Python ints are exact like DECIMAL(38,0), and the one
    float step per iteration (floor((u/m)·PC_SCALE)) uses the same
    correctly-rounded int→double conversions both engines use, so the
    recurrence stays bit-identical — pinned by tests/test_top_pc.py's
    independent simulation and the DuckDB oracle."""
    e = t(spark, sf_dir, "embeddings").select("embedding")

    def gram_batches(batches):
        # closure (NOT module-level): pickles by value for bare sessions
        import numpy as np
        import pandas as pd

        q = float(QUANT)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy())
            Q = np.floor(V.astype("float64") * q).astype("int64")
            G = Q.T @ Q
            ii, jj = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {"dim_i": ii + 1, "dim_j": jj + 1, "partial": G[ii, jj]}
            )

    partials = e.mapInPandas(gram_batches, "dim_i long, dim_j long, partial long")
    tri = partials.groupBy("dim_i", "dim_j").agg(
        F.sum(F.col("partial").cast("decimal(38,0)")).alias("gij")
    )
    # bounded driver collect: D(D+1)/2 rows (2,080 at D=64) — the Gram is
    # dimensionality²-bounded regardless of corpus size, the same class
    # as the K×D centroid collect in kmeans.train_centroids
    import math

    rows = tri.collect()
    n = max((int(r["dim_j"]) for r in rows), default=0)
    G: list[list[int]] = [[0] * n for _ in range(n)]
    for r in rows:
        i, j, g = int(r["dim_i"]) - 1, int(r["dim_j"]) - 1, int(r["gij"])
        G[i][j] = g
        G[j][i] = g
    # exact-integer recurrence (Python ints ≡ DECIMAL(38,0)); the single
    # float step per iteration uses the same correctly-rounded
    # int→double conversions Spark's decimal→double casts perform
    v = [int(PC_SCALE)] * n
    for _ in range(PC_ITERS):
        u = [sum(G[i][j] * v[j] for j in range(n)) for i in range(n)]
        m = max(abs(x) for x in u)
        v = [
            int(math.floor((float(x) / float(m)) * float(PC_SCALE))) for x in u
        ]
    uf = [sum(G[i][j] * v[j] for j in range(n)) for i in range(n)]
    num = sum(a * b for a, b in zip(v, uf))
    den = sum(a * a for a in v)
    eig = float(num) / float(den)
    return spark.createDataFrame(
        [(k, int(v[k]), eig) for k in range(n)],
        "dim long, pc_fixed long, eigenvalue double",
    )


@query(
    "embedding_norm_histogram",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v
      FROM embeddings
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS nrm2 FROM e GROUP BY vec_id)
    SELECT CAST(LENGTH(bin(nrm2)) AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(nrm2) AS BIGINT) AS min_nrm2,
           CAST(MAX(nrm2) AS BIGINT) AS max_nrm2
    FROM norms GROUP BY 1
    """,
    tags=("similarity", "profile", "histogram", "quality"),
)
def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution on power-of-2 bins — the vector-QA
    profile run before trusting any cosine index: zero/degenerate vectors
    (cosine undefined), un-normalized batches, and dtype-scale mistakes
    all show up as stray norm bins.  Norms are the exact integer
    quantized dot products every similarity operator here already ranks
    with; bins use the exact bit-length trick (see
    ``profile_doc_length_histogram``).  One aggregation per vector + a
    ~40-row rollup."""
    qt = _qtable(spark, sf_dir)
    return (
        qt.groupBy(F.length(F.bin(F.col("nrm2"))).cast("long").alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("nrm2").cast("long").alias("min_nrm2"),
            F.max("nrm2").cast("long").alias("max_nrm2"),
        )
    )


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH {_Q_SQL}
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS min_q,
           CAST(MAX(v) AS BIGINT) AS max_q,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_q,
           (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(v * v) AS DOUBLE)
            - CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)) AS var_q
    FROM e GROUP BY i
    """,
    tags=("similarity", "embedding", "profile", "stats"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding statistics (mean/variance/min/max of the
    quantized components) — the whitening/standardization prep and the
    QA view that catches dead dimensions (zero variance), saturated
    dimensions, and train/serve scale mismatches before any index is
    built; the per-axis complement of ``embedding_norm_histogram`` (row
    norms) and ``embedding_gram_matrix`` (cross-moments).  Sums of
    quantized ints are exact; mean and population variance are
    identically-ordered double expressions over them.  One posexplode +
    one D-bounded aggregation — a single corpus pass."""
    qt = _qtable(spark, sf_dir)
    e = qt.select("vec_id", F.posexplode(F.col("q")).alias("dim", "v"))
    n_d = F.count(F.lit(1)).cast("double")
    s1_d = F.sum("v").cast("double")
    s2_d = F.sum(F.col("v") * F.col("v")).cast("double")
    return e.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v").cast("long").alias("min_q"),
        F.max("v").cast("long").alias("max_q"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_q"),
        ((n_d * s2_d - s1_d * s1_d) / (n_d * F.count(F.lit(1)))).alias("var_q"),
    )


# ---------------------------------------------------------------------------
# mutual k-nearest-neighbor graph (the curation / SemDeDup-style primitive)


@query(
    "similarity_mutual_knn",
    oracle=f"""
    WITH {_Q_SQL},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT vec_a, vec_b,
             CAST(dot AS DOUBLE)
               / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
               AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
    ),
    directed AS (
      SELECT vec_a AS src, vec_b AS dst, cosine FROM cos
      UNION ALL
      SELECT vec_b, vec_a, cosine FROM cos
    ),
    ranked AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
      FROM directed
    )
    SELECT x.src AS vec_a, x.dst AS vec_b, x.cosine AS cosine
    FROM ranked x
    JOIN ranked y ON y.src = x.dst AND y.dst = x.src AND y.rk <= {TOP_K}
    WHERE x.rk <= {TOP_K} AND x.src < x.dst
    """,
    tags=("similarity", "pipeline", "knn", "graph", "curation"),
)
def similarity_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN graph over the embedding corpus: edge (a, b) iff b is
    in a's top-k cosine neighbors AND a is in b's — the symmetric
    neighborhood graph semantic-curation pipelines build before anything
    else (SemDeDup-style cluster pruning, diversity sampling, label
    propagation, manifold/intrinsic-dimension probes all consume this
    frame).  Mutuality is the robustness filter: a hub vector appears in
    thousands of top-k lists, but keeps an edge only to vectors IT also
    ranks — one-directional "everything is near the hub" edges drop out.

    Distributed shape: the same upper-triangle ``block_pair_frame`` as
    the all-pairs cosine, but the Arrow kernel reduces each block pair to
    per-row TOP-K candidates in both directions instead of emitting
    every above-threshold cell — the shuffled candidate frame is
    n·B·k rows (B = block count), never n².  The global rank then runs
    per-src over ≤ B·k candidates, and the mutual join touches n·k
    directed survivors.  Selection is by the TOTAL order
    (cosine DESC, dst ASC) at both levels, so per-block top-k provably
    contains the global top-k (monotone selection under one total
    order).  At IVF scale the same kernel runs per probed cell, bounding
    B by nprobe.

    Determinism: exact quantized-integer dots (< 2^53, exact in the
    kernel's float64 matmul), the shared single-division cosine, and the
    tie-free (cosine DESC, dst) rank — identical in kernel, window, and
    oracle."""
    import numpy as np
    import pandas as pd

    k = TOP_K
    pairs = block_pair_frame(
        _qtable(spark, sf_dir), blocked=cached_blocked_frame(spark, sf_dir)
    )

    def block_topk(batches):
        # per block pair: top-k candidate DSTs per row, BOTH directions
        # (a rows scanning b columns, b rows scanning a columns); the
        # diagonal pair (bi == bj) already contains every within-block
        # directed pair on the a side, so its b side is skipped
        got_any = False
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                mat_a = np.asarray(list(row.vecs_a), dtype=np.float64)
                mat_b = np.asarray(list(row.vecs_b), dtype=np.float64)
                nrm_a = np.sqrt(np.asarray(row.n2s_a, dtype=np.float64))
                nrm_b = np.sqrt(np.asarray(row.n2s_b, dtype=np.float64))
                cos = (mat_a @ mat_b.T) / (nrm_a[:, None] * nrm_b[None, :])
                diagonal = bool(ids_a[0] == ids_b[0]) and len(ids_a) == len(ids_b)
                outs = []
                sides = [(ids_a, ids_b, cos)]
                if not diagonal:
                    sides.append((ids_b, ids_a, cos.T))
                for srcs, dsts, mat in sides:
                    for i in range(len(srcs)):
                        r = mat[i]
                        mask = dsts != srcs[i]
                        cand_dst, cand_cos = dsts[mask], r[mask]
                        if not len(cand_dst):
                            continue
                        # total order (cosine DESC, dst ASC): lexsort keys
                        # are applied last-key-primary
                        order = np.lexsort((cand_dst, -cand_cos))[:k]
                        outs.append(
                            pd.DataFrame(
                                {
                                    "src": np.full(len(order), srcs[i]),
                                    "dst": cand_dst[order],
                                    "cosine": cand_cos[order],
                                }
                            )
                        )
                if outs:
                    got_any = True
                    yield pd.concat(outs, ignore_index=True)
        if not got_any:
            yield pd.DataFrame({"src": [], "dst": [], "cosine": []})

    cands = pairs.mapInPandas(block_topk, "src long, dst long, cosine double")
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    knn = cands.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    x, y = knn.alias("x"), knn.alias("y")
    return (
        x.join(
            y,
            (F.col("y.src") == F.col("x.dst")) & (F.col("y.dst") == F.col("x.src")),
        )
        .filter(F.col("x.src") < F.col("x.dst"))
        .select(
            F.col("x.src").alias("vec_a"),
            F.col("x.dst").alias("vec_b"),
            F.col("x.cosine").alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) reconstruction-error report


@query(
    "embedding_int8_quantization_error",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    stats AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY i),
    enc AS (
      SELECT e.label, e.v, s.mn, s.mx,
             CASE WHEN s.mx > s.mn
                  THEN ((e.v - s.mn) * 255) // (s.mx - s.mn)
                  ELSE 0 END AS c
      FROM e JOIN stats s ON e.i = s.i
    ),
    err AS (
      SELECT label,
             ABS(v - (mn + CASE WHEN mx > mn THEN (c * (mx - mn)) // 255
                                ELSE 0 END)) AS ae
      FROM enc
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT)  AS n_components,
           CAST(SUM(ae) AS BIGINT)   AS sum_abs_err,
           CAST(MAX(ae) AS BIGINT)   AS max_abs_err,
           CAST(SUM(ae) AS DOUBLE) / COUNT(*) AS mean_abs_err
    FROM err GROUP BY label ORDER BY label
    """,
    tags=("similarity", "embedding", "quantization", "compression"),
)
def embedding_int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 (per-dimension affine int8) quantization error report — the QA
    gate before shipping a scalar-quantized vector index.  At 100 TB,
    embeddings dominate storage (64 float32 dims = 256 B/vector); SQ8
    cuts that 4× and is the default FAISS/Lucene codec, but it is only
    safe if reconstruction error is small relative to the inter-vector
    distances — exactly what this report measures, per label so a
    skewed cluster (one label occupying a narrow slice of a wide global
    range) shows up as an outlier row.

    Encoder: per-dimension corpus min/max (the trained SQ8 parameters),
    code ``c = ((v - mn) * 255) DIV (mx - mn)``, reconstruction
    ``mn + (c * (mx - mn)) DIV 255`` — all on the repo's 1e6 fixed-point
    integer domain, so encode, decode, and the absolute-error aggregate
    are EXACT integer arithmetic in both engines (operands are
    non-negative, so Spark's truncating DIV and DuckDB's flooring //
    agree).  Dead dimensions (mx == mn) encode to 0 with zero error.

    Scale shape: one posexplode, one D-bounded min/max aggregation (the
    "training" pass — 64 rows out), a broadcast join back (the params
    frame is KB-sized at any corpus scale), one label-bounded aggregate.
    Two linear passes, no corpus-sized shuffle beyond the dim agg's
    map-side-combined exchange."""
    qt = _qtable(spark, sf_dir)
    e = qt.select("label", F.posexplode("q").alias("i", "v"))
    stats = e.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    # no broadcast HINT: stats is D-bounded (64 rows) but its lineage is
    # the scaling embeddings table, and the broadcast-guard discipline is
    # hints only on intrinsically bounded relations — AQE broadcasts this
    # frame by MEASURED size (the join_bloom_prefilter lesson, r6)
    enc = e.join(stats, "i").withColumn(
        "c",
        F.expr(
            "CASE WHEN mx > mn THEN ((v - mn) * 255) DIV (mx - mn) ELSE 0 END"
        ),
    )
    err = enc.select(
        "label",
        F.expr(
            "ABS(v - (mn + CASE WHEN mx > mn THEN (c * (mx - mn)) DIV 255"
            " ELSE 0 END))"
        ).alias("ae"),
    )
    return (
        err.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("ae").cast("long").alias("sum_abs_err"),
            F.max("ae").cast("long").alias("max_abs_err"),
            (F.sum("ae").cast("double") / F.count(F.lit(1))).alias("mean_abs_err"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall (embedding truncation QA)

#: prefix lengths evaluated against the full 64-dim ranking; 64 rides
#: along as the identity control row (recall must read exactly 1.0)
MRL_PREFIXES = (8, 16, 32, 64)


def _mrl_oracle() -> str:
    blocks = []
    for d in MRL_PREFIXES:
        blocks.append(f"""
    topd_{d} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CAST(SUM(a.v * b.v) AS DOUBLE)
                          / (SQRT(CAST(nda.n2 AS DOUBLE))
                             * SQRT(CAST(ndb.n2 AS DOUBLE))) DESC,
                          b.vec_id) AS rnk
        FROM e a
        JOIN e b ON a.i = b.i AND a.i <= {d}
                AND a.vec_id < {N_QUERY_VECS} AND b.vec_id <> a.vec_id
        JOIN nd_{d} nda ON nda.vec_id = a.vec_id
        JOIN nd_{d} ndb ON ndb.vec_id = b.vec_id
        GROUP BY a.vec_id, b.vec_id, nda.n2, ndb.n2
      ) WHERE rnk <= {TOP_K}
    )""")
    norm_blocks = [
        f"""
    nd_{d} AS (
      SELECT vec_id, SUM(v * v) AS n2 FROM e WHERE i <= {d} GROUP BY vec_id
    )"""
        for d in MRL_PREFIXES
    ]
    selects = [
        f"""
    SELECT CAST({d} AS BIGINT) AS prefix_dims,
           CAST((SELECT COUNT(*) FROM topd_{d} t
                 JOIN topd_64 f ON f.query_id = t.query_id
                               AND f.neighbor_id = t.neighbor_id) AS BIGINT)
             AS matched,
           CAST((SELECT COUNT(*) FROM topd_64) AS BIGINT) AS total,
           CAST((SELECT COUNT(*) FROM topd_{d} t
                 JOIN topd_64 f ON f.query_id = t.query_id
                               AND f.neighbor_id = t.neighbor_id) AS DOUBLE)
             / (SELECT COUNT(*) FROM topd_64) AS recall
    """
        for d in MRL_PREFIXES
    ]
    return (
        "WITH e AS (\n"
        "      SELECT vec_id,\n"
        f"             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v,\n"
        "             generate_subscripts(embedding, 1) AS i\n"
        "      FROM embeddings\n"
        "    ),"
        + ",".join(norm_blocks)
        + ","
        + ",".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY prefix_dims"
    )


@query(
    "embedding_matryoshka_prefix_recall",
    oracle=None,  # patched below (assembled from MRL_PREFIXES)
    tags=("similarity", "embedding", "evaluation", "compression"),
)
def embedding_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation QA — recall@k of top-k rankings computed on
    PREFIX dimensions (8/16/32) against the full 64-dim ranking, plus
    the 64-dim identity control row (recall exactly 1.0 or the harness
    itself is broken).  This is the evaluation a deployment runs before
    truncating MRL-style embeddings for cheap first-stage retrieval:
    SQ8 (`embedding_int8_quantization_error`) shrinks bytes-per-dim,
    truncation shrinks DIMS — this measures what the second lever costs
    in ranking fidelity, per prefix, as one regression-testable frame.
    On THIS corpus (random vectors, not MRL-trained) the curve reads
    0.08/0.08/0.32/1.0 — the report correctly saying truncation is
    UNSAFE here; an actual Matryoshka checkpoint reads ≥0.9 at 16 dims,
    and that difference is exactly what the gate exists to catch.

    Scale shape (r14, guide §1.2/§2.4): ONE broadcast-queries × corpus
    pass computes all four prefix cosines as columns of a single
    candidate frame (prefix dot products are exact integer sums over
    ``slice()`` of the already-quantized vectors), the four per-query
    rank windows share one Exchange (same partition key — Spark stacks
    the Sorts), and the recall rows come from one aggregate over the
    rank columns: a membership test ``rnk_d <= k AND rnk_64 <= k`` IS
    the old per-prefix top-k semi-join, row-locally.  The old shape ran
    a scan+window per prefix and re-evaluated the 64-dim subtree in
    every recall arm — 4 scans and 8 subtree references instead of 1/0.

    Determinism: integer dots, single double division per cosine, rank
    ties broken by neighbor_id — the same total order the other top-k
    operators pin."""
    qt = _qtable(spark, sf_dir)

    def prefix_norms(col, prefix_alias):
        return [
            dot_q(F.slice(col, 1, d), F.slice(col, 1, d)).alias(f"{prefix_alias}{d}")
            for d in MRL_PREFIXES
        ]

    base = qt.select("vec_id", "q")
    queries = base.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        *prefix_norms(F.col("q"), "nq2_"),
    )
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qn"),
        *prefix_norms(F.col("q"), "nn2_"),
    )
    cand = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        *[
            cosine_q(
                dot_q(F.slice(F.col("qq"), 1, d), F.slice(F.col("qn"), 1, d)),
                F.col(f"nq2_{d}"),
                F.col(f"nn2_{d}"),
            ).alias(f"cos{d}")
            for d in MRL_PREFIXES
        ],
    )
    for d in MRL_PREFIXES:
        w = Window.partitionBy("query_id").orderBy(
            F.col(f"cos{d}").desc(), F.col("neighbor_id")
        )
        cand = cand.withColumn(f"rnk{d}", F.row_number().over(w))
    in_full = F.col(f"rnk{MRL_PREFIXES[-1]}") <= TOP_K
    agg = cand.agg(
        *[
            F.sum(((F.col(f"rnk{d}") <= TOP_K) & in_full).cast("int")).alias(f"m{d}")
            for d in MRL_PREFIXES
        ],
        F.sum(in_full.cast("int")).alias("total"),
    )
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("long").alias("prefix_dims"),
                            F.col(f"m{d}").cast("long").alias("matched"),
                            F.col("total").cast("long").alias("total"),
                            (F.col(f"m{d}").cast("double") / F.col("total")).alias(
                                "recall"
                            ),
                        )
                        for d in MRL_PREFIXES
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("prefix_dims")
    )


_Q["embedding_matryoshka_prefix_recall"] = _dc.replace(
    _Q["embedding_matryoshka_prefix_recall"], oracle=_mrl_oracle()
)


# ---------------------------------------------------------------------------
# TwoNN intrinsic-dimension estimate (Facco et al. 2017) — the manifold
# probe the mutual-kNN docstring promises

TWONN_FP = 1_000_000  #: fixed-point scale for the per-vector ln(mu) terms


def _twonn_oracle() -> str:
    return f"""
    WITH {_Q_SQL},
    dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.v * b.v) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    dist AS (
      SELECT d.va, d.vb, na.nrm2 + nb.nrm2 - 2 * d.dot AS d2
      FROM dots d
      JOIN norms na ON na.vec_id = d.va
      JOIN norms nb ON nb.vec_id = d.vb
    ),
    ranked AS (
      SELECT va, d2,
             ROW_NUMBER() OVER (PARTITION BY va ORDER BY d2, vb) AS rn
      FROM dist
    ),
    nn AS (
      SELECT a.va, a.d2 AS d1q, b.d2 AS d2q
      FROM ranked a JOIN ranked b ON a.va = b.va AND a.rn = 1 AND b.rn = 2
    ),
    terms AS (
      SELECT va,
             CASE WHEN d1q > 0 THEN
               CAST(ROUND(0.5 * LN(CAST(d2q AS DOUBLE) / CAST(d1q AS DOUBLE))
                          * {TWONN_FP}, 0) AS BIGINT)
             END AS ln_fp
      FROM nn
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(ln_fp) AS BIGINT) AS n_used,
           CAST(SUM(ln_fp) AS BIGINT) AS sum_ln_fp,
           CAST(CASE WHEN SUM(ln_fp) > 0
                     THEN (COUNT(ln_fp) * {TWONN_FP} * {TWONN_FP})
                          // SUM(ln_fp)
                END AS BIGINT) AS intrinsic_dim_fp
    FROM terms
    """


@query(
    "embedding_intrinsic_dimension_twonn",
    oracle=_twonn_oracle(),
    tags=("similarity", "embedding", "evaluation", "manifold", "pandas-udf"),
)
def embedding_intrinsic_dimension_twonn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TwoNN INTRINSIC-DIMENSION estimate (Facco et al. 2017) — the
    manifold probe the mutual-kNN family exists to feed: for each
    vector, the ratio mu = d2/d1 of its 2nd- to 1st-nearest-neighbor
    Euclidean distance follows a Pareto(ID) law on a manifold of
    dimension ID, so the MLE is ID = n / Σ ln mu.  Embeddings that LOOK
    64-dimensional usually live on a ~10-20-dim manifold — that gap is
    what licenses truncation/quantization (the Matryoshka and SQ8 gates
    above); this corpus's RANDOM vectors read ID ≈ the ambient
    dimension, the probe correctly reporting that no low-dim manifold
    exists and compression must be validated, not assumed.

    Distributed shape: the same upper-triangle block-pair frame as the
    cosine/kNN family, but the Arrow kernel emits per-row TOP-2 by
    exact integer L2² (d² = n2a + n2b − 2·dot — integer arithmetic, so
    neighbor selection is TIE-FREE without any float comparison); the
    global top-2 window runs over ≤ 2·B candidates per vector; the MLE
    reduce is one bounded aggregation.  Vectors whose nearest neighbor
    is an exact duplicate (d1 = 0) are excluded and counted — ln mu is
    undefined there, and the count is the dedup signal.

    Determinism: integer d² selection; ONE libm ln per vector,
    immediately quantized to TWONN_FP (the zipf/heaps discipline);
    integer sums; the final ID is integer fixed-point division,
    NULL-guarded on a non-positive denominator."""
    import numpy as np
    import pandas as pd

    pairs = block_pair_frame(
        _qtable(spark, sf_dir), blocked=cached_blocked_frame(spark, sf_dir)
    )

    def block_top2(batches):
        got_any = False
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                mat_a = np.asarray(list(row.vecs_a), dtype=np.float64)
                mat_b = np.asarray(list(row.vecs_b), dtype=np.float64)
                n2a = np.asarray(row.n2s_a, dtype=np.float64)
                n2b = np.asarray(row.n2s_b, dtype=np.float64)
                # exact in float64: every term < 2^53
                d2 = n2a[:, None] + n2b[None, :] - 2.0 * (mat_a @ mat_b.T)
                diagonal = bool(ids_a[0] == ids_b[0]) and len(ids_a) == len(ids_b)
                outs = []
                sides = [(ids_a, ids_b, d2)]
                if not diagonal:
                    sides.append((ids_b, ids_a, d2.T))
                for srcs, dsts, mat in sides:
                    for i in range(len(srcs)):
                        r = mat[i]
                        mask = dsts != srcs[i]
                        cand_dst, cand_d2 = dsts[mask], r[mask]
                        if not len(cand_dst):
                            continue
                        order = np.lexsort((cand_dst, cand_d2))[:2]
                        outs.append(
                            pd.DataFrame(
                                {
                                    "src": np.full(len(order), srcs[i]),
                                    "dst": cand_dst[order],
                                    "d2": cand_d2[order].astype(np.int64),
                                }
                            )
                        )
                if outs:
                    got_any = True
                    yield pd.concat(outs, ignore_index=True)
        if not got_any:
            yield pd.DataFrame(
                {
                    "src": pd.Series(dtype="int64"),
                    "dst": pd.Series(dtype="int64"),
                    "d2": pd.Series(dtype="int64"),
                }
            )

    cands = pairs.mapInPandas(block_top2, "src long, dst long, d2 long")
    w = Window.partitionBy("src").orderBy("d2", "dst")
    nn = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("src")
        .pivot("rn", [1, 2])
        .agg(F.first("d2"))
        .select(F.col("src"), F.col("1").alias("d1q"), F.col("2").alias("d2q"))
    )
    ln_fp = F.when(
        F.col("d1q") > 0,
        F.round(
            F.lit(0.5)
            * F.log(F.col("d2q").cast("double") / F.col("d1q").cast("double"))
            * TWONN_FP,
            0,
        ).cast("long"),
    )
    terms = nn.select(ln_fp.alias("ln_fp"))
    fp = TWONN_FP
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.count("ln_fp").cast("long").alias("n_used"),
        F.sum("ln_fp").cast("long").alias("sum_ln_fp"),
        F.when(
            F.sum("ln_fp") > 0,
            F.expr(f"CAST((count(ln_fp) * {fp} * {fp}) DIV sum(ln_fp) AS BIGINT)"),
        )
        .cast("long")
        .alias("intrinsic_dim_fp"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (Gonzalez farthest-point sampling) — diversity-
# based data SELECTION: the seed set a curation pipeline picks when it wants
# maximum coverage of embedding space with a fixed budget (dataset-distill /
# active-learning init / eval-set seeding).  2-approximation to the optimal
# k-center cover; the selection-distance sequence is the coverage-radius
# curve.

KCENTER_T = 8  #: selection budget (small so the oracle unrolls exactly)


def _dist2_to(center: list[int]) -> Column:
    """Exact integer squared distance from the quantized column ``q`` to a
    broadcast-literal center (T×D driver-side state, bounded)."""
    c = F.array(*[F.lit(int(v)) for v in center])
    return F.aggregate(
        F.zip_with(F.col("q"), c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _kcenter_oracle(t_picks: int = KCENTER_T) -> str:
    """DuckDB twin: the same greedy recurrence unrolled — pick i is the
    argmax of the running min-dist² (tie: lowest vec_id); m{i} folds the
    new center's distances in with LEAST.

    The center side is PRE-FILTERED in its own derived table (64 rows)
    before the dim join.  The original shape — ``JOIN q b ON b.dim =
    a.dim AND b.vec_id = (SELECT ...)`` — left DuckDB planning the
    scalar-subquery predicate as a post-join filter on a dim-only join
    (n²·D intermediate): at sf0.1 the old oracle ran 383 s and died
    with an allocation failure in the r11 bare sweep; this form runs
    the same 8 rounds in 2 s under a 6 GB cap, with hash-identical
    results at sf0.01 (verified side-by-side at landing)."""
    parts = [
        f"""q AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS qv
      FROM embeddings
    )""",
        "p0 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id FROM embeddings)",
        """m1 AS MATERIALIZED (
      SELECT a.vec_id, SUM((a.qv - c.qv) * (a.qv - c.qv)) AS md2
      FROM q a JOIN (
        SELECT dim, qv FROM q WHERE vec_id = (SELECT vec_id FROM p0)) c
        ON c.dim = a.dim
      GROUP BY a.vec_id
    )""",
    ]
    for i in range(1, t_picks):
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT vec_id, md2 FROM m{i} ORDER BY md2 DESC, vec_id LIMIT 1
    )"""
        )
        if i < t_picks - 1:
            parts.append(
                f"""m{i + 1} AS MATERIALIZED (
      SELECT m.vec_id, LEAST(m.md2, d.d2) AS md2
      FROM m{i} m JOIN (
        SELECT a.vec_id, SUM((a.qv - c.qv) * (a.qv - c.qv)) AS d2
        FROM q a JOIN (
          SELECT dim, qv FROM q WHERE vec_id = (SELECT vec_id FROM p{i})) c
          ON c.dim = a.dim
        GROUP BY a.vec_id) d ON d.vec_id = m.vec_id
    )"""
            )
    ctes = ",\n    ".join(parts)
    selects = [
        "SELECT CAST(0 AS BIGINT) AS pick_order,"
        " CAST((SELECT vec_id FROM p0) AS BIGINT) AS vec_id,"
        " CAST(0 AS BIGINT) AS dist2"
    ]
    for i in range(1, t_picks):
        selects.append(
            f"SELECT CAST({i} AS BIGINT), CAST(vec_id AS BIGINT),"
            f" CAST(md2 AS BIGINT) FROM p{i}"
        )
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH {ctes}
    {union}
    """


@query(
    "embedding_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("similarity", "dataset", "sampling", "iterative", "pipeline"),
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez farthest-point sampling): seed =
    the lowest vec_id, then KCENTER_T-1 rounds of "pick the vector whose
    min squared distance to the selected set is LARGEST" (tie: lowest
    vec_id).  Output = (pick_order, vec_id, dist2) — dist2 is the pick's
    min-dist² to the prior picks at selection time, i.e. the
    coverage-radius curve (non-increasing after pick 1; pinned in
    tests/test_new_ops_r10.py).  This is the diversity-selection
    primitive of a curation pipeline — dataset distillation seeds,
    active-learning init, eval-set spread — and a 2-approximation to
    the optimal k-center cover.

    Scale shape: T passes, each a map-only broadcast-literal distance
    fold (one new center per round, T×D ints of driver state) plus a
    1-row scalar argmax reduce; the running-min frame is re-materialized
    every 2 rounds (lineage cut), so plan depth is bounded at two
    least()/select layers.  NO shuffle at any round and nothing
    corpus-sized ever leaves the executors — at 100 TB this is T linear
    scans, the textbook Gonzalez bound.  All arithmetic is exact integer
    (quantized dims, integer squared distances), so both engines agree
    bit-for-bit including ties.

    Degenerate corpora: with fewer than KCENTER_T DISTINCT quantized
    vectors, every remaining md2 is 0 once the distinct set is
    exhausted and the argmax (md2 desc, id asc) re-picks the lowest id
    — BOTH engines do, so hash parity holds, but picks then repeat; the
    distinct-picks guarantee applies only when the corpus has ≥ T
    distinct vectors (true at every test SF; pinned in
    tests/test_new_ops_r10.py).

    Reference basis: extends the §2.8 extension surface (no selection /
    sampling plane in the reference; aggregation machinery is
    aggregate/mod.rs:30-235)."""
    # r14: the cut quantized frame is the session-cached substrate shared
    # with the IVF family (cached_cut_qtable) — the per-call eager
    # spread+checkpoint job disappears; the T sequential argmax reduces
    # (driver-round latency, inherent to Gonzalez) are what remains.
    qt = cached_cut_qtable(spark, sf_dir).select("vec_id", "q")
    # seed + its vector in ONE 1-row reduce: min(struct) carries q along
    s = qt.agg(F.min(F.struct("vec_id", "q"))).collect()[0][0]
    seed, center = int(s["vec_id"]), list(s["q"])
    picks = [(0, seed, 0)]
    md = qt.select("vec_id", "q", _dist2_to(center).alias("md2"))
    for i in range(1, KCENTER_T):
        if i % 4 == 0:
            # re-materialize every 4 rounds: each uncut round only stacks
            # one least()/select layer (T×D literal ops per row — cheap at
            # any scale), so the cut exists to bound plan depth, not to
            # avoid recompute; every-2 spent an extra eager checkpoint job
            # per 4 rounds for no measured benefit (r13, guide §1.2)
            md = cut_lineage(md)
        # argmax + its vector in ONE 1-row reduce: (md2 desc, vec_id asc)
        # decides before q ever compares (nid is unique per row)
        top = md.agg(
            F.max(F.struct(F.col("md2"), (-F.col("vec_id")).alias("nid"), "q"))
        ).collect()[0][0]
        pid, pd2, center = int(-top["nid"]), int(top["md2"]), list(top["q"])
        picks.append((i, pid, pd2))
        md = md.select(
            "vec_id", "q", F.least(F.col("md2"), _dist2_to(center)).alias("md2")
        )
    return spark.createDataFrame(
        picks, "pick_order long, vec_id long, dist2 long"
    )


# ---------------------------------------------------------------------------
# graph-based ANN (the NSW/HNSW family shape): beam search over a bounded-
# degree neighbor graph.  Completes the ANN line-up — brute force (exact),
# LSH buckets (hash), IVF/PQ (quantizer cells), and now a NAVIGABLE GRAPH:
# serving cost is hops × beam × degree vertex scorings, independent of
# corpus size, and the graph build is bucket-bounded (never all-pairs).

#: sign bits per hash family (two families over disjoint leading dims —
#: single-family graphs are 2^bits disconnected cliques; the second
#: family's edges bridge buckets, the multi-hash-table LSH idea applied
#: to graph construction)
GRAPH_SIGN_BITS = 4
#: out-degree kept per node PER FAMILY (top-E by exact cosine in-bucket)
GRAPH_DEGREE = 4
#: beam width B (>= TOP_K so the final beam can hold a full result set)
GRAPH_BEAM = 8


def _g_bucket_spark(col: Column, offset: int) -> Column:
    """4-bit sign bucket of dims offset+1..offset+4 (raw float sign —
    same convention as the LSH bucketer above)."""
    b = F.lit(0)
    for i in range(GRAPH_SIGN_BITS):
        b = b + F.when(
            F.element_at(col, offset + i + 1) >= 0, F.lit(1 << (GRAPH_SIGN_BITS - 1 - i))
        ).otherwise(F.lit(0))
    return b.cast("int")


def _g_bucket_sql(col: str, offset: int) -> str:
    terms = " + ".join(
        f"CASE WHEN {col}[{offset + i + 1}] >= 0 THEN {1 << (GRAPH_SIGN_BITS - 1 - i)} ELSE 0 END"
        for i in range(GRAPH_SIGN_BITS)
    )
    return f"({terms})"


def _g_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, b0, b1): both hash families' buckets per vector."""
    return emb.select(
        "vec_id",
        _g_bucket_spark(F.col("embedding"), 0).alias("b0"),
        _g_bucket_spark(F.col("embedding"), GRAPH_SIGN_BITS).alias("b1"),
    )


def _g_kept_edges(corpus: DataFrame, payload: DataFrame) -> DataFrame:
    """Per-family in-bucket top-``GRAPH_DEGREE`` directed edges by exact
    cosine — the navigable graph's build step, shared by the operator
    and the degree-bound test (so the test cannot drift from the
    shipped construction).  Columns: fam, src, dst, cosine, rn."""
    a = corpus.select(F.col("vec_id").alias("src"), "b0", "b1")
    b = corpus.select(
        F.col("vec_id").alias("dst"),
        F.col("b0").alias("c0"),
        F.col("b1").alias("c1"),
    )
    fpairs = (
        a.join(b, (F.col("b0") == F.col("c0")) & (F.col("src") != F.col("dst")))
        .select(F.lit(0).alias("fam"), "src", "dst")
        .unionAll(
            a.join(b, (F.col("b1") == F.col("c1")) & (F.col("src") != F.col("dst")))
            .select(F.lit(1).alias("fam"), "src", "dst")
        )
    )
    pa = payload.select(
        F.col("vec_id").alias("src"), F.col("q").alias("qa"), F.col("nrm2").alias("na2")
    )
    pb = payload.select(
        F.col("vec_id").alias("dst"), F.col("q").alias("qb"), F.col("nrm2").alias("nb2")
    )
    fscored = (
        fpairs.join(pa, "src")
        .join(pb, "dst")
        .select(
            "fam",
            "src",
            "dst",
            cosine_q(
                dot_q(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2")
            ).alias("cosine"),
        )
    )
    wfam = Window.partitionBy("fam", "src").orderBy(
        F.col("cosine").desc(), F.col("dst")
    )
    return fscored.withColumn("rn", F.row_number().over(wfam)).filter(
        F.col("rn") <= GRAPH_DEGREE
    )


def _graph_ann_oracle() -> str:
    """Unrolled 2-hop beam search as CTEs (the retrieval_mmr_diversify
    precedent: sequential algorithm, finite steps, one CTE per step)."""

    def scored(pairs: str, a: str, b: str) -> str:
        # exact-integer dot + single double division, per (a, b) pair set
        return f"""(
      SELECT p.{a}, p.{b},
             CAST(SUM(ea.v * eb.v) AS DOUBLE)
               / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE))) AS cosine
      FROM {pairs} p
      JOIN e ea ON ea.vec_id = p.{a}
      JOIN e eb ON eb.vec_id = p.{b} AND eb.i = ea.i
      JOIN norms na ON na.vec_id = p.{a}
      JOIN norms nb ON nb.vec_id = p.{b}
      GROUP BY p.{a}, p.{b}, na.nrm2, nb.nrm2
    )"""

    E, B, K = GRAPH_DEGREE, GRAPH_BEAM, TOP_K
    return f"""
    WITH {_Q_SQL},
    buck AS (
      SELECT vec_id,
             {_g_bucket_sql('embedding', 0)} AS b0,
             {_g_bucket_sql('embedding', GRAPH_SIGN_BITS)} AS b1
      FROM embeddings
    ),
    corpus AS (SELECT vec_id, b0, b1 FROM buck WHERE vec_id >= {N_QUERY_VECS}),
    qs AS (SELECT vec_id AS query_id, b0, b1 FROM buck WHERE vec_id < {N_QUERY_VECS}),
    fpairs AS (
      SELECT 0 AS fam, a.vec_id AS src, b.vec_id AS dst
      FROM corpus a JOIN corpus b ON a.b0 = b.b0 AND a.vec_id <> b.vec_id
      UNION ALL
      SELECT 1, a.vec_id, b.vec_id
      FROM corpus a JOIN corpus b ON a.b1 = b.b1 AND a.vec_id <> b.vec_id
    ),
    upairs AS (SELECT DISTINCT src, dst FROM fpairs),
    udots AS MATERIALIZED {scored('upairs', 'src', 'dst')},
    ranked AS (
      SELECT f.fam, f.src, f.dst, d.cosine,
             ROW_NUMBER() OVER (PARTITION BY f.fam, f.src
                                ORDER BY d.cosine DESC, f.dst) AS rn
      FROM fpairs f JOIN udots d ON d.src = f.src AND d.dst = f.dst
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ranked WHERE rn <= {E}
        UNION ALL
        SELECT dst, src FROM ranked WHERE rn <= {E}
      )
    ),
    qcand AS (
      SELECT q.query_id, c.vec_id
      FROM qs q JOIN corpus c ON c.b0 = q.b0 OR c.b1 = q.b1
    ),
    qcdots AS {scored('qcand', 'query_id', 'vec_id')},
    qbest AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM qcdots
      ) WHERE rn = 1
    ),
    entries AS MATERIALIZED (
      SELECT DISTINCT query_id, vec_id FROM (
        SELECT query_id, vec_id FROM qbest
        UNION ALL
        SELECT q.query_id, (SELECT MIN(vec_id) FROM corpus) FROM qs q
      )
    ),
    v1 AS MATERIALIZED (
      SELECT DISTINCT query_id, vec_id FROM (
        SELECT query_id, vec_id FROM entries
        UNION ALL
        SELECT en.query_id, ed.dst FROM entries en JOIN edges ed ON ed.src = en.vec_id
      )
    ),
    s1 AS {scored('v1', 'query_id', 'vec_id')},
    beam1 AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM s1
      ) WHERE rn <= {B}
    ),
    v2 AS MATERIALIZED (
      SELECT DISTINCT query_id, vec_id FROM (
        SELECT query_id, vec_id FROM beam1
        UNION ALL
        SELECT b.query_id, ed.dst FROM beam1 b JOIN edges ed ON ed.src = b.vec_id
      )
    ),
    s2 AS {scored('v2', 'query_id', 'vec_id')},
    gtopk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM s2
      ) WHERE rn <= {K}
    ),
    allpairs AS (
      SELECT q.query_id, c.vec_id FROM qs q CROSS JOIN corpus c
    ),
    alldots AS {scored('allpairs', 'query_id', 'vec_id')},
    etopk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM alldots
      ) WHERE rn <= {K}
    ),
    visited AS (
      SELECT query_id, COUNT(DISTINCT vec_id) AS n_visited FROM (
        SELECT query_id, vec_id FROM v1
        UNION ALL SELECT query_id, vec_id FROM v2
      ) GROUP BY query_id
    ),
    hits AS (
      SELECT g.query_id, COUNT(*) AS h
      FROM gtopk g JOIN etopk x ON x.query_id = g.query_id AND x.vec_id = g.vec_id
      GROUP BY g.query_id
    )
    SELECT q.query_id,
           CAST(v.n_visited AS BIGINT) AS n_visited,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
           CAST(COALESCE(h.h, 0) AS DOUBLE) / {K} AS recall_at_k
    FROM qs q
    JOIN visited v ON v.query_id = q.query_id
    LEFT JOIN hits h ON h.query_id = q.query_id
    """


@query(
    "similarity_graph_ann_beam",
    oracle=_graph_ann_oracle(),
    tags=("similarity", "ann", "graph", "beam", "pipeline"),
)
def similarity_graph_ann_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN (the NSW/HNSW family): 2-hop BEAM SEARCH over a
    bounded-degree navigable neighbor graph, scored only on VISITED
    vertices — the serving shape whose per-query cost is
    hops × beam × degree vertex scorings, independent of corpus size.

    Build: two 4-bit sign-hash families over disjoint leading dims; per
    node and family, keep the top-``GRAPH_DEGREE`` in-bucket neighbors
    by exact cosine, then symmetrize.  One family alone yields 2^4
    disconnected cliques; the second family's edges bridge buckets (the
    multi-hash-table LSH idea applied to graph construction), giving
    hop-2 reach outside the entry bucket.  Build cost is bucket-bounded
    (Σ n_b² per family), never corpus all-pairs; at production scale
    ``GRAPH_SIGN_BITS`` grows with log₂ n (the grow-K IVF discipline) so
    per-bucket populations — and per-node build cost — stay constant.

    Serve: entries = the best in-bucket vertex per query (an IVF-style
    probe over matching buckets) plus the deterministic global anchor
    (min vec_id); expand neighbors, keep a beam of ``GRAPH_BEAM`` by
    exact score, expand again, report top-``TOP_K`` of the final
    scored set.  All candidate scoring joins payloads ON DEMAND — no
    full-corpus score pass in the serving path.  The exact top-k arm
    (one brute-force pass for 5 queries) is the CALIBRATION
    measurement: ``recall_at_k`` prices the graph's miss rate, per
    query, against ground truth (same contract shape as the IVF
    recall ship-gates).  Ties break on vec_id everywhere; cosines are
    single double divisions of exact integer dots, so both engines
    rank identically.

    Reference basis: extends the reference's capability surface (no
    vector plane at all in the reference); the ANN siblings here are
    similarity_lsh_bucketed / similarity_ivf_* / similarity_pq_adc_*."""
    E, B, K = GRAPH_DEGREE, GRAPH_BEAM, TOP_K
    emb = t(spark, sf_dir, "embeddings")
    qt = _qtable(spark, sf_dir)
    buck = _g_buckets(emb)
    payload = qt.select("vec_id", "q", "nrm2")
    corpus = buck.filter(F.col("vec_id") >= N_QUERY_VECS)
    queries = buck.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "b0", "b1"
    )
    qpay = payload.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm2").alias("nq2"),
    )

    def score(cands: DataFrame) -> DataFrame:
        """(query_id, vec_id) -> + cosine, payloads joined on demand."""
        return (
            cands.join(payload, "vec_id")
            .join(F.broadcast(qpay), "query_id")
            .select(
                "query_id",
                "vec_id",
                cosine_q(
                    dot_q(F.col("qq"), F.col("q")), F.col("nq2"), F.col("nrm2")
                ).alias("cosine"),
            )
        )

    # --- build: per-family in-bucket top-E by exact cosine, symmetrized
    kept = _g_kept_edges(corpus, payload)
    edges = cut_lineage(
        kept.select("src", "dst")
        .unionAll(kept.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )

    # --- entries: best in-bucket vertex (IVF-style probe) + global anchor
    qcand = queries.join(
        corpus,
        (corpus.b0 == queries.b0) | (corpus.b1 == queries.b1),
    ).select("query_id", "vec_id")
    wq = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    qbest = (
        score(qcand.distinct())
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("query_id", "vec_id")
    )
    anchor = queries.select("query_id").crossJoin(
        F.broadcast(corpus.agg(F.min("vec_id").alias("vec_id")))
    )
    entries = cut_lineage(qbest.unionAll(anchor).distinct())

    # --- 2 beam-search hops (expand -> score visited only -> prune)
    # each beam frame is query-bounded (<= nq x (B*E + B) rows) but its
    # lineage re-counts the bucket probe per consumer in the static plan
    # - cut at every hop so downstream consumers read the materialized
    # few-row frame (the pagerank/triangle idiom)
    v1 = cut_lineage(
        entries.unionAll(
            entries.join(edges, entries.vec_id == edges.src)
            .select("query_id", F.col("dst").alias("vec_id"))
        )
        .distinct()
    )
    beam1 = cut_lineage(
        score(v1)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= B)
        .select("query_id", "vec_id")
    )
    v2 = cut_lineage(
        beam1.unionAll(
            beam1.join(edges, beam1.vec_id == edges.src)
            .select("query_id", F.col("dst").alias("vec_id"))
        )
        .distinct()
    )
    gtopk = (
        score(v2)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= K)
        .select("query_id", "vec_id")
    )

    # --- calibration arm: exact top-k (5 queries x corpus, one pass)
    etopk = (
        score(queries.select("query_id").crossJoin(corpus.select("vec_id")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= K)
        .select("query_id", "vec_id")
    )
    visited = (
        v1.unionAll(v2)
        .distinct()
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_visited"))
    )
    hits = (
        gtopk.join(etopk, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        queries.select("query_id")
        .join(visited, "query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_visited",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hits"),
            (F.coalesce(F.col("h"), F.lit(0)).cast("double") / F.lit(float(K))).alias(
                "recall_at_k"
            ),
        )
    )
