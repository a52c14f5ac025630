"""Hybrid retrieval: reciprocal-rank fusion of lexical and dense search.

Production search is rarely one retriever: BM25 (sparse/lexical, exact
token match) and embedding cosine (dense/semantic) fail differently, and
the standard zero-tuning combiner is RECIPROCAL-RANK FUSION
(Cormack/Clarke/Buettcher, SIGIR'09): score(d) = Σ_lists 1/(k + rank_d),
k=60.  Rank-based fusion needs no score calibration between lists —
exactly why it's the default in hybrid vector+keyword search engines.

The corpus links the two modalities by construction: ``embeddings.vec_id``
is aligned 1:1 with ``documents.doc_id`` (same 0-based key space), so the
BM25 list for query doc q and the cosine list for query vec q rank the
same entity space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import QUERIES, cut_lineage, query, t

# importing for registration side effects AND to compose their oracle SQL;
# these imports also guarantee registry order (text/similarity register
# before this module's oracle string is built)
from . import similarity as _similarity  # noqa: F401
from . import text as _text  # noqa: F401

RRF_K = 60  # the SIGIR'09 constant
RRF_FP = 1_000_000_000  # fixed-point scale for the fused score
FUSED_TOP_K = 5


def _fusion_oracle() -> str:
    lex = QUERIES["text_bm25_topk"].oracle
    den = QUERIES["similarity_topk_bruteforce"].oracle
    return f"""
    SELECT query_id, neighbor_id, lex_rank, dense_rank, rrf_fp,
           CAST(fused_rnk AS BIGINT) AS fused_rnk
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_fp DESC, neighbor_id) AS fused_rnk
      FROM (
        SELECT COALESCE(lex.query_id, den.query_id) AS query_id,
               COALESCE(lex.neighbor_id, den.neighbor_id) AS neighbor_id,
               CAST(lex.rnk AS BIGINT) AS lex_rank,
               CAST(den.rnk AS BIGINT) AS dense_rank,
               CAST(FLOOR({RRF_FP} * (
                 COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + lex.rnk), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + den.rnk), 0)
               )) AS BIGINT) AS rrf_fp
        FROM ({lex}) lex
        FULL OUTER JOIN ({den}) den
          ON lex.query_id = den.query_id AND lex.neighbor_id = den.neighbor_id
      )
    )
    WHERE fused_rnk <= {FUSED_TOP_K}
    """


@query(
    "retrieval_rrf_fusion",
    oracle=_fusion_oracle,
    tags=("retrieval", "hybrid", "rrf", "pipeline", "topk"),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: the BM25 lexical top-k and the brute-force cosine
    dense top-k for the SAME five query entities, fused by reciprocal
    rank — the composition that makes the sparse and dense retrieval
    families one system.

    Determinism: ranks are exact BIGINTs from both source operators, so
    the fused score is two reciprocal terms added in one fixed IEEE
    expression, floored to fixed-point before ranking; ties break on
    neighbor_id.  Scale shape: fusion costs a (queries × top-k)-bounded
    full outer join over two frames that are already tiny — ALL corpus
    scale lives inside the two source operators, each already
    probed/benched on its own (BM25's inverted-index probe, the
    broadcast-query cosine scan)."""
    lex = QUERIES["text_bm25_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rnk").alias("lex_rank")
    )
    den = QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rnk").alias("dense_rank")
    )
    fused = lex.join(den, ["query_id", "neighbor_id"], "full_outer")
    rrf = F.floor(
        F.lit(RRF_FP)
        * (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
            )
        )
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_fp").desc(), F.col("neighbor_id")
    )
    return (
        fused.select(
            "query_id",
            "neighbor_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            rrf.alias("rrf_fp"),
        )
        .withColumn("fused_rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rnk") <= FUSED_TOP_K)
    )


# ---------------------------------------------------------------------------
# retrieval quality evaluation: MRR / NDCG@k / precision@k

EVAL_FP = 1_000_000_000  #: fixed-point scale for reciprocal-rank / DCG gains


def _eval_oracle() -> str:
    from .text import BM25_N_QUERY_DOCS, BM25_TOP_K

    lex = QUERIES["text_bm25_topk"].oracle
    gain = f"CAST(FLOOR({EVAL_FP} / ROUND(LOG2(CAST({{r}} + 1 AS DOUBLE)), 9)) AS BIGINT)"
    return f"""
    WITH lex AS ({lex}),
    qsrc AS (SELECT doc_id, lang FROM documents),
    scount AS (SELECT lang, COUNT(*) AS sc FROM documents GROUP BY lang),
    labeled AS (
      SELECT l.query_id, l.rnk,
             CASE WHEN nq.lang = ns.lang THEN 1 ELSE 0 END AS rel
      FROM lex l
      JOIN qsrc nq ON nq.doc_id = l.query_id
      JOIN qsrc ns ON ns.doc_id = l.neighbor_id
    ),
    per AS (
      SELECT query_id,
             CAST(COUNT(*) AS BIGINT) AS n_retrieved,
             CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
             CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT) AS first_rel_rank,
             CAST(SUM(CASE WHEN rel = 1 THEN {gain.format(r="rnk")} ELSE 0 END)
                  AS BIGINT) AS dcg_fp
      FROM labeled GROUP BY query_id
    ),
    tot AS (
      SELECT q.doc_id AS query_id, s.sc - 1 AS n_rel_total
      FROM qsrc q JOIN scount s ON s.lang = q.lang
      WHERE q.doc_id < {BM25_N_QUERY_DOCS}
    ),
    ranks AS (SELECT UNNEST(range(1, {BM25_TOP_K} + 1)) AS i),
    ideal AS (
      SELECT tot.query_id,
             CAST(SUM({gain.format(r="i")}) AS BIGINT) AS idcg_fp
      FROM tot CROSS JOIN ranks
      WHERE ranks.i <= LEAST(tot.n_rel_total, {BM25_TOP_K})
      GROUP BY tot.query_id
    )
    SELECT per.query_id, per.n_retrieved, per.n_rel_topk, per.first_rel_rank,
           COALESCE(CAST(FLOOR({EVAL_FP} / CAST(per.first_rel_rank AS DOUBLE))
                         AS BIGINT), 0) AS rr_fp,
           per.dcg_fp, ideal.idcg_fp,
           CAST(per.dcg_fp AS DOUBLE) / ideal.idcg_fp AS ndcg_at_k,
           CAST(per.n_rel_topk AS DOUBLE) / per.n_retrieved AS precision_at_k
    FROM per JOIN ideal ON ideal.query_id = per.query_id
    """


@query(
    "retrieval_eval_mrr_ndcg",
    oracle=_eval_oracle,
    tags=("retrieval", "evaluation", "mrr", "ndcg", "pipeline"),
)
def retrieval_eval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVALUATION over the BM25 top-k: per query, the
    reciprocal rank of the first relevant hit (MRR's summand), DCG and
    ideal-DCG at k, NDCG@k, and precision@k — the metric layer that
    closes the retrieval loop (build index → retrieve → fuse →
    EVALUATE).  Relevance label: neighbor shares the query document's
    LANGUAGE — the weak-supervision label that is actually meaningful
    for a LEXICAL retriever (shared vocabulary should surface
    same-language content; a cross-language hit is token noise).  A
    same-SOURCE label was tried first and measured VACUOUS on this
    corpus (zero hits in every top-5 — sources don't shape vocabulary
    here); lang yields 3/1/2/0/0 relevant hits across the five queries,
    so every metric is exercised including the no-hit rows.  The ideal DCG
    honors the NDCG@k convention: gains for min(true #relevant, k)
    positions, with the TRUE per-query relevant count computed
    corpus-wide (source size − 1), not from the retrieved page.

    Determinism: ranks are exact ints from the BM25 operator; each gain
    1/log2(rank+1) is one libm log2 ROUNDed to 9 decimals then floored
    to EVAL_FP fixed point (the math_funcs discipline), so DCG/IDCG are
    exact integer sums and NDCG/precision are single divisions of
    identical numbers.  Scale shape: all corpus cost lives in the BM25
    operator (already probed); everything here is (queries × k)-bounded
    plus one source-cardinality aggregate."""
    from .text import BM25_N_QUERY_DOCS, BM25_TOP_K

    d = t(spark, sf_dir, "documents")
    lex = QUERIES["text_bm25_topk"].fn(spark, sf_dir)
    qsrc = d.select("doc_id", "lang")
    scount = d.groupBy("lang").agg(F.count(F.lit(1)).alias("sc"))
    labeled = (
        lex.join(
            qsrc.select(F.col("doc_id").alias("query_id"), F.col("lang").alias("qs")),
            "query_id",
        )
        .join(
            qsrc.select(
                F.col("doc_id").alias("neighbor_id"), F.col("lang").alias("ns")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rnk",
            F.when(F.col("qs") == F.col("ns"), 1).otherwise(0).alias("rel"),
        )
    )

    def gain(r):
        return F.floor(
            F.lit(float(EVAL_FP)) / F.round(F.log2((r + 1).cast("double")), 9)
        ).cast("long")

    per = labeled.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.sum("rel").cast("long").alias("n_rel_topk"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).cast("long").alias(
            "first_rel_rank"
        ),
        F.sum(F.when(F.col("rel") == 1, gain(F.col("rnk"))).otherwise(0))
        .cast("long")
        .alias("dcg_fp"),
    )
    tot = (
        qsrc.filter(F.col("doc_id") < BM25_N_QUERY_DOCS)
        .join(scount, "lang")
        .select(F.col("doc_id").alias("query_id"), (F.col("sc") - 1).alias("n_rel_total"))
    )
    ranks = spark.range(1, BM25_TOP_K + 1).select(F.col("id").alias("i"))
    ideal = (
        tot.crossJoin(F.broadcast(ranks))
        .filter(F.col("i") <= F.least(F.col("n_rel_total"), F.lit(BM25_TOP_K)))
        .groupBy("query_id")
        .agg(F.sum(gain(F.col("i"))).cast("long").alias("idcg_fp"))
    )
    rr = F.coalesce(
        F.floor(F.lit(float(EVAL_FP)) / F.col("first_rel_rank").cast("double")).cast(
            "long"
        ),
        F.lit(0).cast("long"),
    )
    return per.join(ideal, "query_id").select(
        "query_id",
        "n_retrieved",
        "n_rel_topk",
        "first_rel_rank",
        rr.alias("rr_fp"),
        "dcg_fp",
        "idcg_fp",
        (F.col("dcg_fp").cast("double") / F.col("idcg_fp")).alias("ndcg_at_k"),
        (F.col("n_rel_topk").cast("double") / F.col("n_retrieved")).alias(
            "precision_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# MMR result diversification (the greedy re-ranking stage)

#: trade-off weight: score = MMR_LAMBDA·relevance − (1−λ)·max-sim-to-picked.
#: Both engines use the LITERAL doubles 0.7 / 0.3 — never a computed
#: ``1 − 0.7`` (which is 0.30000000000000004 in IEEE and would diverge).
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    from .similarity import _Q_SQL
    from .text import BM25_TOP_K

    lex = QUERIES["text_bm25_topk"].oracle
    steps = []
    picks = []
    for i in range(1, BM25_TOP_K + 1):
        prev = f"sel{i - 1}"
        steps.append(f"""
    pick{i} AS (
      SELECT query_id, d, score FROM (
        SELECT query_id, d, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, d) AS rn
        FROM (
          SELECT c.query_id, c.d,
                 CAST(0.7 AS DOUBLE) * c.rel_norm
                   - CAST(0.3 AS DOUBLE)
                     * COALESCE(MAX(s.cosine), CAST(0 AS DOUBLE)) AS score
          FROM rel c
          LEFT JOIN {prev} p ON p.query_id = c.query_id
          LEFT JOIN sims s ON s.query_id = c.query_id
                          AND s.a = c.d AND s.b = p.d
          WHERE NOT EXISTS (SELECT 1 FROM {prev} q
                            WHERE q.query_id = c.query_id AND q.d = c.d)
          GROUP BY c.query_id, c.d, c.rel_norm
        ) t
      ) r WHERE rn = 1
    ),
    sel{i} AS (
      SELECT query_id, d FROM {prev}
      UNION ALL
      SELECT query_id, d FROM pick{i}
    )""")
        picks.append(
            f"SELECT query_id, CAST({i} AS BIGINT) AS pick_rank,"
            f" d AS neighbor_id, score AS mmr_score FROM pick{i}"
        )
    return f"""
    WITH {_Q_SQL},
    lex AS MATERIALIZED ({lex}),
    rel AS MATERIALIZED (
      SELECT query_id, neighbor_id AS d,
             CAST(bm25_q AS DOUBLE)
               / CAST(MAX(bm25_q) OVER (PARTITION BY query_id) AS DOUBLE)
               AS rel_norm
      FROM lex
    ),
    cdots AS (
      SELECT r1.query_id, r1.d AS a, r2.d AS b, SUM(ea.v * eb.v) AS dot
      FROM rel r1
      JOIN rel r2 ON r2.query_id = r1.query_id AND r2.d <> r1.d
      JOIN e ea ON ea.vec_id = r1.d
      JOIN e eb ON eb.vec_id = r2.d AND eb.i = ea.i
      GROUP BY 1, 2, 3
    ),
    sims AS MATERIALIZED (
      -- MATERIALIZED hints (lex/rel/sims): DuckDB inlines CTEs, and the
      -- unrolled greedy steps reference these frames ~12x — without the
      -- hints the whole spliced BM25 pipeline would re-run per step
      SELECT c.query_id, c.a, c.b,
             CAST(c.dot AS DOUBLE)
               / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
               AS cosine
      FROM cdots c
      JOIN norms na ON na.vec_id = c.a
      JOIN norms nb ON nb.vec_id = c.b
    ),
    sel0 AS (SELECT query_id, d FROM rel WHERE FALSE),
    {','.join(steps)}
    {' UNION ALL '.join(picks)}
    """


@query(
    "retrieval_mmr_diversify",
    oracle=_mmr_oracle,
    tags=("retrieval", "mmr", "diversity", "rerank", "pipeline"),
)
def retrieval_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    SIGIR'98) of the BM25 top-k: greedily pick the candidate maximizing
    λ·rel_norm − (1−λ)·max_cosine_to_already_picked — the diversity
    stage between retrieval and consumption (search results, RAG context
    packing, eval-set selection) that stops five copies of the same
    answer from filling the window.  Relevance is the BM25 score
    normalized per query; redundancy is embedding cosine against the
    picked set (the lexical retriever and the dense redundancy signal
    compose, like ``retrieval_rrf_fusion``).  A candidate with no
    embedding row (the corpus has more documents than vectors at sf0.1)
    FAILS OPEN: it contributes no redundancy signal and competes on
    relevance alone — the production treatment of missing vectors, and
    identical in both engines (NULL sim skipped by max-over-available).
    Non-vacuity measured at sf0.01: ALL five query lists reorder vs
    pure-relevance order.

    Scale shape: every corpus-scale cost lives inside the spliced BM25
    operator and the candidate-id equi-join into the embedding table
    (pushdown-able point lookups).  The MMR stage itself touches
    (queries × k) candidates and (queries × k²) pairwise sims; the
    greedy loop runs per query inside an Arrow ``applyInPandas`` kernel
    — per-query parallel, k² state, the standard reranker deployment
    shape (never a driver loop).

    Determinism: rel_norm and cosine are the established exact-integer/
    single-division doubles; the score is one fixed IEEE expression with
    LITERAL 0.7/0.3 weights (see MMR_LAMBDA note); selection order is
    the total order (score DESC, doc id) at every step, mirrored by the
    oracle's unrolled per-step ROW_NUMBER CTEs."""
    from .similarity import _qtable, cosine_q, dot_q

    lex = QUERIES["text_bm25_topk"].fn(spark, sf_dir)
    wmax = Window.partitionBy("query_id")
    rel = lex.select(
        "query_id",
        F.col("neighbor_id").alias("d"),
        (
            F.col("bm25_q").cast("double")
            / F.max("bm25_q").over(wmax).cast("double")
        ).alias("rel_norm"),
        # (queries × k)-row frame consumed by BOTH pair sides below —
        # cut the lineage so the spliced BM25 pipeline runs ONCE, not
        # once per side (the pagerank/blocked-cosine idiom; same
        # eager/lazy/reliable toggles via queries.cut_lineage)
    ).transform(cut_lineage)
    qt = _qtable(spark, sf_dir)
    # LEFT joins: rel is the spine.  A candidate whose doc id has no
    # embedding row (sf0.1: 5000 docs vs 2000 vectors) still competes —
    # with a NULL sim it contributes no redundancy signal and is scored
    # on relevance alone (fail-open, matching the oracle's
    # MAX-over-available-sims + COALESCE(…, 0) semantics)
    a = rel.join(
        qt.select(
            F.col("vec_id").alias("d"),
            F.col("q").alias("qa"),
            F.col("nrm2").alias("na2"),
        ),
        "d",
        "left",
    )
    b = rel.select("query_id", F.col("d").alias("other")).join(
        qt.select(
            F.col("vec_id").alias("other"),
            F.col("q").alias("qb"),
            F.col("nrm2").alias("nb2"),
        ),
        "other",
        "left",
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("d") != F.col("other"))
        .select(
            "query_id",
            "d",
            "rel_norm",
            "other",
            F.when(
                F.col("qa").isNotNull() & F.col("qb").isNotNull(),
                cosine_q(dot_q(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2")),
            ).alias("sim"),
        )
    )

    def mmr_kernel(pdf):
        import pandas as pd

        qid = int(pdf["query_id"].iloc[0])
        rel_of: dict[int, float] = {}
        sim_of: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples(index=False):
            rel_of[int(r.d)] = float(r.rel_norm)
            # NULL sim (no embedding for one side) arrives as NaN —
            # absent from the dict, so max-over-available skips it,
            # mirroring the oracle's MAX ignoring NULLs
            if r.sim == r.sim:
                sim_of[(int(r.d), int(r.other))] = float(r.sim)
        remaining = sorted(rel_of)
        picked: list[int] = []
        out = {"query_id": [], "pick_rank": [], "neighbor_id": [], "mmr_score": []}
        rank = 0
        while remaining:
            rank += 1
            best_key, best_d, best_score = None, None, None
            for d in remaining:
                vals = [sim_of[(d, s)] for s in picked if (d, s) in sim_of]
                ms = max(vals) if vals else 0.0
                score = 0.7 * rel_of[d] - 0.3 * ms
                key = (-score, d)
                if best_key is None or key < best_key:
                    best_key, best_d, best_score = key, d, score
            picked.append(best_d)
            remaining.remove(best_d)
            out["query_id"].append(qid)
            out["pick_rank"].append(rank)
            out["neighbor_id"].append(best_d)
            out["mmr_score"].append(best_score)
        return pd.DataFrame(out)

    return pairs.groupBy("query_id").applyInPandas(
        mmr_kernel,
        "query_id long, pick_rank long, neighbor_id long, mmr_score double",
    )
