r"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (lang-ID, quality scoring, token counting,
fingerprint dedup) each carry their own oracle-checked query; this module
registers the COMPOSITION — the realistic pre-training data flow

    documents → language-ID → quality filter → exact dedup → per-language
    corpus summary

as one registered query, proving the pieces compose without breaking
determinism.  Every aggregate stays exact: counts and token sums are
integer; ratios are a single double division of integer sums (never a
float sum across rows, whose value depends on reduction order).

All per-doc expressions are built-in functions (JVM, whole-stage codegen);
the only shuffles are the dedup window (keyed by fingerprint) and the
final small per-language aggregation — at 100 TB that is one
hash-partitioned pass over the corpus plus a 5-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import query, t
from .text import (
    LANG_MARKERS,
    bpe_ish_token_count,
    fingerprint,
    predict_lang,
    tokens,
)

#: curation thresholds — tuned to the corpus shape (n_tok spans 10..99
#: with p10 ≈ 21): the length floor drops the bottom ~decile, the
#: punctuation ceiling is a no-op on this synthetic corpus but is the
#: filter a real web corpus needs most.
MIN_TOKENS = 20
MAX_PUNCT_RATIO = 0.1


def scored_filtered(d: DataFrame) -> DataFrame:
    """documents → per-doc curation columns (lang-ID, token/char/punct/BPE
    counts, content fingerprint) → quality filter.  Per-doc maps only —
    this is the expensive stage, and it commutes with batch splitting,
    which is what makes the curation pipeline incrementally mergeable
    (``pipeline_incremental_curation``)."""
    txt = F.col("text")
    toks = tokens(txt)
    scored = d.select(
        "doc_id",
        predict_lang(txt).alias("predicted_lang"),
        F.size(toks).cast("long").alias("n_tok"),
        F.length(txt).cast("long").alias("n_char"),
        F.size(F.regexp_extract_all(txt, F.lit(r"[^\w \t\n\r\f]"), 0)).cast("long").alias("n_punct"),
        bpe_ish_token_count(txt).alias("n_bpe"),
        fingerprint(txt).alias("fp"),
    )
    return scored.filter(
        (F.col("n_tok") >= MIN_TOKENS)
        & ((F.col("n_punct").cast("double") / F.col("n_char")) <= MAX_PUNCT_RATIO)
    )


def curate(d: DataFrame) -> DataFrame:
    """documents → per-doc curation columns → filter → exact-dedup.
    Returns the surviving docs with (doc_id, predicted_lang, n_tok,
    n_char, n_punct, n_bpe)."""
    kept = scored_filtered(d)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )


def _curation_oracle() -> str:
    score = {
        lang: (
            "CAST(LENGTH(list_filter(toks, x -> list_contains(["
            + ", ".join(f"'{w}'" for w in ws)
            + "], x))) AS BIGINT)"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    case = "CASE "
    for lang in LANG_MARKERS:  # first match wins ties == Spark priority order
        case += f"WHEN s_{lang} = {greatest} THEN '{lang}' "
    case += "END"
    selects = ",\n             ".join(f"{sql} AS s_{lang}" for lang, sql in score.items())
    return rf"""
    WITH tok AS (
      SELECT doc_id, text, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             {selects},
             CAST(LENGTH(toks) AS BIGINT) AS n_tok,
             CAST(LENGTH(text) AS BIGINT) AS n_char,
             CAST(LENGTH(regexp_extract_all(text, '[^\w \t\n\r\f]')) AS BIGINT) AS n_punct,
             CAST(LENGTH(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT) AS n_bpe,
             MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM tok
    ),
    langed AS (
      SELECT *, CASE WHEN {greatest} = 0 THEN 'und' ELSE {case} END AS predicted_lang
      FROM scored
    ),
    kept AS (
      SELECT * FROM langed
      WHERE n_tok >= {MIN_TOKENS}
        AND CAST(n_punct AS DOUBLE) / n_char <= {MAX_PUNCT_RATIO}
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_doc_tokens,
           CAST(SUM(n_punct) AS DOUBLE) / SUM(n_char) AS corpus_punct_ratio
    FROM deduped
    GROUP BY predicted_lang
    """


@query(
    "pipeline_corpus_curation",
    oracle=_curation_oracle,
    tags=("pipeline", "text", "dedup", "composition"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation flow: lang-ID → quality filter (length floor +
    punctuation ceiling) → exact dedup (min doc_id per fingerprint) →
    per-language corpus summary.  Ratios are single divisions of exact
    integer sums — no float summation anywhere."""
    d = t(spark, sf_dir, "documents")
    kept = curate(d)
    return kept.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_doc_tokens"),
        (F.sum("n_punct").cast("double") / F.sum("n_char")).alias("corpus_punct_ratio"),
    )


# ---------------------------------------------------------------------------
# batch model inference: the Arrow scoring-job shape


#: fixed linear "quality model" weights over the integer text features
#: (n_ws_tokens, n_bpe_tokens, n_punct, n_char) — in production these come
#: from a trained classifier; here they are literals so both engines score
#: identically in exact integer arithmetic.
MODEL_WEIGHTS = (3, 2, -5, 1)
TIER_HIGH = 700
TIER_MID = 400


@query(
    "pipeline_model_scoring",
    oracle=rf"""
    WITH f AS (
      SELECT doc_id,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS n_ws,
             CAST(LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT) AS n_bpe,
             CAST(LENGTH(regexp_extract_all(text, '[^\w \t\n\r\f]')) AS BIGINT) AS n_punct,
             CAST(LENGTH(text) AS BIGINT) AS n_char
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             {MODEL_WEIGHTS[0]} * n_ws + {MODEL_WEIGHTS[1]} * n_bpe
             + {MODEL_WEIGHTS[2]} * n_punct + {MODEL_WEIGHTS[3]} * n_char AS score
      FROM f
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score,
           CASE WHEN score >= {TIER_HIGH} THEN 'high'
                WHEN score >= {TIER_MID} THEN 'mid'
                ELSE 'low' END AS tier
    FROM s
    """,
    tags=("pipeline", "inference", "pandas-udf"),
)
def pipeline_model_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference — the Arrow scoring-job shape every curation
    pipeline runs at 100 TB: feature extraction stays JVM-side (built-in
    expressions, whole-stage codegen), then an ``mapInPandas`` kernel
    applies the model to Arrow record batches with numpy (here a fixed
    linear scorer; in production the same plumbing hosts an ONNX/sklearn
    classifier — weights ship to executors by closure capture, the batch
    matmul amortizes Python overhead across thousands of rows).  Integer
    features x integer weights keep the scores exact, so the pandas path
    hash-matches the oracle's SQL formulation bit-for-bit."""
    import pandas as _pd  # noqa: F401  (executors need it imported lazily)

    from .text import token_count

    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    feats = d.select(
        "doc_id",
        token_count(txt).alias("n_ws"),
        bpe_ish_token_count(txt).alias("n_bpe"),
        F.size(F.regexp_extract_all(txt, F.lit(r"[^\w \t\n\r\f]"), 0)).cast("long").alias("n_punct"),
        F.length(txt).cast("long").alias("n_char"),
    )
    weights = MODEL_WEIGHTS
    hi, mid = TIER_HIGH, TIER_MID

    def score_batches(batches):
        # closure (NOT module-level): pickles by value so bare-session
        # executors outside the repo cwd can run it — see SKILL.md gotcha
        import numpy as np

        for pdf in batches:
            x = pdf[["n_ws", "n_bpe", "n_punct", "n_char"]].to_numpy(dtype="int64")
            s = x @ np.array(weights, dtype="int64")
            out = pdf[["doc_id"]].copy()
            out["score"] = s
            out["tier"] = np.where(s >= hi, "high", np.where(s >= mid, "mid", "low"))
            yield out

    return feats.mapInPandas(score_batches, "doc_id long, score long, tier string")


MV_DELTA_MOD = 10  #: o_orderkey % 10 == MV_DELTA_REM plays the late-arriving batch
MV_DELTA_REM = 7


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
    tags=("pipeline", "incremental", "materialized-view", "aggregate"),
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh — the algebra every
    incremental pipeline (and Spark's own streaming agg state store)
    relies on: a monthly revenue MV maintained as MERGEABLE PARTIALS
    (count, decimal sum), refreshed by aggregating ONLY the late-arriving
    delta batch and union-merging partials by key.  Refresh cost is
    O(delta) + O(|MV|) — the base corpus is never rescanned, which is the
    whole point at 100 TB.  The oracle is the full recompute over all
    orders: merged partials must equal it EXACTLY, which only holds
    because both partials are algebraic (count, decimal sum) — the reason
    MVs store sum+count and derive avg, never store avg.  The delta split
    is keyed on o_orderkey (deterministic), standing in for an ingest
    watermark."""
    orders = t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    is_delta = F.col("o_orderkey") % MV_DELTA_MOD == MV_DELTA_REM

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"),
        )

    mv = partials(orders.filter(~is_delta))  # the standing view's state
    delta = partials(orders.filter(is_delta))  # the arriving batch, pre-aggregated
    return (
        mv.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("cnt").cast("long").alias("order_cnt"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


def curation_partials(batch: DataFrame) -> DataFrame:
    """One batch's mergeable curation state: per content fingerprint, the
    argmin-by-doc_id canonical document with its features, as a
    ``min(struct(doc_id, ...))`` aggregate — MIN is
    associative/commutative, so partial states from any batch split merge
    into exactly the full-corpus state."""
    kept = scored_filtered(batch)
    return kept.groupBy("fp").agg(
        F.min(
            F.struct(
                "doc_id", "predicted_lang", "n_tok", "n_char", "n_punct", "n_bpe"
            )
        ).alias("s")
    )


@query(
    "pipeline_incremental_curation",
    oracle=_curation_oracle,
    tags=("pipeline", "text", "dedup", "composition", "incremental"),
)
def pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline run INCREMENTALLY — the mv_incremental_refresh
    law applied to the LLM-data flow: the corpus splits into a base batch
    and a delta batch (deterministic doc_id % 5), each batch pays the
    expensive per-doc stage (regex features, lang-ID, fingerprint) ONCE,
    and the per-fingerprint argmin-canonical states merge by another MIN —
    so ingesting a delta never re-curates the base corpus.  The oracle is
    the FULL single-pass recompute (``pipeline_corpus_curation``'s), which
    the merge must equal exactly: dedup-by-min is an algebraic aggregate,
    and the per-doc stage commutes with batching.  At 100 TB this is the
    difference between a nightly full rebuild and an O(delta) refresh of
    a maintained curated-state table (the persistent-index pattern
    ``dedup_incremental`` establishes for the near-dup path)."""
    d = t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    merged = (
        curation_partials(base)
        .unionAll(curation_partials(delta))
        .groupBy("fp")
        .agg(F.min("s").alias("s"))
    )
    kept = merged.select("s.*")
    return kept.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_doc_tokens"),
        (F.sum("n_punct").cast("double") / F.sum("n_char")).alias("corpus_punct_ratio"),
    )


def _cascade_oracle() -> str:
    from .shingles_sql import EDGES_SQL as _EDGES_SQL
    from .shingles_sql import SHINGLES_SQL
    from .similarity import _Q_SQL, COSINE_THRESHOLD

    shingles_s1 = SHINGLES_SQL.replace("FROM documents", "FROM docs_s1")
    q_s2 = (
        _Q_SQL.replace(
            "FROM embeddings",
            "FROM embeddings WHERE vec_id IN (SELECT canon FROM s2)",
        )
        # without materialization DuckDB INLINES these CTEs, so every
        # reference to `e` (dots joins it twice, norms once) re-runs the
        # whole stage-2 recursive pipeline the IN-subquery depends on
        .replace("e AS (", "e AS MATERIALIZED (")
        .replace("norms AS (", "norms AS MATERIALIZED (")
    )
    return f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id,
             MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents
    ),
    s1 AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
    docs_s1 AS MATERIALIZED (SELECT d.* FROM documents d JOIN s1 USING (doc_id)),
    {shingles_s1},
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
    comp2 AS MATERIALIZED (
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
               AS component
      FROM docs_s1 d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    s2 AS MATERIALIZED (SELECT DISTINCT component AS canon FROM comp2),
    {q_s2},
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
      WHERE CAST(dot AS DOUBLE)
            / (SQRT(CAST(na.nrm2 AS DOUBLE)) * SQRT(CAST(nb.nrm2 AS DOUBLE)))
            >= {COSINE_THRESHOLD}
    ),
    sym3 AS MATERIALIZED (
      SELECT a, b FROM cedges
      UNION
      SELECT b, a FROM cedges
    ),
    reach3(a, b) AS (
      SELECT a, b FROM sym3
      UNION
      SELECT r.a, s.b FROM reach3 r JOIN sym3 s ON r.b = s.a
    ),
    comp3 AS (
      SELECT v.canon,
             CAST(LEAST(v.canon, COALESCE(MIN(r.b), v.canon)) AS BIGINT)
               AS component
      FROM s2 v LEFT JOIN reach3 r ON r.a = v.canon
      GROUP BY v.canon
    ),
    n AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n0,
             (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(DISTINCT component) FROM comp2) AS n2,
             (SELECT COUNT(DISTINCT component) FROM comp3) AS n3
    )
    SELECT 'exact' AS stage, CAST(n0 AS BIGINT) AS n_in,
           CAST(n1 AS BIGINT) AS n_kept, CAST(n0 - n1 AS BIGINT) AS n_removed
    FROM n
    UNION ALL
    SELECT 'near_dup', CAST(n1 AS BIGINT), CAST(n2 AS BIGINT),
           CAST(n1 - n2 AS BIGINT) FROM n
    UNION ALL
    SELECT 'semantic', CAST(n2 AS BIGINT), CAST(n3 AS BIGINT),
           CAST(n2 - n3 AS BIGINT) FROM n
    """


@query(
    "pipeline_dedup_cascade",
    oracle=_cascade_oracle,
    tags=("pipeline", "dedup", "composition", "cascade"),
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL every data card reports: exact (content
    fingerprint) → near-dup (n-gram Jaccard components) → semantic
    (embedding-cosine components, via the corpus's vec_id ≡ doc_id
    alignment), each stage operating only on the previous stage's
    survivors, with exact in/kept/removed counts per stage.

    This is the composition argument for the whole dedup family: the
    cheap exact pass shrinks the expensive stages' input (the same reason
    `pipeline_corpus_curation` runs exact dedup first and BASELINE.md's
    minhash 10× note tells replicated corpora to), and the three stages'
    machinery — fingerprint groupBy, inverted-index Jaccard + connected
    components, blocked-matmul cosine + connected components — is exactly
    the already-proven operators re-scoped to survivor frames."""
    from ..queries import cut_lineage
    from .clustering import connected_components
    from .dedup import MAX_SHINGLE_DF, cached_hashed_shingles, ngram_jaccard_pairs
    from .similarity import cached_cut_qtable, cosine_block_pairs
    from .text import fingerprint

    d = t(spark, sf_dir, "documents")
    n0 = d.count()

    # CUT the survivor-id frame (r14, guide §1.2): its consumers (the n1
    # count, the stage-2 shingle restriction and the comp2 vertex set)
    # otherwise each re-ran the fingerprint scan + groupBy
    s1_ids = cut_lineage(
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    n1 = s1_ids.count()

    # stage-2 shingles: the SESSION-CACHED corpus shingle frame restricted
    # to survivors (per-doc shingle sets are doc-local, so the restriction
    # is exactly hashed_shingle_rows(survivor docs)); the df cap is then
    # applied within the survivor universe, as the oracle does.  The old
    # shape re-ran tokenize→shingle→hash over the survivors and left two
    # per-call spillable persists behind; the cut below replaces them.
    all_sh = cached_hashed_shingles(spark, sf_dir).join(s1_ids, "doc_id")
    rare = (
        all_sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("g")
    )
    sh_s1 = cut_lineage(all_sh.join(rare, "g"))
    edges2 = ngram_jaccard_pairs(d, sh=sh_s1).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp2 = connected_components(
        s1_ids.select(F.col("doc_id").alias("id")), edges2
    )
    s2_ids = comp2.select(F.col("component").alias("vec_id")).distinct()
    n2 = s2_ids.count()

    # embeddings cover only a PREFIX of the doc_id space (the corpus has
    # fewer vectors than documents at sf0.1) — survivors without a vector
    # cannot be semantically compared and must PASS THROUGH stage 3 as
    # their own canonicals, so the component vertex set is ALL stage-2
    # survivors while edges exist only among the embedded ones.  (The
    # first draft ran components over the embedded subset only, silently
    # discarding un-embedded survivors — caught by the sf0.1 oracle.)
    # r14: the quantized corpus frame is the session-cached cut qtable.
    qt = cached_cut_qtable(spark, sf_dir).join(s2_ids, "vec_id")
    edges3 = cosine_block_pairs(qt).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    comp3 = connected_components(
        s2_ids.select(F.col("vec_id").alias("id")), edges3
    )
    n3 = comp3.select("component").distinct().count()

    rows = [
        ("exact", n0, n1, n0 - n1),
        ("near_dup", n1, n2, n1 - n2),
        ("semantic", n2, n3, n2 - n3),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_in long, n_kept long, n_removed long"
    )


# ---------------------------------------------------------------------------
# CDC latest-wins MERGE accounting — the lakehouse upsert primitive

#: trailing window treated as the incoming CDC batch (everything earlier
#: is the target snapshot)
CDC_BATCH_DAYS = 7


@query(
    "pipeline_cdc_merge",
    oracle=f"""
    WITH cut AS (
      SELECT max(ts) - INTERVAL {CDC_BATCH_DAYS} DAY AS cutoff FROM events
    ),
    snap AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events, cut WHERE ts < cutoff
      ) WHERE rn = 1
    ),
    batch AS (
      SELECT user_id, event_type, value, n_rows FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_rows
        FROM events, cut WHERE ts >= cutoff
      ) WHERE rn = 1
    )
    SELECT CASE WHEN s.user_id IS NULL THEN 'insert'
                WHEN b.user_id IS NULL THEN 'untouched'
                WHEN b.value = s.value THEN 'update_identical'
                ELSE 'update_changed' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT COALESCE(b.user_id, s.user_id)) AS BIGINT)
             AS n_users,
           CAST(SUM(COALESCE(b.n_rows, 0)) AS BIGINT) AS batch_rows
    FROM snap s FULL OUTER JOIN batch b
      ON s.user_id = b.user_id AND s.event_type = b.event_type
    GROUP BY change_type
    ORDER BY change_type
    """,
    tags=("pipeline", "cdc", "merge", "lakehouse"),
)
def pipeline_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins MERGE accounting — the lakehouse ``MERGE INTO``
    primitive, expressed as window-dedup + full-outer join.  The last
    ``CDC_BATCH_DAYS`` of events play the incoming change batch; the
    target dimension is keyed (user_id, event_type) with the latest value
    winning (ts DESC, event_id DESC tie-break — deterministic even with
    same-timestamp changes).  Each target key is classified the way a
    MERGE plans its actions: ``insert`` (key only in the batch),
    ``update_changed`` / ``update_identical`` (matched, value did / did
    not change — identical updates are the rows a change-aware writer
    SKIPS to avoid file-rewrite churn), ``untouched`` (target key absent
    from the batch).  A delete tombstone would fold into the same
    latest-wins window as one more change class.

    Scale shape: both sides dedup with a window PARTITIONed by the merge
    key — the same hash partitioning the join then needs, so AQE reuses
    one exchange per side rather than re-shuffling; the batch side is
    date-pruned at the scan (at 100 TB the batch is a partition-pruned
    sliver, the snapshot a bucketed table, and this plan is exactly
    Delta/Iceberg's MERGE dataflow).  Output is 4 bounded rows.

    Exactness: counts only (BIGINT both sides); the value-change test
    compares doubles read from the same parquet — bit-identical in both
    engines, never arithmetic on them."""
    ev = t(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.expr(f"max(ts) - INTERVAL {CDC_BATCH_DAYS} DAY").alias("cutoff")
    )
    ev = ev.crossJoin(F.broadcast(cutoff))
    key_w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snap = (
        ev.filter(F.col("ts") < F.col("cutoff"))
        .select("user_id", "event_type", "value", F.row_number().over(key_w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("value").alias("s_value"))
    )
    cnt_w = Window.partitionBy("user_id", "event_type")
    batch = (
        ev.filter(F.col("ts") >= F.col("cutoff"))
        .select(
            "user_id", "event_type", "value",
            F.row_number().over(key_w).alias("rn"),
            F.count(F.lit(1)).over(cnt_w).alias("n_rows"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("b_user"), F.col("event_type").alias("b_type"),
            F.col("value").alias("b_value"), "n_rows",
        )
    )
    merged = snap.join(
        batch,
        (snap.user_id == batch.b_user) & (snap.event_type == batch.b_type),
        "full_outer",
    )
    change = (
        F.when(F.col("user_id").isNull(), F.lit("insert"))
        .when(F.col("b_user").isNull(), F.lit("untouched"))
        .when(F.col("b_value") == F.col("s_value"), F.lit("update_identical"))
        .otherwise(F.lit("update_changed"))
    )
    return (
        merged.select(
            change.alias("change_type"),
            F.coalesce(F.col("b_user"), F.col("user_id")).alias("u"),
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("batch_rows"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.countDistinct("u").cast("long").alias("n_users"),
            F.sum("batch_rows").cast("long").alias("batch_rows"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# uncertainty sampling — the active-learning composition over the scorer

UNCERTAINTY_K = 25  #: labeling-batch size


def _uncertainty_sample_oracle() -> str:
    from ..queries import QUERIES as _Q

    scoring = _Q["pipeline_model_scoring"].oracle
    return f"""
    WITH scored AS MATERIALIZED ({scoring})
    SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(ABS(score - {TIER_MID}) AS BIGINT) AS margin
    FROM scored
    ORDER BY margin, doc_id
    LIMIT {UNCERTAINTY_K}
    """


@query(
    "dataset_uncertainty_sample",
    oracle=_uncertainty_sample_oracle,
    tags=("pipeline", "curation", "active-learning", "sampling"),
)
def dataset_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCERTAINTY SAMPLING — the active-learning loop's selection step:
    the {UNCERTAINTY_K} documents whose model score sits closest to the
    tier boundary (margin = |score − TIER_MID|) are exactly the ones a
    labeling budget should buy next, because the classifier is most
    wrong-able there (Lewis & Gale 1994's uncertainty criterion, margin
    form).  Composes `pipeline_model_scoring` unchanged — the Arrow
    scoring kernel runs once, then a TakeOrdered top-k under the total
    order (margin, doc_id); no global sort, shuffle volume is
    K × n_partitions.  Scores are exact integers so the margin and the
    cut are hash-stable.

    The production loop: score → THIS pick → human/LLM labels → retrain
    — each round one batch query, no per-row driver logic anywhere."""
    from ..queries import QUERIES as _Q

    scored = _Q["pipeline_model_scoring"].fn(spark, sf_dir)
    return (
        scored.select(
            "doc_id",
            "score",
            F.abs(F.col("score") - F.lit(TIER_MID)).cast("long").alias("margin"),
        )
        .orderBy("margin", "doc_id")
        .limit(UNCERTAINTY_K)
    )
