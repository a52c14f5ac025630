"""Dataset-quality operators: profiling, deterministic splits and sampling.

- **profiling** — per-column null/distinct/min/max in ONE pass over the
  table (a single aggregation with N×4 expressions; never N separate
  scans).
- **train/test split** — content-hash bucketing (md5 of the key), NOT
  rand(): deterministic under retries, stable across runs and engines, and
  leak-proof (the same key always lands in the same split even when the
  dataset is re-ingested).  The md5-digit bucket is portable to the DuckDB
  oracle — engine hash() builtins are not.
- **mixture sampling** — temperature-based per-stratum sampling rates
  (share ∝ n^α, α=0.5), applied through the same content-hash buckets.
  This is the standard multilingual-pretraining mix: low-resource strata
  are up-weighted relative to their raw share.  Determinism discipline:
  every cross-stratum total is an exact INTEGER sum (never a float sum),
  and the per-stratum rate is a fixed scalar double expression over those
  exact inputs — identical IEEE op sequence in both engines.
- **reservoir sampling** — k per group by ranking on a content hash
  (deterministic analog of uniform-without-replacement; a true reservoir
  over a stream is RNG-state-dependent and can never hash-match an
  oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import cut_lineage, floordiv_col, query, t

SPLIT_BUCKETS = 16
TRAIN_BUCKETS = 13  # 13/16 ≈ 81% train

MIX_BUCKETS = 4096  # 3 md5 hex digits → rate granularity 1/4096
RESERVOIR_K = 5
RESERVOIR_SALTS = 8  # phase-1 parallelism per group in the salted top-k


def hash_bucket(key: Column, buckets: int = SPLIT_BUCKETS) -> Column:
    """Deterministic bucket 0..15 from the first md5 hex digit of the key."""
    assert buckets == 16, "portable variant uses one hex digit"
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 1), 16, 10).cast("int")


def hash_bucket3(key: Column) -> Column:
    """Deterministic bucket 0..4095 from the first 3 md5 hex digits —
    fine-grained enough to express per-stratum sampling rates to ±0.02%."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 3), 16, 10).cast("int")


#: DuckDB equivalent of :func:`hash_bucket3` (DuckDB has no base-conversion
#: builtin, so the three hex digits are decoded positionally).
_BUCKET3_SQL = (
    "(strpos('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)"
)


@query(
    "dataset_train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN strpos('0123456789abcdef',
                              SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                       < {TRAIN_BUCKETS}
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM tagged GROUP BY split
    """,
    tags=("pipeline", "split", "quality"),
)
def dataset_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/test split summary (~81/19).  Per-row assignment
    is ``hash_bucket(doc_id) < TRAIN_BUCKETS`` — reproducible everywhere."""
    d = t(spark, sf_dir, "documents")
    split = F.when(hash_bucket(F.col("doc_id")) < TRAIN_BUCKETS, "train").otherwise("test")
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "dataset_mixture_sample",
    oracle=f"""
    WITH strata AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * CAST(1000 AS DOUBLE)) AS BIGINT) AS w
      FROM documents GROUP BY lang
    ),
    totals AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(w) AS BIGINT)      AS total_w
      FROM strata
    ),
    rates AS (
      SELECT lang, n_docs,
             CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE) AS target_share,
             CAST(FLOOR(LEAST(CAST(1 AS DOUBLE),
                 ((CAST(total_docs AS DOUBLE) * CAST(0.5 AS DOUBLE))
                  * (CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)))
                 / CAST(n_docs AS DOUBLE))
               * CAST({MIX_BUCKETS} AS DOUBLE)) AS BIGINT) AS threshold
      FROM strata CROSS JOIN totals
    ),
    sel AS (
      SELECT d.lang,
             CAST(SUM(CASE WHEN {_BUCKET3_SQL} < r.threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected
      FROM documents d JOIN rates r ON d.lang = r.lang
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_docs, r.threshold, r.target_share, s.n_selected,
           CAST(s.n_selected AS DOUBLE) / CAST(r.n_docs AS DOUBLE) AS achieved_rate
    FROM rates r JOIN sel s ON r.lang = s.lang
    """,
    tags=("pipeline", "sampling", "quality", "mixture"),
)
def dataset_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling over language strata (share ∝
    sqrt(n), budget = half the corpus) — the standard multilingual-
    pretraining up-weighting of low-resource strata.  Per-row membership is
    ``hash_bucket3(doc_id) < threshold`` so the sample is deterministic,
    retry-stable, and reproducible on re-ingest.

    Determinism: cross-stratum totals are exact integer sums; the rate is
    one fixed scalar double expression over those integers (identical IEEE
    op sequence in the oracle).  Scale shape: two column-pruned scans
    (strata counts; membership tagging), a per-stratum rate table whose
    cardinality is the number of strata (AQE broadcasts it), and one
    groupBy(lang) — no window over the full table, no driver math."""
    d = t(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    strata = strata.withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000.0)).cast("long")
    )
    totals = strata.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("w").alias("total_w")
    )
    share = F.col("w").cast("double") / F.col("total_w").cast("double")
    rate = F.least(
        F.lit(1.0),
        (
            (F.col("total_docs").cast("double") * F.lit(0.5)) * share
        )
        / F.col("n_docs").cast("double"),
    )
    rates = strata.crossJoin(totals).select(
        "lang",
        "n_docs",
        share.alias("target_share"),
        F.floor(rate * F.lit(float(MIX_BUCKETS))).cast("long").alias("threshold"),
    )
    tagged = d.select("lang", hash_bucket3(F.col("doc_id")).alias("b"))
    sel = (
        tagged.join(rates.select("lang", "threshold"), "lang")
        .groupBy("lang")
        .agg(
            F.sum((F.col("b") < F.col("threshold")).cast("int"))
            .cast("long")
            .alias("n_selected")
        )
    )
    return rates.join(sel, "lang").select(
        "lang",
        "n_docs",
        "threshold",
        "target_share",
        "n_selected",
        (F.col("n_selected").cast("double") / F.col("n_docs").cast("double")).alias(
            "achieved_rate"
        ),
    )


@query(
    "dataset_reservoir_per_lang",
    oracle=f"""
    SELECT lang, doc_id, source, rk FROM (
      SELECT lang, doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rk
      FROM documents
    ) ranked
    WHERE rk <= {RESERVOIR_K}
    """,
    tags=("pipeline", "sampling", "quality", "reservoir"),
)
def dataset_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: rank each document within its
    language by a content hash and keep the ``RESERVOIR_K`` smallest —
    the hash order IS the random order, so this is uniform-without-
    replacement per group, but reproducible (a true streaming reservoir
    is RNG-state-dependent and could never hash-match an oracle).

    Scale shape — TWO-PHASE salted top-k, not one window per group: a
    single ``partitionBy(lang)`` window would funnel every row of the
    dominant language through one task's sort.  Phase 1 ranks within
    (lang, salt) — ``RESERVOIR_SALTS``-way parallel per group — and keeps
    k per salt; by pigeonhole the global k smallest of a group all survive
    (each is within its own salt bucket's top-k).  Phase 2 re-ranks only
    the ≤ k×salts survivors per group, so the per-group serial sort is
    O(k·salts·log), independent of corpus size.  The salt is a disjoint
    slice of the same content hash: deterministic, retry-stable, and any
    partition of rows preserves correctness (independence not required)."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.conv(F.substring(h, 31, 2), 16, 10).cast("int") % RESERVOIR_SALTS
    w1 = Window.partitionBy("lang", "salt").orderBy("h", "doc_id")
    survivors = (
        d.select("lang", "doc_id", "source", h.alias("h"), salt.alias("salt"))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= RESERVOIR_K)
    )
    w2 = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.select(
            "lang",
            "doc_id",
            "source",
            F.row_number().over(w2).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= RESERVOIR_K)
    )


@query(
    "profile_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)      AS distinct_custkey,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)  AS distinct_status,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
           CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
    FROM orders
    """,
    tags=("pipeline", "quality", "profiling"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the orders table: row count, null
    counts, distinct cardinalities, value ranges.  A single aggregation —
    the N-columns-one-scan shape that matters when the table is 100 TB."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("int")).cast("long").alias("null_custkey"),
        F.countDistinct("o_custkey").cast("long").alias("distinct_custkey"),
        F.countDistinct("o_orderstatus").cast("long").alias("distinct_status"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.col("o_orderdate").cast("date")).cast("string").alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).cast("string").alias("max_date"),
    )


@query(
    "profile_documents_by_source",
    oracle=r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')))
             AS BIGINT) AS total_tokens,
           CAST(SUM(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')))
             AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM documents
    GROUP BY source
    """,
    tags=("pipeline", "quality", "profiling", "text"),
)
def profile_documents_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile — the first report a data-curation run
    produces: document counts, char/token volume, language spread, id
    ranges per ingest source.  One aggregation pass; the token count is
    an exact integer sum and avg_tokens a single double division (no
    float summation)."""
    from .text import token_count

    d = t(spark, sf_dir, "documents")
    return (
        d.select("source", "doc_id", "n_chars", "lang", token_count(F.col("text")).alias("tk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("tk").alias("total_tokens"),
            (F.sum("tk").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


CTX_TOKENS = 2048  # context-window token budget for sequence packing


@query(
    "dataset_pack_context_windows",
    oracle=rf"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS tk
      FROM documents
    ),
    offs AS (
      SELECT source, doc_id, tk,
             CAST(COALESCE(SUM(tk) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS off
      FROM toks
    ),
    binned AS (
      SELECT source,
             CAST(FLOOR(CAST(off AS DOUBLE) / CAST({CTX_TOKENS} AS DOUBLE)) AS BIGINT) AS bin,
             doc_id, tk
      FROM offs
    )
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tk) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM binned GROUP BY source, bin
    """,
    tags=("pipeline", "packing", "quality", "text"),
)
def dataset_pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: stream each source's documents
    in doc_id order and cut a new pack every ``CTX_TOKENS`` whitespace
    tokens (bin = exclusive running token offset ÷ budget) — the
    deterministic streaming-concat packing step of an LLM data pipeline,
    summarized per (source, pack).

    Scale shape: one shuffle on source + an in-partition ordered running
    sum (WindowExec sorts within the source partition only), then a plain
    grouped aggregate.  All token totals are exact integer sums; the only
    double op is the shared FLOOR(off/budget) bin expression."""
    from .text import token_count

    d = t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select("source", "doc_id", token_count(F.col("text")).alias("tk"))
    off = F.coalesce(F.sum("tk").over(w), F.lit(0)).cast("long")
    binned = toks.select(
        "source",
        F.floor(off.cast("double") / F.lit(float(CTX_TOKENS))).cast("long").alias("bin"),
        "doc_id",
        "tk",
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle: the serving order of a training run

INTERLEAVE_N = 100


@query(
    "dataset_global_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS p
      FROM documents
    )
    SELECT seq, doc_id, source, lang FROM (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY p, source) AS BIGINT) AS seq,
             doc_id, source, lang
      FROM ranked
    ) WHERE seq <= {INTERLEAVE_N}
    """,
    tags=("pipeline", "sampling", "serving", "interleave"),
)
def dataset_global_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``INTERLEAVE_N`` examples of a deterministic epoch
    shuffle: within each source, documents stream in content-hash order
    (the hash IS the random order — reproducible across engines and
    retries, unlike any RNG shuffle); sources are then interleaved
    round-robin (order by per-source position, then source), the standard
    way a training run mixes heterogeneous sources without starving any.

    Scale shape mirrors :func:`dataset_reservoir_per_lang`: two-phase
    salted ranking bounds every serial sort — phase 1 ranks within
    (source, salt) and keeps ``INTERLEAVE_N`` per salt (pigeonhole: the
    true per-source top-N all survive), phase 2 re-ranks only survivors,
    and the global (p, source) order is a TakeOrdered over
    N×|sources| rows, never a full sort of the corpus."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.conv(F.substring(h, 31, 2), 16, 10).cast("int") % RESERVOIR_SALTS
    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    survivors = (
        d.select("doc_id", "source", "lang", h.alias("h"), salt.alias("salt"))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= INTERLEAVE_N)
    )
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    positioned = (
        survivors.withColumn("p", F.row_number().over(w2).cast("long"))
        .filter(F.col("p") <= INTERLEAVE_N)
    )
    top = positioned.orderBy("p", "source").limit(INTERLEAVE_N)
    wseq = Window.orderBy("p", "source")
    return top.select(
        F.row_number().over(wseq).cast("long").alias("seq"),
        "doc_id",
        "source",
        "lang",
    )


# ---------------------------------------------------------------------------
# curriculum binning: quality-decile assignment per language


CURRICULUM_BINS = 10


def _curriculum_oracle() -> str:
    from .pipeline import MODEL_WEIGHTS

    w = MODEL_WEIGHTS
    return rf"""
    WITH feat AS (
      SELECT doc_id, lang,
             {w[0]} * CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT)
             + {w[1]} * CAST(LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT)
             + {w[2]} * CAST(LENGTH(regexp_extract_all(text, '[^\w \t\n\r\f]')) AS BIGINT)
             + {w[3]} * CAST(LENGTH(text) AS BIGINT) AS score
      FROM documents
    ),
    binned AS (
      SELECT lang, score,
             NTILE({CURRICULUM_BINS}) OVER (PARTITION BY lang
                                            ORDER BY score, doc_id) AS bin
      FROM feat
    )
    SELECT lang, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM binned GROUP BY lang, bin
    """


@query(
    "dataset_curriculum_bins",
    oracle=_curriculum_oracle,
    tags=("pipeline", "quality", "curriculum", "window"),
)
def dataset_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: assign every document a quality DECILE within
    its language (ntile over the linear quality model, doc_id tie-break →
    fully deterministic), summarized per (lang, bin) — the structure a
    curriculum-ordered training run consumes (start on high bins, anneal
    downward) and the quality-stratification step of mixture building.

    Scale shape: one window keyed by language — ntile needs its
    partition sorted, so each language pays one sort within its
    partitions after the shuffle on lang; with very few huge languages
    the two-phase salted pattern of ``dataset_reservoir_per_lang``
    applies instead.  The per-(lang, bin) rollup reuses the window's
    partitioning (no second exchange)."""
    from .pipeline import MODEL_WEIGHTS
    from .text import bpe_ish_token_count, token_count

    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    w = MODEL_WEIGHTS
    score = (
        F.lit(w[0]) * token_count(txt)
        + F.lit(w[1]) * bpe_ish_token_count(txt)
        + F.lit(w[2]) * F.size(F.regexp_extract_all(txt, F.lit(r"[^\w \t\n\r\f]"), 0)).cast("long")
        + F.lit(w[3]) * F.length(txt).cast("long")
    )
    wn = Window.partitionBy("lang").orderBy("score", "doc_id")
    return (
        d.select("doc_id", "lang", score.alias("score"))
        .withColumn("bin", F.ntile(CURRICULUM_BINS).over(wn).cast("long"))
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
    )


# ---------------------------------------------------------------------------
# context-window chunking with overlap (the pre-training data-prep cut)

CHUNK_TOKENS = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


@query(
    "dataset_chunk_documents",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS toks
      FROM documents
    ),
    n AS (
      SELECT doc_id, toks, LENGTH(toks) AS n_tok,
             1 + CAST(((CASE WHEN LENGTH(toks) > {CHUNK_TOKENS}
                             THEN LENGTH(toks) - {CHUNK_TOKENS} ELSE 0 END
                        + {CHUNK_STRIDE} - 1)
                       - ((CASE WHEN LENGTH(toks) > {CHUNK_TOKENS}
                                THEN LENGTH(toks) - {CHUNK_TOKENS} ELSE 0 END
                           + {CHUNK_STRIDE} - 1) % {CHUNK_STRIDE}))
                      / {CHUNK_STRIDE} AS BIGINT) AS n_chunks
      FROM d
    ),
    c AS (
      SELECT doc_id, toks, n_tok,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_id
      FROM n
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, n_tok - chunk_id * {CHUNK_STRIDE})
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
                 toks[chunk_id * {CHUNK_STRIDE} + 1 :
                      chunk_id * {CHUNK_STRIDE}
                      + LEAST({CHUNK_TOKENS}, n_tok - chunk_id * {CHUNK_STRIDE})],
                 ' ')) AS chunk_md5
    FROM c
    """,
    tags=("quality", "pipeline", "chunking"),
)
def dataset_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the cut every pre-training pipeline makes
    before packing: each document becomes overlapping {CHUNK_TOKENS}-token chunks
    at stride {CHUNK_STRIDE} (32-token overlap so no span is ever split across a chunk
    boundary without a copy that contains it whole); the tail chunk is
    short rather than dropped, and a short document still yields one
    chunk.  ``chunk_md5`` digests the exact token slice, so the output is
    a verifiable chunk manifest (dedupable, joinable back to ``doc_id``).

    Scale shape: tokenize + per-row ``sequence`` explode + in-row array
    slicing — a pure map over the corpus (the one exchange is the
    split-aware spread of the single-split test file); chunk volume is
    O(total tokens / stride).
    """
    from ..queries import spread
    from .text import tokens

    d = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    n_tok = F.size("toks")
    overflow = F.greatest(n_tok - CHUNK_TOKENS, F.lit(0)) + (CHUNK_STRIDE - 1)
    n_chunks = F.lit(1) + ((overflow - overflow % CHUNK_STRIDE) / CHUNK_STRIDE).cast(
        "long"
    )
    c = d.select(
        "doc_id",
        "toks",
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_STRIDE
    clen = F.least(F.lit(CHUNK_TOKENS), F.col("n_tok") - start)
    return c.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        clen.cast("long").alias("chunk_tokens"),
        F.md5(
            F.array_join(F.slice(F.col("toks"), (start + 1).cast("int"), clen.cast("int")), " ")
        ).alias("chunk_md5"),
    )


_FP_SQL = "MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')))"


@query(
    "profile_quality_dup_correlation",
    oracle=f"""
    WITH fp AS (
      SELECT {_FP_SQL} AS fp, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    ),
    b AS (
      SELECT d.n_chars AS x,
             CASE WHEN f.n_copies > 1 THEN 1 ELSE 0 END AS y
      FROM documents d JOIN fp f ON f.fp = {_FP_SQL.replace('text', 'd.text')}
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM b
    )
    SELECT CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                  / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                     * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS corr_len_dup,
           CAST(sy AS BIGINT) AS n_dup_docs,
           CAST(n AS BIGINT) AS n_docs
    FROM m
    """,
    tags=("quality", "dedup", "stats", "corr", "composition"),
)
def profile_quality_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family data-card metric: Pearson correlation between document
    LENGTH and exact-duplicate membership — the "is our duplication
    concentrated in short boilerplate?" question every curation run asks
    before choosing dedup thresholds.  Same exact-integer-moment
    discipline as ``agg_corr_exact`` (all six moments are DECIMAL(38,0)/
    HUGEINT integers; the surviving float ops are correctly rounded on
    identical operands — bit-identical by IEEE semantics); duplicate
    membership comes from the canonical fingerprint (one window count —
    the dedup_exact key), and degenerate variance (no dups, or all one
    length) yields NULL identically in both engines."""
    from .text import fingerprint

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint(F.col("text")))
    b = d.select(
        F.col("n_chars").alias("x"),
        F.when(F.count(F.lit(1)).over(w) > 1, 1).otherwise(0).alias("y"),
    )
    m = b.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = n * F.col("sxx") - sx * sx
    var_y = n * F.col("syy") - sy * sy
    corr = (n * F.col("sxy") - sx * sy).cast("double") / (
        F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double"))
    )
    return m.select(
        F.when((var_x == 0) | (var_y == 0), F.lit(None).cast("double"))
        .otherwise(corr)
        .alias("corr_len_dup"),
        sy.cast("long").alias("n_dup_docs"),
        n.cast("long").alias("n_docs"),
    )


@query(
    "profile_doc_length_histogram",
    oracle="""
    SELECT lang,
           CAST(LENGTH(bin(n_chars)) AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1, 2
    """,
    tags=("quality", "profile", "histogram"),
)
def profile_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length histogram on POWER-OF-2 bins — the
    data-card length chart, with the log-bin trick made exact: the bin is
    the BIT LENGTH of n_chars (length of its binary string — floor(log2)+1
    as pure integer/string ops), because ``floor(log2(n))`` through libm
    is not bit-portable at bucket boundaries while ``bin()`` is exact in
    both engines.  Bounded output (langs × ~20 bins); one aggregation."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            F.length(F.bin(F.col("n_chars"))).cast("long").alias("log2_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


@query(
    "audit_constraints",
    oracle="""
    SELECT 'fk_lineitem_orders' AS constraint_name,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_checked,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'fk_lineitem_part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk_lineitem_supplier',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk_orders_customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'fk_customer_nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'pk_orders_unique',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
                 (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) d
                 WHERE c > 1) AS BIGINT)
    UNION ALL
    SELECT 'pk_lineitem_unique',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
                 (SELECT COUNT(*) AS c FROM lineitem
                  GROUP BY l_orderkey, l_linenumber) d
                 WHERE c > 1) AS BIGINT)
    UNION ALL
    SELECT 'notnull_documents_text',
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT),
           CAST((SELECT COUNT(*) FROM documents WHERE text IS NULL) AS BIGINT)
    """,
    tags=("quality", "audit", "constraints", "anti-join"),
)
def audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract audit — the dbt-test / Deequ shape: every
    constraint (FK containment, PK uniqueness, NOT NULL) evaluated as one
    row of (constraint, n_checked, n_violations), unioned into a single
    contract report.  FK checks are LEFT ANTI joins (dimension side
    broadcastable by AQE when filtered/bounded; the fact side streams);
    PK checks are grouped duplicate-surplus sums (Σ(c−1) — counts every
    extra copy, matching what a dedupe would delete); the frame never
    materializes violating ROWS, only counts, so a 100 TB audit emits 8
    rows.  A constraint-violation drill-down is the same query minus the
    aggregation.  Note the audit FIRES on this corpus: the generator's
    lineitem (l_orderkey, l_linenumber) is genuinely non-unique, which
    both engines agree on exactly — the detector detecting."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    part = t(spark, sf_dir, "part")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    docs = t(spark, sf_dir, "documents")

    def fk(name, fact, fact_key, dim, dim_key):
        n = fact.select(F.count(F.lit(1)).alias("n_checked"))
        v = (
            fact.join(dim, fact[fact_key] == dim[dim_key], "left_anti")
            .select(F.count(F.lit(1)).alias("n_violations"))
        )
        return n.crossJoin(v).select(
            F.lit(name).alias("constraint_name"),
            F.col("n_checked").cast("long"),
            F.col("n_violations").cast("long"),
        )

    def pk(name, frame, keys):
        n = frame.select(F.count(F.lit(1)).alias("n_checked"))
        v = (
            frame.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .select(
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n_violations")
            )
        )
        return n.crossJoin(v).select(
            F.lit(name).alias("constraint_name"),
            F.col("n_checked").cast("long"),
            F.col("n_violations").cast("long"),
        )

    nn = (
        docs.select(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias(
                "n_violations"
            ),
        )
        .select(
            F.lit("notnull_documents_text").alias("constraint_name"),
            F.col("n_checked").cast("long"),
            F.col("n_violations").cast("long"),
        )
    )
    checks = [
        fk("fk_lineitem_orders", li, "l_orderkey", orders, "o_orderkey"),
        fk("fk_lineitem_part", li, "l_partkey", part, "p_partkey"),
        fk("fk_lineitem_supplier", li, "l_suppkey", supp, "s_suppkey"),
        fk("fk_orders_customer", orders, "o_custkey", cust, "c_custkey"),
        fk("fk_customer_nation", cust, "c_nationkey", nation, "n_nationkey"),
        pk("pk_orders_unique", orders, ["o_orderkey"]),
        pk("pk_lineitem_unique", li, ["l_orderkey", "l_linenumber"]),
        nn,
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


K_ANON = 5  # conventional "small cell" threshold (value quoted in the docstring)


@query(
    "audit_k_anonymity",
    oracle=f"""
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS cell_n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MIN(cell_n) AS BIGINT) AS min_cell,
           CAST(SUM(CASE WHEN cell_n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_cells,
           CAST(SUM(CASE WHEN cell_n < {K_ANON} THEN cell_n ELSE 0 END) AS BIGINT)
             AS n_exposed_rows,
           CAST(SUM(CASE WHEN cell_n < {K_ANON} THEN cell_n ELSE 0 END) AS DOUBLE)
             / SUM(cell_n) AS exposed_share
    FROM cells
    """,
    tags=("quality", "audit", "privacy", "k-anonymity"),
)
def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (market segment,
    nation): how many equivalence classes are smaller than k = K_ANON = 5,
    and what share of rows sit in them — the small-cell disclosure-risk
    report a dataset must pass before release (re-identification risk
    concentrates exactly in the small cells).  One grouped count + one
    bounded rollup; at 100 TB the cell frame is |QI-domain|-bounded, not
    corpus-bounded.  The remediation operators already exist in this
    repo: generalize the QI (coarser bins) or suppress the small cells —
    both are one filter/withColumn away from this frame."""
    c = t(spark, sf_dir, "customer")
    cells = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cell_n")
    )
    small = F.when(F.col("cell_n") < K_ANON, F.col("cell_n")).otherwise(0)
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.sum((F.col("cell_n") < K_ANON).cast("int")).cast("long").alias(
            "n_small_cells"
        ),
        F.sum(small).cast("long").alias("n_exposed_rows"),
        (F.sum(small).cast("double") / F.sum("cell_n")).alias("exposed_share"),
    )


#: Benford expected first-digit probabilities log10(1+1/d), d=1..9 — fixed
#: literals so no libm log enters either engine.
BENFORD_P = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829993,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}
BENFORD_FP = 1_000_000_000


@query(
    "audit_benford_first_digit",
    oracle=f"""
    WITH pos AS (
      SELECT CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS s
      FROM events WHERE value > 0
    ),
    d AS (
      SELECT CAST(regexp_extract(s, '[1-9]') AS BIGINT) AS digit FROM pos
      WHERE regexp_extract(s, '[1-9]') <> ''
    ),
    h AS (SELECT digit, COUNT(*) AS c FROM d GROUP BY digit),
    n AS (SELECT SUM(c) AS n FROM h),
    terms AS (
      SELECT h.digit, h.c,
             CAST(FLOOR({BENFORD_FP} * ABS(
               h.c / CAST(n.n AS DOUBLE)
               - CASE h.digit {" ".join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in BENFORD_P.items())} END
             )) AS BIGINT) AS dev_fp
      FROM h CROSS JOIN n
    )
    SELECT digit, CAST(c AS BIGINT) AS n_values,
           CAST(dev_fp AS BIGINT) AS benford_dev_fp
    FROM terms
    """,
    tags=("quality", "audit", "benford", "fraud"),
)
def audit_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit — the classic
    fabricated-data / broken-generator detector: per digit 1–9, the
    observed count and the fixed-point absolute deviation from the
    Benford probability (log10(1+1/d), baked in as LITERALS so no libm
    log runs in either engine; synthetic uniform data fails Benford
    loudly, which is itself the finding).  Digit extraction goes through
    the DECIMAL(12,2) STRING bridge — double→string formatting differs
    across engines, decimal→string does not — then one regexp for the
    first nonzero digit.  One scan + a 9-row rollup."""
    ev = t(spark, sf_dir, "events")
    from ..queries import dec

    s = dec(F.col("value")).cast("string")
    d = (
        ev.filter(F.col("value") > 0)
        .select(F.regexp_extract(s, "[1-9]", 0).alias("ds"))
        .filter(F.col("ds") != "")
        .select(F.col("ds").cast("long").alias("digit"))
    )
    h = d.groupBy("digit").agg(F.count(F.lit(1)).alias("c"))
    n = h.agg(F.sum("c").alias("n"))
    pmap = F.create_map(
        *[F.lit(x) for dd, p in BENFORD_P.items() for x in (dd, p)]
    )
    dev = F.floor(
        F.lit(BENFORD_FP)
        * F.abs(F.col("c") / F.col("n").cast("double") - pmap[F.col("digit")])
    ).cast("long")
    return h.crossJoin(F.broadcast(n)).select(
        "digit",
        F.col("c").cast("long").alias("n_values"),
        dev.alias("benford_dev_fp"),
    )


# ---------------------------------------------------------------------------
# right-to-erasure propagation audit (the GDPR/CCPA deletion manifest)

_SUBJECT_BUCKET_SQL = (
    "strpos('0123456789abcdef',"
    " SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1 = 0"
)


@query(
    "dataset_erase_propagation",
    oracle=f"""
    WITH subjects AS (
      SELECT c_custkey AS id FROM customer WHERE {_SUBJECT_BUCKET_SQL}
    ),
    eo AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT id FROM subjects)
    ),
    stats AS (
      SELECT 'customer' AS table_name,
             (SELECT COUNT(*) FROM customer) AS n_rows,
             (SELECT COUNT(*) FROM subjects) AS n_erased
      UNION ALL
      SELECT 'orders', (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM eo)
      UNION ALL
      SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
      UNION ALL
      SELECT 'events', (SELECT COUNT(*) FROM events),
             (SELECT COUNT(*) FROM events
              WHERE user_id IN (SELECT id FROM subjects))
    )
    SELECT table_name,
           CAST(n_rows AS BIGINT)   AS n_rows,
           CAST(n_erased AS BIGINT) AS n_rows_erased,
           CAST((1000000 * n_erased) // n_rows AS BIGINT) AS erased_ppm
    FROM stats ORDER BY table_name
    """,
    tags=("quality", "compliance", "erasure", "audit"),
)
def dataset_erase_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-ERASURE propagation audit — the deletion manifest a
    GDPR/CCPA compliance job produces before (and logs after) executing a
    subject-deletion batch.  The subject cohort is a deterministic
    content-hash bucket of customers (~6%, the same seeded-md5 bucketing
    as the train/test split — reproducible across engines and re-runs,
    never ``sample()``); the audit then propagates through the reference
    graph: direct hits in ``orders`` and ``events`` (FK on the subject
    key) and TRANSITIVE hits in ``lineitem`` (no subject column — reached
    only through the erased orders' keys, the cascade every real deletion
    job has to walk).

    Scale shape: each table is counted with one semi-join against the
    subject/erased-key frame — at 100 TB those are the joins a runtime
    bloom filter or DPP prunes (the subject set is a sliver of the key
    domain), and the actual delete is the same plan with the semi-join
    flipped to anti (rewrite surviving rows; see ``sources.merge_upsert``
    for the MERGE-shaped variant).  Output is 4 bounded rows; the ppm is
    integer division — no float anywhere."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")
    subjects = cust.filter(hash_bucket(F.col("c_custkey")) == 0).select(
        F.col("c_custkey").alias("id")
    )
    erased_orders = orders.join(
        subjects, orders.o_custkey == subjects.id, "left_semi"
    ).select("o_orderkey")

    def row(name: str, total_df: DataFrame, erased_df: DataFrame) -> DataFrame:
        return (
            total_df.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(erased_df.agg(F.count(F.lit(1)).alias("n_erased")))
            .select(F.lit(name).alias("table_name"), "n_rows", "n_erased")
        )

    stats = (
        row("customer", cust, subjects)
        .unionAll(row("orders", orders, erased_orders))
        .unionAll(
            row(
                "lineitem",
                li,
                li.join(erased_orders, li.l_orderkey == erased_orders.o_orderkey,
                        "left_semi"),
            )
        )
        .unionAll(
            row("events", ev,
                ev.join(subjects, ev.user_id == subjects.id, "left_semi"))
        )
    )
    return stats.select(
        "table_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_erased").cast("long").alias("n_rows_erased"),
        F.expr("CAST((1000000 * n_erased) DIV n_rows AS BIGINT)").alias(
            "erased_ppm"
        ),
    ).orderBy("table_name")


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram LM ratio)

DSIR_BUCKETS = 256  #: hashed feature space == one md5 hex-digit pair
DSIR_FP = 1_000_000  #: fixed-point scale for the per-bucket log10 ratio
DSIR_TARGET_LANG = "en"  #: the "target distribution" proxy on this corpus
DSIR_TOP_DOCS = 100  #: selection depth reported per language


def _dsir_oracle() -> str:
    b = DSIR_BUCKETS
    return rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS tk
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, unnest(tk) AS f FROM toks
      UNION ALL
      SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS f
      FROM (SELECT doc_id, lang, tk,
                   unnest(generate_series(1, LENGTH(tk) - 1)) AS i
            FROM toks)
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST((strpos('0123456789abcdef', SUBSTR(MD5(f), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', SUBSTR(MD5(f), 2, 1)) - 1)
               AS BIGINT) AS bucket
      FROM feats
    ),
    rcnt AS (SELECT bucket, COUNT(*) AS rc FROM hashed GROUP BY bucket),
    tcnt AS (SELECT bucket, COUNT(*) AS tc FROM hashed
             WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
    tot AS (SELECT COUNT(*) AS r_total,
                   SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                     AS t_total
            FROM hashed),
    wts AS (
      SELECT r.bucket,
             CAST(ROUND(LOG10(
                 (CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE) * (tot.r_total + {b}))
               / (CAST(r.rc + 1 AS DOUBLE) * (tot.t_total + {b}))
             ) * {DSIR_FP}, 0) AS BIGINT) AS wfp
      FROM rcnt r LEFT JOIN tcnt t ON t.bucket = r.bucket CROSS JOIN tot
    ),
    docw AS (
      SELECT h.doc_id, h.lang, SUM(w.wfp) AS weight_fp
      FROM hashed h JOIN wts w ON w.bucket = h.bucket
      GROUP BY h.doc_id, h.lang
    ),
    top AS (
      SELECT lang, COUNT(*) AS n_top FROM (
        SELECT lang FROM docw
        ORDER BY weight_fp DESC, doc_id LIMIT {DSIR_TOP_DOCS}
      ) GROUP BY lang
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.weight_fp) AS BIGINT) AS sum_weight_fp,
           CAST(SUM(d.weight_fp) AS DOUBLE) / COUNT(*) AS avg_weight_fp,
           CAST(COALESCE(MAX(t.n_top), 0) AS BIGINT) AS n_top{DSIR_TOP_DOCS}
    FROM docw d LEFT JOIN top t ON t.lang = d.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """


@query(
    "dataset_dsir_importance_weights",
    oracle=_dsir_oracle,
    tags=("dataset", "pipeline", "selection", "text"),
)
def dataset_dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by the log-likelihood ratio of two hashed-n-gram
    bag models, target vs raw, then select the highest-ratio docs.  This
    is the published scalable recipe for "find me more data that looks
    like my target distribution" — the selection step between raw
    crawl and pretraining mix.  Target here = the corpus's
    ``lang = {DSIR_TARGET_LANG}`` slice (the proxy this synthetic corpus
    offers); raw = everything.  Features are word unigrams + adjacent
    bigrams hashed into {DSIR_BUCKETS} md5 buckets (the repo's portable
    hash family; same hashing-trick space as
    ``text_hashing_trick_features``), add-one smoothed.  Output: per-lang
    doc counts, summed/average importance weight, and how many of the
    global top-{DSIR_TOP_DOCS} selected docs each language contributes —
    the report that shows the sampler pulling toward the target.

    Scale shape: exactly TWO lean corpus passes and no cache.  Pass 1 is
    one aggregation producing BOTH bucket LMs (rc, tc per bucket —
    {DSIR_BUCKETS}-bounded, map-side combined); the corpus totals come
    from that 256-row frame, never a second scan.  Pass 2 re-derives the
    feature stream from lineage and joins the broadcast 256-row weight
    table for the per-doc score (one doc_id-keyed aggregation);
    selection is TakeOrdered (top-{DSIR_TOP_DOCS}), never a global sort.
    A persist of the raw feature stream was MEASURED both ways: faster
    at ≤10× (cache fits), super-linear at 30× (15M cached rows spill the
    8g local heap — 3.9→19.8 s) — and caching a corpus-scale feature
    stream is a non-starter at 100 TB anyway; the two-pass shape probes
    LINEAR (7.9→25.3 s for 10×→30×).  The LM "model" stays
    {DSIR_BUCKETS} integers — the whole point of DSIR's hashed
    parameterization.

    Determinism: bucket counts and per-doc weight sums are exact
    integers; the single libm step (log10 of one rational double) is
    immediately quantized to DSIR_FP fixed point (the zipf/heaps ROUND
    discipline); top-doc ties break on doc_id; the final avg is one
    double division of exact integers."""
    from ..queries import spread
    from .text import tokens

    d = (
        spread(t(spark, sf_dir, "documents"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("tk"))
    )
    # ONE projection emits unigrams + adjacent bigrams together (r13,
    # guide §2.3/§1.2): the old unionAll(uni, big) re-scanned and
    # re-tokenized the corpus once per union branch — and since BOTH
    # aggregation passes below re-derive this lineage, that was four
    # corpus scans per run; now it is two (one per pass, the DSIR
    # minimum).  Single-token docs contribute unigrams but no bigrams —
    # the size guard keeps the sequence ascending (Spark's
    # sequence(1, 0) descends; DuckDB's is empty), and CaseWhen only
    # evaluates the taken branch per row.
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("tk"), i),
            F.element_at(F.col("tk"), i + 1),
        ),
    )
    feats = F.when(F.size("tk") >= 2, F.concat(F.col("tk"), bigrams)).otherwise(
        F.col("tk")
    )
    bucket = F.conv(F.substring(F.md5(F.col("f")), 1, 2), 16, 10).cast("long")
    hashed = d.select("doc_id", "lang", F.explode(feats).alias("f")).select(
        "doc_id", "lang", bucket.alias("bucket")
    )
    is_t = F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
    # ONE aggregation pass yields both bucket LMs; the corpus totals then
    # come from the 256-row frame, not a second corpus scan.  (A persist
    # of the raw feature stream was measured SLOWER at 30x — 15M cached
    # rows spill — and caching the stream is a non-starter at 100 TB;
    # two lean scans beat one fat cache.)
    bstats = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(is_t).alias("tc"),
    )
    tot = bstats.agg(
        F.sum("rc").alias("r_total"),
        F.sum("tc").alias("t_total"),
    )
    b = F.lit(DSIR_BUCKETS)
    wfp = F.round(
        F.log10(
            ((F.col("tc") + 1).cast("double") * (F.col("r_total") + b))
            / ((F.col("rc") + 1).cast("double") * (F.col("t_total") + b))
        )
        * DSIR_FP,
        0,
    ).cast("long")
    # CUT the {DSIR_BUCKETS}-row weight table (bounded by the hash width):
    # uncut, the bstats lineage re-ran once per downstream reference
    # (wts + tot both derive from it, and docw's two consumers double
    # everything again — measured 3.3 s full query vs 0.54 s for pass 1
    # + ~0.9 s for pass 2 at sf0.1)
    wts = cut_lineage(
        bstats.crossJoin(F.broadcast(tot)).select("bucket", wfp.alias("wfp"))
    )
    # pass 2 is ROW-LOCAL (r14, guide §2.4/§1.2): the per-doc weight is
    # an array aggregate against the broadcast 256-entry bucket→wfp map —
    # the old explode + join + groupBy(doc_id) re-materialized the
    # feature stream as rows and paid a corpus-scale Exchange for a sum
    # that never leaves its own document.  Every feature's bucket is
    # present in the map by construction (it contributed to rc), so the
    # lookup is total — same inner-join semantics.
    wmap = wts.agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "wfp"))).alias("wm")
    )
    docw_expr = F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, f: acc
        + F.element_at(
            F.col("wm"),
            F.conv(F.substring(F.md5(f), 1, 2), 16, 10).cast("long"),
        ),
    )
    # CUT the n_docs-row (doc_id, lang, weight) frame: its two consumers
    # (the global top-k and the per-lang rollup) would otherwise each
    # re-run the tokenize+hash scan.  Rows are narrow and output-scale.
    docw = cut_lineage(
        d.crossJoin(F.broadcast(wmap)).select(
            "doc_id", "lang", docw_expr.alias("weight_fp")
        )
    )
    # lang-bounded rollup of the global top-selection (TakeOrdered, k fixed)
    top = (
        docw.orderBy(F.col("weight_fp").desc(), "doc_id")
        .limit(DSIR_TOP_DOCS)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_top"))
    )
    return (
        docw.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("weight_fp").cast("long").alias("sum_weight_fp"),
            (
                F.sum("weight_fp").cast("double") / F.count(F.lit(1))
            ).alias("avg_weight_fp"),
        )
        .join(F.broadcast(top), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "sum_weight_fp",
            "avg_weight_fp",
            F.coalesce(F.col("n_top"), F.lit(0))
            .cast("long")
            .alias(f"n_top{DSIR_TOP_DOCS}"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# l-diversity — k-anonymity's companion audit (homogeneity-attack risk)

L_DIV = 3  #: minimum distinct sensitive values per QI cell
SENS_BAND = 2000.0  #: account-balance band width (the sensitive attribute)


@query(
    "audit_l_diversity",
    oracle=f"""
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey,
             COUNT(*) AS cell_n,
             COUNT(DISTINCT FLOOR(CAST(c_acctbal AS DOUBLE) / {SENS_BAND}))
               AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < {L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity_cells,
           CAST(SUM(CASE WHEN l < {L_DIV} THEN cell_n ELSE 0 END) AS BIGINT)
             AS n_exposed_rows,
           CAST(SUM(CASE WHEN l < {L_DIV} THEN cell_n ELSE 0 END) AS DOUBLE)
             / SUM(cell_n) AS exposed_share
    FROM cells
    """,
    tags=("quality", "audit", "privacy", "l-diversity"),
)
def audit_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit — k-anonymity's necessary companion: a cell can
    hold k=500 people and still leak everything if they all share one
    sensitive value (the homogeneity attack k-anonymity cannot see).
    Over the same QI cells as `audit_k_anonymity` (market segment ×
    nation), count DISTINCT sensitive values (account-balance bands of
    width {SENS_BAND:.0f}) per cell; cells with l < {L_DIV} distinct
    values are flagged and their row mass reported.  Release gates run
    BOTH audits: k bounds re-identification, l bounds attribute
    disclosure.

    Scale shape: one grouped count-distinct (QI-domain-bounded output,
    map-side partial) + a bounded rollup — same plan family as the k
    audit.

    Determinism: the band is FLOOR of one double division (identical
    IEEE op both engines); counts exact; share one double division."""
    c = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal").cast("double") / F.lit(SENS_BAND))
    cells = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cell_n"),
        F.count_distinct(band).alias("l"),
    )
    exposed = F.when(F.col("l") < L_DIV, F.col("cell_n")).otherwise(0)
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("l").cast("long").alias("min_l"),
        F.sum((F.col("l") < L_DIV).cast("int")).cast("long").alias(
            "n_low_diversity_cells"
        ),
        F.sum(exposed).cast("long").alias("n_exposed_rows"),
        (F.sum(exposed).cast("double") / F.sum("cell_n")).alias("exposed_share"),
    )


# ---------------------------------------------------------------------------
# t-closeness — the third leg of the release-gate trio (k-anonymity bounds
# re-identification, l-diversity bounds homogeneity, t-closeness bounds
# DISTRIBUTION skew: a cell can be k-large and l-diverse and still leak if
# its sensitive distribution differs sharply from the global one)

T_CLOSE_FP = 1_000_000  #: fixed-point scale for the variation distance
T_CLOSE = 300_000  #: release threshold: cells with TVD > 0.30 are flagged


@query(
    "audit_t_closeness",
    oracle=f"""
    WITH rows_b AS (
      SELECT c_mktsegment, c_nationkey,
             FLOOR(CAST(c_acctbal AS DOUBLE) / {SENS_BAND}) AS band
      FROM customer
    ),
    cell_band AS (
      SELECT c_mktsegment, c_nationkey, band, COUNT(*) AS cnt
      FROM rows_b GROUP BY 1, 2, 3
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey, SUM(cnt) AS cell_n
      FROM cell_band GROUP BY 1, 2
    ),
    gdist AS (SELECT band, SUM(cnt) AS g FROM cell_band GROUP BY band),
    tot AS (SELECT SUM(g) AS n FROM gdist),
    dom AS (
      SELECT c.c_mktsegment, c.c_nationkey, c.cell_n, b.band, b.g,
             COALESCE(cb.cnt, 0) AS cnt
      FROM cells c CROSS JOIN gdist b
      LEFT JOIN cell_band cb
        ON cb.c_mktsegment = c.c_mktsegment
       AND cb.c_nationkey = c.c_nationkey
       AND cb.band = b.band
    ),
    tvd AS (
      SELECT c_mktsegment, c_nationkey,
             ({T_CLOSE_FP} * SUM(ABS(CAST(cnt AS HUGEINT) * t.n
                                     - CAST(g AS HUGEINT) * cell_n)))
               // (2 * CAST(ANY_VALUE(cell_n) AS HUGEINT) * ANY_VALUE(t.n))
               AS tvd_fp
      FROM dom CROSS JOIN tot t
      GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(tvd_fp) AS BIGINT) AS max_tvd_fp,
           CAST(SUM(tvd_fp) // COUNT(*) AS BIGINT) AS avg_tvd_fp,
           CAST(SUM(CASE WHEN tvd_fp > {T_CLOSE} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skewed_cells
    FROM tvd
    """,
    tags=("quality", "audit", "privacy", "t-closeness"),
)
def audit_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit — the third release gate after `audit_k_anonymity`
    and `audit_l_diversity` (Li et al., ICDE 2007): per QI cell (market
    segment × nation), the total-variation distance between the cell's
    sensitive-value distribution (account-balance bands, same SENS_BAND
    as the l audit) and the GLOBAL distribution.  A cell passing k and l
    can still reveal that its members are overwhelmingly in the top
    band; TVD is the categorical instance of the paper's EMD and the
    one release checklists actually compute.

    Exact integer arithmetic throughout: TVD = ½·Σ_v |p_cell − p_global|
    is evaluated by cross-multiplication, (FP · Σ|cnt·N − g·n_c|) DIV
    (2·n_c·N) — no float division inside the sum, so engine summation
    order cannot matter.  Absent bands contribute |0·N − g·n_c| via the
    domain completion (cells × bands cross join, count coalesced to 0).

    Scale shape: one grouped count at (QI, band) granularity — still
    QI×band-domain-bounded, map-side partial — then a domain-bounded
    cross join (|cells|·|bands| rows, both small by construction) and a
    bounded rollup.  Nothing here is corpus-sized after the first
    aggregate; at 100 TB the only full-data pass is the initial scan."""
    c = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal").cast("double") / F.lit(SENS_BAND))
    cell_band = c.select(
        "c_mktsegment", "c_nationkey", band.alias("band")
    ).groupBy("c_mktsegment", "c_nationkey", "band").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cells = cell_band.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cnt").alias("cell_n")
    )
    glob = cell_band.groupBy("band").agg(F.sum("cnt").alias("g"))
    tot = glob.agg(F.sum("g").alias("n"))
    # no hint on the band-distribution frame: it's band-domain-bounded
    # (|acctbal range| / SENS_BAND rows) but GROUPED, so the broadcast
    # guard can't prove it — AQE broadcasts it by measured size, which is
    # the scale-safe default (tests/test_broadcast_guard.py)
    dom = (
        cells.crossJoin(glob.select("band", "g"))
        .join(cell_band, ["c_mktsegment", "c_nationkey", "band"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "cell_n",
            "g",
            "n",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    # cnt·n is O(cell_n·N): at 100 TB corpus sizes the BIGINT product
    # overflows (Spark with ANSI off wraps SILENTLY while the DuckDB
    # oracle errors — the engines would diverge instead of failing
    # loudly).  Accumulate the |·| sum in DECIMAL(38,0) (HUGEINT in the
    # oracle — the agg_corr_exact discipline, ADVICE r7) BEFORE the
    # fixed-point multiply; DIV on decimals returns BIGINT, so the
    # output schema is unchanged.
    tvd = dom.groupBy("c_mktsegment", "c_nationkey").agg(
        F.expr(
            f"({T_CLOSE_FP} * SUM(ABS(CAST(cnt AS DECIMAL(38,0)) * n"
            " - CAST(g AS DECIMAL(38,0)) * cell_n)))"
            " DIV (2 * CAST(ANY_VALUE(cell_n) AS DECIMAL(38,0)) * ANY_VALUE(n))"
        ).alias("tvd_fp")
    )
    return tvd.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("tvd_fp").cast("long").alias("max_tvd_fp"),
        F.expr("SUM(tvd_fp) DIV COUNT(*)").cast("long").alias("avg_tvd_fp"),
        F.sum((F.col("tvd_fp") > T_CLOSE).cast("int")).cast("long").alias(
            "n_skewed_cells"
        ),
    )


#: candidate context-window budgets for the packing fragmentation sweep
CTX_SWEEP = (512, 1024, 2048, 4096)


@query(
    "dataset_packing_fragmentation_sweep",
    oracle=rf"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS tk
      FROM documents
    ),
    offs AS (
      SELECT source, doc_id, tk,
             CAST(COALESCE(SUM(tk) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS off
      FROM toks
    ),
    sweep AS (
      SELECT o.source, c.ctx, o.doc_id, o.tk, o.off
      FROM offs o CROSS JOIN (VALUES (512), (1024), (2048), (4096)) AS c(ctx)
    )
    SELECT CAST(ctx AS BIGINT) AS ctx, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tk > 0
                          AND off // ctx <> (off + tk - 1) // ctx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           CAST(SUM(CASE WHEN tk > ctx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oversize_docs,
           CAST((MAX(off + tk) + ctx - 1) // ctx AS BIGINT) AS n_packs,
           CAST(SUM(CASE WHEN tk > 0
                          AND off // ctx <> (off + tk - 1) // ctx
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS split_ratio
    FROM sweep GROUP BY ctx, source
    """,
    tags=("pipeline", "packing", "quality", "planning"),
)
def dataset_packing_fragmentation_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-length PLANNING sweep for sequence packing: for each
    candidate budget in CTX_SWEEP, how fragmented would streaming-concat
    packing (the `dataset_pack_context_windows` scheme) leave each
    source — documents SPLIT across a pack boundary lose attention
    locality, oversize documents (tk > ctx) split no matter what, and
    the pack count prices the epoch.  One run answers "which context
    length do we train at" with the exact census instead of a rule of
    thumb.

    The running offset is computed ONCE per source (the same
    shuffle-on-source + in-partition ordered window as the packing op);
    the four candidates then fan out as a broadcast-joined VALUES table
    — the sweep costs one extra projection per candidate, not four
    window passes.  Boundary math is pure integer division (a doc
    [off, off+tk) splits iff off//ctx ≠ (off+tk-1)//ctx); the only
    double is the final split_ratio division.

    Reference basis: LLM-pipeline extension (SURVEY §2.8+); the
    packing scheme itself is `dataset_pack_context_windows`."""
    from .text import token_count

    d = t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select("source", "doc_id", token_count(F.col("text")).alias("tk"))
    offs = toks.select(
        "source",
        "doc_id",
        "tk",
        F.coalesce(F.sum("tk").over(w), F.lit(0)).cast("long").alias("off"),
    )
    ctxs = spark.createDataFrame([(c,) for c in CTX_SWEEP], "ctx long")
    sweep = offs.crossJoin(F.broadcast(ctxs))
    is_split = (
        (F.col("tk") > 0)
        & (
            floordiv_col(F.col("off"), F.col("ctx"))
            != floordiv_col(F.col("off") + F.col("tk") - 1, F.col("ctx"))
        )
    ).cast("int")
    return (
        sweep.groupBy("ctx", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_split).cast("long").alias("n_split_docs"),
            F.sum((F.col("tk") > F.col("ctx")).cast("int"))
            .cast("long")
            .alias("n_oversize_docs"),
            F.max(F.col("off") + F.col("tk")).alias("src_tokens"),
            (F.sum(is_split).cast("double") / F.count(F.lit(1))).alias(
                "split_ratio"
            ),
        )
        .select(
            "ctx",
            "source",
            "n_docs",
            "n_split_docs",
            "n_oversize_docs",
            floordiv_col(F.col("src_tokens") + F.col("ctx") - 1, F.col("ctx"))
            .cast("long")
            .alias("n_packs"),
            "split_ratio",
        )
    )


# ---------------------------------------------------------------------------
# UniMax epoch-capped mixture (Chung et al. 2023): the budget-allocation
# rule that replaced temperature sampling for multilingual pretraining —
# spread the token budget as UNIFORMLY as possible across languages, but
# never take more than ``max_epochs`` passes over any language's data.
# Low-resource languages saturate at their cap (bounding repetition /
# memorization risk); the leftover budget re-spreads over the rest.

#: repeat cap: at most this many epochs over any one language's tokens
UNIMAX_MAX_EPOCHS = 2
#: budget = (3 · total corpus tokens) / 2 — chosen so this corpus's lang
#: distribution yields BOTH saturated and unsaturated languages at every
#: test SF (verified at landing; an all-saturated or all-equal outcome
#: would leave the waterfilling untested)
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 3, 2

_UNIMAX_TOK_SQL = (
    "LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\r\\f]+'))"
)


@query(
    "dataset_unimax_mixture",
    oracle=f"""
    WITH per AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM({_UNIMAX_TOK_SQL}) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    capd AS (
      SELECT *, CAST({UNIMAX_MAX_EPOCHS} * lang_tokens AS BIGINT) AS cap_tokens
      FROM per
    ),
    st1 AS (
      SELECT *,
        CAST(SUM(lang_tokens) OVER () AS BIGINT) AS total_tokens,
        CAST(COUNT(*) OVER () AS BIGINT) AS n_langs,
        CAST(ROW_NUMBER() OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS rk,
        CAST(COALESCE(SUM(cap_tokens) OVER (
          ORDER BY cap_tokens, lang
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS cap_prefix
      FROM capd
    ),
    st2 AS (
      SELECT *,
        ({UNIMAX_BUDGET_NUM} * total_tokens) // {UNIMAX_BUDGET_DEN} AS budget,
        cap_tokens * (n_langs - rk + 1)
          <= ({UNIMAX_BUDGET_NUM} * total_tokens) // {UNIMAX_BUDGET_DEN}
             - cap_prefix AS saturated
      FROM st1
    ),
    st3 AS (
      SELECT *,
        CAST(COALESCE(SUM(CASE WHEN saturated THEN cap_tokens END)
                      OVER (), 0) AS BIGINT) AS sat_sum,
        CAST(SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS BIGINT)
          AS n_sat
      FROM st2
    ),
    fin AS (
      SELECT lang, n_docs, lang_tokens, cap_tokens,
        CASE WHEN saturated THEN cap_tokens
             ELSE (budget - sat_sum) // (n_langs - n_sat)
                  + CASE WHEN rk - n_sat
                           <= (budget - sat_sum) % (n_langs - n_sat)
                         THEN 1 ELSE 0 END
        END AS alloc_tokens
      FROM st3
    )
    SELECT lang, n_docs, lang_tokens, cap_tokens,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(alloc_tokens * 1000000 // lang_tokens AS BIGINT) AS epochs_ppm
    FROM fin
    """,
    tags=("dataset", "mixture", "sampling", "unimax", "pipeline"),
)
def dataset_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split a token budget B = 1.5× the corpus as equally
    as possible across languages subject to an epoch cap of
    ``UNIMAX_MAX_EPOCHS`` passes over any language — the waterfilling
    alloc_i = min(cap_i, θ) with θ chosen so Σ alloc = B.  Languages
    whose full cap fits their equal share SATURATE (their repetition
    stops at the cap); the spare budget re-spreads uniformly over the
    rest.  All arithmetic is exact integer: the saturation test uses
    the multiply form ``cap·(remaining langs) ≤ remaining budget``
    (monotone down the ascending-cap order, so the saturated set is a
    prefix — no fixed point iteration needed), θ is an integer
    division, and the ≤(n-1)-token rounding remainder goes one token
    apiece to the first ``r`` unsaturated languages in the same
    deterministic (cap, lang) order.  Output per language: raw tokens,
    cap, allocation, and achieved epochs in ppm (alloc/tokens ×10⁶).

    Scale shape: one map-side-combined agg over the corpus (the token
    count), then every window runs on the LANGUAGE-cardinality frame —
    5 rows here, a few hundred at web scale — so the planning math is
    free no matter the corpus size."""
    from .text import token_count

    docs = t(spark, sf_dir, "documents")
    per = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count(F.col("text"))).cast("long").alias("lang_tokens"),
        )
        .withColumn(
            "cap_tokens",
            (F.lit(UNIMAX_MAX_EPOCHS) * F.col("lang_tokens")).cast("long"),
        )
    )
    wall = Window.partitionBy()
    worder = Window.partitionBy().orderBy("cap_tokens", "lang")
    wprefix = worder.rowsBetween(Window.unboundedPreceding, -1)
    st1 = per.select(
        "*",
        F.sum("lang_tokens").over(wall).cast("long").alias("total_tokens"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_langs"),
        F.row_number().over(worder).cast("long").alias("rk"),
        F.coalesce(F.sum("cap_tokens").over(wprefix), F.lit(0))
        .cast("long")
        .alias("cap_prefix"),
    )
    st2 = st1.withColumn(
        "budget",
        floordiv_col(
            F.lit(UNIMAX_BUDGET_NUM) * F.col("total_tokens"),
            F.lit(UNIMAX_BUDGET_DEN),
        ),
    ).withColumn(
        "saturated",
        F.col("cap_tokens") * (F.col("n_langs") - F.col("rk") + 1)
        <= F.col("budget") - F.col("cap_prefix"),
    )
    st3 = st2.select(
        "*",
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("cap_tokens"))).over(wall),
            F.lit(0),
        )
        .cast("long")
        .alias("sat_sum"),
        F.sum(F.col("saturated").cast("long")).over(wall)
        .cast("long")
        .alias("n_sat"),
    )
    n_unsat = F.col("n_langs") - F.col("n_sat")
    spare = F.col("budget") - F.col("sat_sum")
    alloc = (
        F.when(F.col("saturated"), F.col("cap_tokens"))
        .otherwise(
            floordiv_col(spare, n_unsat)
            + F.when(F.col("rk") - F.col("n_sat") <= spare % n_unsat, 1)
            .otherwise(0)
        )
        .cast("long")
    )
    return st3.select(
        "lang",
        "n_docs",
        "lang_tokens",
        "cap_tokens",
        alloc.alias("alloc_tokens"),
        floordiv_col(alloc * 1_000_000, F.col("lang_tokens")).alias(
            "epochs_ppm"
        ),
    )
