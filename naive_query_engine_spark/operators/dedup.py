r"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design notes (the point of every operator here is the 100 TB shape):

- **exact** — hash-groupBy on the normalized text; one shuffle on a
  high-cardinality key, AQE handles skew.  Never a pairwise compare.
- **n-gram Jaccard** — inverted-index self-join on shingles (pairs only
  materialize for docs that SHARE a shingle), then per-pair overlap counts.
  No O(n²) cross join at any stage.
- **MinHash-LSH** — K seeded min-hashes computed in ONE aggregation pass
  over exploded shingles (K aggregate expressions, not a K× row blowup),
  banded into B buckets, candidate pairs from equi-joins on (band, sig),
  then verified with true Jaccard on the candidates only.  This is the
  classic shingle→minhash→band→bucket-join pipeline; at 1000 executors the
  only all-to-all movement is shuffles keyed by shingle / band signature.
- **SimHash** — bit-vote aggregation per doc (again one groupBy pass), then
  Hamming-distance candidate pairing.  At this test scale the pairing is a
  direct self-join; the scale path (noted inline) blocks on signature
  prefixes so only same-prefix docs compare.

Portability trick for the DuckDB oracle: the hash family is seeded **md5**
(lowercase hex), which both engines compute identically; min() over hex
strings is a valid uniform min-hash and compares identically (ASCII order).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import cut_lineage, query, spread, t
from ..substrates import substrate
from .shingles_sql import (
    CAPPED_SHINGLES_SQL as _CAPPED_SQL,
    JACCARD_THRESHOLD,
    MAX_SHINGLE_DF,
    SHINGLES_SQL as _SHINGLES_SQL,
)

#: storage level for reused intermediate frames that scale with the corpus
#: (exploded shingle sets).  MEMORY_AND_DISK spills partitions to local
#: disk instead of recomputing (or evicting wholesale) when the frame
#: outgrows executor memory; stating it explicitly makes the memory
#: budget a documented decision rather than a .cache() default.  The
#: frames persisted here are the DISTINCT shingle sets (already capped /
#: candidate-bounded downstream), never the raw exploded stream.
_SPILLABLE = StorageLevel.MEMORY_AND_DISK

# MinHash configuration: K hashes in B bands of R rows (K = B*R).
MINHASH_K = 12
MINHASH_BANDS = 6
MINHASH_R = MINHASH_K // MINHASH_BANDS
SIMHASH_BITS = 32
HAMMING_THRESHOLD = 3


# ---------------------------------------------------------------------------
# shared shingling


def raw_shingle_rows(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, g) rows: word n-gram shingles per document, WITH per-doc
    repeats — no shuffle anywhere.  Feed this to aggregations that are
    multiset-invariant (min-hash: min over repeats == min over the set) so
    the shingles never move across the cluster at all.

    Spreads first (split-aware): the corpus parquet is a single split at
    test scale, which would serialize the (interpreted,
    higher-order-function) shingle expansion onto one core; already-split
    input skips the exchange (``queries.spread``)."""
    from .text import tokens  # lazy: avoids import cycle when dedup is the entry module

    d = spread(d)
    toks = tokens(F.col("text"))
    size = F.size(toks)
    # slice+array_join beats n× element_at (one array access per gram)
    grams = F.transform(
        F.sequence(F.lit(0), size - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return d.filter(size >= n).select("doc_id", F.explode(grams).alias("g"))


def ordered_pair_structs(ds_col: str):
    """Expression: all ordered pairs (doc_a < doc_b) of an ASCENDING-sorted
    id array ``ds_col`` as an array of structs — the row-local pair
    expansion every posting-list consumer shares (each unordered pair of
    the list appears exactly once because the list is sorted and
    per-doc-distinct)."""
    return F.flatten(
        F.transform(
            F.col(ds_col),
            lambda a, i: F.transform(
                F.slice(F.col(ds_col), i + 2, F.size(F.col(ds_col))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )


def pairs_from_postings(
    wins: DataFrame, max_df: int, min_shared: int, out_col: str
) -> DataFrame:
    """(doc_a, doc_b, <out_col>) from a per-doc-distinct posting frame
    ``wins`` (doc_id, h): group postings by key, df-cap by list size,
    expand each ≤max_df-doc list into its ordered pairs ROW-LOCALLY, and
    count shared keys per pair.

    r13 (guide §2.4): this replaces the df-cap-join + inverted-index
    self-join the substring family used — that shape paid one Exchange
    for the df aggregate, a join of the posting frame against the
    surviving keys, a self-join on the key, and a final pair Exchange
    (plus a persist so the posting frame could feed three consumers).
    Here the SAME pair multiset comes from ONE Exchange of the posting
    frame (the groupBy) followed by an in-row pair expansion and the
    pair Exchange: strictly fewer corpus-scale shuffles, no persist, no
    broadcast anywhere (which also retires the r10 small-heap guard —
    there is no join left for AQE to broadcast).  Fan-out stays bounded
    exactly as before: a key expands to at most C(max_df, 2) pairs
    in-row (measured 3.0 s → 1.0 s warm on dedup_substring at sf0.1,
    identical 280-pair output)."""
    lists = (
        wins.groupBy("h")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter((F.size("ds") <= max_df) & (F.size("ds") >= 2))
        .select(F.array_sort("ds").alias("ds"))
    )
    return pairs_from_grouped(lists, min_shared, out_col)


def pairs_from_grouped(lists: DataFrame, min_shared: int, out_col: str) -> DataFrame:
    """Pair counts from an ALREADY-GROUPED posting frame (``ds`` =
    ascending per-key doc list): row-local pair expansion + one pair
    Exchange.  Split out of :func:`pairs_from_postings` (r14) so callers
    holding a session-cached grouped index skip the grouping Exchange
    entirely."""
    return (
        lists.filter(F.size("ds") >= 2)
        .select(F.explode(ordered_pair_structs("ds")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias(out_col))
        .filter(F.col(out_col) >= min_shared)
    )


def shingle_rows(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct shingle set per document — for set-semantics consumers
    whose oracle sees the shingle STRING (SimHash votes, the Bloom hash
    family).  explode + distinct (a shuffle), NOT array_distinct:
    array_distinct on string arrays is quadratic per row, and the shuffle
    lands the rows keyed the way every downstream shingle-join wants."""
    return raw_shingle_rows(d, n).distinct()


def hashed_shingle_rows(d: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc DISTINCT shingles as ``xxhash64`` BIGINTs — for consumers
    that only ever JOIN/COUNT shingles (the capped-index family: Jaccard,
    containment, tf-idf, incremental, contamination, cross-source).

    r13 (guide §2.3/§2.4): the hash never reaches any output — only
    shingle EQUALITY matters downstream — so an 8-byte key replaces the
    ~20-char shingle string in every one of those consumers' shuffles
    and joins, and the per-doc dedup becomes a row-local
    ``array_distinct`` over a primitive array (linear, unlike the string
    case) instead of a corpus-wide ``.distinct()`` Exchange.  Oracle
    equality over the fixed corpora at all three SFs pins the swap
    collision-free there; at 64-bit width collisions stay negligible for
    any realistic shingle vocabulary.  Consumers whose oracle sees the
    shingle hash itself (minhash md5, simhash votes, Bloom slices) keep
    the string forms above."""
    from .text import tokens  # lazy: avoids import cycle

    d = spread(d)
    toks = tokens(F.col("text"))
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), size - n),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
    )
    return d.filter(size >= n).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("g")
    )


# (shingle oracle SQL lives in shingles_sql.py — leaf module, import-order safe)


# ---------------------------------------------------------------------------
# exact dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on the normalized fingerprint; keeps the
    lowest doc_id as the canonical representative."""
    from .text import fingerprint

    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup


def ngram_jaccard_pairs(
    d: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    sh: DataFrame | None = None,
    grouped: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard, via inverted-index join
    over the stop-shingle-capped universe (see ``MAX_SHINGLE_DF``).

    ``sh`` — a prebuilt capped shingle index (doc_id, g) for the DEFAULT
    (n=3, max_df=MAX_SHINGLE_DF) universe: registered queries pass the
    session-cached :func:`cached_capped_index` so the tokenize→distinct→
    df machinery runs once per session instead of once per consumer
    (VERDICT r4 #3); callers with non-default n/max_df must leave it
    None.  ``grouped``/``sizes`` (r14) — the session-cached GROUPED
    posting view and per-doc size table over the same universe
    (:func:`cached_capped_postings` / :func:`cached_capped_sizes`): when
    passed, the per-call grouping and size Exchanges disappear too."""
    if sh is None:
        # callers with a non-default universe (tests, custom n/max_df):
        # per-doc-distinct hashed shingles, df-capped.  The df cap is
        # applied by pairs_from_postings below; sizes must still count
        # ONLY capped shingles, so materialize the capped index here too.
        all_sh = hashed_shingle_rows(d, n).persist(_SPILLABLE)
        rare = (
            all_sh.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("g")
        )
        sh = all_sh.join(rare, "g").persist(_SPILLABLE)
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    # r13 (guide §2.4): pair counts via one posting Exchange + row-local
    # pair expansion (pairs_from_postings) instead of the inverted-index
    # self-join — sh is already df-capped, so the helper's cap re-check
    # (max_df) never drops anything further
    if grouped is not None:
        shared = pairs_from_grouped(grouped, 1, "shared")
    else:
        shared = pairs_from_postings(
            sh.select("doc_id", F.col("g").alias("h")), max_df, 1, "shared"
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_g").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_g").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM capped GROUP BY doc_id),
    pair AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) AS jaccard
    FROM pair
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "pipeline", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (jaccard >= threshold).  The
    single-division double is deterministic across engines — no rounding."""
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"),
        sh=cached_capped_index(spark, sf_dir),
        grouped=cached_capped_postings(spark, sf_dir),
        sizes=cached_capped_sizes(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# idf-weighted cosine near-dup (the soft/weighted complement of Jaccard)


TFIDF_SCALE = 1000  #: fixed-point scale for the integer idf weights
TFIDF_COSINE_THRESHOLD = 0.35
#: per-doc output cap (VERDICT r4 #2): a duplicate-saturated shard emits
#: ~quadratically many >=threshold pairs (the replicated 10x probe corpus
#: hit 253,600); keeping each doc's top-K strongest matches bounds output
#: at K x n_docs — corpus-LINEAR — and K=20 far exceeds any reviewable
#: per-doc duplicate list.  Mirrored in the oracle.
TFIDF_TOPK_PER_DOC = 20


@query(
    "dedup_tfidf_cosine",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfreq AS (
      SELECT g, COUNT(*) AS df FROM shingles GROUP BY g
      HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    wsh AS (
      SELECT s.doc_id, s.g,
             CAST(FLOOR({TFIDF_SCALE} * (CAST(nd.n_docs AS DOUBLE) / f.df))
                  AS HUGEINT)
             * CAST(FLOOR({TFIDF_SCALE} * (CAST(nd.n_docs AS DOUBLE) / f.df))
                    AS HUGEINT) AS w2
      FROM shingles s JOIN dfreq f USING (g) CROSS JOIN nd
    ),
    norms AS (SELECT doc_id, SUM(w2) AS n2 FROM wsh GROUP BY doc_id),
    dots AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, SUM(x.w2) AS dot
      FROM wsh x JOIN wsh y ON x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b,
             CAST(dot AS DOUBLE)
               / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b
      WHERE CAST(dot AS DOUBLE)
              / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
            >= {TFIDF_COSINE_THRESHOLD}
    )
    SELECT doc_a, doc_b, cosine FROM (
      SELECT doc_a, doc_b, cosine,
             ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY cosine DESC, doc_b)
               AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOPK_PER_DOC}
    """,
    tags=("dedup", "pipeline", "tfidf", "cosine"),
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idf-WEIGHTED cosine near-dup pairs over the same capped shingle
    universe as ``dedup_ngram_jaccard`` — the weighted complement of set
    Jaccard: instead of every shingle counting 1, a shingle's weight is
    its idf (rare shared shingles dominate the score; near-boilerplate
    shingles contribute almost nothing even below the hard df cap).  Same
    grouped-posting-list shape as ``pairs_from_postings``, so it scales
    the same way — never all-pairs, pair fan-out bounded by the df cap.

    Determinism: weights are fixed-point BIGINTs — ONE double division
    floored (identical IEEE expression both engines); dot products and
    norms are exact integer sums in DECIMAL(38,0)/HUGEINT (a weight's
    square can exceed int64 once n_docs is cluster-sized); the cosine is
    one fixed double expression over those exact inputs.  Shingles are
    distinct per doc (tf == 1), so the pair dot is the sum of shared
    shingles' squared weights — the weight rides the inverted index, no
    second lookup.

    Output cap (VERDICT r4 #2): each doc keeps its top K =
    TFIDF_TOPK_PER_DOC = 20 matches (ROW_NUMBER over cosine DESC with
    doc_b as the deterministic tie-break — cosine is a bit-identical
    double in both engines, so the rank order is too).  A duplicate-
    saturated corpus otherwise emits a ~quadratic pair list; with the
    cap, output is <= K x n_docs — corpus-linear — while the strongest
    evidence per doc is kept verbatim."""
    # r14: the weighted grouped index (g → sorted doc list, w²) and the
    # per-doc norm table are the session-cached cached_tfidf_index —
    # built once per session from ONE Exchange of the capped index (the
    # r13 grouped-posting shape) and shared with the prefix-filtered
    # detector.  w² (not w) rides the group: the dot of a pair with
    # tf==1 shingles is the sum of shared shingles' SQUARED weights.
    gw, norms = cached_tfidf_index(spark, sf_dir)
    # pair dots by row-local expansion of each shingle's (df-capped ≤
    # MAX_SHINGLE_DF) posting list — the pairs_from_postings idiom,
    # weighted: same pair multiset as the old inverted-index self-join,
    # ONE pair Exchange (map-side-combined) instead of two corpus-scale
    # join Exchanges
    dots = (
        gw.filter(F.size("ds") >= 2)
        .select(F.explode(ordered_pair_structs("ds")).alias("p"), "w2")
        .select("p.doc_a", "p.doc_b", "w2")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("w2")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= TFIDF_COSINE_THRESHOLD)
    )
    wk = Window.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TFIDF_TOPK_PER_DOC)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# prefix-filtered all-pairs cosine (Bayardo/Ramakrishnan/Srikant, WWW'07)

#: the prefix filter's operating threshold.  Prefix filtering pays in the
#: HIGH-similarity regime: the keep-mass bound (1−t²) leaves 78% of
#: postings indexed at t=0.35 (measured candidate volume 0.67× — the
#: verify join then costs more than the saving; measured 4× slower than
#: the exhaustive join, and rejected for that regime) but only 19% at
#: t=0.8 (candidate volume 0.086× = 12× fewer pair-postings).  So the
#: registered query runs the t=0.8 near-identical / boilerplate-collapse
#: pass — the pass a pipeline runs FIRST, where most duplicate mass is —
#: and the general-threshold detector stays the exhaustive
#: ``dedup_tfidf_cosine``.
TFIDF_PREFIX_THRESHOLD = 0.8
#: index-admission bound for the prefix filter: a shingle may be dropped
#: from a doc's inverted-index prefix when the doc's REMAINING (suffix)
#: squared norm is < t²·‖a‖² — by Cauchy–Schwarz any pair whose first
#: shared shingle (in the global canonical order) sits in that suffix has
#: cosine < t, so pruning it cannot lose a ≥t pair.  Keep condition on
#: the exclusive running squared mass: run2 ≤ (1−t²)·‖a‖².  Computed in
#: Python once and inlined as the SAME double literal in both engines.
TFIDF_PREFIX_FRAC = 1.0 - TFIDF_PREFIX_THRESHOLD * TFIDF_PREFIX_THRESHOLD


@query(
    "dedup_tfidf_cosine_prefix",
    oracle=f"""
    WITH {{shingles}},
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfreq AS (
      SELECT g, COUNT(*) AS df FROM shingles GROUP BY g
      HAVING COUNT(*) <= {{max_df}}
    ),
    wsh AS (
      SELECT s.doc_id, s.g,
             CAST(FLOOR({{scale}} * (CAST(nd.n_docs AS DOUBLE) / f.df))
                  AS HUGEINT)
             * CAST(FLOOR({{scale}} * (CAST(nd.n_docs AS DOUBLE) / f.df))
                    AS HUGEINT) AS w2
      FROM shingles s JOIN dfreq f USING (g) CROSS JOIN nd
    ),
    norms AS (SELECT doc_id, SUM(w2) AS n2 FROM wsh GROUP BY doc_id),
    ordered AS (
      SELECT w.doc_id, w.g, n.n2,
             COALESCE(SUM(w.w2) OVER (
               PARTITION BY w.doc_id ORDER BY w.w2 DESC, w.g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), CAST(0 AS HUGEINT)) AS run2
      FROM wsh w JOIN norms n USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, g FROM ordered
      WHERE CAST(run2 AS DOUBLE) <= {{frac}} * CAST(n2 AS DOUBLE)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM prefix x JOIN prefix y ON x.g = y.g AND x.doc_id < y.doc_id
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b, SUM(a.w2) AS dot
      FROM cand c
      JOIN wsh a ON a.doc_id = c.doc_a
      JOIN wsh b ON b.doc_id = c.doc_b AND b.g = a.g
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b,
             CAST(dot AS DOUBLE)
               / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b
      WHERE CAST(dot AS DOUBLE)
              / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
            >= {{threshold}}
    )
    SELECT doc_a, doc_b, cosine FROM (
      SELECT doc_a, doc_b, cosine,
             ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY cosine DESC, doc_b)
               AS rk
      FROM scored
    ) WHERE rk <= {{topk}}
    """.format(
        shingles=_SHINGLES_SQL,
        max_df=MAX_SHINGLE_DF,
        scale=TFIDF_SCALE,
        frac=repr(TFIDF_PREFIX_FRAC),
        threshold=TFIDF_PREFIX_THRESHOLD,
        topk=TFIDF_TOPK_PER_DOC,
    ),
    tags=("dedup", "pipeline", "tfidf", "cosine", "prefix-filter"),
)
def dedup_tfidf_cosine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-similarity (t=0.8) idf-cosine pairs with PREFIX-FILTERED
    candidate generation — the exact all-pairs similarity-search pruning
    of Bayardo et al. (WWW'07), run in the regime where it pays: the
    near-identical / boilerplate-collapse pass a pipeline runs first.
    Instead of indexing every posting, each doc indexes only the head of
    its shingles under a GLOBAL canonical order (squared weight desc,
    shingle asc), stopping once the remaining suffix mass falls below
    t²·‖a‖².  By Cauchy–Schwarz, a pair whose first shared shingle (in
    that global order) is suffix-resident on either side has cosine < t —
    and since per-doc order IS the global order, the first shared shingle
    being suffix-resident puts every shared shingle in the suffix.  So
    joining prefix-vs-prefix postings loses no ≥t pair.  Candidates are
    then verified with exact dots over the FULL index, thresholded, and
    capped per doc.  ``tests/test_prefix_filter.py`` pins exact set
    equality against the exhaustive path at the same threshold.

    Regime choice is MEASURED, not assumed (BASELINE.md r5): at t=0.35
    the keep-mass bound (1−t²)=0.88 leaves 78% of postings indexed and
    candidate volume only drops 0.67× — the verify join then made the
    filter 4× SLOWER than the exhaustive join, so the general detector
    stays ``dedup_tfidf_cosine``.  At t=0.8 only 19% of postings are
    indexed and candidate pair-postings drop 12× (51.6M → 4.4M on the
    10× probe corpus).  Determinism: run2 is an exact integer
    (DECIMAL(38,0)/HUGEINT) accumulated over a total per-doc order; the
    keep test compares identical doubles in both engines (the (1−t²)
    literal is inlined from one Python float)."""
    # r14: the weighted grouped index and norm table are the
    # session-cached cached_tfidf_index (shared with dedup_tfidf_cosine);
    # the flat (doc_id, g, w2) view every stage below consumes is a
    # row-local explode of the persisted groups
    gw, norms = cached_tfidf_index(spark, sf_dir)
    wsh = gw.select("g", F.explode("ds").alias("doc_id"), "w2")
    w_ord = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("w2").desc(), F.col("g"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run2 = F.coalesce(F.sum("w2").over(w_ord), F.lit(0).cast("decimal(38,0)"))
    prefix = (
        wsh.join(norms, "doc_id")
        .withColumn("run2", run2)
        .filter(
            F.col("run2").cast("double")
            <= F.lit(TFIDF_PREFIX_FRAC) * F.col("n2").cast("double")
        )
        .select("doc_id", "g")
    )
    # candidate pairs by row-local expansion of each shingle's PREFIX
    # posting list (pairs_from_postings idiom) instead of the prefix
    # self-join — the same distinct pair set from one groupBy of the
    # prefix postings; fan-out stays df-cap-bounded (a prefix list is a
    # subset of the capped posting list)
    cand = (
        prefix.groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(ordered_pair_structs("ds")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    a, b = wsh.alias("a"), wsh.alias("b")
    dots = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("doc_b")) & (F.col("b.g") == F.col("a.g")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("a.w2")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= TFIDF_PREFIX_THRESHOLD)
    )
    wk = Window.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TFIDF_TOPK_PER_DOC)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


MH_HEX_WIDTH = 5  # 20-bit hash space per min-hash — ample for per-doc shingle counts


def minhash_signatures(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """One aggregation pass → K min-hash columns mh0..mh{k-1} per doc.

    All K hash functions derive from TWO md5 calls per shingle (64 hex
    chars sliced into K disjoint MH_HEX_WIDTH-char windows) instead of K
    independent md5s — the per-row hash cost is constant in K.
    Lexicographic MIN over fixed-width lowercase-hex slices == numeric
    min-hash, identically in both engines."""
    assert k * MH_HEX_WIDTH <= 64, "two md5s provide 64 hex chars"
    h2 = F.concat(
        F.md5(F.col("g")), F.md5(F.concat(F.lit("x"), F.col("g")))
    ).alias("h2")
    hashed = sh.select("doc_id", h2)
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col("h2"), s * MH_HEX_WIDTH + 1, MH_HEX_WIDTH)).alias(f"mh{s}")
            for s in range(k)
        ]
    )


def lsh_candidates(sig: DataFrame, bands: int = MINHASH_BANDS, r: int = MINHASH_R) -> DataFrame:
    """Band the signature, bucket-join per band, union candidate pairs.

    Bands come from ONE ``posexplode`` over an array of per-band bucket
    hashes — a single pass over the signature frame.  (The r1 version
    unioned B per-band selects, which re-evaluated the post-shuffle
    signature aggregate once per band unless ReuseExchange rescued it —
    38% of the bench lived in those two union fans.)

    r13: the per-band bucket key is ``xxhash64`` over the band's min-hash
    columns (the oracle md5s their concatenation) — bucket keys only ever
    test EQUALITY of the band tuple, so the cheap 8-byte hash replaces
    the md5 hex string in the bucket self-join; candidates are identical
    modulo hash collisions, which oracle equality at all SFs pins absent,
    and every candidate is still verified with true Jaccard anyway."""
    band_sigs = F.array(
        *[
            F.xxhash64(*[F.col(f"mh{b * r + j}") for j in range(r)])
            for b in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.posexplode(band_sigs).alias("band", "sig"))
    x, y = buckets.alias("x"), buckets.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    d: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: shingle → minhash → band → bucket-join → verify.

    Signatures aggregate the RAW (non-distinct) shingle stream — min-hash
    is multiset-invariant, so partial aggregation collapses everything
    map-side and no shingle row ever shuffles for the signature pass.  The
    distinct set is materialized only for the (candidate-bounded) Jaccard
    verification — as xxhash64 BIGINTs (r13): the verify join and size
    counts only test shingle EQUALITY, so the 8-byte key replaces the
    string and the per-doc dedup is row-local (hashed_shingle_rows); the
    md5 family stays on the SIGNATURE path, where the oracle sees it.

    ``sh`` — a prebuilt per-doc-distinct hashed shingle frame (doc_id, g)
    for the default n=3 universe: registered queries pass the
    session-cached :func:`cached_hashed_shingles` (the cached_capped_index
    idiom) so the tokenize→shingle machinery runs once per session and no
    per-call persist is left behind; callers with a non-default corpus
    must leave it None."""
    if sh is None:
        sh = hashed_shingle_rows(d).persist(_SPILLABLE)
    # ``sig`` — a prebuilt signature table: registered queries pass the
    # session-cached cached_minhash_signatures (r14); ad-hoc corpora
    # rebuild inline
    if sig is None:
        sig = minhash_signatures(raw_shingle_rows(d))
    cand = lsh_candidates(sig)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        cand.join(a, cand.doc_a == F.col("a.doc_id"))
        .join(b, (cand.doc_b == F.col("b.doc_id")) & (F.col("a.g") == F.col("b.g")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_g").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_g").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN(SUBSTR(h2, {s * MH_HEX_WIDTH + 1}, {MH_HEX_WIDTH})) AS mh{s}"
        for s in range(MINHASH_K)
    )
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band, MD5({cols}) AS sig FROM sig".format(
            b=b,
            cols=" || '|' || ".join(
                f"mh{b * MINHASH_R + j}" for j in range(MINHASH_R)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH {_SHINGLES_SQL},
    hashed AS (
      SELECT doc_id, MD5(g) || MD5('x' || g) AS h2 FROM shingles
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    buckets AS (
{band_rows}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM buckets x
      JOIN buckets y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM shingles GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      FROM cand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.g = a.g
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) AS jaccard
    FROM shared
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) >= {JACCARD_THRESHOLD}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle, tags=("dedup", "pipeline", "minhash", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection (shingle → minhash → band → bucket-join
    → verify).  K=MINHASH_K hashes, MINHASH_BANDS bands × MINHASH_R rows."""
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        sh=cached_hashed_shingles(spark, sf_dir),
        sig=cached_minhash_signatures(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash_vote_exprs() -> list[Column]:
    """Per-shingle ±1 bit votes (bit j = nibble j of the md5 >= 8), one
    aggregate expression per signature bit.  Expects the md5 hex parsed
    into three long columns ``l0, l1, l2`` (15+15+2 hex chars — a long
    holds 15 hex digits; r13: the conv() radix parses moved into the
    pre-aggregation projection so they run ONCE per shingle row instead
    of relying on subexpression elimination across 32 aggregate input
    expressions); each vote is a shift/mask on those longs — pure
    codegen integer arithmetic."""
    out = []
    for j in range(SIMHASH_BITS):
        if j < 15:
            p, i, length = 0, j, 15
        elif j < 30:
            p, i, length = 1, j - 15, 15
        else:
            p, i, length = 2, j - 30, 2
        shift = 4 * (length - 1 - i) + 3  # top bit of the j-th nibble
        bit = F.shiftright(F.col(f"l{p}"), shift).bitwiseAND(F.lit(1))
        out.append(F.sum(bit * 2 - 1).alias(f"v{j}"))
    return out


def simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) — signature as a BIGINT bit-field (bit j set when
    the vote sum for bit j is >= 0)."""
    h = F.md5(F.col("g"))
    parts = [(1, 15), (16, 15), (31, 2)]
    hashed = shingle_rows(d).select(
        "doc_id",
        *[
            F.conv(F.substring(h, s, ln), 16, 10).cast("long").alias(f"l{p}")
            for p, (s, ln) in enumerate(parts)
        ],
    )
    votes = hashed.groupBy("doc_id").agg(*simhash_vote_exprs())
    sig = sum(
        (F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(0) for j in range(SIMHASH_BITS)),
        start=F.lit(0),
    ).cast("long")
    return votes.select("doc_id", sig.alias("simhash"))


def _band_bounds(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(shift, mask) per block, covering all bits with near-equal widths."""
    base, extra = divmod(n_bits, n_blocks)
    bounds, shift = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        bounds.append((shift, (1 << width) - 1))
        shift += width
    return bounds


def simhash_pairs(
    d: DataFrame,
    max_hamming: int = HAMMING_THRESHOLD,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over simhash signatures — via
    **pigeonhole banding**, never an O(n²) cross join: split the signature
    into ``max_hamming + 1`` bit-blocks; any pair within the Hamming budget
    must agree exactly on at least one block, so candidates come from
    equi-joins on (block_index, block_bits) and only candidates pay the
    bit_count(xor) distance.  Identical output to the naive pairing (the
    DuckDB oracle runs the naive O(n²) formulation as the independent
    check — fine at oracle scale)."""
    if sig is None:
        sig = simhash_signatures(d)
    # one posexplode over the per-block bit slices — a single pass over
    # the signature frame instead of (max_hamming+1) unioned selects
    block_bits = F.array(
        *[
            F.shiftright("simhash", shift).bitwiseAND(F.lit(mask))
            for shift, mask in _band_bounds(SIMHASH_BITS, max_hamming + 1)
        ]
    )
    blocks = sig.select(
        "doc_id", "simhash", F.posexplode(block_bits).alias("blk", "bits")
    )
    x, y = blocks.alias("x"), blocks.alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).cast("long")
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.bits") == F.col("y.bits"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_oracle() -> str:
    votes = ",\n             ".join(
        "SUM(CASE WHEN strpos('0123456789abcdef', SUBSTR(MD5(g), {p}, 1)) - 1 >= 8 "
        "THEN 1 ELSE -1 END) AS v{j}".format(p=j + 1, j=j)
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH {_SHINGLES_SQL},
    votes AS (
      SELECT doc_id,
             {votes}
      FROM shingles GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {bits} AS simhash FROM votes)
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM sig x JOIN sig y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_THRESHOLD}
    """


@query("dedup_simhash", oracle=_simhash_oracle, tags=("dedup", "pipeline", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit signatures, Hamming <= 3).  The
    signature table is the session-cached sketch (r14); the banded
    candidate join + verified Hamming filter is the per-call work."""
    return simhash_pairs(
        t(spark, sf_dir, "documents"),
        sig=cached_simhash_signatures(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus


#: deterministic "new batch" membership: doc_id % NEW_BATCH_MOD == NEW_BATCH_REM
#: (~10% of the corpus plays the role of today's arriving batch)
NEW_BATCH_MOD = 10
NEW_BATCH_REM = 7


def capped_shingle_index(d: DataFrame) -> DataFrame:
    """(doc_id, g): the capped shingle inverted index — distinct shingles
    per doc minus stop-shingles (doc-freq > MAX_SHINGLE_DF).  This is the
    steady-state TABLE a deployment maintains (see write_shingle_index);
    recomputing it per run, as the self-contained registered query must,
    is the test-harness stand-in for reading that table.

    r13: ``g`` is the xxhash64 BIGINT of the shingle (see
    :func:`hashed_shingle_rows`) — every consumer joins/counts it
    opaquely, the build loses its corpus-wide distinct Exchange, and all
    downstream shuffles carry 8-byte keys."""
    all_sh = hashed_shingle_rows(d).persist(_SPILLABLE)
    rare = (
        all_sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("g")
    )
    return all_sh.join(rare, "g")


@substrate
def cached_hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached :func:`hashed_shingle_rows` (default n=3) of the
    corpus's documents table, persisted MEMORY_AND_DISK.  Lazy: no job
    runs until a consumer's first action.  The uncapped shingle set under
    the capped index; MinHash verification reads it directly (Jaccard
    needs the full per-doc set)."""
    return hashed_shingle_rows(
        t(spark, sf_dir, "documents")
    ).persist(_SPILLABLE)


@substrate
def cached_capped_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached :func:`capped_shingle_index` of the corpus's
    documents table, persisted MEMORY_AND_DISK.  Lazy: no job runs until
    a consumer's first action.  The stand-in for the maintained bucketed
    table (``write_shingle_index``) the dedup families read."""
    # build over the SESSION-CACHED uncapped frame (r13): the df
    # aggregate + stop-shingle join are the only work left when the
    # MinHash family already materialized the shingles (or vice
    # versa) — same relation as capped_shingle_index(documents)
    all_sh = cached_hashed_shingles(spark, sf_dir)
    rare = (
        all_sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("g")
    )
    return all_sh.join(rare, "g").persist(_SPILLABLE)


def cached_capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, ds): the capped index grouped by shingle with ascending posting
    lists — a projection of the session-cached weighted index (r14; no
    extra persist: ``cached_tfidf_index``'s gw already holds the grouped
    lists, the weight column is simply not selected)."""
    gw, _ = cached_tfidf_index(spark, sf_dir)
    return gw.select("g", "ds")


@substrate
def cached_capped_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, n_g) over the capped universe.  Lazy
    persist.  The denominator of every capped-index pair consumer."""
    return (
        cached_capped_index(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_g"))
        .persist(_SPILLABLE)
    )


@substrate
def cached_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached :func:`minhash_signatures` of the corpus's documents
    (raw shingle stream — min-hash is multiset-invariant).  Lazy persist.
    The per-doc sketch table a deployment maintains next to the corpus."""
    return minhash_signatures(
        raw_shingle_rows(t(spark, sf_dir, "documents"))
    ).persist(_SPILLABLE)


@substrate
def cached_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached :func:`simhash_signatures` of the corpus's documents
    table.  Lazy persist.  Maintained like the MinHash table."""
    return simhash_signatures(
        t(spark, sf_dir, "documents")
    ).persist(_SPILLABLE)


@substrate
def cached_tfidf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-cached weighted grouped posting index ``(gw, norms)`` —
    ``gw = (g, ds, w2)`` with df-capped sorted posting lists and squared
    idf weights, ``norms = (doc_id, n2)``.  Lazy persists.  Both tf-idf
    cosine detectors read it; the weights are exact integers."""
    d = t(spark, sf_dir, "documents")
    all_sh = cached_capped_index(spark, sf_dir)
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # df is the posting list's own length (size(ds)) — the capped
    # index admits a shingle iff its GLOBAL df is <= the cap, so the
    # grouped list is complete and no separate dfreq aggregate is
    # needed.  Weights are exact fixed-point BIGINT-in-decimal; w²
    # rides the group so pair dots sum it directly (tf == 1).
    w = F.floor(
        F.lit(TFIDF_SCALE) * (F.col("n_docs").cast("double") / F.size("ds"))
    ).cast("decimal(19,0)")
    gw = (
        all_sh.groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .crossJoin(F.broadcast(nd))  # 1-row ungrouped aggregate
        .select("g", "ds", (w * w).alias("w2"))
        .persist(_SPILLABLE)
    )
    norms = (
        gw.select(F.explode("ds").alias("doc_id"), "w2")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w2")).alias("n2"))
        .persist(_SPILLABLE)
    )
    return (gw, norms)


def write_shingle_index(d: DataFrame, table: str, n_buckets: int = 32) -> None:
    """Persist the capped shingle index BUCKETED BY SHINGLE — the
    production form of the incremental-dedup index at 100 TB: the shuffle
    onto ``g`` is paid once at write time, after which every arriving
    batch's probe join (and the index's own self-join side) reads
    bucket-aligned with NO exchange on the index side
    (``tests/test_incremental_index.py`` pins the plan property).
    Maintenance (merging an absorbed batch in) is ``sources.merge_upsert``
    on the same bucketed layout.

    Pre-merge caveat (ADVICE r3): probe-side sizes (``na``) and the df cap
    must come from the POST-merge index.  A probe executed before the
    batch is merged would count only index-known shingles toward ``na``,
    inflating jaccard and potentially emitting false positives, and
    batch-new shingles would never update the cap — merge first (or union
    batch-local shingles into the probe, as the streaming test's semi-join
    setup does by probing an index the batch is already part of)."""
    from ..sources import write_bucketed

    write_bucketed(capped_shingle_index(d), table, ["g"], n_buckets)


def incremental_candidates(sh: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Batch-probes-index candidate join over a capped shingle index
    ``sh`` (doc_id, g): the arriving batch probes the full index on
    shingle.  New-vs-old pairs always pair (new, old); new-vs-new pairs
    pair once (lower id as the existing side).  When ``sh`` is the
    bucketed table, this join is exchange-free on the index side.

    ``probe`` is the arriving batch's own (doc_id, g) frame — the
    streaming micro-batch form (``tests/test_streaming.py``); default is
    the deterministic is_new slice of ``sh`` (the self-contained
    registered-query form — equivalent when the batch is already merged
    into the index).

    Pre-merge caveat (ADVICE r3): with ``probe`` given, ``na`` is counted
    from the probe frame itself, but the df cap and the index side come
    from ``sh`` — results equal the batch path only when the batch is
    already merged into ``sh`` (the streaming test's setup).  Probing a
    stale pre-merge index under-counts nothing on the probe side but uses
    a cap/universe that hasn't seen the batch; merge before trusting
    jaccard values (see :func:`write_shingle_index`)."""
    is_new = lambda c: c % NEW_BATCH_MOD == NEW_BATCH_REM  # noqa: E731
    a = (sh.filter(is_new(F.col("doc_id"))) if probe is None else probe).alias("a")
    b = sh.alias("b")
    return a.join(
        b,
        (F.col("a.g") == F.col("b.g"))
        & (F.col("b.doc_id") != F.col("a.doc_id"))
        & (~is_new(F.col("b.doc_id")) | (F.col("b.doc_id") < F.col("a.doc_id"))),
    )


def incremental_pairs(sh: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """(new_doc, dup_of, jaccard) over a capped shingle index — the full
    incremental-dedup body shared by the registered query (recomputed
    index), the persistent bucketed-index path, and the streaming
    micro-batch path (``probe`` given)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    shared = (
        incremental_candidates(sh, probe)
        .groupBy(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("dup_of"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    asizes = (
        sizes if probe is None else probe.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    )
    sa = asizes.select(F.col("doc_id").alias("new_doc"), F.col("n_g").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("dup_of"), F.col("n_g").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "new_doc")
        .join(sb, "dup_of")
        .select("new_doc", "dup_of", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM capped GROUP BY doc_id),
    pair AS (
      SELECT x.doc_id AS new_doc, y.doc_id AS dup_of, COUNT(*) AS shared
      FROM capped x JOIN capped y ON x.g = y.g
      WHERE x.doc_id % {NEW_BATCH_MOD} = {NEW_BATCH_REM}
        AND y.doc_id <> x.doc_id
        AND (y.doc_id % {NEW_BATCH_MOD} <> {NEW_BATCH_REM} OR y.doc_id < x.doc_id)
      GROUP BY 1, 2
    )
    SELECT new_doc, dup_of,
           CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) AS jaccard
    FROM pair
    JOIN cnt ca ON ca.doc_id = new_doc
    JOIN cnt cb ON cb.doc_id = dup_of
    WHERE CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "pipeline", "jaccard", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape for a GROWING corpus: only
    the arriving batch probes the shingle inverted index, so per-ingest
    cost is O(|batch| x bucket width), never O(|corpus|²) and never a
    re-dedup of what's already indexed.  New-vs-old pairs always emit
    (new, old); new-vs-new pairs emit once (lower id as dup_of).  In a
    deployment the shingle index is a MAINTAINED table bucketed by
    shingle (``write_shingle_index`` + ``sources.merge_upsert``), making
    the probe join exchange-free on the index side — the registered query
    recomputes it (a query must be self-contained), but the join body is
    the shared :func:`incremental_pairs`, and
    ``tests/test_incremental_index.py`` runs the SAME body over the
    bucketed table and pins both result equality and the no-exchange
    plan.

    The "new batch" is a deterministic ~10% slice (doc_id % 10 == 7) so
    both engines agree without any sampling dependence."""
    sh = cached_capped_index(spark, sf_dir)
    return incremental_pairs(sh)


# ---------------------------------------------------------------------------
# train/eval contamination detection (decontamination)


#: deterministic "held-out eval set" membership (~2% of the corpus)
EVAL_SET_MOD = 50
EVAL_SET_REM = 3
#: containment threshold: fraction of the EVAL doc's shingles that also
#: appear in the train doc.  Containment (not Jaccard) is the right
#: metric here — a long train doc that swallows a short eval doc whole
#: has low Jaccard but containment ~1.0, and that's exactly the leak.
#: 0.05 keeps the correctness row non-vacuous at every SF (19 / 3 / 1801
#: flagged pairs at sf0.001/0.01/0.1 — the sf0.1 corpus contains real
#: containment-1.0 leaks; a production run would use ~0.5 after exact
#: dedup): a threshold no data can reach is a check that can't fail.
CONTAINMENT_THRESHOLD = 0.05


@query(
    "dataset_contamination_check",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    eval_cnt AS (
      SELECT doc_id, COUNT(*) AS n_g FROM capped
      WHERE doc_id % {EVAL_SET_MOD} = {EVAL_SET_REM}
      GROUP BY doc_id
    ),
    pair AS (
      SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, COUNT(*) AS shared
      FROM capped ev JOIN capped tr ON ev.g = tr.g
      WHERE ev.doc_id % {EVAL_SET_MOD} = {EVAL_SET_REM}
        AND tr.doc_id % {EVAL_SET_MOD} <> {EVAL_SET_REM}
      GROUP BY 1, 2
    )
    SELECT train_doc, eval_doc,
           CAST(shared AS DOUBLE) / ec.n_g AS containment
    FROM pair JOIN eval_cnt ec ON ec.doc_id = eval_doc
    WHERE CAST(shared AS DOUBLE) / ec.n_g >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "pipeline", "contamination"),
)
def dataset_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the check every pretraining corpus
    needs before benchmark numbers mean anything: find training documents
    whose shingle CONTAINMENT of a held-out eval document exceeds
    threshold (shared shingles / eval doc's shingles — asymmetric by
    design: a train doc that contains an eval doc verbatim scores ~1.0
    even when Jaccard is low).

    Scale shape: only the (tiny) eval set's shingles probe the capped
    inverted index — identical probe-side asymmetry to
    ``dedup_incremental``, cost O(|eval| x bucket width); the train side
    never self-joins.  The stop-shingle cap bounds fan-out exactly as in
    the dedup family."""
    sh = cached_capped_index(spark, sf_dir)
    in_eval = lambda c: c % EVAL_SET_MOD == EVAL_SET_REM  # noqa: E731
    ev = sh.filter(in_eval(F.col("doc_id"))).alias("ev")
    tr = sh.filter(~in_eval(F.col("doc_id"))).alias("tr")
    eval_cnt = ev.groupBy(F.col("doc_id").alias("eval_doc")).agg(
        F.count(F.lit(1)).alias("n_g")
    )
    shared = (
        ev.join(tr, F.col("ev.g") == F.col("tr.g"))
        .groupBy(
            F.col("tr.doc_id").alias("train_doc"), F.col("ev.doc_id").alias("eval_doc")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    containment = F.col("shared").cast("double") / F.col("n_g")
    return (
        shared.join(eval_cnt, "eval_doc")
        .select("train_doc", "eval_doc", containment.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# exact-substring dedup: verbatim character-window overlap


#: character-window geometry: W-char windows at EVERY offset (stride 1), so
#: any shared verbatim run of >= W characters is guaranteed to produce
#: shared windows regardless of alignment — the exact-substring duplication
#: detector (the signal behind "train-data memorization" dedup passes),
#: complementary to word-shingle Jaccard (which tokenizes first and scores
#: set overlap, missing sub-token verbatim runs).
SUBSTR_WINDOW = 32
#: minimum shared windows to report a pair (a shared run of length L >= W
#: yields L - W + 1 shared windows, so 5 ≙ a ~36+-char verbatim overlap)
SUBSTR_MIN_SHARED = 5
#: boilerplate cap, same role as MAX_SHINGLE_DF: a window appearing in
#: more than this many docs (site chrome, license headers) leaves the
#: index before the self-join — kills the all-pairs collapse
MAX_WINDOW_DF = 50


@query(
    "dedup_substring",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INTEGER), {SUBSTR_WINDOW})) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(length(text) - {SUBSTR_WINDOW - 1}, 1))) AS i
            FROM documents)
    ),
    ok AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) <= {MAX_WINDOW_DF}),
    wk AS (SELECT w.doc_id, w.h FROM w JOIN ok USING (h)),
    pair AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared_windows
      FROM wk x JOIN wk y ON x.h = y.h AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared_windows AS BIGINT) AS shared_windows
    FROM pair WHERE shared_windows >= {SUBSTR_MIN_SHARED}
    """,
    tags=("dedup", "pipeline", "substring"),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-dup pairs: documents sharing >=
    ``SUBSTR_MIN_SHARED`` verbatim ``SUBSTR_WINDOW``-char windows.
    Windows are hashed so the inverted index carries fixed-width keys,
    deduped per doc, df-capped against boilerplate, then self-joined —
    the same bounded-fan-out index shape as the shingle family, but at
    CHARACTER granularity: it catches copied spans that word-level
    Jaccard dilutes away (one long quote inside two otherwise-different
    pages).

    r13 (guide §2.3/§2.4): window keys are ``xxhash64`` BIGINTs (8 bytes
    — the hash never reaches the output, only window EQUALITY matters,
    so the cheap wide-gap hash replaces the md5 hex string the oracle
    still uses: 4× narrower shuffle keys and far cheaper per-window
    hashing), the per-doc window dedup is a row-local ``array_distinct``
    inside the projection instead of a corpus-wide ``.distinct()``, and
    the df-cap + pair counting run through ONE posting-frame Exchange
    (:func:`pairs_from_postings`) instead of the old df-cap join +
    self-join + persist (``tools/dump_plan_pair.py <tag>
    dedup_substring`` on each side of a change dumps the pair; 3.0 s →
    1.0 s warm at sf0.1).  The r10 small-heap guard retired with
    the join it guarded — the plan now contains no join at all, so a
    bare 1 GiB driver has nothing to broadcast (bare-session sf0.1
    driver-sim re-proven this round).  Oracle equality over the fixed
    test corpora proves the hash swap collision-free there; at 64-bit
    width the collision odds stay negligible at any corpus the stride-1
    form is honest for.

    Scale path: stride-1 windows cost O(total chars) rows — the honest
    exact detector; a 100 TB deployment samples offsets (stride k cuts
    index size k× and still catches runs >= W + k - 1) or moves to
    suffix-array methods.  The df cap bounds pair fan-out exactly as in
    dedup_ngram_jaccard (`tests/test_shingle_cap.py` demonstrates the
    failure it prevents)."""
    d = t(spark, sf_dir, "documents")
    idx = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (SUBSTR_WINDOW - 1), F.lit(1))
    )
    wins = (
        spread(d)  # split-aware: spread the expansion, skip if pre-split
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(  # per-doc dedup, row-local (no shuffle)
                    F.transform(
                        idx,
                        lambda i: F.xxhash64(
                            F.substring(F.col("text"), i, SUBSTR_WINDOW)
                        ),
                    )
                )
            ).alias("h"),
        )
    )
    return pairs_from_postings(
        wins, MAX_WINDOW_DF, SUBSTR_MIN_SHARED, "shared_windows"
    )


# ---------------------------------------------------------------------------
# winnowed exact-substring dedup: the stride-k scale path


#: winnowing window: one fingerprint is selected (the min window hash) out
#: of every K consecutive window positions, so the index carries ~2/(K+1)
#: of the stride-1 volume while keeping a DETERMINISTIC recall guarantee:
#: any shared verbatim run of >= SUBSTR_WINDOW + WINNOW_K - 1 chars spans
#: at least one full K-window of positions in BOTH documents, whose min
#: hash is content-determined — both docs select it, so the pair shares a
#: fingerprint no matter how the run is aligned.  (Positional stride-k
#: sampling has NO such guarantee: two docs whose copies start at offsets
#: differing by != 0 mod k never sample the same window.)  This is the
#: standard winnowing fingerprinting scheme (Schleimer/Wilkerson/Aiken,
#: SIGMOD'03) — the documented scale lever for dedup_substring.
WINNOW_K = 8
#: one shared (df-capped) fingerprint == a verbatim 32-char match — already
#: the exact-substring signal; the guarantee above holds at threshold 1
SUBSTR_STRIDED_MIN_SHARED = 1


def winnowed_fingerprints(d: DataFrame, k: int = WINNOW_K) -> DataFrame:
    """(doc_id, h): per-doc DISTINCT winnowed window fingerprints,
    computed entirely row-local — the window hashes, the per-K-window
    mins, and the per-doc dedup are all array expressions inside one
    projection, so unlike the stride-1 index NO raw window row ever
    shuffles (the stride-1 path pays a corpus-sized ``distinct``)."""
    idx = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (SUBSTR_WINDOW - 1), F.lit(1))
    )
    hs = F.transform(idx, lambda i: F.md5(F.substring(F.col("text"), i, SUBSTR_WINDOW)))
    base = spread(d).select("doc_id", hs.alias("hs"))
    # min over each k-window of consecutive hashes (suffix windows
    # truncate, matching the oracle's ROWS frame), then per-doc distinct —
    # all inside the row.  The md5 hex MUST drive the min selection (it
    # is the oracle's winnowing order), but the SELECTED fingerprints are
    # join keys only from here on — rekey them to xxhash64 BIGINTs so the
    # df-cap/pair machinery shuffles 8-byte keys, not 32-char hex
    # (r13, guide §2.3; oracle equality at all SFs pins the rekey).
    sel = F.transform(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("hs")),
                lambda j: F.array_min(F.slice(F.col("hs"), j, k)),
            )
        ),
        lambda h: F.xxhash64(h),
    )
    return base.select("doc_id", F.explode(sel).alias("h"))


def substring_strided_pairs(
    d: DataFrame,
    k: int = WINNOW_K,
    min_shared: int = SUBSTR_STRIDED_MIN_SHARED,
    max_df: int = MAX_WINDOW_DF,
) -> DataFrame:
    """(doc_a, doc_b, shared_fps) via the winnowed fingerprint index —
    shared body for the registered query and the planted-span recall test
    (``tests/test_substring_strided.py``).  r13: df-cap + pair counting
    via :func:`pairs_from_postings` (one posting Exchange, row-local pair
    expansion) instead of the df-cap join + self-join + persist."""
    wins = winnowed_fingerprints(d, k)
    return pairs_from_postings(wins, max_df, min_shared, "shared_fps")


@query(
    "dedup_substring_strided",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INTEGER), {SUBSTR_WINDOW})) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(length(text) - {SUBSTR_WINDOW - 1}, 1))) AS i
            FROM documents)
    ),
    sel AS (
      SELECT DISTINCT doc_id, mn AS h FROM (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_K - 1} FOLLOWING) AS mn
        FROM raw)
    ),
    ok AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) <= {MAX_WINDOW_DF}),
    wk AS (SELECT sel.doc_id, sel.h FROM sel JOIN ok USING (h)),
    pair AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared_fps
      FROM wk x JOIN wk y ON x.h = y.h AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps
    FROM pair WHERE shared_fps >= {SUBSTR_STRIDED_MIN_SHARED}
    """,
    tags=("dedup", "pipeline", "substring", "winnowing"),
)
def dedup_substring_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-dup pairs via WINNOWED fingerprints — the
    stride-k scale path ``dedup_substring`` documents: instead of indexing
    every window (O(total chars) rows through a distinct + self-join),
    select one fingerprint per ``WINNOW_K`` consecutive positions (the
    content-determined window-min), cutting index volume ~(K+1)/2× while
    deterministically catching every shared verbatim run of
    >= ``SUBSTR_WINDOW + WINNOW_K - 1`` chars regardless of alignment
    (see ``WINNOW_K`` — positional striding cannot promise that).

    Scale shape: fingerprint selection is entirely row-local (no shuffle
    until the df-cap aggregation, which now sees ~2/(K+1) of the rows);
    the df cap and inverted-index self-join are the same bounded-fan-out
    machinery as the stride-1 detector.  At 100 TB this is the variant to
    run — stride-1 is the forensic tool for bounded suspects."""
    return substring_strided_pairs(t(spark, sf_dir, "documents"))


def _minhash_recall_oracle() -> str:
    """Compose the two member oracles: exact inverted-index pairs vs
    LSH-banded verified pairs, exact set intersection, one division."""
    from ..queries import QUERIES as _QQ

    exact = _QQ["dedup_ngram_jaccard"].oracle
    lsh = _QQ["dedup_minhash_lsh"].oracle
    return f"""
    WITH ex AS ({exact}),
    ls AS ({lsh}),
    m AS (SELECT COUNT(*) AS matched FROM ex JOIN ls USING (doc_a, doc_b)),
    te AS (SELECT COUNT(*) AS n_exact FROM ex),
    tl AS (SELECT COUNT(*) AS n_lsh FROM ls)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(matched AS BIGINT) AS matched,
           CAST(matched AS DOUBLE) / n_exact AS recall
    FROM m CROSS JOIN te CROSS JOIN tl
    """


@query(
    "dedup_minhash_recall_vs_exact",
    oracle=_minhash_recall_oracle,
    tags=("dedup", "pipeline", "evaluation"),
)
def dedup_minhash_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup analog of the ANN recall gates: banding recall of
    MinHash-LSH against the exact inverted-index Jaccard pair set.  LSH
    verifies candidates with exact Jaccard, so its precision is 1 by
    construction — what banding can lose is RECALL (a true near-dup pair
    whose {B} band signatures all disagree).  Both pair sets are
    deterministic, so the recall is a stable regression number: a drop
    after touching MINHASH_K / band geometry means the banding started
    missing real duplicates."""
    d = t(spark, sf_dir, "documents")
    from ..queries import QUERIES as _QQ, cut_lineage

    # each pair frame feeds three aggregate consumers — without the cut
    # the static plan re-counts both full dedup pipelines per consumer
    # (78 exchanges) and every count job re-executes them
    exact = cut_lineage(
        _QQ["dedup_ngram_jaccard"].fn(spark, sf_dir).select("doc_a", "doc_b")
    )
    lsh = cut_lineage(
        minhash_lsh_pairs(
            d,
            sh=cached_hashed_shingles(spark, sf_dir),
            sig=cached_minhash_signatures(spark, sf_dir),
        ).select("doc_a", "doc_b")
    )
    matched = exact.join(lsh, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("matched")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    return (
        matched.crossJoin(n_exact)
        .crossJoin(n_lsh)
        .select(
            "n_exact",
            "n_lsh",
            "matched",
            (F.col("matched").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


@query(
    "profile_shingle_df_histogram",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    dfreq AS (SELECT g, COUNT(*) AS df FROM shingles GROUP BY g)
    SELECT CAST(LENGTH(bin(df)) AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(CASE WHEN df > {MAX_SHINGLE_DF} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap
    FROM dfreq GROUP BY 1
    """,
    tags=("dedup", "profile", "histogram", "tuning"),
)
def profile_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram (power-of-2 bins via the exact
    ``bin()`` bit-length trick) — the TUNING INPUT for ``MAX_SHINGLE_DF``:
    every Jaccard/MinHash/tfidf consumer drops shingles above the cap, and
    this is the query that shows what the cap costs (``n_over_cap`` per
    bin) and where the boilerplate mass sits (``n_postings`` is the
    inverted-index volume — the self-join fan-out driver — per df decade).
    Run it before moving the cap on a new corpus; df ≈ corpus size in the
    top bins is the boilerplate signature.  One df aggregation + a
    ~20-row rollup."""
    d = t(spark, sf_dir, "documents")
    dfreq = shingle_rows(d, 3).groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        dfreq.groupBy(F.length(F.bin(F.col("df"))).cast("long").alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum((F.col("df") > MAX_SHINGLE_DF).cast("int"))
            .cast("long")
            .alias("n_over_cap"),
        )
    )


SWEEP_THRESHOLDS = (0.2, 0.4, 0.6, 0.8)
#: per-doc candidate cap for the sweep (VERDICT r4 #2): the threshold
#: curve only needs each doc's strongest matches — a doc with 200
#: near-identical copies contributes the same tuning signal through its
#: top 20 as through all 200, and the uncapped pair list is ~quadratic on
#: a duplicate-saturated shard.  Mirrored in the oracle.
SWEEP_TOPK_PER_DOC = 20


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM capped GROUP BY doc_id),
    pair AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (ca.n_g + cb.n_g - shared) AS j
      FROM pair
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
    ),
    capped_jac AS (
      SELECT j FROM (
        SELECT j,
               ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY j DESC, doc_b)
                 AS rk
        FROM jac
      ) WHERE rk <= {SWEEP_TOPK_PER_DOC}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           {", ".join(
             f"CAST(SUM(CASE WHEN j >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS n_ge_{str(t).replace('.', '')}"
             for t in SWEEP_THRESHOLDS
           )}
    FROM capped_jac
    """,
    tags=("dedup", "tuning", "jaccard", "sweep"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard THRESHOLD-TUNING curve in one pass: pair counts surviving
    each candidate threshold (0.2/0.4/0.6/0.8) as conditional sums over
    the SAME inverted-index pair frame — four dedup configurations
    evaluated for the cost of one (the sweep every new corpus needs
    before committing a threshold; running the dedup four times is the
    naive alternative).  The per-pair Jaccard is the same single-division
    double as ``dedup_ngram_jaccard``, so each >= test is the identical
    IEEE comparison in both engines.

    Candidate cap (VERDICT r4 #2): the curve is computed over each doc's
    top K = SWEEP_TOPK_PER_DOC = 20 candidates (ROW_NUMBER over jaccard
    DESC, doc_b tie-break — same deterministic-rank argument as
    ``dedup_tfidf_cosine``), so the swept pair set is <= K x n_docs even
    on a duplicate-saturated shard where the uncapped set grows
    ~quadratically."""
    d = t(spark, sf_dir, "documents")
    # threshold 0 → every candidate pair with its jaccard, no filter
    pairs = ngram_jaccard_pairs(
        d,
        threshold=0.0,
        sh=cached_capped_index(spark, sf_dir),
        grouped=cached_capped_postings(spark, sf_dir),
        sizes=cached_capped_sizes(spark, sf_dir),
    )
    wk = Window.partitionBy("doc_a").orderBy(
        F.col("jaccard").desc(), F.col("doc_b")
    )
    pairs = (
        pairs.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= SWEEP_TOPK_PER_DOC)
        .drop("rk")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        *[
            F.sum((F.col("jaccard") >= th).cast("int"))
            .cast("long")
            .alias(f"n_ge_{str(th).replace('.', '')}")
            for th in SWEEP_THRESHOLDS
        ],
    )


# ---------------------------------------------------------------------------
# asymmetric containment (quote / truncation / subset detection)

#: minimum fraction of the SMALLER document's shingle set that must appear
#: in the larger one.  0.9 is the Broder containment regime for "A is
#: essentially inside B" — high enough that prefix/truncation pairs pass
#: while topically-similar documents don't.
SUBSET_CONTAINMENT_THRESHOLD = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM capped GROUP BY doc_id),
    pair AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, shared, ca.n_g AS na, cb.n_g AS nb
      FROM pair
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
    )
    SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_contained,
           CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_container,
           CAST(LEAST(na, nb) AS BIGINT) AS n_contained_shingles,
           CAST(shared AS DOUBLE) / LEAST(na, nb) AS containment,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM scored
    WHERE CAST(shared AS DOUBLE) / LEAST(na, nb) >= {SUBSET_CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "pipeline", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection — Broder containment
    c(A,B) = |S(A)∩S(B)| / |S(A)| with A the smaller shingle set: the
    detector for documents that live INSIDE other documents (quotes,
    truncated mirrors, articles embedded in aggregator pages).  Symmetric
    Jaccard is structurally blind to these — a 50-shingle doc fully
    contained in a 5000-shingle doc scores jaccard ≈ 0.01 but
    containment = 1.0 — and a dedup pipeline that only thresholds Jaccard
    ships the small doc twice.  Output is DIRECTIONAL: (doc_contained,
    doc_container), with jaccard riding along so the consumer can split
    "mutual near-dup" (both high) from "one-sided subset" (containment
    high, jaccard low).

    Regime on THIS corpus (measured, sf0.01): all 25 containment-≥0.9
    pairs are also jaccard-≥0.2 near-dups — the synthetic generator
    replicates whole documents, never truncates them, so the one-sided
    regime is empty here.  The operator's distinct value is exactly the
    pairs that regime would add on a real crawl; the direction column is
    non-vacuous either way.

    Scale shape: identical to ``dedup_ngram_jaccard`` — the pair frame
    comes from the SAME session-cached capped inverted index (df-capped
    fanout, never all-pairs), and containment adds only the LEAST() on
    the already-joined size columns.  One extra projection, zero extra
    shuffles beyond the shared pair build."""
    # r14: sizes and the grouped posting view are session-cached (shared
    # with the jaccard family); pair counts expand row-locally from the
    # persisted groups — zero corpus-scale Exchanges per call
    sizes = cached_capped_sizes(spark, sf_dir)
    shared = pairs_from_grouped(cached_capped_postings(spark, sf_dir), 1, "shared")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_g").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_g").alias("nb"))
    na, nb, sh_c = F.col("na"), F.col("nb"), F.col("shared")
    small = F.least(na, nb)
    containment = sh_c.cast("double") / small
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.when(na <= nb, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "doc_contained"
            ),
            F.when(na <= nb, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "doc_container"
            ),
            small.cast("long").alias("n_contained_shingles"),
            containment.alias("containment"),
            (sh_c.cast("double") / (na + nb - sh_c)).alias("jaccard"),
        )
        .filter(F.col("containment") >= SUBSET_CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Line-level exact dedup (CCNet / C4 shape): hash fixed segments, count
# cross-document frequency, attribute the duplicated-text mass per source.

#: words per segment — the stand-in for "one line" on this corpus (the
#: synthetic documents carry no newlines; on a real web corpus the
#: segmenter is split(text, '\n') and everything downstream is identical)
SEGMENT_WORDS = 8


@query(
    "dedup_segment_exact",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    segs AS (
      SELECT doc_id, source,
             array_to_string(
               list_slice(w, i*{SEGMENT_WORDS}+1, i*{SEGMENT_WORDS}+{SEGMENT_WORDS}),
               ' ') AS seg
      FROM words, UNNEST(range(0, len(w) // {SEGMENT_WORDS})) AS u(i)
    ),
    seg_df AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    ),
    per_doc AS (
      SELECT s.doc_id, s.source,
             COUNT(*) AS n_segs,
             SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup_segs
      FROM segs s JOIN seg_df d ON s.seg = d.seg
      GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(n_segs) AS BIGINT)    AS total_segments,
           CAST(SUM(dup_segs) AS BIGINT)  AS dup_segments,
           CAST(CASE WHEN SUM(n_segs) = 0 THEN NULL
                     ELSE (1000000 * SUM(dup_segs)) // SUM(n_segs) END AS BIGINT)
             AS dup_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    tags=("dedup", "line-level", "ccnet", "corpus-report"),
)
def dedup_segment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-LEVEL exact dedup report (the CCNet/C4 preprocessing shape:
    hash every line, drop lines whose cross-document frequency exceeds 1).
    The reference engine has no analog; this is a training-data op.

    Semantics on this corpus: a "line" is a non-overlapping
    ``SEGMENT_WORDS``-word segment (the synthetic documents carry no
    newlines; swap the segmenter for ``split(text, '\\n')`` on a real web
    corpus — nothing downstream changes).  Unlike the overlapping-shingle
    Jaccard detectors above, segments TILE the document, so total segment
    volume is ~|corpus| / W, not ~|corpus| — this is why CCNet can afford
    an EXACT pass at web scale.  Output is the per-source duplicated-text
    mass (dup segments / total segments, integer ppm), the report a
    curation pipeline uses to pick which sources need the heavier
    near-dup cascade.

    Scale shape (r14, guide §2.3/§2.4): one explode (map-side, tiling so
    ~n_words/W rows) into per-(doc, hash) occurrence counts — the
    segment stream is derived ONCE (the old shape re-derived the
    scan+explode+hash lineage for both sides of the df join), keyed by
    ``xxhash64`` 8-byte longs instead of md5 strings (the oracle groups
    raw segments — the OUTPUT never exposes the key, so the engines only
    need dedup-equivalent keys, not identical ones).  Document frequency
    is a count over the already-(doc,hash)-distinct rows, the join back
    carries only (hash, df) on the build side, and the per-doc totals
    come from the occurrence counts (``n_segs = Σk``,
    ``dup_segs = Σk·[df≥2]`` — exactly the oracle's per-occurrence
    sums).  No pairwise compare anywhere; at 100 TB every heavy stage is
    linear in corpus size.

    Exactness: the dup fraction is an integer-division ppm
    (``(1e6 * dup) DIV total``) — no float division, bit-equal across
    engines; the guard keeps a zero-segment source NULL in both.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    # tile into exactly-W-word segments JVM-side; sequence(0, size DIV W)
    # deliberately overshoots by one and the filter drops the partial tail
    # (sequence(0, -1) would generate a DESCENDING range — never go there)
    segs_sql = (
        f"filter(transform(sequence(0, CAST(size(w) DIV {SEGMENT_WORDS} AS INT)),"
        f" i -> concat_ws(' ', slice(w, i*{SEGMENT_WORDS}+1, {SEGMENT_WORDS}))),"
        f" s -> size(split(s, ' ')) = {SEGMENT_WORDS})"
    )
    hs_expr = F.expr(f"transform({segs_sql}, s -> xxhash64(s))")
    # source is functionally dependent on doc_id — keep the string OUT of
    # the corpus-scale exchanges (3×long rows only) and re-attach it from
    # the documents dim on the per-doc aggregate
    dhk = (
        spread(d)
        .select("doc_id", F.explode(hs_expr).alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    seg_df = dhk.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        dhk.join(seg_df, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_segs"),
            F.sum(F.when(F.col("df") >= 2, F.col("k")).otherwise(0)).alias(
                "dup_segs"
            ),
        )
        .join(t(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_segs").cast("long").alias("total_segments"),
            F.sum("dup_segs").cast("long").alias("dup_segments"),
            F.when(
                F.sum("n_segs") > 0,
                F.expr("CAST((1000000 * sum(dup_segs)) DIV sum(n_segs) AS BIGINT)"),
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# cross-SOURCE overlap matrix — mirror/scraper detection at the source
# level (the aggregate view above the per-document detectors)

OVERLAP_FP = 1_000_000  #: fixed-point scale for the source-pair Jaccard


def _cross_source_overlap_oracle() -> str:
    return f"""
    WITH {_SHINGLES_SQL},
    {_CAPPED_SQL},
    sg AS (
      SELECT DISTINCT d.source, c.g
      FROM capped c JOIN documents d USING (doc_id)
    ),
    sizes AS (SELECT source, COUNT(*) AS n_g FROM sg GROUP BY source),
    pair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared
      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(shared AS BIGINT) AS shared_shingles,
           CAST(na.n_g + nb.n_g - shared AS BIGINT) AS union_shingles,
           CAST((shared * {OVERLAP_FP}) // (na.n_g + nb.n_g - shared)
             AS BIGINT) AS jaccard_fp
    FROM pair
    JOIN sizes na ON na.source = source_a
    JOIN sizes nb ON nb.source = source_b
    ORDER BY jaccard_fp DESC, source_a, source_b
    """


@query(
    "dedup_cross_source_overlap",
    oracle=_cross_source_overlap_oracle,
    tags=("dedup", "pipeline", "profiling", "curation"),
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE content-overlap matrix — mirror/scraper detection one
    level above the per-document detectors: for every source pair, the
    Jaccard of their (capped) shingle VOCABULARIES.  A crawl that
    ingested the same site under two source labels, or a scraper source
    that republishes another, shows up as one source-pair's Jaccard
    spiking above the background — the curation team's cue to dedup
    ACROSS those sources before mixing weights are computed (a mirror
    pair double-counts its content in any per-source budget).

    Scale shape: reuses the session-cached capped shingle index (11th
    consumer — the maintained-table probe like every other consumer).
    r14 (guide §2.3/§2.4, replacing the r13 collect_set shape): the
    per-shingle source set is a BITMASK — sources are a bounded label
    set (the output matrix is |sources|²-bounded by this operator's own
    contract, and the mask caps at 64 labels: a 65th fails the query),
    so ``bit_or`` of ``1 << source_idx`` collects the set as one LONG in
    a codegen HashAggregate with map-side partials, where ``collect_set`` ran as
    an ObjectHashAggregate (no whole-stage codegen, per-row set
    allocation) whose n_shingles-row output then fed TWO explode
    consumers.  The mask frame collapses to ≤2^|sources| rows in a
    second (map-side-combined, near-free) aggregate, and pair counts /
    per-source vocabulary sizes expand row-locally from THAT tiny frame
    weighted by mask multiplicity — the corpus-scale work is exactly one
    scan of the cached index plus one long-keyed Exchange.

    Determinism: exact integer shingle counts; Jaccard as fixed-point
    integer division; total order (jaccard desc, source pair)."""
    d = t(spark, sf_dir, "documents")
    sh = cached_capped_index(spark, sf_dir)
    # 1-row frame holding the ascending source vocabulary: each source's
    # mask bit is its position in this array (no driver collect — the
    # array rides a broadcast crossJoin into the row-local expressions)
    lst = (
        d.select("source")
        .distinct()
        .agg(F.sort_array(F.collect_list("source")).alias("all_ss"))
    )
    # per-DOC mask bit: the 1-row vocabulary crossJoin (a BNLJ) touches
    # only the n_docs-row side — the shingle-scale rows below join it by
    # doc_id hash, never through a nested-loop.  A LONG holds 64 bits and
    # shiftleft takes its shift mod 64 (source 65 would alias source 1),
    # so a larger vocabulary fails the row expression instead
    d_bit = (
        d.select("doc_id", "source")
        .crossJoin(F.broadcast(lst))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN size(all_ss) > 64 THEN raise_error(concat("
                "'dedup_cross_source_overlap: ', size(all_ss),"
                " ' sources exceed the 64-bit source mask'))"
                " ELSE shiftleft(CAST(1 AS BIGINT),"
                " CAST(array_position(all_ss, source) - 1 AS INT)) END"
            ).alias("b"),
        )
    )
    masks = sh.join(d_bit, "doc_id").groupBy("g").agg(F.bit_or("b").alias("m"))
    # ≤2^|sources| rows: how many shingles carry each exact source set.
    # CUT here (bounded rows): three consumers read wp (pair, na, nb) and
    # column pruning specializes their subtrees enough that ReuseExchange
    # cannot dedup them — uncut, the corpus-scale mask aggregate ran 3×
    # (measured 0.73 s subtree vs 2.7 s full query at sf0.1)
    wp = cut_lineage(
        masks.groupBy("m")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(lst))
        .select(
            "cnt",
            # reconstruct the ascending source set from the mask (the
            # vocabulary array is ascending, filter preserves order)
            F.expr(
                "filter(all_ss, (s, i) ->"
                " (shiftright(m, CAST(i AS INT)) & CAST(1 AS BIGINT)) = 1)"
            ).alias("ss"),
        )
    )
    sizes = (
        wp.select(F.explode("ss").alias("source"), "cnt")
        .groupBy("source")
        .agg(F.sum("cnt").alias("n_g"))
    )
    pair = (
        wp.select(F.explode(ordered_pair_structs("ss")).alias("p"), "cnt")
        .select(
            F.col("p.doc_a").alias("source_a"),
            F.col("p.doc_b").alias("source_b"),
            "cnt",
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum("cnt").alias("shared"))
    )
    na = sizes.select(F.col("source").alias("source_a"), F.col("n_g").alias("na"))
    nb = sizes.select(F.col("source").alias("source_b"), F.col("n_g").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("shared")
    return (
        pair.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared_shingles"),
            union.cast("long").alias("union_shingles"),
            F.expr(
                f"CAST((shared * {OVERLAP_FP}) DIV (na + nb - shared) AS BIGINT)"
            ).alias("jaccard_fp"),
        )
        .orderBy(F.col("jaccard_fp").desc(), "source_a", "source_b")
    )
