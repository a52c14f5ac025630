"""Text-analysis operators for training-data pipelines.

All pure built-in-function pipelines (JVM-side, whole-stage-codegen'd) — no
Python UDFs in any hot path.  Each operator is a reusable DataFrame
transform plus a registered oracle-checked query over the ``documents``
table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import cut_lineage, query, spread, t
from ..substrates import substrate

#: tiny per-language function-word lists for the n-gram/stopword language
#: heuristic (public linguistic common knowledge; deliberately small —
#: the operator shape, not the lexicon, is the point)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "les", "des", "et", "un"],
    "de": ["der", "die", "und", "das", "ein", "ist"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lower-cased).

    The split class is EXPLICIT, not ``\\s``: Java regex ``\\s`` includes
    vertical tab (\\x0B) while DuckDB's RE2 ``\\s`` does not, so a corpus
    containing \\x0B would tokenize differently per engine.  Every oracle
    uses this same literal class (ADVICE r2)."""
    return F.split(F.lower(F.trim(col)), r"[ \t\n\r\f]+")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs + individual symbols —
    the standard cheap proxy for subword-tokenizer cost."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]"), 0)).cast(
        "long"
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over whitespace/punct-normalized text.
    (The reference has no fingerprinting; rolling-hash shingles live in
    dedup.py — this is the exact-canonical-form key.)"""
    norm = F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))
    return F.md5(norm)


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the token set."""
    toks = tokens(col)
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(col: Column) -> Column:
    """Pick the language with the most marker hits (deterministic priority
    order en>es>fr>de on ties; 'und' when nothing matches)."""
    s = lang_scores(col)
    best = F.greatest(*s.values())
    out = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        out = F.when(s[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best == 0, F.lit("und")).otherwise(out)


def quality_columns(col: Column) -> list[Column]:
    """Length / punctuation-ratio / stopword-ratio quality signals.
    Single-division doubles — deterministic across engines."""
    toks = tokens(col)
    n_tok = F.size(toks).cast("long")
    n_char = F.length(col).cast("long")
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^\w \t\n\r\f]"), 0)).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("long")
    return [
        n_char.alias("n_char"),
        n_tok.alias("n_tok"),
        (n_char.cast("double") / n_tok).alias("avg_token_len"),
        (n_punct.cast("double") / n_char).alias("punct_ratio"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
    ]


# ---------------------------------------------------------------------------
# registered queries

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS n_ws_tokens,
           CAST(LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT) AS n_bpe_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_char
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    return d.select(
        "doc_id",
        token_count(txt).alias("n_ws_tokens"),
        bpe_ish_token_count(txt).alias("n_bpe_tokens"),
        F.length(txt).cast("long").alias("n_char"),
    )


@query(
    "text_quality_score",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n_char,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_extract_all(text, '[^\w \t\n\r\f]')) AS BIGINT) AS n_punct,
             CAST(LENGTH(list_filter(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+'),
                                     x -> list_contains([{_STOP_SQL}], x))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_char, n_tok,
           CAST(n_char AS DOUBLE) / n_tok  AS avg_token_len,
           CAST(n_punct AS DOUBLE) / n_char AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_tok  AS stopword_ratio
    FROM q
    """,
    tags=("text", "pipeline"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, punctuation ratio, stopword ratio."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *quality_columns(F.col("text")))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("text", "pipeline", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint (md5 of normalized text)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _lang_id_oracle() -> str:
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
        case += f"WHEN s_{lang} = best THEN '{lang}' "
    case += "END"
    selects = ",\n             ".join(f"{sql} AS s_{lang}" for lang, sql in score.items())
    return rf"""
    WITH tok AS (
      SELECT doc_id, lang, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             {selects}
      FROM tok
    ), best AS (
      SELECT doc_id, lang AS labeled_lang, {greatest} AS best, *
      FROM scored
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN best = 0 THEN 'und' ELSE {case} END AS predicted_lang
    FROM best
    """


@query("text_lang_id", oracle=_lang_id_oracle(), tags=("text", "pipeline", "langid"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via function-word n-gram hits.  Output carries
    the dataset's label column for accuracy eyeballing; the check grades
    determinism of the heuristic, not label recovery."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_lang(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_top_ngrams",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS ts FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM tok
    ),
    bigrams AS (
      SELECT a.w || ' ' || b.w AS g
      FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    )
    SELECT g, COUNT(*) AS cnt FROM bigrams
    GROUP BY g ORDER BY cnt DESC, g LIMIT 50
    """,
    tags=("text", "pipeline", "ngram"),
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word bigrams (occurrence counts, not per-doc
    distinct).  Count-then-top-k: one shuffle on the gram, then
    TakeOrdered — never a global sort."""
    d = t(spark, sf_dir, "documents")
    d = spread(d)  # split-aware: spread the expansion, skip if pre-split
    toks = tokens(F.col("text"))
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), size - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
    )
    return (
        d.filter(size >= 2)
        .select(F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("g"))
        .limit(50)
    )


@query(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS ts FROM documents
    ),
    words AS (SELECT doc_id, unnest(ts) AS w FROM tok),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    tags=("text", "pipeline", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document.  TF and DF are exact integer
    aggregations; ln() is rounded to 9 decimals (JVM vs libc last-ulp).
    The DF table has vocabulary cardinality — it grows with the corpus, so
    no broadcast hint: the tf⋈df join shuffles on `w` (both sides already
    hash-partitioned by the upstream groupBys) and AQE may still choose
    broadcast when the measured vocabulary is small."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    d = spread(d)  # split-aware: spread the expansion, skip if pre-split
    n_docs = d.count()
    w_rows = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    tf = w_rows.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = w_rows.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "w").select(
        "doc_id",
        F.col("w").alias("term"),
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9
        ).alias("tfidf"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g'),
             'https?://[^ \t\n\r\f]+', '<URL>', 'g') AS scrubbed,
           (regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
            OR regexp_matches(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')
            OR regexp_matches(text, 'https?://[^ \t\n\r\f]+')) AS had_pii
    FROM documents
    """,
    tags=("text", "pipeline", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails / phone-like numbers / URLs → typed
    placeholders, plus a had-PII flag.  Pure regexp_replace chain —
    JVM-side, streams at scan speed (the standard pre-training scrub
    pass shape)."""
    d = t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
    url = r"https?://[^ \t\n\r\f]+"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"),
        url,
        "<URL>",
    )
    had = (
        F.col("text").rlike(email) | F.col("text").rlike(phone) | F.col("text").rlike(url)
    )
    return d.select("doc_id", scrubbed.alias("scrubbed"), had.alias("had_pii"))


@query(
    "text_edit_distance_neighbors",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(SUBSTR(a.text, 1, 60), SUBSTR(b.text, 1, 60)) AS BIGINT)
             AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
    tags=("text", "pipeline", "editdistance"),
)
def text_edit_distance_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance between consecutive docs' 60-char prefixes —
    the character-level near-dup signal.  Edit distance is O(len²) per
    pair, so at scale it's a VERIFY step on candidate pairs (from
    MinHash/SimHash), never a pairwise primitive; prefix-bounding caps the
    per-pair cost.  Well-defined integer → engine-agnostic."""
    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 60).alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 60).alias("tb"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("ta"), F.col("tb")).cast("long").alias("edit_dist"),
        )
    )


@query(
    "text_repetition_signals",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS ts
      FROM documents
      WHERE LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) >= 2
    ),
    words AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM tok
    ),
    bigrams AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS g
      FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)   AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS dup_bigram_frac,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS top_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
    tags=("text", "pipeline", "quality", "repetition"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-style "repetitious
    content" filters): per document, the fraction of word bigrams that are
    repeats of an earlier bigram, and the share of the single most frequent
    bigram.  High values flag template/boilerplate/spam documents that
    length or punctuation signals miss.

    Scale shape: one bigram explode (no shuffle — per-row transform), one
    groupBy(doc_id, gram) partial-aggregated count, one groupBy(doc_id)
    rollup.  Both shuffles are keyed by doc_id(+gram) — uniformly
    distributed, no hot keys, and the gram counts combine map-side.  The
    divisions are single double ops over exact integers (hash-stable).

    The reference has no text operators; this extends the quality family
    (text_quality_score) with the repetition dimension every pre-training
    curation pipeline uses."""
    from .dedup import raw_shingle_rows

    d = t(spark, sf_dir, "documents")
    per_gram = (
        raw_shingle_rows(d, 2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = F.sum("c")
    distinct = F.count(F.lit(1))
    return per_gram.groupBy("doc_id").agg(
        total.cast("long").alias("n_bigrams"),
        distinct.cast("long").alias("n_distinct"),
        ((total - distinct).cast("double") / total.cast("double")).alias("dup_bigram_frac"),
        (F.max("c").cast("double") / total.cast("double")).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV rate

VOCAB_V = 200


@query(
    "text_vocab_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT {VOCAB_V})
    SELECT t.doc_id, t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE) / COUNT(*)
             AS oov_ratio
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id, t.lang
    """,
    tags=("text", "pipeline", "quality", "vocab"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-``VOCAB_V``
    token vocabulary — the tokenizer-coverage signal a pre-training pipeline
    computes before committing to a vocab (docs with high OOV are either
    noise or an under-represented domain/language).

    Scale shape: token frequencies are one hash aggregation; the vocabulary
    is a **global top-V limit** (TakeOrdered, driver never sees the corpus)
    and therefore bounded by construction — the one frame here that is
    legitimately broadcast.  The per-doc pass is a broadcast-hash left join
    on the exploded token stream plus one grouped count: no shuffle of the
    corpus beyond the doc_id aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(VOCAB_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    n_tok = F.count(F.lit(1))
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            n_tok.cast("long").alias("n_tok"),
            n_oov.cast("long").alias("n_oov"),
            (n_oov.cast("double") / n_tok.cast("double")).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# sparse retrieval: BM25-style scoring over the token inverted index


@substrate
def cached_tf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, term, tf) term-frequency index of the
    corpus's documents table, persisted MEMORY_AND_DISK.  Terms are
    xxhash64 BIGINTs (r13, guide §2.3): the term string never reaches
    any output — tf/df/dl and the probe join only test term EQUALITY —
    so the 8-byte key replaces the string in the tf aggregation shuffle
    and every downstream join (oracle equality at all SFs pins the swap
    collision-free on these corpora).  Lazy: no job runs until a
    consumer's first action.  The maintained inverted index of
    text_bm25_topk, retrieval_rrf_fusion, retrieval_eval_mrr_ndcg and
    retrieval_mmr_diversify."""
    from pyspark import StorageLevel

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("term"))
    return (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


@substrate
def cached_bm25_side_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-cached ``(dl, dfreq)`` — per-doc length and per-term df —
    derived from :func:`cached_tf_index`.  Lazy persists.  Index side
    tables every BM25 call and its retrieval compositions read."""
    from pyspark import StorageLevel

    tf = cached_tf_index(spark, sf_dir)
    dl = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (dl, dfreq)


#: BM25 parameters (standard Robertson defaults) and the fixed-point scale
#: that turns each per-term score into an exact BIGINT: every per-term
#: score is ONE identical double expression tree in both engines (IEEE
#: +,-,*,/ are correctly rounded, so identical operands → identical
#: doubles), floored to an integer BEFORE the per-document sum — double
#: summation ORDER across terms never matters.  The classical log() idf is
#: replaced by its rational core (N - df + 0.5)/(df + 0.5) (log is
#: monotone, and libm log is not bit-portable across engines); documented
#: deviation, same ranking family.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000
BM25_N_QUERY_DOCS = 5
BM25_TOP_K = 5


@query(
    "text_bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    qterms AS (
      SELECT doc_id AS query_id, term FROM tf WHERE doc_id < {BM25_N_QUERY_DOCS}
    ),
    scored_terms AS (
      -- every fractional literal is CAST(... AS DOUBLE): DuckDB parses
      -- bare 0.5/0.75/2.2 as exact DECIMAL, which would diverge from
      -- Spark's IEEE-double expression tree before the FLOOR
      SELECT q.query_id, c.doc_id AS neighbor_id,
             CAST(FLOOR(
               {BM25_SCALE} * (((s.n_docs - f.df) + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
               * ((c.tf * CAST({BM25_K1 + 1!r} AS DOUBLE))
                  / (c.tf + CAST({BM25_K1!r} AS DOUBLE)
                     * ((1 - CAST({BM25_B!r} AS DOUBLE))
                        + CAST({BM25_B!r} AS DOUBLE) * (d.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))))
             ) AS BIGINT) AS s_term
      FROM qterms q
      JOIN tf c ON c.term = q.term AND c.doc_id <> q.query_id
      JOIN dfreq f ON f.term = q.term
      JOIN dl d ON d.doc_id = c.doc_id
      CROSS JOIN stats s
    ),
    scores AS (
      SELECT query_id, neighbor_id, SUM(s_term) AS bm25_q
      FROM scored_terms GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, bm25_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY bm25_q DESC, neighbor_id) AS rnk
      FROM scores
    )
    SELECT query_id, neighbor_id, CAST(bm25_q AS BIGINT) AS bm25_q,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {BM25_TOP_K}
    """,
    tags=("text", "retrieval", "pipeline", "topk"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse retrieval: BM25-style top-k document scoring through the
    token INVERTED INDEX — the lexical-search complement to the dense
    (embedding) similarity family: term-frequency table once, query terms
    probe it by equi-join, per-(query, doc) score sum, window top-k.

    Scale shape: the corpus-side work is one tf aggregation + the probe
    join keyed by term (only terms the queries contain move anything);
    df/dl side tables join by term/doc_id; the global (n_docs, total_dl)
    frame is a 1-row ungrouped aggregate (broadcastable by rule).  Cost
    per query is O(postings of its terms) — independent of corpus width,
    the property that makes inverted-index retrieval the scan-avoiding
    search structure at 100 TB.

    Determinism: per-term scores are fixed-point BIGINTs (one identical
    IEEE double expression both engines, floored), summed exactly; the
    classical log-idf is replaced by its rational core — see BM25_K1
    comment."""
    from pyspark.sql import Window

    tf = cached_tf_index(spark, sf_dir)
    # r14: dl/dfreq are session-cached index side tables (see
    # cached_bm25_side_tables) — the per-call work left is the probe join
    # and the (queries × postings)-bounded scoring
    dl, dfreq = cached_bm25_side_tables(spark, sf_dir)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    qterms = tf.filter(F.col("doc_id") < BM25_N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    corpus = tf.select(F.col("doc_id").alias("neighbor_id"), "term", "tf")
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1) - F.lit(BM25_B) + F.lit(BM25_B) * (F.col("dl") / avgdl)
    )
    s_term = F.floor(
        F.lit(BM25_SCALE) * idf * ((F.col("tf") * F.lit(BM25_K1 + 1)) / denom)
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.col("bm25_q").desc(), F.col("neighbor_id"))
    return (
        qterms.join(corpus, "term")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(dfreq, "term")
        .join(dl.select(F.col("doc_id").alias("neighbor_id"), "dl"), "neighbor_id")
        .crossJoin(F.broadcast(stats))  # 1-row ungrouped aggregate
        .select("query_id", "neighbor_id", s_term.alias("s_term"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("s_term").alias("bm25_q"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= BM25_TOP_K)
    )


# ---------------------------------------------------------------------------
# corpus-LM quality scoring: character-bigram commonness


@query(
    "text_char_bigram_likelihood",
    oracle="""
    WITH bg AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(length(text) - 1, 1))) AS i
            FROM documents)
    ),
    counts AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c.c) AS BIGINT) AS total_commonness,
           CAST(SUM(c.c) AS DOUBLE) / COUNT(*) AS commonness
    FROM bg b JOIN counts c ON c.bg = b.bg
    GROUP BY b.doc_id
    """,
    tags=("text", "pipeline", "quality", "lm"),
)
def text_char_bigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM commonness score — the deterministic core of the
    perplexity-style quality filter every pretraining pipeline runs (a
    KenLM-ish model scores documents; docs whose character statistics
    diverge from the corpus are flagged as noise/garbled/binary junk).
    Model: unigram LM over character BIGRAMS; a document's score is the
    mean corpus frequency of its bigrams.  Exact integer counts and sums
    with ONE final division keep both engines bit-identical (a true
    log-likelihood would sum libm logs — not portable; monotone in the
    same signal).

    Scale shape: ONE pass over the raw bigram stream — the per-(doc,
    bigram) tf aggregation collapses it with map-side combine; the global
    count table derives from tf (bounded by the charset² domain
    regardless of corpus size — AQE broadcasts it); the weighted
    (tf × count) join then touches only the collapsed frame, never the
    raw stream.  Σ tf·c(b) ≡ summing c over every bigram occurrence, so
    the restructure is value-identical to the oracle's per-occurrence
    formulation (the naive two-pass form re-expanded the stream and
    joined it at full volume — 6.5× time at the 10× probe; this shape is
    1.1×).  Low-commonness docs are the filter's rejects."""
    d = t(spark, sf_dir, "documents")
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 1, F.lit(1)))
    bg = (
        spread(d)  # split-aware: spread the expansion, skip if pre-split
        .select(
            "doc_id",
            F.explode(
                F.transform(idx, lambda i: F.substring(F.col("text"), i, 2))
            ).alias("bg"),
        )
    )
    from pyspark import StorageLevel

    # persist the collapsed frame: it feeds BOTH the global counts and the
    # weighted join — without it each consumer re-runs the raw expansion
    tf = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = tf.groupBy("bg").agg(F.sum("tf").alias("c"))
    return (
        tf.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("c")).cast("long").alias("total_commonness"),
            (
                F.sum(F.col("tf") * F.col("c")).cast("double")
                / F.sum("tf").cast("double")
            ).alias("commonness"),
        )
    )


# ---------------------------------------------------------------------------
# tokenizer induction: BPE merge-candidate mining


BPE_TOP_MERGES = 20


@query(
    "text_bpe_merge_candidates",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    ),
    lt AS (SELECT tok FROM tok WHERE length(tok) >= 2),
    pr AS (
      SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1)) AS i FROM lt)
    ),
    c AS (SELECT pair, COUNT(*) AS cnt FROM pr GROUP BY 1)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt,
           -- ORDER BY refs qualified to the base CTE (VERDICT r4 #5): no
           -- reliance on how the resolver binds same-named select aliases
           CAST(ROW_NUMBER() OVER (ORDER BY c.cnt DESC, c.pair) AS BIGINT) AS rnk
    FROM c QUALIFY rnk <= {BPE_TOP_MERGES}
    """,
    tags=("text", "pipeline", "tokenizer"),
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIRST step of BPE tokenizer training, as a corpus query: count
    every adjacent symbol pair inside every word occurrence (multiset —
    frequent words weigh more, exactly as BPE training does) and rank the
    top merge candidates.  A full tokenizer trainer iterates this —
    merge the winner, re-count, repeat — and each iteration is this same
    aggregation over the rewritten symbol stream; one round is the
    oracle-checkable unit.

    Scale shape: tokenize + pair expansion are narrow per-row transforms;
    one hash aggregation on the pair (domain bounded by charset², like
    the bigram LM); TakeOrdered for the top-N — no global sort, nothing
    driver-side."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = (
        spread(d)  # split-aware: spread the expansion, skip if pre-split
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    prs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, 2),
            )
        ).alias("pair")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return (
        prs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # TakeOrdered (distributed top-k), THEN rank the k survivors
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(BPE_TOP_MERGES)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )


#: the merged symbol placeholder for the BPE second iteration: a 1-char
#: stand-in (unit separator — cannot occur in the corpus text) so plain
#: substr bigrams keep working on the rewritten symbol stream; output
#: pairs re-expand it for readability (injective: expanded strings are
#: 3-4 chars, plain pairs 2)
BPE_SEP = "\x1f"
BPE_ITER_TOP = 10


@query(
    "text_bpe_train_2iters",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    ),
    lt AS (SELECT tok FROM tok WHERE length(tok) >= 2),
    p1 AS (
      SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1)) AS i FROM lt)
    ),
    c1 AS (SELECT pair, COUNT(*) AS cnt FROM p1 GROUP BY 1),
    w1 AS (SELECT pair AS w FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
    tok2 AS (
      SELECT replace(tok, (SELECT w FROM w1), chr(31)) AS tok FROM lt
    ),
    lt2 AS (SELECT tok FROM tok2 WHERE length(tok) >= 2),
    p2 AS (
      SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1)) AS i FROM lt2)
    ),
    c2 AS (SELECT pair, COUNT(*) AS cnt FROM p2 GROUP BY 1),
    r1 AS (
      SELECT CAST(1 AS BIGINT) AS iter, pair, CAST(cnt AS BIGINT) AS cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY c1.cnt DESC, c1.pair) AS BIGINT) AS rnk
      FROM c1 QUALIFY rnk <= {BPE_ITER_TOP}
    ),
    r2 AS (
      -- rank on the RAW pair in an inner subquery BEFORE the re-expansion
      -- aliases a different `pair` into scope (ADVICE r3: a resolver that
      -- bound the window's ORDER BY to the select alias instead of the
      -- base column would silently reorder rank ties)
      SELECT CAST(2 AS BIGINT) AS iter,
             replace(pair, chr(31), (SELECT w FROM w1)) AS pair,
             cnt, rnk
      FROM (
        SELECT pair, CAST(cnt AS BIGINT) AS cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY c2.cnt DESC, c2.pair) AS BIGINT) AS rnk
        FROM c2
      ) WHERE rnk <= {BPE_ITER_TOP}
    )
    SELECT iter, pair, cnt, rnk FROM r1
    UNION ALL
    SELECT iter, pair, cnt, rnk FROM r2
    """,
    tags=("text", "pipeline", "tokenizer", "iterative"),
)
def text_bpe_train_2iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO iterations of BPE tokenizer training — the loop
    ``text_bpe_merge_candidates`` is one step of: count adjacent symbol
    pairs, MERGE the winner into a single symbol (literal replace with a
    1-char placeholder, left-to-right non-overlapping in both engines),
    re-count over the rewritten symbol stream.  Iteration-2 pairs that
    touch the merged symbol surface re-expanded (e.g. winner ``th`` +
    ``e`` prints as ``the``) — exactly how merge tables are read.  A full
    trainer is this loop continued; every iteration is the same
    oracle-checkable aggregation, and the winner handoff is a 1-row
    broadcast, never a driver value.

    Scale shape per iteration: narrow rewrite (the 1-row winner frame
    broadcasts by rule) + one bounded-domain pair aggregation +
    TakeOrdered — nothing accumulates on the driver across iterations."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = (
        spread(d)  # split-aware: spread the expansion, skip if pre-split
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
    )

    def pair_counts(tk: DataFrame) -> DataFrame:
        prs = tk.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.substring(F.col("tok"), i, 2),
                )
            ).alias("pair")
        )
        return prs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    def topk(c: DataFrame, it: int, pair_out) -> DataFrame:
        w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
        return (
            c.orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(BPE_ITER_TOP)
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .select(
                F.lit(it).cast("long").alias("iter"),
                pair_out.alias("pair"),
                "cnt",
                "rnk",
            )
        )

    c1 = pair_counts(toks).persist()  # feeds top-k AND the winner pick
    w1 = c1.orderBy(F.col("cnt").desc(), F.col("pair")).limit(1).select(
        F.col("pair").alias("w")
    )
    toks2 = (
        toks.crossJoin(F.broadcast(w1))  # 1-row global-limit frame: bounded
        .select(F.replace(F.col("tok"), F.col("w"), F.lit(BPE_SEP)).alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    c2 = pair_counts(toks2)
    r1 = topk(c1, 1, F.col("pair"))
    # rank on the RAW pair (placeholder sorts first in both engines'
    # binary collation), then re-expand for the output
    r2 = topk(c2, 2, F.col("pair")).crossJoin(F.broadcast(w1)).select(
        "iter",
        F.replace(F.col("pair"), F.lit(BPE_SEP), F.col("w")).alias("pair"),
        "cnt",
        "rnk",
    )
    return r1.unionAll(r2)


# ---------------------------------------------------------------------------
# N-iteration BPE trainer: incremental pair-count maintenance


BPE_N_ITERS = 8
#: one 1-char placeholder per merge (control chars \x01.. — verified absent
#: from the corpus like \x1f above; merged symbols must stay 1 char so plain
#: substr bigrams keep working, which also keeps every winner exactly 2
#: chars — the invariant the incremental delta below leans on)
BPE_PLACEHOLDERS = [chr(1 + i) for i in range(BPE_N_ITERS)]


def _bpe_pair_counts(tk: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts over a (tok) frame."""
    prs = tk.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, 2),
            )
        ).alias("pair")
    )
    return prs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def _bpe_iterate(
    toks: DataFrame, n_iters: int
) -> tuple[list[DataFrame], list[DataFrame]]:
    """The BPE merge loop shared by the trainer and the encoder: returns
    ([winner frame per iteration], [pair-count frame per iteration]).

    Incremental count maintenance: merging winner ``w`` only changes
    tokens that CONTAIN ``w``, so each iteration counts pairs over just
    that slice twice (before/after) and folds the signed delta in.

    localCheckpoint (eager) truncates lineage per iteration: counts_{i+1}
    references counts_i through BOTH the winner and the delta, so without
    the cut the logical plan doubles per iteration (2^N analysis blow-up).
    The frame is tiny (pair domain bounded by charset² + placeholders) and
    the loop is inherently iterative-materializing, like graph_pagerank;
    same localCheckpoint trade-offs as there (eager; not executor-loss
    resilient — a production run would use reliable checkpoint())."""
    counts = _bpe_pair_counts(toks).transform(cut_lineage)
    cur = toks
    winners: list[DataFrame] = []
    counts_frames: list[DataFrame] = []
    for i in range(1, n_iters + 1):
        w_i = (
            counts.orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1)
            .select(F.col("pair").alias("w"))
        )
        winners.append(w_i)
        counts_frames.append(counts)
        if i == n_iters:
            break
        ph = F.lit(BPE_PLACEHOLDERS[i - 1])
        # the incremental step: only tokens containing the winner change
        aff = cur.crossJoin(F.broadcast(w_i)).filter(F.col("tok").contains(F.col("w")))
        before = _bpe_pair_counts(aff.select("tok"))
        after = _bpe_pair_counts(
            aff.select(F.replace(F.col("tok"), F.col("w"), ph).alias("tok"))
            .filter(F.length("tok") >= 2)  # a token == winner collapses to 1 char
        )
        delta = after.select("pair", "cnt").unionAll(
            before.select("pair", (-F.col("cnt")).alias("cnt"))
        )
        counts = (
            counts.select("pair", "cnt")
            .unionAll(delta)
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .transform(cut_lineage)
        )
        cur = (
            cur.crossJoin(F.broadcast(w_i))
            .select(F.replace(F.col("tok"), F.col("w"), ph).alias("tok"))
            .filter(F.length("tok") >= 2)
        )
    return winners, counts_frames


def _bpe_winners_sql_parts(n_iters: int) -> list[str]:
    """DuckDB CTE chain deriving the n_iters merge winners by full
    recount per iteration (the independent spec of ``_bpe_iterate``)."""
    code = lambda i: 1 + (i - 1)  # noqa: E731 — chr code of placeholder i
    # r14: the recurrence CTEs are MATERIALIZED — DuckDB 1.0 inlines
    # plain CTEs, and lt{i+1} references lt{i} twice (directly and via
    # the w{i} scalar subquery), so the inlined expansion re-tokenized
    # the corpus ~2^n_iters times.  Pure planner hint: bit-identical.
    parts = [
        r"""tok AS MATERIALIZED (
      SELECT unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    )""",
        "lt1 AS MATERIALIZED (SELECT tok FROM tok WHERE length(tok) >= 2)",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""p{i} AS (
      SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
      FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1)) AS i FROM lt{i})
    )"""
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT pair, COUNT(*) AS cnt FROM p{i} GROUP BY 1)"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT pair AS w FROM c{i} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        if i < n_iters:
            parts.append(
                f"""lt{i + 1} AS MATERIALIZED (
      SELECT tok FROM (
        SELECT replace(tok, (SELECT w FROM w{i}), chr({code(i)})) AS tok FROM lt{i})
      WHERE length(tok) >= 2
    )"""
            )
    return parts


def _bpe_encode_oracle(n_iters: int = BPE_N_ITERS) -> str:
    """Oracle: derive the winners by full recount, then apply the merge
    chain to the unfiltered per-source token stream and aggregate."""
    parts = _bpe_winners_sql_parts(n_iters)
    parts.append(
        r"""dt AS (
      SELECT source,
             unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    )"""
    )
    enc = "tok"
    for i in range(1, n_iters + 1):
        enc = f"replace({enc}, (SELECT w FROM w{i}), chr({i}))"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(length(tok)) AS BIGINT) AS total_chars,
           CAST(SUM(length({enc})) AS BIGINT) AS total_symbols
    FROM dt GROUP BY source
    """


@query(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("text", "pipeline", "tokenizer", "iterative"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table at corpus scale — the other half
    of the tokenizer story (``text_bpe_train_8iters`` learns the merges;
    this encodes with them): train the same {BPE_N_ITERS} winners, then rewrite
    EVERY token through the merge chain (literal replaces, leftmost
    non-overlapping in both engines — the greedy merge-application order)
    and report per-source symbol counts vs raw char counts — the
    compression the tokenizer buys, as exact integers.

    Scale shape: the encode pass is a pure map over the corpus token
    stream (the whole merge table rides in ONE 1-row broadcast frame)
    plus a per-source aggregation — encoding cost is O(corpus), shuffle
    is per-source partials only."""
    from pyspark import StorageLevel

    d = t(spark, sf_dir, "documents")
    dt = spread(d).select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    train_toks = (
        dt.select("tok")
        .filter(F.length("tok") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    winners, _ = _bpe_iterate(train_toks, BPE_N_ITERS)
    merges = winners[0].select(F.col("w").alias("w1"))
    for i in range(2, BPE_N_ITERS + 1):
        merges = merges.crossJoin(winners[i - 1].select(F.col("w").alias(f"w{i}")))
    enc = F.col("tok")
    for i in range(1, BPE_N_ITERS + 1):
        enc = F.replace(enc, F.col(f"w{i}"), F.lit(BPE_PLACEHOLDERS[i - 1]))
    return (
        dt.crossJoin(F.broadcast(merges))
        .select("source", F.length("tok").alias("lc"), F.length(enc).alias("ls"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lc").cast("long").alias("total_chars"),
            F.sum("ls").cast("long").alias("total_symbols"),
        )
    )


def _bpe_train_oracle(n_iters: int = BPE_N_ITERS, top: int = BPE_ITER_TOP) -> str:
    """Oracle by the same recurrence, one full recount per iteration (the
    oracle is the independent SPEC — the Spark side maintains the counts
    incrementally instead).  Ranks are computed on the RAW pair in an
    inner subquery before any re-expansion (ADVICE r3).  The winner
    derivation comes from the shared :func:`_bpe_winners_sql_parts` (one
    source for the tokenization/placeholder/length-filter recurrence,
    also used by the encode oracle); this wrapper only adds the
    per-iteration top-k CTEs and the merged-symbol re-expansion."""
    code = lambda i: 1 + (i - 1)  # noqa: E731 — chr code of placeholder i
    parts = _bpe_winners_sql_parts(n_iters)
    for i in range(1, n_iters + 1):
        parts.append(
            f"""r{i} AS (
      SELECT CAST({i} AS BIGINT) AS iter, pair, cnt, rnk
      FROM (SELECT pair, CAST(cnt AS BIGINT) AS cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY c{i}.cnt DESC, c{i}.pair) AS BIGINT) AS rnk
            FROM c{i})
      WHERE rnk <= {top}
    )"""
        )
    # merged-symbol expansions: ex_i = winner_i with earlier placeholders
    # fully expanded (stream at iteration i can only contain placeholders
    # j < i, so each ex builds on already-plain predecessors)
    parts.append("ex1 AS (SELECT w AS e FROM w1)")
    for i in range(2, n_iters):
        expr = "w"
        for j in range(1, i):
            expr = f"replace({expr}, chr({code(j)}), (SELECT e FROM ex{j}))"
        parts.append(f"ex{i} AS (SELECT {expr} AS e FROM w{i})")
    expand = "pair"
    for j in range(1, n_iters):
        expand = f"replace({expand}, chr({code(j)}), (SELECT e FROM ex{j}))"
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT iter, pair, cnt, rnk FROM r{i}" for i in range(1, n_iters + 1)
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT iter, {expand} AS pair, cnt, rnk
    FROM ({unions})
    """


@query(
    "text_bpe_train_8iters",
    oracle=_bpe_train_oracle(),
    tags=("text", "pipeline", "tokenizer", "iterative"),
)
def text_bpe_train_8iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHT iterations of BPE tokenizer training — ``text_bpe_train_2iters``
    generalized to N, with the pair-count frame MAINTAINED incrementally
    instead of recounted from scratch (VERDICT r3 #3): merging winner ``w``
    only changes tokens that CONTAIN ``w``, so each iteration counts pairs
    over just that affected slice, twice (before/after the rewrite), and
    folds the signed delta into the running count frame.  The full token
    stream is re-paired exactly once, at iteration 1 — after that,
    per-iteration aggregation volume is proportional to the affected
    slice, not the corpus (the oracle recounts from scratch every
    iteration as the independent spec; both formulations must agree
    exactly).

    Scale shape per iteration: one narrow contains() filter over the
    persisted token stream + two bounded pair aggregations over the
    affected slice + a counts-domain merge (bounded by charset² +
    placeholders).  Winner handoff stays a 1-row broadcast — nothing
    driver-side accumulates across iterations; merged symbols re-expand
    through a chain of 1-row broadcast frames at output time only."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = (
        spread(d)  # split-aware: spread the expansion, skip if pre-split
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def topk(c: DataFrame, it: int) -> DataFrame:
        w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
        return (
            c.orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(BPE_ITER_TOP)
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .select(F.lit(it).cast("long").alias("iter"), "pair", "cnt", "rnk")
        )

    winners, counts_frames = _bpe_iterate(toks, BPE_N_ITERS)
    results = [topk(c, i + 1) for i, c in enumerate(counts_frames)]
    # output: union the per-iteration top-k (ranked on RAW pairs), then
    # re-expand merged symbols via one 1-row frame carrying every winner
    expf = winners[0].select(F.col("w").alias("w1"))
    for i in range(2, BPE_N_ITERS):
        expf = expf.crossJoin(winners[i - 1].select(F.col("w").alias(f"w{i}")))
    e_cols: dict[int, Column] = {}
    for i in range(1, BPE_N_ITERS):
        expr = F.col(f"w{i}")
        for j in range(1, i):
            expr = F.replace(expr, F.lit(BPE_PLACEHOLDERS[j - 1]), e_cols[j])
        e_cols[i] = expr
    out = results[0]
    for r in results[1:]:
        out = out.unionAll(r)
    expand = F.col("pair")
    for j in range(1, BPE_N_ITERS):
        expand = F.replace(expand, F.lit(BPE_PLACEHOLDERS[j - 1]), e_cols[j])
    return out.crossJoin(F.broadcast(expf)).select(
        "iter", expand.alias("pair"), "cnt", "rnk"
    )


# ---------------------------------------------------------------------------
# collocation mining: adjacent-token PMI (lift)

PMI_MIN_COUNT = 20
PMI_TOP = 50


@query(
    "text_adjacent_pmi_top",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS tk
      FROM documents
    ),
    uni AS (
      SELECT unnest(tk) AS tok FROM toks
    ),
    ucnt AS (SELECT tok, COUNT(*) AS cnt FROM uni GROUP BY tok),
    nt AS (SELECT COUNT(*) AS n_tok FROM uni),
    pairs AS (
      SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b
      FROM (SELECT tk, unnest(generate_series(1, LENGTH(tk) - 1)) AS i FROM toks)
    ),
    pcnt AS (
      SELECT tok_a, tok_b, COUNT(*) AS cnt_ab
      FROM pairs GROUP BY tok_a, tok_b
      HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ),
    np AS (SELECT COUNT(*) AS n_pairs FROM pairs),
    scored AS (
      SELECT p.tok_a, p.tok_b, p.cnt_ab,
             ((CAST(p.cnt_ab AS DOUBLE) * nt.n_tok) * nt.n_tok)
             / ((CAST(np.n_pairs AS DOUBLE) * a.cnt) * b.cnt) AS lift
      FROM pcnt p
      JOIN ucnt a ON a.tok = p.tok_a
      JOIN ucnt b ON b.tok = p.tok_b
      CROSS JOIN nt CROSS JOIN np
    )
    SELECT tok_a, tok_b, CAST(cnt_ab AS BIGINT) AS cnt_ab, lift,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, tok_a, tok_b) AS rnk
      FROM scored
    ) WHERE rnk <= {PMI_TOP}
    """,
    tags=("text", "pipeline", "collocation"),
)
def text_adjacent_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (phrase) mining: top-{PMI_TOP} adjacent-token pairs by PMI
    lift ``P(ab) / (P(a)·P(b))`` with a min-support cut — the phrase
    candidates a tokenizer/vocab build promotes to single units (the
    statistical cousin of the BPE merge rule, which ranks by raw count).
    The lift is one fixed double expression over exact integer counts
    (identical association both engines); ranking ties break on the pair.

    Scale shape: unigram and pair aggregations both partial-aggregate
    map-side (bounded by vocab / vocab-pair domain); the two 1-row
    totals broadcast; TakeOrdered for the top-PMI_TOP."""
    from pyspark.sql import Window

    d = spread(t(spark, sf_dir, "documents")).select(
        tokens(F.col("text")).alias("tk")
    ).persist()
    uni = d.select(F.explode("tk").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    nt = uni.agg(F.count(F.lit(1)).alias("n_tok"))
    # single-token docs contribute unigrams but no pairs — and MUST be
    # filtered before the sequence: Spark's sequence(1, 0) defaults to
    # step -1 (a DESCENDING [1, 0]) and element_at then throws, while
    # DuckDB's generate_series(1, 0) is simply empty
    pairs = d.filter(F.size("tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("tok_a"),
                    F.element_at(F.col("tk"), i + 1).alias("tok_b"),
                ),
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    pcnt = (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= PMI_MIN_COUNT)
    )
    np_ = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    a = ucnt.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    b = ucnt.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    lift = ((F.col("cnt_ab").cast("double") * F.col("n_tok")) * F.col("n_tok")) / (
        (F.col("n_pairs").cast("double") * F.col("cnt_a")) * F.col("cnt_b")
    )
    w = Window.orderBy(F.col("lift").desc(), "tok_a", "tok_b")
    scored = (
        pcnt.join(a, "tok_a")
        .join(b, "tok_b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(np_))
        .select("tok_a", "tok_b", "cnt_ab", lift.alias("lift"))
    )
    return (
        scored.orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(PMI_TOP)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("tok_a", "tok_b", F.col("cnt_ab").cast("long").alias("cnt_ab"), "lift", "rnk")
    )


# ---------------------------------------------------------------------------
# feature hashing (the hashing trick)


HASH_FEATURES = 256  #: feature-space size == one md5 hex-digit pair


@query(
    "text_hashing_trick_features",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    )
    SELECT CAST((strpos('0123456789abcdef', SUBSTR(MD5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', SUBSTR(MD5(tok), 2, 1)) - 1)
             AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM toks GROUP BY 1
    """,
    tags=("text", "pipeline", "featurization", "hashing-trick"),
)
def text_hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick — fixed-width bag-of-words featurization with NO
    vocabulary pass: every token maps to md5-hash bucket 0..255, so the
    feature space is known before any data is read (the property that
    makes streaming/online featurization possible — new tokens never grow
    the schema, they collide).  Output profiles the hashed feature space
    (tokens and touching docs per bucket), i.e. the collision/density
    audit you run before trusting hashed features.  The md5-digit bucket
    is the repo's portable hash family (engine ``hash()`` builtins are
    not cross-engine); one explode + one aggregation, map-side
    combinable, bucket cardinality fixed at HASH_FEATURES forever."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10).cast("long")
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs"),
        )
    )


def _langid_confusion_oracle() -> str:
    return f"""
    WITH pred AS ({_lang_id_oracle()})
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY labeled_lang) AS share_of_label
    FROM pred GROUP BY labeled_lang, predicted_lang
    """


@query(
    "text_langid_confusion",
    oracle=_langid_confusion_oracle(),
    tags=("text", "langid", "evaluation", "quality"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the corpus's
    gold ``lang`` labels — the eval artifact any classifier-driven
    curation step needs before its predictions gate data: (gold,
    predicted, count, row-normalized share).  The share is ONE double
    division of two exact integer counts (the denominator is a window sum
    of counts — integer, order-free); the matrix is lang-cardinality
    bounded, so the final window is O(langs²) regardless of corpus
    size."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        predict_lang(F.col("text")).alias("predicted_lang"),
    )
    conf = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return conf.select(
        "labeled_lang",
        "predicted_lang",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share_of_label"),
    )


DRIFT_SCALE = 1_000_000_000  #: fixed-point scale for per-token drift terms


@query(
    "text_source_drift_chisquare",
    oracle=rf"""
    WITH toks AS (
      SELECT source,
             unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    ),
    sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    st AS (SELECT source, SUM(c) AS n_s FROM sc GROUP BY 1),
    gc AS (SELECT tok, SUM(c) AS g FROM sc GROUP BY 1),
    gt AS (SELECT SUM(g) AS n_g FROM gc),
    terms AS (
      SELECT sc.source,
             CAST(FLOOR({DRIFT_SCALE} *
               (((sc.c / CAST(st.n_s AS DOUBLE)) - (gc.g / CAST(gt.n_g AS DOUBLE)))
                * ((sc.c / CAST(st.n_s AS DOUBLE)) - (gc.g / CAST(gt.n_g AS DOUBLE)))
                / ((sc.c / CAST(st.n_s AS DOUBLE)) + (gc.g / CAST(gt.n_g AS DOUBLE))))
             ) AS BIGINT) AS term_fp
      FROM sc
      JOIN st ON st.source = sc.source
      JOIN gc ON gc.tok = sc.tok
      CROSS JOIN gt
    )
    SELECT source,
           CAST(SUM(term_fp) AS BIGINT) AS chisq_fp,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM terms GROUP BY source
    """,
    tags=("text", "drift", "monitoring", "quality"),
)
def text_source_drift_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution DRIFT against the corpus — the
    monitoring query a production pipeline runs per ingest batch to catch
    a source going off-distribution (scraper broke, language mix shifted,
    spam flood).  The distance is the chi-square-style statistic
    Σ (p−q)²/(p+q): unlike KL/JS divergence it needs NO logarithm —
    libm log is not bit-portable, while this is one rational double
    expression per token, floored to a fixed-point BIGINT before the sum
    (the BM25 discipline), so the drift score is exact at any partition
    order.  Only tokens the source actually contains contribute
    (sparse-side iteration — the inverted-index shape again); frames are
    token- and source-bounded after the first aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n_s"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    gt = gc.agg(F.sum("g").alias("n_g"))
    p = F.col("c") / F.col("n_s").cast("double")
    q = F.col("g") / F.col("n_g").cast("double")
    term = F.floor(F.lit(DRIFT_SCALE) * (((p - q) * (p - q)) / (p + q))).cast("long")
    return (
        sc.join(st, "source")
        .join(gc, "tok")
        .crossJoin(F.broadcast(gt))  # 1-row ungrouped aggregate
        .select("source", term.alias("term_fp"))
        .groupBy("source")
        .agg(
            F.sum("term_fp").cast("long").alias("chisq_fp"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit

ZIPF_TOP = 1000  #: fit over the top-N words (the power-law regime)
ZIPF_FP = 1_000_000  #: fixed-point scale for the rounded log10 values (6
#: decimals: products x*y stay ~1e14 << 2^63 at ANY corpus size — log10
#: grows to ~13 max — so the moment math never strains DECIMAL(38,0))


@query(
    "text_zipf_slope",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS w
      FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT {ZIPF_TOP}),
    rk AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY top.cnt DESC, top.w) AS r FROM top
    ),
    pts AS (
      SELECT CAST(ROUND(LOG10(CAST(r AS DOUBLE)) * {ZIPF_FP}, 0) AS BIGINT) AS x,
             CAST(ROUND(LOG10(CAST(cnt AS DOUBLE)) * {ZIPF_FP}, 0) AS BIGINT) AS y
      FROM rk
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
             / n / {ZIPF_FP} AS log10_intercept,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r_sq
    FROM m
    """,
    tags=("text", "pipeline", "zipf", "regression", "quality"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus word distribution: OLS slope of
    log10(frequency) on log10(rank) over the top-1000 words — the
    corpus-linguistics QA number (natural text reads ≈ −1; templated or
    synthetic corpora bend the rank-frequency line, and a drifting slope
    between crawl snapshots flags a changed content mix before any
    sampling does).  r² reports how power-law the corpus actually is —
    and on THIS synthetic test corpus the answer is "not at all"
    (31-word vocabulary, slope ≈ −0.18, r² ≈ 0.06), which is precisely
    the detection the operator exists for: natural prose reads
    slope ≈ −1 with high r², and a corpus failing the fit is
    template/synthetic content.

    Determinism: the two log10s are the one libm step — both engines
    compute a correctly-rounded double on identical integer inputs — and
    are immediately quantized to ZIPF_FP = 1e6 fixed point (the
    math_funcs ROUND discipline), after which the OLS runs on EXACT
    integers through the agg_corr_exact moment machinery
    (HUGEINT/DECIMAL(38,0) cross-terms; n·Σyy here ≤
    1e3·1e3·(13·1e6)² ≈ 2e20 ≪ 1e38).

    Scale shape: one shuffle on the word for counts, TakeOrdered for the
    top-1000 (never a global sort), then every frame is 1000 rows — the
    ranking window sees only the survivors (the pagerank top-N idiom)."""
    from pyspark.sql import Window

    from ..queries import t as t_

    d = spread(t_(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(ZIPF_TOP)
    )
    rk = wc.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("w"))),
    )
    pts = rk.select(
        F.round(F.log10(F.col("r").cast("double")) * ZIPF_FP, 0)
        .cast("decimal(19,0)")
        .alias("x"),
        F.round(F.log10(F.col("cnt").cast("double")) * ZIPF_FP, 0)
        .cast("decimal(19,0)")
        .alias("y"),
    )
    # products in DECIMAL (operands cast BEFORE the multiply).  At the
    # 1e6 scale x·y ≤ 3e6 · 13e6 ≈ 4e13 and cannot itself overflow
    # int64; the cast is kept as the uniform ADVICE-r4 moment-math
    # discipline, and keeps the expression safe if ZIPF_FP is raised.
    m = pts.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cxy = (n * F.col("sxy") - sx * sy).cast("double")
    cxx = (n * F.col("sxx") - sx * sx).cast("double")
    cyy = (n * F.col("syy") - sy * sy).cast("double")
    slope = cxy / cxx
    return m.select(
        n.cast("long").alias("n_words"),
        slope.alias("zipf_slope"),
        ((sy.cast("double") - slope * sx) / n / F.lit(float(ZIPF_FP))).alias(
            "log10_intercept"
        ),
        ((cxy * cxy) / (cxx * cyy)).alias("r_sq"),
    )


# ---------------------------------------------------------------------------
# Gopher-style heuristic curation rules

#: rule thresholds (integers only — every rule below is an integer
#: comparison, so both engines agree bit-for-bit with no float thresholds)
GOPHER_MIN_TOK = 20
GOPHER_MAX_TOK = 90
GOPHER_MIN_MEAN_LEN = 4  # mean non-space chars per token, lower bound
GOPHER_MAX_MEAN_LEN = 5  # upper bound
GOPHER_MIN_STOP = 2      # minimum stopword hits (Gopher's "has >=2 of ...")


@query(
    "text_gopher_quality_rules",
    oracle=rf"""
    WITH q AS (
      SELECT source,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[ \t\n\r\f]+', '', 'g')) AS BIGINT) AS n_nonspace,
             CAST(LENGTH(list_filter(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+'),
                                     x -> list_contains([{_STOP_SQL}], x))) AS BIGINT) AS n_stop,
             CAST(LENGTH(list_distinct(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+'))) AS BIGINT) AS n_distinct
      FROM documents
    ), r AS (
      SELECT source,
             (n_tok BETWEEN {GOPHER_MIN_TOK} AND {GOPHER_MAX_TOK}) AS r_len,
             (n_nonspace >= {GOPHER_MIN_MEAN_LEN} * n_tok
              AND n_nonspace <= {GOPHER_MAX_MEAN_LEN} * n_tok) AS r_word_len,
             (n_stop >= {GOPHER_MIN_STOP}) AS r_stop,
             (2 * n_distinct >= n_tok) AS r_rep
      FROM q
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE NOT r_len) AS BIGINT) AS fail_len,
           CAST(COUNT(*) FILTER (WHERE NOT r_word_len) AS BIGINT) AS fail_word_len,
           CAST(COUNT(*) FILTER (WHERE NOT r_stop) AS BIGINT) AS fail_stopword,
           CAST(COUNT(*) FILTER (WHERE NOT r_rep) AS BIGINT) AS fail_repetition,
           CAST(COUNT(*) FILTER (WHERE r_len AND r_word_len AND r_stop AND r_rep) AS BIGINT) AS pass_all,
           CAST(COUNT(*) FILTER (WHERE r_len AND r_word_len AND r_stop AND r_rep) AS DOUBLE)
             / COUNT(*) AS pass_rate
    FROM r
    GROUP BY source
    """,
    tags=("text", "pipeline", "quality", "curation"),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic curation rules (Rae et al. 2021 §A1.1, C4's
    heuristic-filter family), reported as a per-source rule-attribution
    table: how many documents each rule rejects, and the all-rules pass
    rate — the report a curation run produces BEFORE committing a filter,
    so threshold changes are reviewed against what they would delete.

    Rules (every one an integer comparison — no float thresholds, so the
    oracle matches bit-for-bit; bounds chosen to discriminate on this
    corpus, n_tok in [10, 99], 22% of docs under GOPHER_MIN_STOP = 2
    stopword hits):
      r_len        GOPHER_MIN_TOK = 20 <= n_tok <= GOPHER_MAX_TOK = 90
      r_word_len   GOPHER_MIN_MEAN_LEN = 4 <= mean non-space chars/token
                   <= GOPHER_MAX_MEAN_LEN = 5 (integer cross-multiplied;
                   Gopher's published band is [3, 10] — tightened here so
                   the rule is NON-VACUOUS on this corpus, whose per-doc
                   means span 3.7..5.3)
      r_stop       >= GOPHER_MIN_STOP = 2 stopword hits (Gopher's
                   "contains two of the common function words")
      r_rep        distinct-token ratio >= 1/2 (word-soup / template
                   repetition; integer cross-multiplied)

    Scale shape: ONE corpus scan; every rule is a per-row JVM expression
    (split / regexp / array_distinct — no explode, no Python); the only
    shuffle is the source-keyed agg with map-side partial rows bounded by
    n_sources.  At 100 TB this is scan-bandwidth-bound, exactly like
    text_quality_score.  The reference has no text surface; this extends
    the quality family with the rule-attribution report.
    """
    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_nonspace = F.length(
        F.regexp_replace(F.col("text"), r"[ \t\n\r\f]+", "")
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    r_len = (n_tok >= GOPHER_MIN_TOK) & (n_tok <= GOPHER_MAX_TOK)
    r_word_len = (n_nonspace >= GOPHER_MIN_MEAN_LEN * n_tok) & (
        n_nonspace <= GOPHER_MAX_MEAN_LEN * n_tok
    )
    r_stop = n_stop >= GOPHER_MIN_STOP
    r_rep = (2 * n_distinct) >= n_tok
    r_all = r_len & r_word_len & r_stop & r_rep
    fails = lambda c: F.sum(F.when(~c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        d.select(F.col("source"), r_len.alias("r_len"),
                 r_word_len.alias("r_word_len"), r_stop.alias("r_stop"),
                 r_rep.alias("r_rep"), r_all.alias("r_all"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            fails(F.col("r_len")).alias("fail_len"),
            fails(F.col("r_word_len")).alias("fail_word_len"),
            fails(F.col("r_stop")).alias("fail_stopword"),
            fails(F.col("r_rep")).alias("fail_repetition"),
            F.sum(F.when(F.col("r_all"), 1).otherwise(0)).cast("long").alias("pass_all"),
            (
                F.sum(F.when(F.col("r_all"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("pass_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit (the zipf fit's companion diagnostic)

HEAPS_STEPS = 16  #: ingest-order checkpoints for the V(N) curve
HEAPS_FP = 1_000_000  #: fixed-point scale for the rounded log10 values
#: (same 1e6 discipline as ZIPF_FP: x·y ≤ (13e6)² ≈ 1.7e14 ≪ int64)


@query(
    "text_heaps_law_fit",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    firsts AS (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w),
    mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
    thr AS (
      SELECT CAST(s.i AS BIGINT) AS i,
             CAST(FLOOR(s.i * (mx.max_id + 1) / {HEAPS_STEPS}.0) AS BIGINT) - 1 AS c
      FROM (SELECT UNNEST(range(1, {HEAPS_STEPS + 1})) AS i) s CROSS JOIN mx
    ),
    npts AS (
      SELECT t.i, SUM(CASE WHEN d.doc_id <= t.c THEN d.dl ELSE 0 END) AS nn
      FROM thr t CROSS JOIN dl d GROUP BY t.i
    ),
    vpts AS (
      SELECT t.i, SUM(CASE WHEN f.fd <= t.c THEN 1 ELSE 0 END) AS vv
      FROM thr t CROSS JOIN firsts f GROUP BY t.i
    ),
    pts AS (
      SELECT CAST(ROUND(LOG10(CAST(nn AS DOUBLE)) * {HEAPS_FP}, 0) AS BIGINT) AS x,
             CAST(ROUND(LOG10(CAST(vv AS DOUBLE)) * {HEAPS_FP}, 0) AS BIGINT) AS y
      FROM npts JOIN vpts USING (i)
      WHERE nn > 0 AND vv > 0
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS heaps_beta,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)) * sx)
             / n / {HEAPS_FP} AS log10_k,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE), 0) AS r_sq
    FROM m
    """,
    tags=("text", "pipeline", "heaps", "regression", "quality"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit of vocabulary growth: V(N) ≈ K·N^β, estimated as
    the log-log OLS slope over {HEAPS_STEPS} ingest-order checkpoints
    (cumulative tokens N vs cumulative distinct terms V at each
    checkpoint).  Natural text reads β ≈ 0.4–0.6; a crawl snapshot whose
    β collapses is template/boilerplate-saturated, and one whose β rises
    is picking up new domains/languages — the vocabulary-side companion
    to ``text_zipf_slope`` (this synthetic 31-word corpus saturates
    immediately: β ≈ 0, the detector correctly flagging non-natural
    text).

    Scale shape: NO global token ordering is materialized — the curve
    comes from per-doc token counts and per-term FIRST-occurrence doc
    ids (two corpus aggregations, both map-side combinable), then a
    {HEAPS_STEPS}-way conditional rollup against broadcast checkpoint
    thresholds.  Every frame after the two aggs is
    checkpoint/vocabulary-bounded; the OLS is the shared exact-moment
    machinery on {HEAPS_STEPS} quantized points.

    Determinism: checkpoint thresholds are integer FLOOR of one double
    expression; N/V are exact integers; log10 quantized to HEAPS_FP
    fixed point (the math_funcs ROUND discipline); DECIMAL(38,0)/
    HUGEINT moments; three final double divisions."""
    from ..queries import spread as spread_

    d = spread_(t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    mx = d.agg(F.max("doc_id").alias("max_id"))
    steps = spark.range(1, HEAPS_STEPS + 1).select(F.col("id").alias("i"))
    thr = steps.crossJoin(F.broadcast(mx)).select(
        "i",
        (
            F.floor(
                F.col("i") * (F.col("max_id") + 1) / F.lit(float(HEAPS_STEPS))
            ).cast("long")
            - 1
        ).alias("c"),
    )
    npts = (
        dl.crossJoin(F.broadcast(thr))
        .groupBy("i")
        .agg(F.sum(F.when(F.col("doc_id") <= F.col("c"), F.col("dl")).otherwise(0)).alias("nn"))
    )
    vpts = (
        firsts.crossJoin(F.broadcast(thr))
        .groupBy("i")
        .agg(F.sum(F.when(F.col("fd") <= F.col("c"), 1).otherwise(0)).alias("vv"))
    )
    pts = (
        npts.join(vpts, "i")
        .filter((F.col("nn") > 0) & (F.col("vv") > 0))
        .select(
            F.round(F.log10(F.col("nn").cast("double")) * HEAPS_FP, 0)
            .cast("decimal(19,0)")
            .alias("x"),
            F.round(F.log10(F.col("vv").cast("double")) * HEAPS_FP, 0)
            .cast("decimal(19,0)")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cxy = (n * F.col("sxy") - sx * sy).cast("double")
    cxx = (n * F.col("sxx") - sx * sx).cast("double")
    cyy = (n * F.col("syy") - sy * sy).cast("double")
    # guarded denominators (the ADVICE-r5 NULLIF discipline): a
    # variance-free axis — exactly what THIS corpus produces, its 31-word
    # vocabulary saturates V at the first checkpoint so cyy = 0 — must
    # read NULL in both engines, not an ANSI divide error / DuckDB NaN
    slope = F.when(cxx != 0, cxy / cxx)
    return m.select(
        n.cast("long").alias("n_points"),
        slope.alias("heaps_beta"),
        ((sy.cast("double") - slope * sx) / n / F.lit(float(HEAPS_FP))).alias(
            "log10_k"
        ),
        F.when(cxx * cyy != 0, (cxy * cxy) / (cxx * cyy)).alias("r_sq"),
    )


# ---------------------------------------------------------------------------
# tokenizer fertility — the multilingual tokenizer-efficiency audit

TOKFERT_FP = 1_000_000  #: fixed-point scale for the two fertility ratios


@query(
    "text_tokenizer_fertility",
    oracle=rf"""
    WITH per_doc AS (
      SELECT lang,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)),
                                               '[ \t\n\r\f]+')) AS BIGINT)
               AS n_words,
             CAST(LENGTH(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT)
               AS n_tokens,
             CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST((SUM(n_tokens) * {TOKFERT_FP}) // SUM(n_words) AS BIGINT)
             AS fertility_fp,
           CAST((SUM(n_bytes) * {TOKFERT_FP}) // SUM(n_tokens) AS BIGINT)
             AS bytes_per_token_fp
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    tags=("text", "tokenizer", "evaluation", "multilingual"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — the audit run before committing
    to a tokenizer for a multilingual corpus: tokens-per-word (fertility)
    and bytes-per-token per language.  A tokenizer whose fertility is 2×
    higher for one language makes that language's text 2× more expensive
    to train and serve (same bytes, double the sequence length) — the
    classic under-represented-script penalty.  Uses the repo's BPE-ish
    segmentation (alpha runs / digit runs / single symbols).  On THIS
    corpus the report reads FLAT — fertility exactly 1.0 for every lang
    (the synthetic text is pure space-separated ASCII words in all five
    "languages", so every word is one alpha run) and bytes/token ~5.5
    with only 4th-digit spread: the audit correctly reporting a
    script-uniform corpus.  On real multilingual data CJK reads ~1
    token/char and 3 bytes/char, and that asymmetry is exactly what
    this gate exists to surface before training.  Byte counts are UTF-8
    (``strlen``/``octet_length`` — Spark ``length()`` counts CHARACTERS,
    a 3× understatement for CJK, so the Spark side uses octet_length;
    on the ASCII corpus they coincide, on real data they must not be
    confused).

    Scale shape: one scan, all per-row JVM regex, one lang-bounded
    aggregation — map-side combined, nothing corpus-sized shuffles.

    Determinism: exact integer sums; ratios are integer fixed-point
    divisions (TOKFERT_FP)."""
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    per_doc = d.select(
        "lang",
        token_count(txt).alias("n_words"),
        bpe_ish_token_count(txt).alias("n_tokens"),
        F.octet_length(txt).cast("long").alias("n_bytes"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.expr(
                f"CAST((sum(n_tokens) * {TOKFERT_FP}) DIV sum(n_words) AS BIGINT)"
            ).alias("fertility_fp"),
            F.expr(
                f"CAST((sum(n_bytes) * {TOKFERT_FP}) DIV sum(n_tokens) AS BIGINT)"
            ).alias("bytes_per_token_fp"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# the quality-rule FUNNEL + OVERLAP readouts — what a filter pipeline
# actually deletes at each stage, and which rules are redundant

FUNNEL_FP = 1_000_000  #: fixed-point scale for the per-stage reject share

#: the funnel's fixed stage order (cheap/structural rules first — the
#: order a production pipeline would run them to shed rows early)
_FUNNEL_STAGES = ("len", "word_len", "stopword", "repetition")


def _gopher_rules_sql() -> str:
    """The shared per-doc rule booleans (identical expressions to
    `text_gopher_quality_rules`'s oracle — change them together)."""
    return rf"""q AS (
      SELECT doc_id,
             CAST(LENGTH(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[ \t\n\r\f]+', '', 'g')) AS BIGINT) AS n_nonspace,
             CAST(LENGTH(list_filter(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+'),
                                     x -> list_contains([{_STOP_SQL}], x))) AS BIGINT) AS n_stop,
             CAST(LENGTH(list_distinct(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+'))) AS BIGINT) AS n_distinct
      FROM documents
    ), r AS (
      SELECT doc_id,
             (n_tok BETWEEN {GOPHER_MIN_TOK} AND {GOPHER_MAX_TOK}) AS r_len,
             (n_nonspace >= {GOPHER_MIN_MEAN_LEN} * n_tok
              AND n_nonspace <= {GOPHER_MAX_MEAN_LEN} * n_tok) AS r_word_len,
             (n_stop >= {GOPHER_MIN_STOP}) AS r_stop,
             (2 * n_distinct >= n_tok) AS r_rep
      FROM q
    )"""


def _gopher_rule_cols(d: DataFrame) -> DataFrame:
    """Spark twin of :func:`_gopher_rules_sql`: per-doc rule booleans."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r\f]+")
    n_tok = F.size(toks).cast("long")
    n_nonspace = F.length(
        F.regexp_replace(F.col("text"), r"[ \t\n\r\f]+", "")
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return d.select(
        "doc_id",
        ((n_tok >= GOPHER_MIN_TOK) & (n_tok <= GOPHER_MAX_TOK)).alias("r_len"),
        (
            (n_nonspace >= F.lit(GOPHER_MIN_MEAN_LEN) * n_tok)
            & (n_nonspace <= F.lit(GOPHER_MAX_MEAN_LEN) * n_tok)
        ).alias("r_word_len"),
        (n_stop >= GOPHER_MIN_STOP).alias("r_stop"),
        ((F.lit(2) * n_distinct) >= n_tok).alias("r_rep"),
    )


@query(
    "text_quality_funnel",
    oracle=f"""
    WITH {_gopher_rules_sql()},
    staged AS (
      SELECT CASE WHEN NOT r_len THEN 1
                  WHEN NOT r_word_len THEN 2
                  WHEN NOT r_stop THEN 3
                  WHEN NOT r_rep THEN 4
                  ELSE 5 END AS first_fail
      FROM r
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (WHERE first_fail = 1) AS BIGINT) AS f1,
             CAST(COUNT(*) FILTER (WHERE first_fail = 2) AS BIGINT) AS f2,
             CAST(COUNT(*) FILTER (WHERE first_fail = 3) AS BIGINT) AS f3,
             CAST(COUNT(*) FILTER (WHERE first_fail = 4) AS BIGINT) AS f4
      FROM staged
    )
    SELECT s.stage, s.rule,
           CAST(s.n_in AS BIGINT) AS n_in,
           CAST(s.n_rejected AS BIGINT) AS n_rejected,
           CAST(s.n_in - s.n_rejected AS BIGINT) AS n_out,
           CAST((s.n_rejected * {FUNNEL_FP}) // s.n_in AS BIGINT)
             AS reject_share_fp
    FROM (
      SELECT 1 AS stage, 'len' AS rule, n_docs AS n_in, f1 AS n_rejected FROM m
      UNION ALL
      SELECT 2, 'word_len', n_docs - f1, f2 FROM m
      UNION ALL
      SELECT 3, 'stopword', n_docs - f1 - f2, f3 FROM m
      UNION ALL
      SELECT 4, 'repetition', n_docs - f1 - f2 - f3, f4 FROM m
    ) s
    ORDER BY s.stage
    """,
    tags=("text", "quality", "curation", "funnel"),
)
def text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-filter FUNNEL: the same four Gopher rules as
    `text_gopher_quality_rules`, but applied SEQUENTIALLY (each doc
    charged to its FIRST failing rule) — the view a production pipeline
    needs, because marginal per-rule counts double-charge docs that
    fail several rules and so cannot answer "what does stage 3 actually
    delete, given stages 1–2 already ran?".  Per stage: docs in, docs
    rejected here, docs out, and the fixed-point reject share of the
    SURVIVING population (the number that decides whether a stage earns
    its compute at 100 TB — a stage rejecting 0.1% of survivors is a
    candidate to drop).

    Scale shape: one scan computing 4 integer rule booleans per doc, a
    first-fail CASE, one 5-bucket count — map-side partial everywhere;
    the funnel arithmetic runs on a 1-row frame."""
    d = t(spark, sf_dir, "documents")
    r = _gopher_rule_cols(d)
    first_fail = (
        F.when(~F.col("r_len"), 1)
        .when(~F.col("r_word_len"), 2)
        .when(~F.col("r_stop"), 3)
        .when(~F.col("r_rep"), 4)
        .otherwise(5)
    )
    m = r.select(first_fail.alias("ff")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col("ff") == i).cast("int")).alias(f"f{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    stage_frames = []
    prior = F.lit(0)
    for i, rule in enumerate(_FUNNEL_STAGES, start=1):
        stage_frames.append(
            m.select(
                F.lit(i).alias("stage"),
                F.lit(rule).alias("rule"),
                (F.col("n_docs") - prior).alias("n_in"),
                F.col(f"f{i}").alias("n_rejected"),
            )
        )
        prior = prior + F.col(f"f{i}")
    s = stage_frames[0]
    for sf in stage_frames[1:]:
        s = s.unionAll(sf)
    return s.select(
        F.col("stage").cast("long").alias("stage"),
        "rule",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_rejected").cast("long").alias("n_rejected"),
        (F.col("n_in") - F.col("n_rejected")).cast("long").alias("n_out"),
        F.expr(f"(n_rejected * {FUNNEL_FP}) DIV n_in")
        .cast("long")
        .alias("reject_share_fp"),
    ).orderBy("stage")


# the (rule, column) domain shared by the overlap matrix's two sides
_RULE_COLS = (
    ("len", "r_len"),
    ("word_len", "r_word_len"),
    ("stopword", "r_stop"),
    ("repetition", "r_rep"),
)


def _rule_overlap_oracle() -> str:
    pair_rows = []
    for i, (la, ca) in enumerate(_RULE_COLS):
        for lb, cb in _RULE_COLS[i:]:
            pair_rows.append(
                f"SELECT '{la}' AS rule_a, '{lb}' AS rule_b,"
                f" CAST(COUNT(*) FILTER (WHERE NOT {ca}) AS BIGINT) AS n_fail_a,"
                f" CAST(COUNT(*) FILTER (WHERE NOT {cb}) AS BIGINT) AS n_fail_b,"
                f" CAST(COUNT(*) FILTER (WHERE NOT {ca} AND NOT {cb}) AS BIGINT)"
                f" AS n_fail_both FROM r"
            )
    union = "\n      UNION ALL\n      ".join(pair_rows)
    return f"""
    WITH {_gopher_rules_sql()},
    pairs AS (
      {union}
    )
    SELECT rule_a, rule_b, n_fail_a, n_fail_b, n_fail_both,
           CAST(CASE WHEN n_fail_a + n_fail_b - n_fail_both = 0 THEN 0
                     ELSE (n_fail_both * {FUNNEL_FP})
                          // (n_fail_a + n_fail_b - n_fail_both) END AS BIGINT)
             AS jaccard_fp
    FROM pairs
    ORDER BY rule_a, rule_b
    """


@query(
    "text_quality_rule_overlap",
    oracle=_rule_overlap_oracle(),
    tags=("text", "quality", "curation", "audit"),
)
def text_quality_rule_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise FAILURE-OVERLAP matrix for the Gopher rules — the
    redundancy audit behind every filter-set review: if rule B's
    failures are mostly inside rule A's (high Jaccard), B adds little
    beyond A and is a candidate to drop (its compute at 100 TB buys no
    additional deletions).  For each unordered rule pair including the
    diagonal: per-rule fail counts, joint fails, and the fixed-point
    Jaccard of the two failure sets.  Reads with `text_quality_funnel`:
    the funnel says what each stage deletes in sequence, this says
    which stages are interchangeable.

    Scale shape: ONE scan computing the 4 rule booleans, then a single
    1-row aggregate carrying all 10 pair counts (map-side partial) —
    the pair matrix never materializes per-doc rows."""
    d = t(spark, sf_dir, "documents")
    r = _gopher_rule_cols(d)
    aggs = []
    for la, ca in _RULE_COLS:
        aggs.append(F.sum((~F.col(ca)).cast("int")).alias(f"fa_{la}"))
    for i, (la, ca) in enumerate(_RULE_COLS):
        for lb, cb in _RULE_COLS[i:]:
            aggs.append(
                F.sum((~F.col(ca) & ~F.col(cb)).cast("int")).alias(
                    f"both_{la}_{lb}"
                )
            )
    m = r.agg(*aggs)
    rows = []
    for i, (la, _) in enumerate(_RULE_COLS):
        for lb, _ in _RULE_COLS[i:]:
            rows.append(
                m.select(
                    F.lit(la).alias("rule_a"),
                    F.lit(lb).alias("rule_b"),
                    F.col(f"fa_{la}").cast("long").alias("n_fail_a"),
                    F.col(f"fa_{lb}").cast("long").alias("n_fail_b"),
                    F.col(f"both_{la}_{lb}").cast("long").alias("n_fail_both"),
                )
            )
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionAll(frame)
    denom = F.col("n_fail_a") + F.col("n_fail_b") - F.col("n_fail_both")
    return out.select(
        "rule_a",
        "rule_b",
        "n_fail_a",
        "n_fail_b",
        "n_fail_both",
        F.when(denom == 0, F.lit(0))
        .otherwise(F.expr(f"(n_fail_both * {FUNNEL_FP}) DIV (n_fail_a + n_fail_b - n_fail_both)"))
        .cast("long")
        .alias("jaccard_fp"),
    ).orderBy("rule_a", "rule_b")


# ---------------------------------------------------------------------------
# vocabulary coverage CURVE — the "choose V" input (vocab_coverage reports
# OOV at one fixed V; this is coverage as a function of V)

COVERAGE_KS = (4, 8, 16, 24)  #: candidate vocabulary sizes (the corpus
#: vocabulary is 31 types at every SF — production values would be
#: 2^14..2^18; the CURVE SHAPE, not the absolute sizes, is the operator)
COVERAGE_FP = 1_000_000


@query(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS t, COUNT(*) AS n_types FROM counts),
    ranked AS (
      SELECT tok, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn,
             SUM(c) OVER (ORDER BY c DESC, tok
                          ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM counts
    )
    SELECT CAST(rn AS BIGINT) AS vocab_size,
           CAST(cum_c AS BIGINT) AS covered_tokens,
           CAST(t.t AS BIGINT) AS total_tokens,
           CAST(t.n_types AS BIGINT) AS n_types,
           CAST((cum_c * {COVERAGE_FP}) // t.t AS BIGINT) AS coverage_ppm
    FROM ranked CROSS JOIN tot t
    WHERE rn IN ({", ".join(str(k) for k in COVERAGE_KS)})
    ORDER BY rn
    """,
    tags=("text", "tokenizer", "vocabulary", "curation"),
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage CURVE: for each candidate vocab size V in
    {COVERAGE_KS}, the share of the corpus token stream covered by the
    top-V tokens — the decision input for choosing a tokenizer
    vocabulary (`text_vocab_coverage` then audits per-doc OOV at the
    chosen V).  The curve's knee is where more vocabulary stops buying
    coverage; on a Zipfian corpus (`text_zipf_slope` measures this one)
    the curve is log-shaped and the knee is sharp.

    Scale shape: one token-count aggregation (map-side combine), then
    the frequency ranking and running token-mass both come from ONE
    `distributed_prefix_sums` pass over the (count DESC, token) total
    order — no single-partition window (the no-global-window
    discipline; the oracle's ROW_NUMBER/SUM OVER is the same total
    order, single-threaded in DuckDB).  Output is |{COVERAGE_KS}|
    rows."""
    d = t(spark, sf_dir, "documents")
    counts = (
        spread(d)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("negc", -F.col("c"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    from .layout import distributed_prefix_sums

    pref = distributed_prefix_sums(counts, ["negc", "tok"], ["c", "one"])
    # totals from the cut prefix-sum frame — aggregating counts directly
    # re-ran the corpus tokenize + token groupBy a second time (r14,
    # guide §1.2); column pruning drops the unused window expressions
    tot = pref.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_types")
    )
    return (
        pref.filter(F.col("one_cum").isin([k for k in COVERAGE_KS]))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("one_cum").cast("long").alias("vocab_size"),
            F.col("c_cum").cast("long").alias("covered_tokens"),
            F.col("t").cast("long").alias("total_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.expr(f"(c_cum * {COVERAGE_FP}) DIV t").cast("long").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010) — unsupervised keyphrase
# scoring by word co-occurrence degree within stopword-delimited phrases

RAKE_SCALE = 1_000_000  #: fixed-point scale for degree/freq word scores
RAKE_TOPN = 25


@query(
    "text_rake_keywords",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \t\n\r\f]+') AS ts
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM tok
    ),
    marked AS (
      SELECT doc_id, i, w,
             CASE WHEN list_contains([{_STOP_SQL}], w) THEN 1 ELSE 0 END AS st
      FROM words
    ),
    pidd AS (
      SELECT doc_id, i, w, st,
             SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS pid
      FROM marked
    ),
    ph AS (SELECT doc_id, pid, i, w FROM pidd WHERE st = 0),
    plen AS (
      SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS len
      FROM ph GROUP BY 1, 2
    ),
    wstat AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(len) AS BIGINT) AS degree
      FROM ph JOIN plen USING (doc_id, pid) GROUP BY w
    ),
    wsc AS (
      SELECT w, ({RAKE_SCALE} * degree) // freq AS score FROM wstat
    ),
    phs AS (
      SELECT ph.doc_id, ph.pid,
             STRING_AGG(ph.w, ' ' ORDER BY ph.i) AS phrase,
             CAST(SUM(wsc.score) AS BIGINT) AS score_fp,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM ph JOIN wsc ON wsc.w = ph.w GROUP BY 1, 2
    ),
    agg AS (
      SELECT phrase, MAX(score_fp) AS score_fp,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             MAX(n_words) AS n_words
      FROM phs GROUP BY phrase
    )
    SELECT phrase, score_fp, n_occurrences, n_words,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_fp DESC, phrase) AS rnk
      FROM agg
    ) WHERE rnk <= {RAKE_TOPN}
    """,
    tags=("text", "keywords", "quality", "pipeline"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rapid Automatic Keyword Extraction, Rose
    et al. 2010): candidate phrases are maximal stopword-free token
    runs (boundaries = the shared STOPWORDS list); each word scores
    degree/frequency where degree sums the lengths of every phrase the
    word occurs in (its co-occurrence mass) and frequency counts its
    occurrences; a phrase scores the sum of its word scores.  Corpus
    top-{RAKE_TOPN} distinct phrases — the unsupervised keyphrase
    census a corpus-exploration pass runs before any labeling.

    Determinism: word scores are pure integer division
    (RAKE_SCALE·degree // freq — no doubles anywhere); phrase text is
    order-reconstructed (array_sort by position / STRING_AGG ORDER BY);
    final rank ties break on the phrase string.  Identical phrase texts
    have identical scores by construction, so the MAX in the dedup
    aggregate is exact, not a choice.

    Scale shape: one token explode (narrow), a per-doc ordered window
    for the phrase ids (one shuffle on doc_id), vocabulary- and
    phrase-keyed aggregates (word-stat table is vocab-bounded; AQE
    broadcasts it into the phrase-scoring join), TakeOrdered for the
    final top-N — the corpus is never globally sorted.

    Reference basis: LLM-pipeline extension (SURVEY §2.8+); shares the
    tokenizer and STOPWORDS with the quality/lang-id family."""
    from pyspark.sql import Window

    from ..queries import floordiv_col

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "w")
    )
    marked = toks.withColumn(
        "st", F.col("w").isin(list(STOPWORDS)).cast("long")
    )
    w_pid = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = (
        marked.withColumn("pid", F.sum("st").over(w_pid))
        .filter(F.col("st") == 0)
        .select("doc_id", "pid", "i", "w")
    )
    plen = ph.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    wstat = (
        ph.join(plen, ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("len").cast("long").alias("degree"),
        )
    )
    wsc = wstat.select(
        "w",
        floordiv_col(F.lit(RAKE_SCALE) * F.col("degree"), F.col("freq")).alias(
            "score"
        ),
    )
    phs = (
        ph.join(wsc, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x.w,
                ),
            ).alias("phrase"),
            F.sum("score").cast("long").alias("score_fp"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )
    agg = phs.groupBy("phrase").agg(
        F.max("score_fp").alias("score_fp"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("n_words").alias("n_words"),
    )
    w_rank = Window.orderBy(F.col("score_fp").desc(), F.col("phrase"))
    return (
        agg.orderBy(F.col("score_fp").desc(), F.col("phrase"))
        .limit(RAKE_TOPN)
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .select("phrase", "score_fp", "n_occurrences", "n_words", "rnk")
    )
