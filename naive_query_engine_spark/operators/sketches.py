"""Sketch aggregations with hash-checkable accuracy contracts.

Approximate aggregates (HyperLogLog++ distinct counts, t-digest-style
quantiles) are how 100 TB pipelines afford per-key cardinalities and
distribution summaries: constant memory, one pass, mergeable partials —
versus an exact COUNT(DISTINCT) whose shuffle grows with cardinality.

The sketch VALUES cannot be oracle-compared (DuckDB's estimators differ
bit-for-bit), so each query exports the contract instead: the exact
answer plus a boolean ``within_tolerance`` computed Spark-side from the
sketch.  The oracle asserts the exact answer and ``true`` — if a Spark
upgrade or a data change pushes the sketch outside its advertised error
bound, the value-hash breaks and the driver flags it.  (Spark's HLL++ and
percentile_approx are deterministic for a given dataset: their merges are
commutative, so partition order doesn't change the estimate.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query, t

#: relative-error budget for approx_count_distinct (HLL++ rsd=0.02 →
#: 3-sigma ≈ 6%; 5% flags anything beyond normal estimator behavior)
HLL_TOLERANCE = 0.05
#: absolute rank tolerance for percentile_approx at accuracy=10000
PCT_ACCURACY = 10_000


@query(
    "sketch_approx_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS within_tolerance
    FROM lineitem
    """,
    tags=("sketch", "aggregate", "approximate"),
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct count of lineitem part keys, exported as its
    accuracy contract: exact count + |approx − exact|/exact ≤ 5%."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_approx"),
    )
    rel_err = (
        F.abs(F.col("n_approx") - F.col("n_exact")).cast("double") / F.col("n_exact")
    )
    return agg.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (rel_err <= HLL_TOLERANCE).alias("within_tolerance"),
    )


@query(
    "sketch_approx_quantiles",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_ok, TRUE AS p95_ok
    FROM lineitem
    """,
    tags=("sketch", "aggregate", "approximate", "quantile"),
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx on l_extendedprice, exported as its rank
    contract: the approximate p50/p95 must sit within ±1% of the row
    count in TRUE rank position (checked by counting rows at or below
    the estimate — exact integer comparisons, no float summation)."""
    li = t(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], PCT_ACCURACY).alias("qs"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.col("qs")[0].alias("p50_est"), F.col("qs")[1].alias("p95_est"), "n_rows"
    )
    ranks = li.crossJoin(approx).agg(
        F.first("n_rows").alias("n_rows"),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("p50_est"), 1).otherwise(0)).alias(
            "rank50"
        ),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("p95_est"), 1).otherwise(0)).alias(
            "rank95"
        ),
    )
    tol = F.col("n_rows") / 100  # ±1% of rows
    return ranks.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.abs(F.col("rank50") - F.col("n_rows") * 0.5) <= tol).alias("p50_ok"),
        (F.abs(F.col("rank95") - F.col("n_rows") * 0.95) <= tol).alias("p95_ok"),
    )


@query(
    "sketch_hll_mergeable",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS merged_within_tolerance,
           TRUE AS merge_close_to_direct
    FROM events
    """,
    tags=("sketch", "aggregate", "approximate", "mergeable"),
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches a 100 TB primitive: MERGEABILITY.
    Distinct users are sketched independently per event_type (the shape of
    a partitioned/incremental pipeline: sketch each shard or day, store
    the bytes), then the partial sketches are union-merged — the merged
    estimate must (a) sit within the HLL tolerance of the exact global
    distinct and (b) agree with the single-pass whole-dataset sketch to
    within the same tolerance.  (b) is deliberately NOT exact equality:
    in register space HLL union is a lossless coordinate-wise max, but
    Spark's DataSketches union ACCUMULATES in HLL_8 and converts down,
    while the direct aggregate builds HLL_4 — their estimates diverge
    slightly once cardinality leaves sparse mode (first seen at sf0.1:
    direct 1494 vs merged 1488 of 1500 exact; equal at sf0.01).
    Contract export only — sketch bytes differ across engines (see
    module docstring)."""
    ev = t(spark, sf_dir, "events")
    per_group = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n_direct"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    rel_err = (
        F.abs(F.col("n_merged") - F.col("n_exact")).cast("double") / F.col("n_exact")
    )
    direct_gap = (
        F.abs(F.col("n_merged") - F.col("n_direct")).cast("double") / F.col("n_exact")
    )
    return direct.crossJoin(merged).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (rel_err <= HLL_TOLERANCE).alias("merged_within_tolerance"),
        (direct_gap <= HLL_TOLERANCE).alias("merge_close_to_direct"),
    )


@query(
    "events_wau_sliding",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events)
    SELECT CAST(dd.d AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau_exact,
           TRUE AS hll_ok
    FROM days dd JOIN du u ON u.d BETWEEN dd.d - 6 AND dd.d
    GROUP BY dd.d
    """,
    tags=("events", "window", "sketch", "mergeable"),
)
def events_wau_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day active users per day — the canonical "WAU" rollup.

    Exact path: dedupe to (day, user) once (the only shuffle that scales
    with raw volume), then explode each presence to the <=7 window-end
    days it supports and count distinct per window — fan-out is a
    constant 7x of the *deduped* set, never of raw events.

    Scale path, verified as a contract: one HLL sketch per day (constant
    bytes/day), the same 7x explode over SKETCH ROWS, union-merge per
    window — at 100 TB the window pass touches kilobytes per day instead
    of re-scanning user ids, and mergeability (see
    ``sketch_hll_mergeable``) makes it lossless vs sketching each window
    directly.  ``hll_ok`` asserts the merged estimate stays within 5% of
    the exact count for every window."""
    ev = t(spark, sf_dir, "events")
    window_ends = [F.date_add(F.col("d"), i) for i in range(7)]
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    exact = (
        du.select(F.explode(F.array(*window_ends)).alias("d"), "user_id")
        .join(days, "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    daily_sk = du.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = (
        daily_sk.select(F.explode(F.array(*window_ends)).alias("d"), "sk")
        .join(days, "d")
        .groupBy("d")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau_hll"))
    )
    rel_err = (
        F.abs(F.col("wau_hll") - F.col("wau_exact")).cast("double") / F.col("wau_exact")
    )
    return exact.join(merged, "d").select(
        F.col("d").cast("string").alias("day"),
        F.col("wau_exact").cast("long").alias("wau_exact"),
        (rel_err <= HLL_TOLERANCE).alias("hll_ok"),
    )


# ---------------------------------------------------------------------------
# deterministic hashed sketches (bloom filter, count-min) — unlike the
# estimator sketches above, these are exactly reproducible given the hash
# family (seeded md5, the same portability trick as dedup.py), so the
# oracle compares full values, not just a tolerance contract.

#: bloom filter geometry: m = 16^BLOOM_HEX_DIGITS bits, k = BLOOM_SEEDS
BLOOM_HEX_DIGITS = 3  # m = 4096 — first 3 md5 hex digits ARE the bit index
BLOOM_SEEDS = 3
#: count-min geometry: w = 16^CM_HEX_DIGITS buckets × d = CM_SEEDS rows
CM_HEX_DIGITS = 2  # w = 256
CM_SEEDS = 3


def seeded_hash_int(key, seed: int, digits: int):
    """First ``digits`` hex chars of md5('<seed>|<key>') as an int in
    [0, 16^digits) — a uniform hash both engines compute identically.
    Taking a hex prefix of width d IS the mod-16^d reduction, so no
    modulo (and no negative-hash edge case) is needed."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), key.cast("string")))
    return F.conv(F.substring(h, 1, digits), 16, 10).cast("int")


def _hex_int_sql(hcol: str, digits: int) -> str:
    """DuckDB rendering of int(hex_prefix): positional strpos arithmetic
    (DuckDB has no base-conversion function — same idiom as quality.py)."""
    terms = []
    for i in range(digits):
        mult = 16 ** (digits - 1 - i)
        term = f"(strpos('0123456789abcdef', SUBSTR({hcol}, {i + 1}, 1)) - 1)"
        terms.append(f"{term} * {mult}" if mult > 1 else term)
    return "(" + " + ".join(terms) + ")"


def _seeded_md5_sql(key_sql: str, seed_sql: str) -> str:
    return f"MD5(CAST({seed_sql} AS VARCHAR) || '|' || CAST({key_sql} AS VARCHAR))"


def _seed_rows(key, n_seeds: int, digits: int):
    """(seed, pos) column pair per input row — ONE explode over an array of
    structs (a per-row transform; no shuffle, no n_seeds× scan)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"),
                    seeded_hash_int(key, s, digits).alias("pos"),
                )
                for s in range(n_seeds)
            ]
        )
    )


@query(
    "sketch_bloom_membership",
    oracle=f"""
    WITH seeds AS (SELECT UNNEST(range({BLOOM_SEEDS})) AS seed),
    build AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (
      SELECT DISTINCT seed,
             {_hex_int_sql(_seeded_md5_sql('k', 'seed'), BLOOM_HEX_DIGITS)} AS pos
      FROM build CROSS JOIN seeds
    ),
    probe_bits AS (
      SELECT c_custkey AS k, seed,
             {_hex_int_sql(_seeded_md5_sql('c_custkey', 'seed'), BLOOM_HEX_DIGITS)} AS pos
      FROM customer CROSS JOIN seeds
    ),
    flagged AS (
      SELECT pb.k
      FROM probe_bits pb JOIN bits b ON pb.seed = b.seed AND pb.pos = b.pos
      GROUP BY pb.k
      HAVING COUNT(*) = {BLOOM_SEEDS}
    ),
    truem AS (SELECT DISTINCT o_custkey AS k FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build)   AS n_build,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits)    AS n_bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_probed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_flagged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truem)   AS n_true_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM truem) AS n_false_positives
    """,
    tags=("sketch", "bloom", "join"),
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership as data: build m=4096-bit / k=3 filter from
    the set of customers WITH orders, probe every customer, and report the
    flagged count vs ground truth (false positives are the sketch's
    documented price; false negatives are impossible by construction).

    This is the explicit, mergeable form of the runtime bloom pruning
    Spark injects automatically (pinned in tests/test_runtime_filter.py):
    the bit set is just a (seed, pos) relation — unionable across
    partitions/days (OR of blooms = UNION of set bits), bounded by m·k
    rows regardless of input size, so it broadcasts at any scale and the
    probe side never shuffles.  At 100 TB this is how you pre-filter a
    fact scan against a billion-key dimension without shipping the keys.

    Determinism: the seeded-md5 family (dedup.py's portability trick) —
    the first 3 hex digits ARE the bit index, both engines agree exactly."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    build = o.select(F.col("o_custkey").alias("k")).distinct()
    bits = (
        build.select(_seed_rows(F.col("k"), BLOOM_SEEDS, BLOOM_HEX_DIGITS).alias("sp"))
        .select("sp.seed", "sp.pos")
        .distinct()
    )
    probe_bits = c.select(
        F.col("c_custkey").alias("k"),
        _seed_rows(F.col("c_custkey"), BLOOM_SEEDS, BLOOM_HEX_DIGITS).alias("sp"),
    ).select("k", "sp.seed", "sp.pos")
    # the bit set is bounded by m*k rows — broadcast is safe at ANY corpus
    # size (this is the one join in the repo where a hint is provably
    # scale-independent)
    flagged = (
        probe_bits.join(F.broadcast(bits), ["seed", "pos"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == BLOOM_SEEDS)
    )
    true_members = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("k")
    ).distinct()
    return (
        build.agg(F.count(F.lit(1)).alias("n_build"))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_probed")))
        .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_flagged")))
        .crossJoin(true_members.agg(F.count(F.lit(1)).alias("n_true_members")))
        .select(
            F.col("n_build").cast("long").alias("n_build"),
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            F.col("n_probed").cast("long").alias("n_probed"),
            F.col("n_flagged").cast("long").alias("n_flagged"),
            F.col("n_true_members").cast("long").alias("n_true_members"),
            (F.col("n_flagged") - F.col("n_true_members")).cast("long").alias("n_false_positives"),
        )
    )


#: shared by the batch row and its streaming-sink twin: hash equality of
#: BOTH against this one SQL is the "stream-merged partials == one-shot
#: batch sketch" claim (counter-wise SUM merge is exact, so the two rows
#: must agree bit-for-bit with each other too)
_CM_FREQ_ORACLE = f"""
    WITH seeds AS (SELECT UNNEST(range({CM_SEEDS})) AS seed),
    counters AS (
      SELECT seed,
             {_hex_int_sql(_seeded_md5_sql('user_id', 'seed'), CM_HEX_DIGITS)} AS pos,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
    ),
    est AS (
      SELECT t.user_id, MIN(c.cnt) AS cm_est
      FROM truth t
      CROSS JOIN seeds s
      JOIN counters c
        ON c.seed = s.seed
       AND c.pos = {_hex_int_sql(_seeded_md5_sql('t.user_id', 's.seed'), CM_HEX_DIGITS)}
      GROUP BY t.user_id
    )
    SELECT t.user_id, t.true_cnt, e.cm_est,
           e.cm_est - t.true_cnt AS overcount
    FROM truth t JOIN est e ON t.user_id = e.user_id
    """


@query(
    "sketch_countmin_freq",
    oracle=_CM_FREQ_ORACLE,
    tags=("sketch", "countmin", "aggregate"),
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=3 rows × w=256 buckets) over event user_ids:
    build the counter matrix in one hashed aggregation, then answer every
    user's frequency query as min over its d counters, reported against
    the exact count (CM guarantees estimate ≥ truth; ``overcount`` is the
    collision error).

    Scale shape: the counter matrix is d·w rows NO MATTER the input size —
    one partial-aggregated shuffle builds it, then it broadcasts to the
    probe side.  Mergeable by counter-wise SUM (union of streams), which
    is why CM is the standard heavy-hitter primitive over unbounded
    streams.  The probe here is every distinct key (worst case); a real
    pipeline probes a handful.

    Determinism: seeded-md5 bucket family; counts are exact integers; min
    over integers — both engines agree bit-for-bit."""
    ev = t(spark, sf_dir, "events")
    counters = (
        ev.select(_seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp"))
        .select("sp.seed", "sp.pos")
        .groupBy("seed", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    probe = truth.select(
        "user_id", _seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp")
    ).select("user_id", "sp.seed", "sp.pos")
    est = (
        probe.join(F.broadcast(counters), ["seed", "pos"])  # d*w rows — bounded
        .groupBy("user_id")
        .agg(F.min("cnt").cast("long").alias("cm_est"))
    )
    return truth.join(est, "user_id").select(
        "user_id",
        "true_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("true_cnt")).cast("long").alias("overcount"),
    )


HLL_INTERSECT_TOLERANCE = 0.10  #: inclusion-exclusion compounds 3 estimates


@query(
    "sketch_hll_intersection",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
    SELECT CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS n_exact,
           TRUE AS within_tolerance
    """,
    tags=("sketch", "aggregate", "approximate", "set-ops"),
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation WITHOUT materializing either audience:
    |A∩B| = |A| + |B| − |A∪B| over three HLL sketches (inclusion-
    exclusion — the only set operation HLL alone supports beyond union).
    Exported as its accuracy contract: exact overlap + the estimate
    within ±10% (looser than the union sketches' 5% because three
    estimator errors compound — exactly why theta/KMV sketches exist for
    intersection-heavy workloads; documented trade-off).  Each side is
    one map-side-combinable sketch aggregation — the exact join the
    oracle runs is what this op avoids shipping at 100 TB."""
    ev = t(spark, sf_dir, "events")
    agg = ev.agg(
        F.approx_count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id")), rsd=0.02
        ).alias("n_a"),
        F.approx_count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id")), rsd=0.02
        ).alias("n_b"),
        F.approx_count_distinct(
            F.when(F.col("event_type").isin("view", "click"), F.col("user_id")),
            rsd=0.02,
        ).alias("n_ab"),
    )
    # exact intersection for the contract, computed engine-side the cheap
    # way: |A∩B| = |A|+|B|-|A∪B| holds exactly for exact counts too
    exact = ev.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("e_a"),
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("e_b"),
        F.count_distinct(
            F.when(F.col("event_type").isin("view", "click"), F.col("user_id"))
        ).alias("e_ab"),
    ).select((F.col("e_a") + F.col("e_b") - F.col("e_ab")).alias("n_exact"))
    est = (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast("double")
    rel_err = F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact")
    return exact.crossJoin(F.broadcast(agg.select("n_a", "n_b", "n_ab"))).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (rel_err <= HLL_INTERSECT_TOLERANCE).alias("within_tolerance"),
    )


#: KMV (k-minimum-values) sketch geometry: keep the K smallest 48-bit
#: md5-derived hash values per set.  Unlike HLL, every step is
#: DETERMINISTIC-portable (same md5, same k-min set in any engine), so the
#: estimates themselves hash-match the oracle exactly — no tolerance
#: booleans needed.  This is the intersection-capable sketch the
#: sketch_hll_intersection docstring points to (theta/KMV family).
KMV_K = 64
KMV_HEX_DIGITS = 12  # 48-bit hash space
KMV_SPACE = float(16 ** KMV_HEX_DIGITS)
KMV_SALTS = 8  # phase-1 parallelism for the distributed bottom-k


def _kmv_hash_sql(col: str) -> str:
    return _hex_int_sql(f"MD5(CAST({col} AS VARCHAR))", KMV_HEX_DIGITS)


@query(
    "sketch_kmv_jaccard",
    oracle=f"""
    WITH a AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
    b AS (SELECT DISTINCT doc_id FROM documents
          WHERE CAST(SUBSTR(source, 4) AS INTEGER) < 10),
    ha AS (SELECT DISTINCT {_kmv_hash_sql('doc_id')} AS h FROM a),
    hb AS (SELECT DISTINCT {_kmv_hash_sql('doc_id')} AS h FROM b),
    sa AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha)
           WHERE rn <= {KMV_K}),
    sb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb)
           WHERE rn <= {KMV_K}),
    mu AS (SELECT h FROM (
             SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
             FROM (SELECT h FROM sa UNION SELECT h FROM sb))
           WHERE rn <= {KMV_K}),
    mstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_m,
                      CAST(MAX(h) AS BIGINT) AS kth FROM mu),
    common AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
               FROM mu JOIN sa USING (h) JOIN sb USING (h)),
    exact AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
             CAST((SELECT COUNT(*) FROM a JOIN b USING (doc_id)) AS BIGINT)
               AS exact_intersection,
             CAST((SELECT COUNT(*) FROM (SELECT doc_id FROM a
                                         UNION SELECT doc_id FROM b)) AS BIGINT)
               AS exact_union
    )
    SELECT exact_a, exact_b, exact_union, exact_intersection,
           n_m AS sketch_size, n_common,
           CASE WHEN n_m < {KMV_K} THEN CAST(n_m AS DOUBLE)
                ELSE (CAST({KMV_K} AS DOUBLE) - 1) * {KMV_SPACE!r} / kth
           END AS est_union,
           CAST(n_common AS DOUBLE) / n_m AS est_jaccard,
           (CAST(n_common AS DOUBLE) / n_m)
             * (CASE WHEN n_m < {KMV_K} THEN CAST(n_m AS DOUBLE)
                     ELSE (CAST({KMV_K} AS DOUBLE) - 1) * {KMV_SPACE!r} / kth
                END) AS est_intersection
    FROM mstats CROSS JOIN common CROSS JOIN exact
    """,
    tags=("sketch", "approximate", "set-ops", "kmv"),
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch intersection — the
    theta-family answer to HLL's weak intersections
    (``sketch_hll_intersection`` documents the gap): keep the K smallest
    hash values per set; the merged bottom-K of two sketches yields BOTH
    a union estimate ((K−1)·space/kth-min) and a Jaccard estimate (share
    of merged minima present in both sketches), whose product estimates
    the intersection directly — one estimator error, not three
    compounded.

    Because the hash is the portable seeded-md5 family, the k-min sets —
    and therefore the ESTIMATES THEMSELVES — are bit-identical across
    engines: this sketch query hash-matches its oracle exactly, with no
    ``within_tolerance`` escape hatch.  Sets smaller than K degenerate to
    exact counts (the sketch IS the set) via the same CASE in both
    engines.

    Scale shape: per-set distinct hashes (one shuffle), then the
    distributed bottom-k runs as a salted two-phase window (per-salt
    bottom-K, then bottom-K of the ≤ SALTS·K survivors — the
    ``dataset_reservoir_per_lang`` idiom); every frame after the
    sketches is ≤ 2K rows."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, KMV_HEX_DIGITS), 16, 10
    ).cast("long")
    a = d.filter(F.col("lang") == "en").select(h.alias("h")).distinct()
    b = (
        d.filter(F.substring("source", 4, 10).cast("int") < 10)
        .select(h.alias("h"))
        .distinct()
    )

    def bottom_k(df, k):
        w1 = Window.partitionBy(F.col("h") % KMV_SALTS).orderBy("h")
        w2 = Window.orderBy("h")
        return (
            df.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= k)
            .withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= k)
            .select("h")
        )

    from ..queries import cut_lineage

    # each sketch frame has two consumers (merge + common-membership);
    # the cut materializes the <=K-row sketch once instead of replaying
    # the distinct+window lineage per consumer
    sa, sb = cut_lineage(bottom_k(a, KMV_K)), cut_lineage(bottom_k(b, KMV_K))
    mu = cut_lineage(bottom_k(sa.unionAll(sb).distinct(), KMV_K))
    mstats = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_m"),
        F.max("h").cast("long").alias("kth"),
    )
    common = (
        mu.join(sa, "h").join(sb, "h").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    da = d.filter(F.col("lang") == "en").select("doc_id").distinct()
    db = (
        d.filter(F.substring("source", 4, 10).cast("int") < 10)
        .select("doc_id")
        .distinct()
    )
    exact = (
        da.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
        .crossJoin(db.agg(F.count(F.lit(1)).cast("long").alias("exact_b")))
        .crossJoin(
            da.join(db, "doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("exact_intersection")
            )
        )
        .crossJoin(
            da.unionAll(db)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
        )
    )
    est_union = F.when(
        F.col("n_m") < KMV_K, F.col("n_m").cast("double")
    ).otherwise((F.lit(float(KMV_K)) - 1) * F.lit(KMV_SPACE) / F.col("kth"))
    est_jaccard = F.col("n_common").cast("double") / F.col("n_m")
    return (
        exact.crossJoin(F.broadcast(mstats))
        .crossJoin(F.broadcast(common))
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersection",
            F.col("n_m").alias("sketch_size"),
            "n_common",
            est_union.alias("est_union"),
            est_jaccard.alias("est_jaccard"),
            (est_jaccard * est_union).alias("est_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# join-size estimation by count-min inner product (the CBO primitive)

#: join-size sketch geometry: wider than the frequency CM (w = 16^4 =
#: 65,536) because the inner-product estimator's bias is ‖fA‖₁·‖fB‖₁/w —
#: at w=256 the collision mass would swamp the true join size.  Still a
#: fixed-size summary: d·w = 196,608 counters regardless of input.
JS_HEX_DIGITS = 4
JS_SEEDS = 3


@query(
    "sketch_join_size_estimate",
    oracle=f"""
    WITH seeds AS (SELECT UNNEST(range({JS_SEEDS})) AS seed),
    cm_e AS (
      SELECT seed,
             {_hex_int_sql(_seeded_md5_sql('user_id', 'seed'), JS_HEX_DIGITS)} AS pos,
             CAST(COUNT(*) AS HUGEINT) AS cnt
      FROM events CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    cm_o AS (
      SELECT seed,
             {_hex_int_sql(_seeded_md5_sql('o_custkey', 'seed'), JS_HEX_DIGITS)} AS pos,
             CAST(COUNT(*) AS HUGEINT) AS cnt
      FROM orders CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    per_row AS (
      SELECT e.seed, SUM(e.cnt * o.cnt) AS ip
      FROM cm_e e JOIN cm_o o ON o.seed = e.seed AND o.pos = e.pos
      GROUP BY e.seed
    ),
    est AS (SELECT MIN(ip) AS est_rows FROM per_row),
    fe AS (SELECT user_id AS k, CAST(COUNT(*) AS HUGEINT) AS f FROM events GROUP BY 1),
    fo AS (SELECT o_custkey AS k, CAST(COUNT(*) AS HUGEINT) AS f FROM orders GROUP BY 1),
    truth AS (
      SELECT COALESCE(SUM(fe.f * fo.f), CAST(0 AS HUGEINT)) AS true_rows
      FROM fe JOIN fo ON fo.k = fe.k
    )
    SELECT CAST(est.est_rows AS BIGINT) AS est_rows,
           CAST(truth.true_rows AS BIGINT) AS true_rows,
           CAST(est.est_rows - truth.true_rows AS BIGINT) AS overcount,
           CAST(est.est_rows AS DOUBLE)
             / NULLIF(CAST(truth.true_rows AS DOUBLE), 0) AS est_over_true
    FROM est CROSS JOIN truth
    """,
    tags=("sketch", "countmin", "join", "cardinality", "cbo"),
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from two count-min sketches — the
    cost-based-optimizer primitive: |A ⋈ₖ B| = Σₖ f_A(k)·f_B(k), and the
    inner product of the two key-frequency sketches estimates it WITHOUT
    executing (or even co-locating) the join.  Per hash row j the
    estimate Σ_w cm_A[j][w]·cm_B[j][w] ≥ truth (collisions only add);
    min over the d rows is the standard estimator (AMS/CM inner
    product).  Estimated here: events ⋈ orders on user/customer key —
    the fan-out join a planner most needs to size before picking a
    strategy.  The exact Σ f_A·f_B rides along to SCORE the estimator
    (``est_over_true``); a production CBO consults only the sketch side,
    which is a fixed d·w summary each table maintains incrementally
    (counter-wise SUM-mergeable, like ``sketch_countmin_freq``).

    Scale shape: each sketch is one hashed partial aggregation down to
    d·w = 196,608 counters no matter the table size; the estimator is a
    (seed,pos)-aligned join of two bounded frames.  Products accumulate
    in HUGEINT/DECIMAL(38,0): per-bucket counts are corpus-sized, so
    cnt_A·cnt_B can pass int64 at cluster scale.

    Determinism: seeded-md5 bucket family shared with every sketch here;
    exact integer counters, products, and sums; MIN over exact integers;
    one final double division."""
    ev = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")

    def cm(df, key):
        return (
            df.select(_seed_rows(F.col(key), JS_SEEDS, JS_HEX_DIGITS).alias("sp"))
            .select("sp.seed", "sp.pos")
            .groupBy("seed", "pos")
            .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("cnt"))
        )

    cm_e, cm_o = cm(ev, "user_id"), cm(o, "o_custkey")
    per_row = (
        cm_e.alias("e")
        .join(
            cm_o.alias("x"),
            (F.col("e.seed") == F.col("x.seed")) & (F.col("e.pos") == F.col("x.pos")),
        )
        .groupBy(F.col("e.seed"))
        .agg(F.sum((F.col("e.cnt") * F.col("x.cnt")).cast("decimal(38,0)")).alias("ip"))
    )
    est = per_row.agg(F.min("ip").alias("est_rows"))
    fe = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("fa")
    )
    fo = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("fb")
    )
    truth = fe.join(fo, "k").agg(
        F.coalesce(
            F.sum((F.col("fa") * F.col("fb")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("true_rows")
    )
    return est.crossJoin(F.broadcast(truth)).select(
        F.col("est_rows").cast("long").alias("est_rows"),
        F.col("true_rows").cast("long").alias("true_rows"),
        (F.col("est_rows") - F.col("true_rows")).cast("long").alias("overcount"),
        # guarded denominator (ADVICE r5): an empty true join must read
        # NULL in BOTH engines (DuckDB raw division would yield inf)
        F.when(
            F.col("true_rows") != 0,
            F.col("est_rows").cast("double") / F.col("true_rows").cast("double"),
        ).alias("est_over_true"),
    )


# ---------------------------------------------------------------------------
# bloom-filter join pre-filtering (the runtime-filter / semi-join reduction)


@query(
    "join_bloom_prefilter",
    oracle=f"""
    WITH seeds AS (SELECT UNNEST(range({BLOOM_SEEDS})) AS seed),
    build AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
    bits AS (
      SELECT DISTINCT seed,
             {_hex_int_sql(_seeded_md5_sql('k', 'seed'), BLOOM_HEX_DIGITS)} AS pos
      FROM build CROSS JOIN seeds
    ),
    probe_keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    hits AS (
      SELECT pk.k, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM probe_keys pk
      CROSS JOIN seeds s
      JOIN bits b
        ON b.seed = s.seed
       AND b.pos = {_hex_int_sql(_seeded_md5_sql('pk.k', 's.seed'), BLOOM_HEX_DIGITS)}
      GROUP BY pk.k
    ),
    flags AS (
      SELECT pk.k,
             CASE WHEN COALESCE(h.n_hit, 0) = {BLOOM_SEEDS} THEN 1 ELSE 0 END AS pass,
             CASE WHEN bu.k IS NOT NULL THEN 1 ELSE 0 END AS truth
      FROM probe_keys pk
      LEFT JOIN hits h ON h.k = pk.k
      LEFT JOIN build bu ON bu.k = pk.k
    ),
    per_order AS (
      SELECT f.pass, f.truth FROM orders o JOIN flags f ON f.k = o.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(pass) AS BIGINT) AS n_pass_bloom,
           CAST(SUM(truth) AS BIGINT) AS n_true_match,
           CAST(SUM(pass) - SUM(truth) AS BIGINT) AS n_false_positive,
           CAST(SUM(pass) - SUM(truth) AS DOUBLE)
             / NULLIF(COUNT(*) - SUM(truth), 0) AS fp_rate,
           CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS bloom_selectivity
    FROM per_order
    """,
    tags=("sketch", "bloom", "join", "runtime-filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter JOIN PRE-FILTERING — the runtime-filter mechanism
    behind Spark's own InjectRuntimeFilter / Bloom join pruning, made
    explicit and measurable: build a bloom filter (k=3 hashes, m=4096
    bits) over the SELECTIVE side's join keys (high-balance customers),
    test every probe-side key against it, and report how much of the
    fact table the filter would discard BEFORE the shuffle — plus the
    exact false-positive accounting a filter-sizing decision needs
    (fp_rate ≈ (1−e^{{−kn/m}})^k; measured here, not assumed).

    At 100 TB this is the difference between shuffling the whole fact
    table into a join that drops 95% of it and shuffling 5%: the filter
    is a few KB broadcast to every scan task.  Scale shape: the bit set
    is ≤ k·m rows regardless of build size; probes test DISTINCT keys
    (key-domain-bounded), and the per-order rollup is one broadcast-join
    pass over the fact table.

    Determinism: seeded-md5 bit positions (the sketch-family hash);
    membership is exact integer counting (a key passes iff all k
    positions are set); the two rates are single divisions."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    build = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k")
    ).distinct()
    bits = (
        build.select(_seed_rows(F.col("k"), BLOOM_SEEDS, BLOOM_HEX_DIGITS).alias("sp"))
        .select("sp.seed", "sp.pos")
        .distinct()
    )
    probe_keys = o.select(F.col("o_custkey").alias("k")).distinct()
    hits = (
        probe_keys.select(
            "k", _seed_rows(F.col("k"), BLOOM_SEEDS, BLOOM_HEX_DIGITS).alias("sp")
        )
        .select("k", "sp.seed", "sp.pos")
        # no broadcast hint: bits is ≤ k·m = 12,288 DISTINCT positions at
        # ANY corpus size, but its lineage passes through the scaling
        # customer scan — AQE broadcasts it by MEASURED size, which is
        # both correct here and honest at 100 TB (the broadcast-guard
        # test rejects hints whose lineage covers a scaling relation)
        .join(bits, ["seed", "pos"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    flags = (
        probe_keys.join(hits, "k", "left")
        .join(build.withColumn("truth", F.lit(1)), "k", "left")
        .select(
            "k",
            F.when(F.coalesce(F.col("n_hit"), F.lit(0)) == BLOOM_SEEDS, 1)
            .otherwise(0)
            .alias("pass"),
            F.coalesce(F.col("truth"), F.lit(0)).alias("truth"),
        )
    )
    # no broadcast hint: flags scales with the probe-side KEY DOMAIN
    # (distinct customers), so forcing a broadcast would be the r1
    # scaling-dimension mistake — AQE broadcasts at small SF and
    # switches to shuffle join when the key domain outgrows the
    # threshold
    per_order = o.join(flags, o.o_custkey == flags.k).select("pass", "truth")
    return per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("pass").cast("long").alias("n_pass_bloom"),
        F.sum("truth").cast("long").alias("n_true_match"),
        (F.sum("pass") - F.sum("truth")).cast("long").alias("n_false_positive"),
        # guarded denominator (ADVICE r5): a corpus where every order
        # matches the build side has no true-negative population, so
        # fp_rate must read NULL in BOTH engines rather than DuckDB
        # inf/NaN vs a Spark error/NULL divergence
        F.when(
            (F.count(F.lit(1)) - F.sum("truth")) != 0,
            (F.sum("pass") - F.sum("truth")).cast("double")
            / (F.count(F.lit(1)) - F.sum("truth")),
        ).alias("fp_rate"),
        (F.sum("pass").cast("double") / F.count(F.lit(1))).alias(
            "bloom_selectivity"
        ),
    )


# ---------------------------------------------------------------------------
# AMS (tug-of-war) second frequency moment — self-join size estimation

#: independent ±1 sign functions; estimator variance falls as 1/AMS_SEEDS
#: (F2's relative SE ≈ sqrt(2/S) — 16 seeds ⇒ ~35% 1σ, enough to size a
#: self-join within its order of magnitude, which is what a planner needs)
AMS_SEEDS = 16


def _ams_sign_sql(s: int) -> str:
    """DuckDB ±1 sign from the parity of the first seeded-md5 hex digit."""
    digit = f"(strpos('0123456789abcdef', SUBSTR({_seeded_md5_sql('user_id', s)}, 1, 1)) - 1)"
    return f"CASE WHEN {digit} % 2 = 0 THEN 1 ELSE -1 END"


@query(
    "sketch_ams_f2",
    oracle=f"""
    WITH z AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {', '.join(f'CAST(SUM({_ams_sign_sql(s)}) AS HUGEINT) AS z{s}' for s in range(AMS_SEEDS))}
      FROM events
    ),
    est AS (
      SELECT n_rows,
             CAST({' + '.join(f'z{s} * z{s}' for s in range(AMS_SEEDS))} AS DOUBLE)
               / {AMS_SEEDS} AS est_f2
      FROM z
    ),
    truth AS (
      SELECT CAST(SUM(f * f) AS BIGINT) AS true_f2
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS f FROM events GROUP BY user_id)
    )
    SELECT est.n_rows, est.est_f2, truth.true_f2,
           est.est_f2 / NULLIF(CAST(truth.true_f2 AS DOUBLE), 0) AS est_over_true
    FROM est CROSS JOIN truth
    """,
    tags=("sketch", "ams", "frequency-moment", "cbo"),
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND FREQUENCY MOMENT (F2 = Σₖ f_k²) by the Alon–Matias–Szegedy
    tug-of-war sketch — the classic ±1-sign estimator (AMS, STOC'96) and
    the third leg of the sketch-based CBO toolkit here: HLL answers
    "how many distinct keys" (F0), count-min answers "how big is A ⋈ B"
    (cross inner product), and F2 answers "how big is the SELF-join /
    how skewed is the key" — Σf² is exactly |A ⋈ A| on the join key and
    the numerator of the key-concentration ratio a planner checks before
    choosing a skew strategy.

    Estimator: per seed s, Z_s = Σ_rows sign_s(key) (each row adds ±1 —
    a "tug"); E[Z_s²] = F2 exactly, so est = mean(Z_s²) over AMS_SEEDS
    independent signs.  The exact Σf² rides along to score it
    (``est_over_true``), like ``sketch_join_size_estimate``.

    Scale shape: the sketch is AMS_SEEDS aggregate expressions in ONE
    map-side-combined pass — constant state per task, no per-seed row
    blowup, no shuffle beyond the single global merge of 16 counters
    (the minhash one-pass idiom).  At 100 TB the sketch side moves 16
    integers per partition; only the truth side (scoring, not shipped)
    pays a key shuffle.

    Determinism: signs from the parity of the first seeded-md5 hex digit
    (the shared sketch hash family); Z_s and Z_s² are exact integers in
    DECIMAL(38,0)/HUGEINT (|Z_s| ≤ n ⇒ Z² ≤ n², inside 1e38 for any
    real corpus); one final double division each for est_f2 and the
    guarded ratio."""
    ev = t(spark, sf_dir, "events")
    sign_exprs = [
        F.sum(
            F.when(seeded_hash_int(F.col("user_id"), s, 1) % 2 == 0, 1).otherwise(-1)
        )
        .cast("decimal(19,0)")
        .alias(f"z{s}")
        for s in range(AMS_SEEDS)
    ]
    z = ev.agg(F.count(F.lit(1)).cast("long").alias("n_rows"), *sign_exprs)
    x_sum = None
    for s in range(AMS_SEEDS):
        sq = (F.col(f"z{s}") * F.col(f"z{s}")).cast("decimal(38,0)")
        x_sum = sq if x_sum is None else (x_sum + sq).cast("decimal(38,0)")
    est = z.select(
        "n_rows", (x_sum.cast("double") / F.lit(AMS_SEEDS)).alias("est_f2")
    )
    truth = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("f"))
        .agg(
            F.sum((F.col("f") * F.col("f")).cast("decimal(38,0)"))
            .cast("long")
            .alias("true_f2")
        )
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "n_rows",
        "est_f2",
        "true_f2",
        F.when(
            F.col("true_f2") != 0,
            F.col("est_f2") / F.col("true_f2").cast("double"),
        ).alias("est_over_true"),
    )


@query(
    "streaming_countmin_sink_equivalence",
    oracle=_CM_FREQ_ORACLE,
    tags=("streaming", "sketch", "countmin", "aggregate"),
)
def streaming_countmin_sink_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The count-min sketch built through the REAL streaming sink as a
    driver row (VERDICT r10 #8, second streaming path — a stateless
    mergeable-sketch sink, where `streaming_tick_batch_equivalence` is a
    stateful closure fold): event user_ids are split into three
    micro-batch files, replayed through ``foreachBatch``
    (`streaming.replay`) with the production `cm_counter_partials` (each
    batch reduced to its ≤ d×w counter PARTIAL and written to its own
    ``batch_id=N`` dir with OVERWRITE — the exactly-once replay recipe of
    `cm_merge_sink`), then the merged sketch (counter-wise SUM over
    partials, as `cm_merged_sketch`) answers every key's frequency probe.

    The oracle is the BATCH `sketch_countmin_freq` SQL verbatim, so hash
    equality is the mergeability claim at the driver's surface: a
    stream-merged sketch equals the one-shot batch sketch counter for
    counter (SUM merge is exact; batch boundaries cannot matter).  The
    probe/truth join runs on the batch table — only the sketch side is
    stream-built.

    Scale shape: per micro-batch the sink moves ≤ d×w rows no matter the
    batch size (the kilobytes-of-state-per-100 TB-day property); the
    merge is one bounded aggregation over n_batches × d×w rows.

    Reference basis: extends §2.8 (no streams in the reference;
    aggregation machinery aggregate/mod.rs:30-235 is one-shot)."""
    from ..streaming import cm_counter_partials, replay

    ev = t(spark, sf_dir, "events")
    # each batch's partial lands in the replay's batch_id=N sink with
    # OVERWRITE (the `cm_merge_sink` recipe); the merge is the
    # counter-wise SUM of `cm_merged_sketch`
    counters = (
        replay(
            spark,
            [ev.filter(F.col("event_id") % 3 == i).select("user_id") for i in range(3)],
            lambda batch_df, _: cm_counter_partials(batch_df),
        )
        .groupBy("seed", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    probe = truth.select(
        "user_id",
        _seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp"),
    ).select("user_id", "sp.seed", "sp.pos")
    est = (
        probe.join(F.broadcast(counters), ["seed", "pos"])  # d*w — bounded
        .groupBy("user_id")
        .agg(F.min("cnt").cast("long").alias("cm_est"))
    )
    return truth.join(est, "user_id").select(
        "user_id",
        "true_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("true_cnt")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter ingest prefilter — where the sketch family meets the
# incremental-dedup family: a kilobyte-state membership screen that lets
# most NOVEL arrivals skip the (shuffle-heavy) shingle-index probe
# entirely.  Bloom guarantees no false negatives, so "zero bloom hits"
# is a safe fast-admit; the measured false-positive rate prices the
# wasted index probes the filter fails to save.

#: Bloom geometry: m = 2^16 bits packed into 32-bit words (BIGINT-safe
#: shift algebra on BOTH engines — 1 << 31 stays positive), k = 3 hash
#: functions taken as independent 16-bit slices of md5(shingle).  At
#: these test scales n/m keeps the textbook FPR ≈ (1-e^{-kn/m})^k in
#: the few-percent band — large enough that false positives actually
#: occur and the measurement arm is non-vacuous.
BLOOM_BITS = 65536
BLOOM_WORD_BITS = 32
BLOOM_WORDS = BLOOM_BITS // BLOOM_WORD_BITS
#: 1-indexed hex offsets of the three 4-hex-digit (16-bit) md5 slices
BLOOM_HASH_STARTS = (1, 5, 9)


def _bloom_hash_cols(g):
    """k=3 Column ints in [0, 65536): 16-bit md5 slices of the shingle."""
    h = F.md5(g)
    return [
        F.conv(F.substring(h, s, 4), 16, 10).cast("long")
        for s in BLOOM_HASH_STARTS
    ]


def _bloom_hash_sql(col: str, start: int) -> str:
    """DuckDB expr: int value of the 4-hex-digit md5 slice at ``start``
    (nibble-by-nibble strpos lookup — DuckDB has no hex→int cast)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {start + j}, 1)) - 1)"
        f" * {16 ** (3 - j)}"
        for j in range(4)
    )
    return f"({terms})"


def _bloom_prefilter_oracle() -> str:
    from .shingles_sql import SHINGLES_SQL

    probe_hashes = " UNION ALL ".join(
        f"SELECT doc_id, g, {_bloom_hash_sql('h', s)} AS hv FROM hx"
        for s in BLOOM_HASH_STARTS
    )
    corpus_hashes = " UNION ALL ".join(
        f"SELECT {_bloom_hash_sql('h', s)} AS hv FROM hcorp"
        for s in BLOOM_HASH_STARTS
    )
    return f"""
    WITH {SHINGLES_SQL},
    corpus_g AS (SELECT DISTINCT g FROM shingles WHERE doc_id % 10 <> 0),
    batch_g  AS (SELECT doc_id, g FROM shingles WHERE doc_id % 10 = 0),
    hcorp AS (SELECT md5(g) AS h FROM corpus_g),
    cpos AS ({corpus_hashes}),
    bloom AS (
      SELECT hv // {BLOOM_WORD_BITS} AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (hv % {BLOOM_WORD_BITS})) AS bits
      FROM cpos GROUP BY 1
    ),
    hx AS (SELECT doc_id, g, md5(g) AS h FROM batch_g),
    ppos AS ({probe_hashes}),
    phit AS (
      SELECT p.doc_id, p.g,
             MIN(CASE WHEN b.bits IS NOT NULL
                       AND ((b.bits >> (p.hv % {BLOOM_WORD_BITS})) & 1) = 1
                      THEN 1 ELSE 0 END) AS hit
      FROM ppos p LEFT JOIN bloom b ON b.word_idx = p.hv // {BLOOM_WORD_BITS}
      GROUP BY p.doc_id, p.g
    ),
    verdicts AS (
      SELECT ph.doc_id, ph.hit,
             CASE WHEN c.g IS NULL THEN 0 ELSE 1 END AS present
      FROM phit ph LEFT JOIN corpus_g c ON ph.g = c.g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                         AS n_shingles,
           CAST(SUM(hit) AS BIGINT)                         AS n_maybe,
           CAST(SUM(present) AS BIGINT)                     AS n_present,
           CAST(SUM(hit) - SUM(present) AS BIGINT)          AS n_false_pos,
           SUM(hit) = 0                                     AS novel_fast
    FROM verdicts
    GROUP BY doc_id
    """


def _bloom_word(h):
    """word index 0..BLOOM_WORDS-1 of a 16-bit bit position."""
    return (h / BLOOM_WORD_BITS).cast("long")


def _bloom_filter_frames(spark: SparkSession, sf_dir: str):
    """The admit gate's STATIC state, built once per corpus: the packed
    Bloom relation (word_idx, bits — <= BLOOM_WORDS rows) and the exact
    corpus shingle set the calibration arm probes."""
    from .dedup import shingle_rows

    docs = t(spark, sf_dir, "documents")
    corpus_g = (
        shingle_rows(docs.filter(F.col("doc_id") % 10 != 0))
        .select("g")
        .distinct()
    )
    cpos = corpus_g.select(
        F.explode(F.array(*_bloom_hash_cols(F.col("g")))).alias("hv")
    )
    bloom = (
        cpos.select(
            _bloom_word(F.col("hv")).alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(hv % {BLOOM_WORD_BITS} as int))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return bloom, corpus_g


def _bloom_verdicts(batch_docs: DataFrame, bloom: DataFrame, corpus_g: DataFrame) -> DataFrame:
    """Per-document admit verdicts for a batch of (doc_id, text) rows
    against the static gate state — the shared core of the batch query
    and its streaming twin."""
    from .dedup import shingle_rows

    batch_g = shingle_rows(batch_docs)
    ppos = batch_g.select(
        "doc_id",
        "g",
        F.explode(F.array(*_bloom_hash_cols(F.col("g")))).alias("hv"),
    )
    # LEFT join: a probe hash landing in a word NO corpus bit populated
    # (row absent from the packed relation) is a definite miss and must
    # score hit=0 — an inner join would silently drop it and min(hit)
    # over the remaining hashes could flip a novel shingle to
    # maybe-present (dormant at the shipped SFs, where every word is
    # populated; real on sparser corpora or a BLOOM_BITS bump)
    phit = (
        ppos.join(
            F.broadcast(bloom),
            _bloom_word(F.col("hv")) == F.col("word_idx"),
            "left",
        )
        .select(
            "doc_id",
            "g",
            F.expr(
                f"case when bits is not null and"
                f" (shiftright(bits, cast(hv % {BLOOM_WORD_BITS} as int)) & 1) = 1"
                " then 1 else 0 end"
            ).alias("hit"),
        )
        .groupBy("doc_id", "g")
        .agg(F.min("hit").alias("hit"))
    )
    verdicts = phit.join(
        corpus_g.withColumn("present", F.lit(1)), "g", "left"
    ).select(
        "doc_id", "hit", F.coalesce(F.col("present"), F.lit(0)).alias("present")
    )
    return verdicts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("hit").cast("long").alias("n_maybe"),
        F.sum("present").cast("long").alias("n_present"),
        (F.sum("hit") - F.sum("present")).cast("long").alias("n_false_pos"),
        (F.sum("hit") == 0).alias("novel_fast"),
    )


@query(
    "dedup_bloom_ingest_prefilter",
    oracle=_bloom_prefilter_oracle,
    tags=("sketch", "dedup", "ingest", "prefilter", "bloom"),
)
def dedup_bloom_ingest_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admit prefilter for ingest dedup: build an m=2^16-bit
    / k=3 Bloom over the CORPUS shingle set (doc_id % 10 != 0), probe
    every arriving BATCH document's shingles (doc_id % 10 == 0), and
    report per document how many shingles the filter flags as
    maybe-present, how many are EXACTLY present, and the gap — the
    measured false-positive count.  ``novel_fast`` is the production
    verdict: a document none of whose shingles hit the filter is
    DEFINITELY novel (Bloom has no false negatives — pinned in
    tests) and can be admitted without touching the shingle index at
    all; everything else falls through to the exact probe
    (``dedup_incremental``), whose wasted fraction is exactly the FPR
    this query measures.  (The sibling ``join_bloom_prefilter`` /
    ``sketch_bloom_membership`` rows prune JOIN KEYS with a 4096-bit
    (seed,pos) relation; this one gates the ingest-dedup INDEX PROBE
    over the open-ended shingle universe with word-packed bits — a
    different consumer, geometry and probe algebra.)

    Scale shape: the filter itself is 2,048 rows (8 KiB) —
    built with one map-side-combined ``bit_or`` pass over corpus
    shingles, then BROADCAST to the probe join, so the per-batch cost
    is one Arrow-free map pass over batch shingles plus a tiny
    hash-join.  The exact-membership arm (batch ⋈ corpus shingles) is
    the CALIBRATION measurement — production samples it or skips it;
    the admit path never shuffles the corpus.  Hashes are 16-bit md5
    slices, identical algebra on both engines (nibble-lookup SQL vs
    ``conv``), so the bit pattern — not just the counts — is
    cross-engine exact."""
    bloom, corpus_g = _bloom_filter_frames(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    return _bloom_verdicts(
        docs.filter(F.col("doc_id") % 10 == 0), bloom, corpus_g
    )


@query(
    "streaming_bloom_admit_equivalence",
    oracle=_bloom_prefilter_oracle,
    tags=("streaming", "sketch", "dedup", "ingest", "bloom"),
)
def streaming_bloom_admit_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Bloom admit gate run as a REAL micro-batch ingest stream — the
    production shape of ``dedup_bloom_ingest_prefilter``: the static gate
    state (packed Bloom + exact corpus shingle set) is built ONCE and
    lineage-cut, then arriving documents are replayed through
    ``foreachBatch`` (`streaming.replay`) in three mod-split micro-batch
    files; each batch's per-document verdicts are computed by the SAME
    ``_bloom_verdicts`` core and written to the batch's own
    ``batch_id=N`` dir with OVERWRITE (the exactly-once replay recipe
    the count-min sink established).
    The final frame is the union of the per-batch sinks.

    The oracle is the batch prefilter's SQL VERBATIM: per-document
    verdicts are batch-independent (no cross-document state), so the
    stream's union must equal the one-shot batch answer row for row —
    hash equality is exactly that claim at the driver's surface.

    Scale shape: per micro-batch the work is the admit gate's serving
    cost (one map pass over the batch's shingles + an 8 KiB broadcast
    join); the static state never rebuilds and nothing corpus-sized
    crosses a batch boundary or the driver."""
    from ..queries import cut_lineage
    from ..streaming import replay

    bloom, corpus_g = _bloom_filter_frames(spark, sf_dir)
    bloom = cut_lineage(bloom)
    corpus_g = cut_lineage(corpus_g)
    docs = t(spark, sf_dir, "documents")
    arriving = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    return replay(
        spark,
        [arriving.filter(F.col("doc_id") % 3 == i) for i in range(3)],
        lambda batch_df, _: _bloom_verdicts(batch_df, bloom, corpus_g),
    ).select(
        "doc_id", "n_shingles", "n_maybe", "n_present", "n_false_pos", "novel_fast"
    )
