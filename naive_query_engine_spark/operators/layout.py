"""Data-layout operators: Z-order (Morton) clustering keys.

Parquet prunes row groups by min/max statistics; sorting by ONE column
gives perfect pruning on that column and none on others.  Interleaving the
bits of two (rank-normalized) columns into a Morton key and sorting by it
gives good pruning on BOTH — the idea behind lakehouse ``OPTIMIZE ZORDER``.
Here it's a pure column expression + a layout writer, usable on plain
parquet.

The key is built JVM-side from bit arithmetic (no UDF); rank
normalization uses the distributed :func:`global_rank` scaled onto the
full 16-bit range, so skewed value distributions still spread across the
key space and no stage funnels the table through one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ZBITS = 16  # bits per dimension → 32-bit Morton key


def _spread_bits(c: Column) -> Column:
    """Insert a zero between every bit of a 16-bit value (classic Morton
    spreading, expressed as shift/mask column arithmetic)."""
    x = c.cast("long")
    # NB: Column `|` is boolean OR in PySpark — bitwise needs .bitwiseOR
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def morton_key(a_bucket: Column, b_bucket: Column) -> Column:
    """Interleave two <=16-bit bucket ids into one Morton key."""
    return _spread_bits(a_bucket).bitwiseOR(
        F.shiftleft(_spread_bits(b_bucket), 1)
    ).alias("zkey")


def with_zorder_key(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Append a ``zkey`` column: rank-normalize both dimensions onto the
    full 2^16 range via :func:`global_rank` (distributed — two range
    sorts at layout time, amortized over every future read; the first
    draft's global-ntile windows funneled the whole table through one
    task), then interleave.

    ``global_rank`` requires a TOTAL order, so ties beyond the other
    column break on a content hash of every column: rows that are fully
    identical may still swap ranks, but swapping identical rows is the
    identity on the output multiset — the layout is reproducible."""

    def scale16(rank_col, total):
        return floordiv_col(rank_col * 65535, F.lit(max(total - 1, 1)).cast("long"))

    tie = F.hash(*[F.col(c) for c, dt in df.dtypes if not dt.startswith("map")])
    d0 = df.withColumn("_tie", tie)
    d1, n = global_rank(d0, [col_a, col_b, "_tie"], "_ra")
    d2, _ = global_rank(d1, [col_b, col_a, "_tie"], "_rb")
    return d2.withColumn(
        "zkey", morton_key(scale16(F.col("_ra"), n), scale16(F.col("_rb"), n))
    ).drop("_ra", "_rb", "_tie")


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 32
) -> None:
    """Write parquet clustered by the Morton key of (col_a, col_b):
    repartitionByRange on zkey → each output file covers a compact
    rectangle of the 2-D value space → min/max stats prune on either
    dimension."""
    keyed = with_zorder_key(df, col_a, col_b)
    keyed.repartitionByRange(n_files, "zkey").sortWithinPartitions("zkey").drop(
        "zkey"
    ).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# registered query: the Morton key as a cross-engine-deterministic expression

from pyspark.sql import SparkSession  # noqa: E402

from ..queries import cut_lineage, floordiv_col, query, t  # noqa: E402


def global_rank(
    df: DataFrame, order_cols: list[str], out: str, n_parts: int | None = None
) -> tuple[DataFrame, int]:
    """Exact 0-based global rank over a TOTAL order (order_cols must carry
    a unique tie-break) without a single-partition window.

    The classic distributed-rank idiom: repartitionByRange on the order
    columns, pin the partitioning (range sampling is re-drawn per job —
    without the lineage cut the count job and the rank job could see
    different boundaries), count rows per partition (a bounded,
    one-row-per-partition collect), then local row_number + the
    cumulative offset of all earlier partitions.  Every stage is
    parallel; output ranks are independent of where the sampled
    boundaries land because the order is total.

    Returns (frame with ``out`` column, total row count) — the count
    comes free from the offsets, sparing callers a COUNT() OVER ()
    single-partition window.
    """
    n = n_parts or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    d = cut_lineage(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = d.withColumn(
        out, (F.row_number().over(w).cast("long") - 1 + omap[F.col("_pid")])
    ).drop("_pid")
    return ranked, acc


def _spread_sql(x: str) -> str:
    """DuckDB SQL for ``_spread_bits`` — the identical shift/mask recurrence."""
    e = f"CAST({x} AS BIGINT)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def _floordiv_sql(x: str, d: str) -> str:
    """Exact SQL floor division via non-negative modulus (engine-portable)."""
    return f"CAST((({x}) - ((({x}) % ({d})) + ({d})) % ({d})) / ({d}) AS BIGINT)"


@query(
    "events_zorder_locality",
    oracle=f"""
    WITH r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1 AS ra,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rb,
             COUNT(*) OVER () AS n
      FROM events
    ),
    b AS (
      SELECT {_floordiv_sql('ra * 65535', 'n - 1')} AS ua,
             {_floordiv_sql('rb * 65535', 'n - 1')} AS ub
      FROM r
    ),
    z AS (
      SELECT ua, ub,
             ({_spread_sql('ua')} | ({_spread_sql('ub')} << 1)) AS zkey
      FROM b
    )
    SELECT CAST(zkey >> 24 AS BIGINT) AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(ua) - MIN(ua) AS BIGINT) AS ua_spread,
           CAST(MAX(ub) - MIN(ub) AS BIGINT) AS ub_spread
    FROM z GROUP BY zcell
    """,
    tags=("layout", "pipeline", "zorder"),
)
def events_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustering key as a registered, oracle-checked query:
    rank-normalize (user_id, ts) onto the full 2^16 range via exact
    integer scaling ``(rank-1) * 65535 // (n-1)`` under a fully
    deterministic total order (unique ``event_id`` tie-break — the
    hash-check needs it; ``with_zorder_key`` uses a content-hash
    tie-break for arbitrary frames), interleave via ``morton_key``, and
    report per
    coarse-cell counts plus the bucket spread of each dimension — small
    spreads per cell are exactly the min/max-stats locality that makes
    parquet row-group pruning work on BOTH dimensions after
    ``write_zordered`` (tests/test_layout.py measures the pruning itself).

    Both ranks come from :func:`global_rank` (repartitionByRange +
    per-partition offsets) — no single-partition window anywhere, so the
    layout computation itself scales; the oracle's ROW_NUMBER() OVER
    (ORDER BY ...) is the same total order, single-threaded in DuckDB.
    """
    e = t(spark, sf_dir, "events")
    d1, n = global_rank(
        e.select("event_id", "user_id", "ts"), ["user_id", "event_id"], "ra"
    )
    d2, _ = global_rank(d1, ["ts", "event_id"], "rb")

    def scale(rank_col):
        # global_rank is already 0-based long
        return floordiv_col(rank_col * 65535, F.lit(max(n - 1, 1)).cast("long"))

    keyed = d2.select(
        scale(F.col("ra")).alias("ua"), scale(F.col("rb")).alias("ub")
    ).select("ua", "ub", morton_key(F.col("ua"), F.col("ub")).alias("zkey"))
    return keyed.groupBy(F.shiftright("zkey", 24).cast("long").alias("zcell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ua") - F.min("ua")).cast("long").alias("ua_spread"),
        (F.max("ub") - F.min("ub")).cast("long").alias("ub_spread"),
    )


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact running SUM of ``val_col`` over a TOTAL order without a
    single-partition window — :func:`global_rank`'s idiom applied to
    prefix sums (rank is the special case val=1): range-partition on the
    order (partitioning pinned by the lineage cut — range boundaries
    re-sample per job otherwise), collect ONE value-sum per partition
    (bounded: n_parts rows), and hand each partition its predecessors'
    total as a constant offset, so the running sum is an in-partition
    window.  Total order is the caller's contract: ``order_cols`` must
    carry a unique tie-break or rows at equal keys may swap prefix
    values.  Consumers: ``events_peak_concurrency`` (sweep-line interval
    counting), ``orders_abc_classification`` (cumulative revenue share)."""
    n = n_parts or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    d = cut_lineage(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    psums = {
        r["_pid"]: r["s"]
        for r in d.groupBy("_pid").agg(F.sum(val_col).alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(psums):
        offsets[pid] = acc
        acc += psums[pid] or 0
    omap = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.withColumn(out, F.sum(val_col).over(w) + omap[F.col("_pid")]).drop(
        "_pid"
    )


def distributed_prefix_max(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact running MAX of ``val_col`` over a TOTAL order, EXCLUSIVE of
    the current row (``out`` is NULL when nothing precedes) — the
    dominance-test form ("best among strictly earlier rows") that the
    skyline/Pareto-front operator needs, built on the same
    range-partition + per-partition-offset idiom as
    :func:`distributed_prefix_sum` (max is associative, so a partition's
    offset is simply the max of its predecessors' maxima).  The exclusive
    frame is ``rowsBetween(unboundedPreceding, -1)`` locally (NULL on
    each partition's first row) combined with the offset via
    ``F.greatest`` — which skips NULLs, exactly the semantics an
    exclusive prefix wants.  Consumer: ``part_skyline_pareto``."""
    n = n_parts or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    d = cut_lineage(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pmax = {
        r["_pid"]: r["m"]
        for r in d.groupBy("_pid").agg(F.max(val_col).alias("m")).collect()
    }
    # offset[pid] = max over all EARLIER partitions, computed in Python and
    # emitted as ONE flat map lookup (ADVICE r4: the earlier nested-F.when
    # chain was O(n_parts) deep — hundreds of partitions on a cluster would
    # bloat the expression tree and analyzer time; prefix_sum's create_map
    # idiom is flat).  pids with no preceding max are omitted so the map
    # lookup yields NULL, which F.greatest skips.
    offsets: dict[int, object] = {}
    best = None
    for pid in sorted(pmax):
        if best is not None:
            offsets[pid] = best
        m = pmax[pid]
        if m is not None and (best is None or m > best):
            best = m
    if offsets:
        omap = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
        offset_expr = omap[F.col("_pid")].cast(dict(d.dtypes)[val_col])
    else:
        offset_expr = F.lit(None).cast(dict(d.dtypes)[val_col])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.withColumn(
        out, F.greatest(F.max(val_col).over(w), offset_expr)
    ).drop("_pid")


def distributed_prefix_sums(
    df: DataFrame,
    order_cols: list,
    val_cols: list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """Multi-column :func:`distributed_prefix_sum`: one range shuffle, one
    per-partition offset collect (one row per partition carrying ALL the
    column sums), and one in-partition window per column — for operators
    that need several running sums over the SAME total order (the KS
    drift statistic needs both halves' cumulative counts; running them
    through the single-column helper would range-shuffle twice).  Output
    columns are ``<col>_cum``.  Same total-order contract as the
    single-column form."""
    n = n_parts or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    d = cut_lineage(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    psums = {
        r["_pid"]: [r[f"_s_{c}"] for c in val_cols]
        for r in d.groupBy("_pid")
        .agg(*[F.sum(c).alias(f"_s_{c}") for c in val_cols])
        .collect()
    }
    offsets, acc = {}, [0] * len(val_cols)
    for pid in sorted(psums):
        offsets[pid] = list(acc)
        acc = [a + (s or 0) for a, s in zip(acc, psums[pid])]
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for i, c in enumerate(val_cols):
        omap = F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid][i])]
        )
        d = d.withColumn(f"{c}_cum", F.sum(c).over(w) + omap[F.col("_pid")])
    return d.drop("_pid")


# ---------------------------------------------------------------------------
# small-file compaction planning (the lakehouse OPTIMIZE primitive)

COMPACT_TARGET_BYTES = 262_144  #: ~256 KiB target output size (test-scale)


@query(
    "layout_compaction_plan",
    oracle=f"""
    WITH parts AS (
      SELECT source, lang,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS bytes,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, lang
    ),
    planned AS (
      SELECT source, lang, bytes, n_docs,
             CAST(FLOOR(CAST(SUM(bytes) OVER (ORDER BY source, lang
                                              ROWS UNBOUNDED PRECEDING)
                             - bytes AS DOUBLE)
                        / {COMPACT_TARGET_BYTES}) AS BIGINT) AS compaction_group
      FROM parts
    )
    SELECT compaction_group,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_docs) AS BIGINT) AS total_docs,
           MIN(source || '/' || lang) AS first_partition,
           MAX(source || '/' || lang) AS last_partition
    FROM planned GROUP BY compaction_group
    """,
    tags=("layout", "compaction", "lakehouse", "maintenance"),
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION plan — the table-maintenance primitive every
    lakehouse runs (Delta OPTIMIZE / Iceberg rewrite_data_files): group
    under-sized partitions into ~target-size rewrite jobs.  The planner
    is the standard SORT-BASED linear packer: order partitions by their
    key (preserving key locality, so compacted files stay range-prunable
    — the reason real compactors don't bin-pack by size), take the
    exclusive running byte total, and a partition joins the bin its
    START offset falls in: group = floor(prefix_bytes / target).  Every
    output group lands within one partition of the target size.

    Stand-in sizing: the (source, lang) partition grid of the documents
    table with text-length bytes (the corpus has no file manifest; the
    plan shape is identical over a real one).  Scale shape: one grouped
    aggregation over the corpus; the PLANNING window runs on the
    partition-manifest frame, which is |sources|x|langs|-bounded (100
    rows here, ~1e5 rows for a real 100 TB table) — a manifest, not the
    data; the bounded single-partition window is the same top-k-survivor
    idiom as the pagerank ranking.  Rewrite execution would then be one
    job per group.

    Determinism: byte counts are exact integers; the prefix sum runs
    over the total (source, lang) order; group assignment is one floored
    double division of exact integers."""
    d = t(spark, sf_dir, "documents")
    parts = d.groupBy("source", "lang").agg(
        F.sum(F.length("text")).cast("long").alias("bytes"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    # manifest-sized frame (|sources| x |langs|) — bounded window is fine
    w = Window.orderBy("source", "lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = parts.withColumn(
        "compaction_group",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("double")
            / F.lit(float(COMPACT_TARGET_BYTES))
        ).cast("long"),
    )
    key = F.concat_ws("/", F.col("source"), F.col("lang"))
    return planned.groupBy("compaction_group").agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.min(key).alias("first_partition"),
        F.max(key).alias("last_partition"),
    )


# ---------------------------------------------------------------------------
# zone maps / data skipping

ZONE_N = 64  # zones per layout (a real table's per-file footer count analog)

#: the representative predicate set the report scores (literals shared
#: verbatim with the oracle)
ZONE_PRED_DATE_LO = "1997-07-01"
ZONE_PRED_DATE_HI = "1997-10-01"
ZONE_PRED_PRICE_MIN = 450000.0
ZONE_PRED_KEY_LO = 100
ZONE_PRED_KEY_HI = 400


@query(
    "layout_zone_map_stats",
    oracle=f"""
    WITH base AS (SELECT o_orderkey, o_orderdate, o_totalprice FROM orders),
    ri AS (SELECT o_orderkey, o_orderdate, o_totalprice,
                  ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS r,
                  COUNT(*) OVER () AS n
           FROM base),
    rd AS (SELECT o_orderkey, o_orderdate, o_totalprice,
                  ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS r,
                  COUNT(*) OVER () AS n
           FROM base),
    si AS MATERIALIZED (
      SELECT {_floordiv_sql('r * ' + str(ZONE_N), 'n')} AS z,
             MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi,
             MIN(o_orderdate) AS d_lo, MAX(o_orderdate) AS d_hi,
             MAX(o_totalprice) AS p_hi, COUNT(*) AS cnt
      FROM ri GROUP BY 1),
    sd AS MATERIALIZED (
      SELECT {_floordiv_sql('r * ' + str(ZONE_N), 'n')} AS z,
             MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi,
             MIN(o_orderdate) AS d_lo, MAX(o_orderdate) AS d_hi,
             MAX(o_totalprice) AS p_hi, COUNT(*) AS cnt
      FROM rd GROUP BY 1),
    both_layouts AS (
      SELECT 'ingest' AS layout, * FROM si
      UNION ALL
      SELECT 'date_sorted' AS layout, * FROM sd),
    flags AS (
      SELECT layout, cnt,
             (d_hi < TIMESTAMP '{ZONE_PRED_DATE_LO}'
              OR d_lo >= TIMESTAMP '{ZONE_PRED_DATE_HI}') AS s_date,
             (p_hi < {ZONE_PRED_PRICE_MIN}) AS s_price,
             (k_hi < {ZONE_PRED_KEY_LO} OR k_lo > {ZONE_PRED_KEY_HI}) AS s_key
      FROM both_layouts),
    agg AS (
      SELECT layout,
             CAST(COUNT(*) AS BIGINT) AS n_zones,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN s_date THEN 1 ELSE 0 END) AS BIGINT) AS zd,
             CAST(SUM(CASE WHEN s_date THEN cnt ELSE 0 END) AS BIGINT) AS rd_,
             CAST(SUM(CASE WHEN s_price THEN 1 ELSE 0 END) AS BIGINT) AS zp,
             CAST(SUM(CASE WHEN s_price THEN cnt ELSE 0 END) AS BIGINT) AS rp,
             CAST(SUM(CASE WHEN s_key THEN 1 ELSE 0 END) AS BIGINT) AS zk,
             CAST(SUM(CASE WHEN s_key THEN cnt ELSE 0 END) AS BIGINT) AS rk
      FROM flags GROUP BY layout)
    SELECT layout, predicate, n_zones, n_zones_skipped,
           CAST(n_zones_skipped AS DOUBLE) / n_zones AS zone_skip_rate,
           n_rows_skipped,
           CAST(n_rows_skipped AS DOUBLE) / n_rows AS row_skip_rate
    FROM (
      SELECT layout, 'date_q3_1997' AS predicate, n_zones, n_rows,
             zd AS n_zones_skipped, rd_ AS n_rows_skipped FROM agg
      UNION ALL
      SELECT layout, 'price_ge_450k', n_zones, n_rows, zp, rp FROM agg
      UNION ALL
      SELECT layout, 'orderkey_100_400', n_zones, n_rows, zk, rk FROM agg)
    """,
    tags=("layout", "scale", "data-skipping", "zonemap"),
)
def layout_zone_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping report: how much of the table a scan can
    SKIP, per candidate layout, for a representative predicate set — the
    report that justifies (or rejects) a re-clustering before anyone
    pays for the rewrite.  Every lakehouse scan planner works this way:
    per-file min/max footers (zone maps), prune files whose [min,max]
    cannot intersect the predicate.  Here the table is carved into
    ZONE_N = 64 equal-row zones under two layouts — 'ingest' (o_orderkey
    order: what the table looks like as written) and 'date_sorted'
    (o_orderdate order: the proposed re-cluster) — and each predicate is
    scored as zones-skippable / rows-skippable from the zone stats ONLY.

    Expected shape (and what the corpus shows): the orderkey slice
    prunes ~62/64 zones on the ingest layout and 0 after the date sort;
    the date quarter prunes ~61/64 on the date sort and 0 on ingest;
    the price predicate prunes ~0 on BOTH — the deliberate negative
    control (o_totalprice is uncorrelated with either sort key, the case
    where zone maps buy nothing and a Z-ORDER/space-filling layout —
    events_zorder_locality — is the right tool instead).

    Scale shape: one `global_rank` per layout (repartitionByRange +
    bounded per-partition-count collect — the distributed-rank idiom,
    no single-partition window on the Spark side), one zone agg each
    (ZONE_N-bounded output), then all predicate scoring runs on the
    64-row zone frames.  Two corpus passes total, both
    range-partitioned.  At 100 TB the zone frame is the FILE MANIFEST
    (~1e5 rows), not the data.

    Determinism: zone = rank*64 // n in exact integer math
    (`floordiv_col` / `_floordiv_sql`); ranks are total-ordered by
    unique keys; skip flags are integer/timestamp comparisons; the two
    rates are single double divisions of exact integers.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    lo_ts = F.lit(ZONE_PRED_DATE_LO).cast("timestamp")
    hi_ts = F.lit(ZONE_PRED_DATE_HI).cast("timestamp")
    reports = []
    for layout, cols in (
        ("ingest", ["o_orderkey"]),
        ("date_sorted", ["o_orderdate", "o_orderkey"]),
    ):
        ranked, n = global_rank(o, cols, "r")
        zoned = ranked.withColumn(
            "z", floordiv_col(F.col("r") * ZONE_N, F.lit(n).cast("long"))
        )
        zstats = zoned.groupBy("z").agg(
            F.min("o_orderkey").alias("k_lo"),
            F.max("o_orderkey").alias("k_hi"),
            F.min("o_orderdate").alias("d_lo"),
            F.max("o_orderdate").alias("d_hi"),
            F.max("o_totalprice").alias("p_hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
        s_date = (F.col("d_hi") < lo_ts) | (F.col("d_lo") >= hi_ts)
        s_price = F.col("p_hi") < F.lit(ZONE_PRED_PRICE_MIN)
        s_key = (F.col("k_hi") < ZONE_PRED_KEY_LO) | (
            F.col("k_lo") > ZONE_PRED_KEY_HI
        )
        zones = lambda s: F.sum(s.cast("int")).cast("long")  # noqa: E731
        rows = lambda s: F.sum(F.when(s, F.col("cnt")).otherwise(0)).cast("long")  # noqa: E731
        one = zstats.agg(
            F.count(F.lit(1)).cast("long").alias("n_zones"),
            F.sum("cnt").cast("long").alias("n_rows"),
            zones(s_date).alias("zd"), rows(s_date).alias("rd"),
            zones(s_price).alias("zp"), rows(s_price).alias("rp"),
            zones(s_key).alias("zk"), rows(s_key).alias("rk"),
        )
        pred = lambda name, z, r: F.struct(  # noqa: E731
            F.lit(name).alias("predicate"),
            F.col(z).alias("n_zones_skipped"),
            F.col(r).alias("n_rows_skipped"),
        )
        reports.append(
            one.select(
                F.lit(layout).alias("layout"),
                F.col("n_zones"),
                F.col("n_rows"),
                F.explode(
                    F.array(
                        pred("date_q3_1997", "zd", "rd"),
                        pred("price_ge_450k", "zp", "rp"),
                        pred("orderkey_100_400", "zk", "rk"),
                    )
                ).alias("p"),
            ).select(
                "layout",
                F.col("p.predicate").alias("predicate"),
                "n_zones",
                F.col("p.n_zones_skipped").alias("n_zones_skipped"),
                (
                    F.col("p.n_zones_skipped").cast("double") / F.col("n_zones")
                ).alias("zone_skip_rate"),
                F.col("p.n_rows_skipped").alias("n_rows_skipped"),
                (
                    F.col("p.n_rows_skipped").cast("double") / F.col("n_rows")
                ).alias("row_skip_rate"),
            )
        )
    return reports[0].unionAll(reports[1])


# ---------------------------------------------------------------------------
# partition-skew diagnosis report (the pre-salting planning tool)

#: reducer count the skew report simulates — matches the session's
#: spark.sql.shuffle.partitions default so the simulated histogram is the
#: one the real exchange would produce
SKEW_SIM_PARTS = 32


@query(
    "layout_partition_skew_report",
    oracle=f"""
    WITH per_key AS (
      SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey
    ),
    hot AS (
      SELECT k, c FROM per_key ORDER BY c DESC, k LIMIT 1
    ),
    parts AS (
      SELECT ((strpos('0123456789abcdef', SUBSTR(MD5(CAST(k AS VARCHAR)), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', SUBSTR(MD5(CAST(k AS VARCHAR)), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', SUBSTR(MD5(CAST(k AS VARCHAR)), 3, 1)) - 1))
              % {SKEW_SIM_PARTS} AS pid,
             SUM(c) AS rows_in_part
      FROM per_key GROUP BY pid
    )
    SELECT CAST((SELECT SUM(c) FROM per_key) AS BIGINT)   AS n_rows,
           CAST((SELECT COUNT(*) FROM per_key) AS BIGINT) AS n_keys,
           CAST((SELECT c FROM hot) AS BIGINT)            AS max_key_rows,
           CAST((SELECT k FROM hot) AS BIGINT)            AS hottest_key,
           CAST((SELECT c FROM hot) * (SELECT COUNT(*) FROM per_key) * 1000000
                // (SELECT SUM(c) FROM per_key) AS BIGINT) AS key_skew_ppm,
           CAST((SELECT COUNT(*) FROM parts) AS BIGINT)   AS n_nonempty_parts,
           CAST((SELECT MAX(rows_in_part) FROM parts) AS BIGINT) AS part_max_rows,
           CAST((SELECT MIN(rows_in_part) FROM parts) AS BIGINT) AS part_min_rows,
           CAST((SELECT MAX(rows_in_part) FROM parts) * {SKEW_SIM_PARTS} * 1000000
                // (SELECT SUM(c) FROM per_key) AS BIGINT) AS part_imbalance_ppm
    """,
    tags=("layout", "skew", "diagnosis", "shuffle"),
)
def layout_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SKEW diagnosis for a join/agg key — the measurement that
    decides between doing nothing, enabling AQE skew-join, and reaching
    for :mod:`operators.skew`'s explicit salting.  Two levels are
    reported because they fail differently: KEY skew (``key_skew_ppm`` =
    hottest key's rows ÷ mean-per-key, in ppm — a hot KEY can only be
    fixed by salting/replication, no partitioning helps) and simulated
    REDUCER skew (rows per hash partition at the session's shuffle
    parallelism — many medium keys colliding into one reducer, which
    repartitioning or AQE coalescing DOES fix).  ``part_imbalance_ppm``
    is max-reducer ÷ ideal-share; 1,000,000 = perfectly balanced.

    The simulated partitioner is the portable seeded-md5 bucket (NOT
    Spark's Murmur3 ``hash()`` — the oracle must reproduce it; the
    diagnosis cares about the collision STRUCTURE of a generic hash, not
    Spark's exact bucket assignment).  Scale shape: one map-side-combined
    groupBy on the key — the same exchange the real join would pay —
    then everything downstream is key-cardinality-bounded; the final
    assembly is scalar aggregates broadcast-joined into one row."""
    o = t(spark, sf_dir, "orders")
    from .quality import hash_bucket3

    per_key = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_key = cut_lineage(per_key)  # reused 3×: totals, hot key, histogram
    totals = per_key.agg(
        F.sum("c").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    hot = per_key.orderBy(F.col("c").desc(), F.col("k")).limit(1).select(
        F.col("c").alias("max_key_rows"), F.col("k").alias("hottest_key")
    )
    parts = (
        per_key.groupBy(
            (hash_bucket3(F.col("k")) % SKEW_SIM_PARTS).alias("pid")
        )
        .agg(F.sum("c").alias("rows_in_part"))
        .agg(
            F.count(F.lit(1)).alias("n_nonempty_parts"),
            F.max("rows_in_part").alias("part_max_rows"),
            F.min("rows_in_part").alias("part_min_rows"),
        )
    )
    # no broadcast hints on the 1-row frames: their lineage covers the
    # scaling orders table; AQE broadcasts by measured size (guard rule)
    return (
        totals.crossJoin(hot)
        .crossJoin(parts)
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_key_rows").cast("long").alias("max_key_rows"),
            F.col("hottest_key").cast("long").alias("hottest_key"),
            F.expr(
                "CAST(max_key_rows * n_keys * 1000000 DIV n_rows AS BIGINT)"
            ).alias("key_skew_ppm"),
            F.col("n_nonempty_parts").cast("long").alias("n_nonempty_parts"),
            F.col("part_max_rows").cast("long").alias("part_max_rows"),
            F.col("part_min_rows").cast("long").alias("part_min_rows"),
            F.expr(
                f"CAST(part_max_rows * {SKEW_SIM_PARTS} * 1000000 DIV n_rows"
                " AS BIGINT)"
            ).alias("part_imbalance_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# merge-on-read deletion-vector accounting — the OTHER half of table
# maintenance: compaction handles small files, this handles delete debt

DV_FILE_SPAN = 2000  #: orderkeys per modeled data file
DV_FP = 1_000_000  #: fixed-point scale for shares / amplification
DV_REWRITE_FP = 300_000  #: rewrite when >30% of a file's rows are deleted
DV_HEADER_BYTES = 16  #: modeled roaring-bitmap container overhead
DV_BYTES_PER_ROW = 2  #: modeled bytes per deleted row position


@query(
    "lakehouse_deletion_vector_stats",
    oracle=f"""
    WITH files AS (
      SELECT l_orderkey // {DV_FILE_SPAN} AS file_id,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_deleted
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_deleted AS BIGINT) AS n_deleted,
           CAST((n_deleted * {DV_FP}) // n_rows AS BIGINT) AS deleted_share_fp,
           CAST(CASE WHEN n_deleted > 0
                     THEN {DV_HEADER_BYTES} + {DV_BYTES_PER_ROW} * n_deleted
                     ELSE 0 END AS BIGINT) AS dv_bytes,
           CAST(CASE WHEN n_deleted < n_rows
                     THEN (n_rows * {DV_FP}) // (n_rows - n_deleted)
                     ELSE 0 END AS BIGINT) AS scan_amplification_fp,
           (n_deleted * {DV_FP}) // n_rows > {DV_REWRITE_FP}
             AS rewrite_recommended
    FROM files
    ORDER BY file_id
    """,
    tags=("layout", "lakehouse", "deletion-vectors", "maintenance"),
)
def lakehouse_deletion_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletion-vector accounting — the maintenance report
    behind Delta deletion vectors / Iceberg positional deletes: writes
    mark rows dead in a per-file bitmap instead of rewriting the file,
    and every reader then pays ``n_rows / live_rows`` scan amplification
    until a rewrite claims the debt back.  Per modeled data file
    (orderkey DIV {DV_FILE_SPAN}; deleted = returned lineitems,
    l_returnflag='R'): row/delete counts, the deleted share, the modeled
    bitmap size ({DV_HEADER_BYTES} + {DV_BYTES_PER_ROW}·n_deleted bytes,
    the roaring-container cost model), read amplification, and the
    rewrite flag (share > 30% — the threshold real OPTIMIZE policies
    ship with).  `layout_compaction_plan` is the small-file half of
    maintenance; this is the delete-debt half.

    Scale shape: ONE grouped count at file granularity (map-side
    partial; output is file-domain-bounded, never row-bounded) + pure
    per-row arithmetic on the rollup.  All shares/amplifications are
    integer fixed-point DIV — no float anywhere."""
    li = t(spark, sf_dir, "lineitem")
    files = li.groupBy(
        floordiv_col(F.col("l_orderkey"), F.lit(DV_FILE_SPAN)).alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_returnflag") == "R").cast("int")).alias("n_deleted"),
    )
    share = F.expr(f"(n_deleted * {DV_FP}) DIV n_rows")
    return files.select(
        F.col("file_id").cast("long").alias("file_id"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_deleted").cast("long").alias("n_deleted"),
        share.cast("long").alias("deleted_share_fp"),
        F.when(
            F.col("n_deleted") > 0,
            F.lit(DV_HEADER_BYTES) + F.lit(DV_BYTES_PER_ROW) * F.col("n_deleted"),
        )
        .otherwise(0)
        .cast("long")
        .alias("dv_bytes"),
        F.when(
            F.col("n_deleted") < F.col("n_rows"),
            F.expr(f"(n_rows * {DV_FP}) DIV (n_rows - n_deleted)"),
        )
        .otherwise(0)
        .cast("long")
        .alias("scan_amplification_fp"),
        (share > DV_REWRITE_FP).alias("rewrite_recommended"),
    ).orderBy("file_id")


# ---------------------------------------------------------------------------
# Hilbert-curve locality vs Morton — the layout bake-off behind every
# "which clustering key" decision (Hilbert has no Z-order diagonal jumps)

HILBERT_BITS = 16
HILBERT_SIDE = 1 << HILBERT_BITS


def hilbert_level_exprs(xc: str, yc: str, dc: str, s: int) -> tuple[str, str, str]:
    """Engine-neutral SQL for ONE level of the standard iterative xy2d
    Hilbert walk (mask ``s``): quadrant digit (3·rx)⊕ry appended to the
    running index, then the reflect-and-swap quadrant rotation.  Both
    engines evaluate these IDENTICAL generated strings (Spark via
    ``F.expr`` in one select per level, DuckDB via one CTE per level),
    so the curve cannot diverge across engines.  All three expressions
    read only PRIOR-level columns — x and y must rotate simultaneously."""
    rx_true = f"({xc} & {s}) > 0"
    ry_true = f"({yc} & {s}) > 0"
    quad = (
        f"CASE WHEN {rx_true} AND {ry_true} THEN 2"
        f" WHEN {rx_true} THEN 3"
        f" WHEN {ry_true} THEN 1 ELSE 0 END"
    )
    d_expr = f"{dc} + CAST({s} AS BIGINT) * {s} * ({quad})"
    x_expr = (
        f"CASE WHEN NOT ({ry_true}) THEN"
        f" CASE WHEN {rx_true} THEN {HILBERT_SIDE - 1} - {yc} ELSE {yc} END"
        f" ELSE {xc} END"
    )
    y_expr = (
        f"CASE WHEN NOT ({ry_true}) THEN"
        f" CASE WHEN {rx_true} THEN {HILBERT_SIDE - 1} - {xc} ELSE {xc} END"
        f" ELSE {yc} END"
    )
    return x_expr, y_expr, d_expr


def _hilbert_sql_ctes(src: str) -> str:
    """CTE chain computing ``hkey`` from ``{src}(ua, ub)`` — the same
    generated level expressions the Spark side evaluates."""
    ctes = [f"h0 AS (SELECT ua, ub, ua AS x0, ub AS y0, CAST(0 AS BIGINT) AS d0 FROM {src})"]
    for i in range(HILBERT_BITS):
        s = 1 << (HILBERT_BITS - 1 - i)
        xe, ye, de = hilbert_level_exprs(f"x{i}", f"y{i}", f"d{i}", s)
        ctes.append(
            f"h{i + 1} AS (SELECT ua, ub, {xe} AS x{i + 1},"
            f" {ye} AS y{i + 1}, {de} AS d{i + 1} FROM h{i})"
        )
    ctes.append(
        f"hk AS (SELECT ua, ub, d{HILBERT_BITS} AS hkey FROM h{HILBERT_BITS})"
    )
    return ",\n    ".join(ctes)


def hilbert_key_frame(b: DataFrame) -> DataFrame:
    """(ua, ub) → (ua, ub, hkey): {HILBERT_BITS} one-select-per-level
    passes over the generated expressions — pure integer arithmetic,
    whole-stage-codegen'd, no shuffle."""
    cur = b.select("ua", "ub", F.col("ua").alias("x0"), F.col("ub").alias("y0"),
                   F.lit(0).cast("long").alias("d0"))
    for i in range(HILBERT_BITS):
        s = 1 << (HILBERT_BITS - 1 - i)
        xe, ye, de = hilbert_level_exprs(f"x{i}", f"y{i}", f"d{i}", s)
        cur = cur.select(
            "ua", "ub",
            F.expr(xe).alias(f"x{i + 1}"),
            F.expr(ye).alias(f"y{i + 1}"),
            F.expr(de).alias(f"d{i + 1}"),
        )
    return cur.select("ua", "ub", F.col(f"d{HILBERT_BITS}").alias("hkey"))


def _curve_compare_oracle() -> str:
    return f"""
    WITH r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1 AS ra,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rb,
             COUNT(*) OVER () AS n
      FROM events
    ),
    b AS (
      SELECT {_floordiv_sql('ra * 65535', 'n - 1')} AS ua,
             {_floordiv_sql('rb * 65535', 'n - 1')} AS ub
      FROM r
    ),
    {_hilbert_sql_ctes('b')},
    z AS (
      SELECT ua, ub,
             ({_spread_sql('ua')} | ({_spread_sql('ub')} << 1)) AS ckey,
             'morton' AS curve
      FROM b
      UNION ALL
      SELECT ua, ub, hkey, 'hilbert' FROM hk
    ),
    cells AS (
      SELECT curve, ckey >> 24 AS cell,
             COUNT(*) AS n_events,
             MAX(ua) - MIN(ua) AS ua_spread,
             MAX(ub) - MIN(ub) AS ub_spread
      FROM z GROUP BY curve, cell
    )
    SELECT curve,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(ua_spread) AS BIGINT) AS total_ua_spread,
           CAST(SUM(ub_spread) AS BIGINT) AS total_ub_spread,
           CAST(MAX(ua_spread) AS BIGINT) AS max_ua_spread,
           CAST(MAX(ub_spread) AS BIGINT) AS max_ub_spread
    FROM cells GROUP BY curve
    ORDER BY curve
    """


@query(
    "layout_curve_locality_compare",
    oracle=_curve_compare_oracle,
    tags=("layout", "zorder", "hilbert", "lakehouse"),
)
def layout_curve_locality_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORTON vs HILBERT clustering-key bake-off on the same
    rank-normalized (user_id, ts) grid as `events_zorder_locality`: per
    curve, the per-cell min/max spread totals that decide how well
    parquet row-group pruning works on BOTH dimensions after clustering
    — the actual decision input for choosing a lakehouse layout key
    (Hilbert preserves adjacency across quadrant seams where Z-order
    takes diagonal jumps, so its worst-cell spread is the number to
    watch).  The Hilbert index is the standard iterative xy2d walk,
    evaluated from GENERATED per-level expressions that both engines
    run verbatim ({HILBERT_BITS} reflect-and-swap levels of pure integer
    arithmetic — `hilbert_level_exprs`), so the curve cannot diverge
    across engines.

    Scale shape: two `global_rank` range-sorts (no single-partition
    window — the zorder discipline), then map-only key arithmetic
    (whole-stage codegen, zero Python), then one cell-bounded rollup
    per curve.  Everything after the ranks is corpus-linear map work."""
    e = t(spark, sf_dir, "events")
    d1, n = global_rank(
        e.select("event_id", "user_id", "ts"), ["user_id", "event_id"], "ra"
    )
    d2, _ = global_rank(d1, ["ts", "event_id"], "rb")

    def scale(rank_col):
        return floordiv_col(rank_col * 65535, F.lit(max(n - 1, 1)).cast("long"))

    b = cut_lineage(
        d2.select(scale(F.col("ra")).alias("ua"), scale(F.col("rb")).alias("ub"))
    )  # the rank frame feeds BOTH curves — materialize the sorts once
    z = b.select(
        "ua", "ub", morton_key(F.col("ua"), F.col("ub")).alias("ckey")
    ).withColumn("curve", F.lit("morton"))
    h = hilbert_key_frame(b).select(
        "ua", "ub", F.col("hkey").alias("ckey")
    ).withColumn("curve", F.lit("hilbert"))
    cells = (
        z.unionAll(h)
        .groupBy("curve", F.shiftright("ckey", 24).cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ua") - F.min("ua")).alias("ua_spread"),
            (F.max("ub") - F.min("ub")).alias("ub_spread"),
        )
    )
    return (
        cells.groupBy("curve")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("ua_spread").cast("long").alias("total_ua_spread"),
            F.sum("ub_spread").cast("long").alias("total_ub_spread"),
            F.max("ua_spread").cast("long").alias("max_ua_spread"),
            F.max("ub_spread").cast("long").alias("max_ub_spread"),
        )
        .orderBy("curve")
    )
