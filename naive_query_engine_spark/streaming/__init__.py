"""Structured Streaming surface: the reference has none (SURVEY §2.8).

Design: every streaming pipeline here reuses the SAME transformation
functions as the batch operators in ``operators/events.py`` — Spark's
unified batch/stream semantics mean a windowed aggregation is one function
applied to either a ``read`` or ``readStream`` frame.  What streaming adds:

- **watermarks** bound state: late events beyond the watermark are dropped
  and window state is evicted — mandatory at 100 TB/day ingest.
- **output modes**: append (finalized windows only) vs update/complete.
- **stateful ops**: session windows carry per-key state; the engine
  handles shuffle/state-store partitioning (``spark.sql.shuffle.partitions``
  state partitions per stateful operator).

Tests drive these end-to-end with file sources over the events corpus and
an in-memory sink (``tests/test_streaming.py``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..queries import cut_lineage, dec


class clamped_shuffle:
    """Clamp ``spark.sql.shuffle.partitions`` for a streaming harness
    and restore it on exit.

    Stateful streaming stages run at the session's shuffle-partition
    count PER MICRO-BATCH (pinned at query start by the checkpoint), so
    a bare 200-partition driver session spends the equivalence rows'
    time scheduling near-empty state-store tasks — 93 s → 33 s for the
    stream-stream join at sf0.01.  On a real cluster this knob is sized
    to key cardinality, not left at default; clamping inside the
    harness (and restoring after) models that without touching the
    caller's session.  :func:`replay` runs every streaming equivalence
    query under it."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int = 32) -> None:
        self._spark = spark
        self._n = n
        self._prev: str | None = None

    def __enter__(self) -> None:
        self._prev = self._spark.conf.get(self.KEY)
        self._spark.conf.set(self.KEY, str(self._n))

    def __exit__(self, *exc) -> None:
        self._spark.conf.set(self.KEY, self._prev)


def replay(
    spark: SparkSession,
    batches: list[DataFrame],
    per_batch: Callable[[DataFrame, int], DataFrame] = lambda batch_df, _: batch_df,
    pipeline: Callable[[Callable[[], DataFrame]], DataFrame] = lambda source: source(),
    output_mode: str = "append",
) -> DataFrame:
    """Replay ``batches`` through the Structured Streaming engine, one
    micro-batch per frame, and return what the sink received: the one
    harness behind every registered stream==batch query.

    Each frame is written as one parquet file with a strictly increasing
    mtime, so the file source (``maxFilesPerTrigger=1``, schema of the
    first frame) reads them in list order, one per trigger.
    ``pipeline(source)`` builds the streaming frame; ``source`` is a
    zero-argument factory, so a pipeline may read the arrivals twice
    (the stream-stream join).  The stream runs to completion
    (``availableNow``) under :class:`clamped_shuffle`, and each
    micro-batch's ``per_batch(batch_df, batch_id)`` frame (by default
    the micro-batch itself) is written to ``<sink>/batch_id=N`` with
    OVERWRITE: the exactly-once recipe of :func:`cm_merge_sink`, where a
    batch re-delivered after a checkpoint restart rewrites its own
    directory instead of appending twice.

    Fails loudly if the stream does not terminate, or if the number of
    micro-batches that read a file differs from ``len(batches)``;
    watermark-driven no-data batches read none and do not count.
    Returns the sink read back (``per_batch``'s columns plus the
    ``batch_id`` partition column) through ``cut_lineage``, so it
    outlives the temp directory, which is removed on every exit."""
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="nqes_replay_")
    try:
        src_dir = os.path.join(root, "arrivals")
        for i, frame in enumerate(batches):
            d = os.path.join(src_dir, f"b{i}")
            frame.coalesce(1).write.parquet(d)
            for name in os.listdir(d):
                os.utime(os.path.join(d, name), (1_700_000_000 + i * 10,) * 2)

        def source() -> DataFrame:
            return (
                spark.readStream.schema(batches[0].schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src_dir, "b*"))
            )

        sink_dir = os.path.join(root, "sink")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            per_batch(batch_df, batch_id).write.mode("overwrite").parquet(
                os.path.join(sink_dir, f"batch_id={batch_id}")
            )

        with clamped_shuffle(spark):
            q = (
                pipeline(source)
                .writeStream.foreachBatch(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("replay stream did not terminate in 600 s")
        n_read = sum(
            any(s.startOffset != s.endOffset for s in p.sources)
            for p in q.recentProgress
        )
        if n_read != len(batches):
            raise RuntimeError(
                f"replay expected {len(batches)} micro-batches, got {n_read}"
            )
        return cut_lineage(spark.read.parquet(sink_dir))
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: schema of the events corpus after nanos→micros normalization
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over event parquet/json drops.  On a real cluster
    the same pipeline reads Kafka (``format("kafka")``) — the transformation
    stack below is source-agnostic."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts with a watermark (append-mode compatible).
    Identical semantics to the batch ``events_tumbling_window`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (30-min inactivity gap) with watermark-bounded state —
    the streaming face of the batch ``events_sessionize`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start the stream into an in-memory table (test/debug sink); callers
    ``processAllAvailable()`` then query ``spark.table(name)``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def run_to_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Production-shaped sink: parquet files + checkpointed exactly-once."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def deduplicated(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` within the watermark
    horizon.  The watermark bounds the dedup state store — without it,
    state grows forever; with it, a key's entry is evicted once the
    watermark passes, which is the only tractable contract at 100 TB/day.
    Batch equivalent: ``dropDuplicates(keys)``."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count + value sum, carried across micro-batches in the
    state store.  This is the escape hatch for stateful logic that
    windows/dedup can't express (billing meters, per-entity counters,
    custom sessionization policies); state is partitioned by the group key
    across executors like any shuffle."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enriched_with_users(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: the static dimension broadcasts to
    every micro-batch (no state, no watermark needed).  The standard
    pattern for attaching slowly-changing reference data to a stream."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(user_dim), "user_id", "left")


def run_foreach_batch(df: DataFrame, sink_fn, checkpoint: str) -> StreamingQuery:
    """foreachBatch sink: hand each micro-batch to arbitrary batch code
    (upserts, multi-sink fanout, dedup-merge).  The batch_df supports every
    batch operation — the escape hatch when no built-in sink fits.

    CONTRACT: ``sink_fn(batch_df, batch_id)`` must be IDEMPOTENT in
    batch_id — after a checkpoint restart the in-flight batch is
    re-delivered with the same id, so a blind append double-writes.
    Key the write on batch_id (overwrite a ``batch_id=N`` path, upsert
    on (batch_id, key), …) — see ``cm_merge_sink`` and its replay test."""
    return (
        df.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def purchases_after_clicks(
    events: DataFrame,
    events2: DataFrame,
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    clicks within a time bound.  BOTH sides carry watermarks and the join
    condition bounds event-time distance — that pair of constraints is
    what lets the engine evict join state; an unbounded stream-stream join
    would buffer forever."""
    from pyspark.sql import functions as F

    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events2.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {within}
            """
        ),
    ).select("p_user", "purchase_id", "click_id", "purchase_ts", "click_ts")


def parse_event_payload(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka-style payload parsing: JSON bytes/strings → typed event rows
    (shared by the Kafka reader below and any replay-from-log batch job).
    One from_json with an explicit schema — never schema inference on a
    stream."""
    from pyspark.sql import functions as F

    return (
        raw.select(
            F.from_json(F.col(value_col).cast("string"), EVENTS_SCHEMA).alias("e")
        )
        .select("e.*")
    )


def read_kafka_events(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka event stream → parsed typed rows.  The container has no Kafka
    broker (and no kafka connector jar), so this raises a clear error at
    CALL time rather than a cryptic one at start(); the parse stage is the
    same `parse_event_payload` exercised by tests over literal JSON."""
    try:
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        return parse_event_payload(reader.load())
    except Exception as exc:  # pragma: no cover - depends on jar availability
        raise RuntimeError(
            "Kafka source unavailable (needs the spark-sql-kafka connector jar "
            "and a reachable broker); pipeline shape is identical to the "
            "file-source streams in this module"
        ) from exc


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals on Spark 4's
    ``transformWithStateInPandas`` — the modern arbitrary-state API
    (typed per-key state handles + timers + TTL) that supersedes
    ``applyInPandasWithState``'s single-tuple GroupState.  Registered
    side-by-side so both state surfaces stay exercised; results must be
    identical (``tests/test_streaming.py``).

    State here is one ValueState cell per user — the state store
    partitions by the group key across executors exactly like the legacy
    operator, so the scale shape is unchanged.

    Environment gate (same pattern as the multimodal PIL codec): the
    transformWithState state protocol runs over protobuf, which this
    container lacks (``google.protobuf`` absent) — the query then fails
    at stream start with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE.
    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``).
    ``tests/test_streaming.py`` runs the full stream-vs-batch check when
    protobuf imports and pins the error contract when it doesn't.
    """
    try:  # the worker needs it at stream start; failing here is clearer
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the protobuf package "
            "(google.protobuf) for its state-server protocol; not "
            "installed in this environment — use running_user_totals "
            "(applyInPandasWithState) instead"
        ) from e
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        # class defined inside the operator fn: ships by value in the
        # cloudpickled closure (module-level would pickle by reference and
        # break under the driver's neutral-cwd import)
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def cep_pattern_alerts(events: DataFrame) -> DataFrame:
    """Streaming CEP: the micro-batch variant of the batch
    ``events_sequence_patterns`` query (operators/events.py) — per-user
    event-symbol history carried in ``applyInPandasWithState``, declarative
    regex patterns re-evaluated as the history grows, one alert row
    emitted per (user, pattern) THE MOMENT the pattern first matches.

    State is the user's full (ts, event_id, symbol) history, re-sorted on
    every update, so matching is correct under ARBITRARY micro-batch
    arrival order (late events slot into place before matching).  The
    subtle part — which the first draft got wrong and the equivalence
    test caught — is that ANCHORED and ADJACENCY patterns are
    NON-MONOTONE under out-of-order arrival: `^s` can match a prefix of
    the history and be invalidated when an EARLIER event arrives later,
    so "fire once and remember" emits false alerts.  The sound contract
    under disorder is LATEST-WINS: every update emits the user's full
    currently-matched set stamped with a monotone per-user version, and
    consumers read the max-version row set (exactly the update-mode
    semantics `running_user_totals` relies on).  The final version per
    user equals the batch query's match set for ANY batch interleaving
    (`tests/test_streaming.py`).  Production note: a real deployment
    bounds state and disorder by a watermark horizon — then sticky
    alerts become sound once the horizon passes, the same trade
    documented for `deduplicated`."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import CEP_PATTERNS

    patterns = list(CEP_PATTERNS)

    def update(key, pdfs, state: GroupState):
        import re as _re

        if state.exists:
            ts_l, eid_l, sym_l, version = state.get
            ts_l, eid_l, sym_l = list(ts_l), list(eid_l), list(sym_l)
        else:
            ts_l, eid_l, sym_l, version = [], [], [], 0
        for pdf in pdfs:
            for ts, eid, etype in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
                ts_l.append(int(pd.Timestamp(ts).value))
                eid_l.append(int(eid))
                sym_l.append(str(etype)[:1])
        order = sorted(range(len(ts_l)), key=lambda i: (ts_l[i], eid_l[i]))
        ts_l = [ts_l[i] for i in order]
        eid_l = [eid_l[i] for i in order]
        sym_l = [sym_l[i] for i in order]
        s = "".join(sym_l)
        version += 1
        matched = [name for name, pat in patterns if _re.search(pat, s)]
        state.update((ts_l, eid_l, sym_l, version))
        # the sentinel NULL row makes every version visible even when the
        # matched set is (or becomes) empty — without it a match
        # invalidated by a late-arriving earlier event would leave the
        # stale version as the sink's latest
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * (len(matched) + 1),
                "version": [version] * (len(matched) + 1),
                "pattern": matched + [None],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, version long, pattern string",
        stateStructType=(
            "ts_us array<long>, eid array<long>, sym array<string>, version int"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def absence_timeouts(
    events: DataFrame,
    window_us: int = 30 * 60 * 1_000_000,
    watermark: str = "40 minutes",
) -> DataFrame:
    """Streaming CEP ABSENCE pattern with EVENT-TIME TIMERS — the
    streaming twin of the batch ``events_absence_timeout`` query and the
    one streaming shape the rest of this module didn't yet exercise:
    ``GroupStateTimeout.EventTimeTimeout``.  Each ``view`` opens a
    pending obligation; a same-user ``purchase`` within ``window_us``
    resolves it as ``converted`` (emitted immediately); otherwise the
    per-user event-time timer fires once the WATERMARK passes the view's
    deadline and the view is emitted as ``timeout`` — no poll, no fake
    heartbeat events, exactly how a cart-abandonment / missed-heartbeat
    detector runs in production.

    Soundness contract (same family as ``cep_pattern_alerts``'s): a
    timeout decision is only safe once no earlier-timestamped purchase
    can still arrive, which is precisely what the watermark guarantees —
    the delay must cover the source's cross-batch event-time skew plus
    the absence window boundary (the default 40 min covers the 30-min
    window with slack for in-order file delivery; a disordered source
    needs its jitter bound added, see ``events_late_arrival_audit`` for
    how to MEASURE that bound).  Purchases later than the watermark are
    dropped by definition — the same trade every watermarked stream
    makes.

    State per user: the pending-view (ts, event_id) lists; the armed
    timer is always the EARLIEST pending deadline, so state size is
    bounded by views-per-user-per-window and each view is emitted
    EXACTLY once (append mode)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ts_l, eid_l = state.get
            pending = sorted(zip(list(ts_l), list(eid_l)))
        else:
            pending = []
        out_eid, out_ts, out_kind = [], [], []

        if not state.hasTimedOut:
            rows = []
            for pdf in pdfs:
                for ts, eid, etype in zip(
                    pdf["ts"], pdf["event_id"], pdf["event_type"]
                ):
                    if etype in ("view", "purchase"):
                        rows.append(
                            (int(pd.Timestamp(ts).value) // 1000, int(eid), etype)
                        )
            # event-time order inside the batch: a purchase must resolve
            # views that precede it in EVENT time even if the micro-batch
            # delivered them after it
            # Tie rule (ADVICE r6 #3): "follows" means strictly later in
            # (ts, event_id) order with lateness 0 allowed — the SAME rule
            # as the batch twin's ROWS ..1 PRECEDING frame over
            # (ts DESC, event_id DESC), so a same-timestamp
            # later-event_id purchase converts the view in BOTH engines.
            for ts_us, eid, etype in sorted(rows):
                if etype == "view":
                    pending.append((ts_us, eid))
                else:  # purchase: resolve every pending view it covers
                    still = []
                    for v_ts, v_eid in pending:
                        if (v_ts, v_eid) < (ts_us, eid) and ts_us <= v_ts + window_us:
                            out_eid.append(v_eid)
                            out_ts.append(v_ts)
                            out_kind.append("converted")
                        else:
                            still.append((v_ts, v_eid))
                    pending = still

        # expire everything the watermark has passed (on timer fire AND on
        # data batches — a batch can advance the watermark past deadlines
        # without the timer being the trigger)
        wm_us = state.getCurrentWatermarkMs() * 1000
        still = []
        for v_ts, v_eid in pending:
            if v_ts + window_us < wm_us:
                out_eid.append(v_eid)
                out_ts.append(v_ts)
                out_kind.append("timeout")
            else:
                still.append((v_ts, v_eid))
        pending = still

        if pending:
            state.update(([t for t, _ in pending], [e for _, e in pending]))
            # arm the timer at the earliest remaining deadline (must be
            # strictly beyond the current watermark, which it is — older
            # deadlines were just expired).  CEILING division on the
            # composed micros deadline (ADVICE r6 #2): flooring the parts
            # can arm ~1 ms before the true deadline for a window_us not
            # divisible by 1000; that early fire expires nothing and the
            # re-arm would then sit at-or-below the advanced watermark,
            # which setTimeoutTimestamp rejects.
            min_deadline_us = min(t for t, _ in pending) + window_us
            state.setTimeoutTimestamp((min_deadline_us + 999) // 1000)
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_eid),
                "view_event_id": out_eid,
                "view_ts_us": out_ts,
                "outcome": out_kind,
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, view_event_id long, view_ts_us long, outcome string"
            ),
            stateStructType="ts_us array<long>, eid array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming count-min heavy hitters — the mergeable-sketch pattern over
# micro-batches: each batch contributes a bounded counter partial, the
# accumulated sketch is their counter-wise SUM, and (unlike the raw
# stream) the state at rest is d×w integers forever


def cm_counter_partials(events: DataFrame) -> DataFrame:
    """This input's count-min counter partial (seed, pos, cnt) over
    user_id — the same d×w geometry and seeded-md5 bucket family as the
    batch `sketch_countmin_freq`, so stream-merged and batch-built
    sketches are comparable counter-for-counter."""
    from ..operators.sketches import CM_HEX_DIGITS, CM_SEEDS, _seed_rows

    return (
        events.select(
            _seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp")
        )
        .select("sp.seed", "sp.pos")
        .groupBy("seed", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge_sink(out_dir: str):
    """foreachBatch sink: reduce the micro-batch to its counter partial
    (≤ d×w rows no matter the batch size) and write it to the sketch
    store.  This is the whole trick: per-batch state movement is
    BOUNDED, and merge = counter-wise SUM at read time — the property
    that lets a 100 TB/day stream keep a frequency model in kilobytes.

    EXACTLY-ONCE: foreachBatch re-delivers the in-flight batch after a
    checkpoint restart, so an append-mode write would double-count that
    batch's partial.  The standard recipe: write each partial to its
    own ``batch_id=N`` directory with OVERWRITE — a replay rewrites the
    identical (deterministic) partial in place instead of adding a
    second copy (``test_cm_sink_replay_idempotent`` pins this)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            cm_counter_partials(batch_df)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return sink


def cm_merged_sketch(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated sketch: counter-wise SUM over all batch partials."""
    return (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .groupBy("seed", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cm_heavy_hitters(sketch: DataFrame, keys: DataFrame, k: int = 10) -> DataFrame:
    """Top-k heavy hitters by count-min estimate: probe each candidate
    key's d counters against the (bounded, broadcast) sketch, estimate =
    min, rank by (estimate desc, user_id).  CM guarantees estimate ≥
    truth, so no true heavy hitter can be pushed out of the top-k by an
    under-count — only impostors can sneak in via collisions."""
    from ..operators.sketches import CM_HEX_DIGITS, CM_SEEDS, _seed_rows

    probe = keys.select(
        "user_id", _seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp")
    ).select("user_id", "sp.seed", "sp.pos")
    # LEFT join + coalesce-to-0 (ADVICE r6 #1): a counter cell no stream
    # key ever hashed into has NO sketch row, so an inner join would drop
    # that (seed,pos) probe and take min() over fewer than d counters —
    # overestimating (or losing) keys that never appeared; the true
    # count-min estimate for such a key is 0, i.e. an empty counter.
    return (
        probe.join(F.broadcast(sketch), ["seed", "pos"], "left")  # d×w rows — bounded
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cm_est"))
        .orderBy(F.col("cm_est").desc(), "user_id")
        .limit(k)
    )
