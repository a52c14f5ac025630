"""End-to-end Structured Streaming tests: file source → window/session →
memory sink, checked against the equivalent batch computation (unified
semantics mean stream results must equal batch results once all data is
processed and no watermark has dropped anything)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from naive_query_engine_spark import streaming as st
from naive_query_engine_spark.queries import t

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_files(spark):
    """Split the events corpus into several parquet files so the file
    source delivers multiple micro-batches."""
    tmp = tempfile.mkdtemp(prefix="nqes-stream-src-")
    ev = t(spark, SF_SMOKE, "events")
    ev.repartition(4).write.mode("overwrite").parquet(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_counts_stream_equals_batch(spark, event_files):
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=2)
    q = st.run_to_memory_sink(st.windowed_counts(stream), "win_counts", "append")
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in spark.table("win_counts").collect()
        }
    finally:
        q.stop()

    batch = st.windowed_counts(spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    # append mode emits only windows finalized by the watermark; everything
    # emitted must match the batch result exactly
    assert got, "stream produced no finalized windows"
    for k, v in got.items():
        assert want[k] == v
    # and the stream must have finalized all but the trailing watermark span
    assert len(got) >= len(want) - 3


def test_sessionize_stream_runs(spark, event_files):
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=2)
    q = st.run_to_memory_sink(st.sessionized(stream), "sessions", "append")
    try:
        q.processAllAvailable()
        rows = spark.table("sessions").collect()
    finally:
        q.stop()
    assert rows, "no sessions finalized"
    # session invariant: end = last event + gap > start
    assert all(r.session_end > r.session_start for r in rows)


def test_parquet_sink_checkpointed(spark, event_files):
    out = tempfile.mkdtemp(prefix="nqes-stream-out-")
    ckpt = tempfile.mkdtemp(prefix="nqes-stream-ckpt-")
    try:
        stream = st.read_event_stream(spark, event_files, max_files_per_trigger=4)
        q = st.run_to_parquet_sink(st.windowed_counts(stream), out, ckpt)
        q.processAllAvailable()
        q.stop()
        written = spark.read.parquet(out)
        assert written.count() > 0
        assert set(written.columns) == {
            "window_start", "window_end", "event_type", "n_events", "sum_value",
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_dedup_drops_replayed_batch(spark, event_files, tmp_path):
    """Feed the same files twice (source-level replay) → every event_id is
    seen, none twice."""
    import glob
    import shutil as sh

    dup_dir = tmp_path / "dup-src"
    dup_dir.mkdir()
    for i, f in enumerate(sorted(glob.glob(event_files + "/*.parquet"))):
        sh.copy(f, dup_dir / f"a{i}.parquet")
        sh.copy(f, dup_dir / f"b{i}.parquet")
    stream = st.read_event_stream(spark, str(dup_dir), max_files_per_trigger=3)
    # each source file spans the whole 30-day range (round-robin split), so
    # the dedup horizon must cover it — otherwise events arriving after the
    # watermark passed their timestamp are dropped as late (correct
    # behavior, but file-order-dependent and not what this test pins)
    q = st.run_to_memory_sink(
        st.deduplicated(stream, watermark="800 hours"), "dedup_events", "append"
    )
    try:
        q.processAllAvailable()
        got = spark.table("dedup_events").groupBy("event_id").count().collect()
    finally:
        q.stop()
    n_src = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).count()
    assert len(got) == n_src
    assert all(r["count"] == 1 for r in got)


def test_stateful_running_totals(spark, event_files):
    """applyInPandasWithState carries per-user state across micro-batches;
    the last update per user must equal the batch-mode totals."""
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = st.run_to_memory_sink(st.running_user_totals(stream), "user_totals", "update")
    try:
        q.processAllAvailable()
        # memory sink in update mode appends each update; take the max
        # (counts are monotone) as the final value per user
        got = {
            r.user_id: r.n_events
            for r in spark.table("user_totals")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .collect()
        }
    finally:
        q.stop()
    want = {
        r.user_id: r.n
        for r in spark.read.schema(st.EVENTS_SCHEMA)
        .parquet(event_files)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_static_enrichment(spark, event_files):
    """Stream-static broadcast join attaches dimension attributes to every
    micro-batch."""
    users = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("user-"), F.col("id")).alias("user_name"),
    )
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=2)
    q = st.run_to_memory_sink(
        st.enriched_with_users(stream, users).select("event_id", "user_id", "user_name"),
        "enriched", "append",
    )
    try:
        q.processAllAvailable()
        rows = spark.table("enriched").collect()
    finally:
        q.stop()
    n_src = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).count()
    assert len(rows) == n_src
    assert all(r.user_name == f"user-{r.user_id}" for r in rows)


def test_foreach_batch_collects_all(spark, event_files, tmp_path):
    """foreachBatch receives every micro-batch exactly once."""
    seen: dict[int, int] = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = st.run_foreach_batch(
        stream.select("event_id"), sink, str(tmp_path / "ckpt-feb")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_src = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).count()
    assert sum(seen.values()) == n_src
    assert len(seen) >= 2  # maxFilesPerTrigger=1 over 4 files → multiple batches


def test_stream_stream_join(spark, event_files):
    """Stream-stream join with time bounds: every emitted pair must satisfy
    the interval condition, and pairs must match the batch-mode join."""
    s1 = st.read_event_stream(spark, event_files, max_files_per_trigger=2)
    s2 = st.read_event_stream(spark, event_files, max_files_per_trigger=2)
    q = st.run_to_memory_sink(
        st.purchases_after_clicks(s1, s2, watermark="800 hours"), "pc_pairs", "append"
    )
    try:
        q.processAllAvailable()
        got = {(r.purchase_id, r.click_id) for r in spark.table("pc_pairs").collect()}
    finally:
        q.stop()
    batch_ev = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files)
    want = {
        (r.purchase_id, r.click_id)
        for r in st.purchases_after_clicks(batch_ev, batch_ev).collect()
    }
    assert got == want and len(got) > 0


def test_checkpoint_restart_resumes_exactly_once(spark, event_files, tmp_path):
    """Kill-and-restart recovery: a NEW query object resuming from the SAME
    checkpoint must (a) not reprocess files the first run committed and
    (b) pick up files that arrived while it was down — each source event
    lands in the sink exactly once across both runs.  This is the
    operational contract (at-least-once source replay + idempotent file
    sink = exactly-once) that checkpointing exists to provide."""
    import glob
    import shutil as sh

    src = tmp_path / "restart-src"
    out = tmp_path / "restart-out"
    ckpt = tmp_path / "restart-ckpt"
    src.mkdir()
    files = sorted(glob.glob(event_files + "/*.parquet"))
    assert len(files) >= 4
    first, later = files[:2], files[2:]
    for f in first:
        sh.copy(f, src / ("w1-" + f.rsplit("/", 1)[1]))

    def start():
        stream = st.read_event_stream(spark, str(src), max_files_per_trigger=1)
        return (
            stream.select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .start()
        )

    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    n_first = spark.read.parquet(str(out)).count()
    assert n_first == spark.read.schema(st.EVENTS_SCHEMA).parquet(*first).count()

    # new data lands while the query is down
    for f in later:
        sh.copy(f, src / ("w2-" + f.rsplit("/", 1)[1]))

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(str(out)).groupBy("event_id").count().collect()
    n_src = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).count()
    assert len(got) == n_src, "restart lost or duplicated source files"
    assert all(r["count"] == 1 for r in got), "an event was processed twice"


def test_stream_incremental_dedup_over_bucketed_index(spark, tmp_path):
    """The r3 production loop end-to-end: arriving documents stream in as
    micro-batches and probe the STATIC bucketed shingle index
    (stream side shingled per batch, capped by semi-join against the
    index's shingle universe); the union over all micro-batches must
    equal the batch incremental-dedup result exactly — per-doc results
    are independent, so micro-batch boundaries cannot change them."""
    from naive_query_engine_spark.operators.dedup import (
        NEW_BATCH_MOD,
        NEW_BATCH_REM,
        hashed_shingle_rows,
        incremental_pairs,
        write_shingle_index,
    )
    from naive_query_engine_spark.queries import QUERIES

    d = t(spark, SF_SMOKE, "documents")
    write_shingle_index(d, "b_stream_shingle_idx", n_buckets=8)
    try:
        index = spark.table("b_stream_shingle_idx")
        arrivals = str(tmp_path / "arrivals")
        d.filter(d.doc_id % NEW_BATCH_MOD == NEW_BATCH_REM).repartition(3).write.parquet(
            arrivals
        )
        got: set = set()

        def probe_batch(batch_df, _bid):
            # shingle the arriving docs (hashed keys — the index is
            # xxhash64-keyed since r13), cap against the index universe
            # (semi-join == the df cap the index was built with)
            sh_batch = hashed_shingle_rows(batch_df).join(
                index.select("g").distinct(), "g", "left_semi"
            )
            got.update(tuple(r) for r in incremental_pairs(index, sh_batch).collect())

        q = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals)
            .writeStream.foreachBatch(probe_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        want = {
            tuple(r) for r in QUERIES["dedup_incremental"].fn(spark, SF_SMOKE).collect()
        }
        assert got == want
        assert got  # non-vacuous on the smoke corpus
    finally:
        spark.sql("DROP TABLE IF EXISTS b_stream_shingle_idx")


def test_kafka_reader_branch_gated(spark):
    """VERDICT r3 #9: the Kafka wiring must either build a real typed
    stream (connector jar present) or fail at CALL time with the
    documented message (no jar/broker in this container) — never a
    cryptic failure at start()."""
    from naive_query_engine_spark import streaming as st

    try:
        df = st.read_kafka_events(spark, "localhost:9092", "events")
    except RuntimeError as e:
        assert "Kafka source unavailable" in str(e)
    else:  # pragma: no cover - jar-dependent branch
        assert df.isStreaming
        assert {f.name for f in st.EVENTS_SCHEMA.fields} <= set(df.columns)


def test_stateful_running_totals_tws(spark, event_files):
    """transformWithStateInPandas (the Spark 4 typed-state API) must agree
    with both the legacy applyInPandasWithState operator and batch totals.
    Branch-gated like the PIL codec: the state protocol needs protobuf,
    absent from this container — then the operator must fail AT CALL TIME
    with the documented ImportError, not crash mid-stream.  Also requires
    the RocksDB state store provider."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            st.running_user_totals_tws(
                st.read_event_stream(spark, event_files, max_files_per_trigger=1)
            )
        return
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = st.run_to_memory_sink(
        st.running_user_totals_tws(stream), "user_totals_tws", "update"
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: r.n_events
            for r in spark.table("user_totals_tws")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .collect()
        }
    finally:
        q.stop()
    want = {
        r.user_id: r.n
        for r in spark.read.schema(st.EVENTS_SCHEMA)
        .parquet(event_files)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if prev is None:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert got == want


def test_streaming_cep_alerts_equal_batch_pattern_match(spark, event_files):
    """The streaming CEP operator's alert set over all micro-batches must
    equal the batch sequence-pattern match set — state re-sorts per-user
    history, so batch boundaries and file order cannot change the
    result.  Uniqueness is the LATEST-WINS version contract (see
    cep_pattern_alerts's docstring for why the earlier fired-bitmask
    design was wrong): within the max-version row set per user, each
    (user, pattern) appears at most once."""
    import re as _re

    from naive_query_engine_spark.operators.events import CEP_PATTERNS

    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = st.run_to_memory_sink(st.cep_pattern_alerts(stream), "cep_alerts", "update")
    try:
        q.processAllAvailable()
        rows = spark.table("cep_alerts").collect()
    finally:
        q.stop()
    # LATEST-WINS consumer contract: the max-version row set per user is
    # the current match set (the sentinel NULL row keeps empty sets
    # visible); earlier versions are superseded interim states
    latest = {}
    for r in rows:
        if r["user_id"] not in latest or r["version"] > latest[r["user_id"]]:
            latest[r["user_id"]] = r["version"]
    alerts = [
        (r["user_id"], r["pattern"])
        for r in rows
        if r["version"] == latest[r["user_id"]] and r["pattern"] is not None
    ]
    assert len(alerts) == len(set(alerts))  # no duplicate (user, pattern)
    rows = (
        spark.read.schema(st.EVENTS_SCHEMA)
        .parquet(event_files)
        .select("user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("sym"))
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["sym"]))
    want = set()
    for uid, evs in by_user.items():
        s = "".join(sym for _, _, sym in sorted(evs))
        for name, pat in CEP_PATTERNS:
            if _re.search(pat, s):
                want.add((uid, name))
    assert set(alerts) == want


def test_streaming_absence_timeouts_equal_batch(spark, tmp_path):
    """Event-time-timer absence detection == the batch per-view outcomes.

    Files are written in EVENT-TIME order (range-partitioned, one file
    per trigger, ascending mtime) so the 40-minute watermark's soundness
    precondition — cross-batch skew below the delay — holds; within a
    batch, arrival order is arbitrary and the operator re-sorts.  Views
    near the stream tail stay pending (the watermark never passes their
    deadline) — the assertion compares every EMITTED decision against
    the batch recompute and requires both outcome kinds to be present
    and the resolved set to cover every view whose deadline the final
    watermark passed."""
    import pandas as pd

    src = str(tmp_path / "ordered_events")
    # write the four range files SEQUENTIALLY with explicit ascending
    # mtimes: the file source orders pre-existing files by modification
    # time, and a parallel repartitionByRange write finishes its part
    # files in arbitrary order — a later-range file landing first would
    # advance the watermark past deadlines whose purchases are still
    # undelivered (observed flaky under suite load), violating the
    # operator's in-order-delivery precondition rather than testing it
    import os as _os
    import time as _time

    import numpy as np
    import pandas as _pd

    _os.makedirs(src)
    pdf_all = _pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    chunks = np.array_split(pdf_all, 4)
    now = _time.time()
    for i, chunk in enumerate(chunks):
        f = f"{src}/chunk-{i}.parquet"
        chunk.to_parquet(f, index=False)
        _os.utime(f, (now + i, now + i))

    stream = st.read_event_stream(spark, src, max_files_per_trigger=1)
    q = st.run_to_memory_sink(
        st.absence_timeouts(stream), "absence_sink", "append"
    )
    try:
        q.processAllAvailable()
        got = {
            int(r.view_event_id): r.outcome
            for r in spark.table("absence_sink").collect()
        }
    finally:
        q.stop()

    # batch recompute: per-view outcome by next same-user purchase
    pdf = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    pdf["t_us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    pdf = pdf.sort_values(["user_id", "t_us", "event_id"])
    window_us = 30 * 60 * 1_000_000
    expected = {}
    for _, grp in pdf.groupby("user_id"):
        rows = grp[["t_us", "event_id", "event_type"]].to_numpy().tolist()
        # "follows" = strictly later in (ts, event_id) order, lateness 0
        # allowed — the batch twin's frame rule (ADVICE r6 #3 alignment)
        purchases = [(r[0], r[1]) for r in rows if r[2] == "purchase"]
        for t_us, eid, etype in rows:
            if etype != "view":
                continue
            conv = any(
                (t_us, eid) < (p_t, p_eid) and p_t <= t_us + window_us
                for p_t, p_eid in purchases
            )
            expected[int(eid)] = "converted" if conv else "timeout"

    assert got, "stream emitted nothing"
    for eid, outcome in got.items():
        assert expected[eid] == outcome, (eid, outcome, expected[eid])
    kinds = set(got.values())
    assert kinds == {"converted", "timeout"}, kinds
    # every converted view must have been emitted (conversions don't
    # depend on the watermark); only tail-pending TIMEOUTS may be absent
    conv_expected = {e for e, o in expected.items() if o == "converted"}
    assert conv_expected <= set(got)


def test_streaming_cm_sketch_merge_equals_batch(spark, event_files, tmp_path):
    """Mergeable-sketch property end-to-end: counter partials appended per
    micro-batch, SUM-merged at read, must equal the single-pass batch
    sketch COUNTER-FOR-COUNTER (sum over disjoint batches == global
    count) — and the heavy-hitter top-k probed from the merged sketch
    must equal the batch top-k."""
    sketch_dir = str(tmp_path / "cm-sketch")
    stream = st.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = st.run_foreach_batch(
        stream, st.cm_merge_sink(sketch_dir), str(tmp_path / "ckpt-cm")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_ev = spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files)
    merged = {
        (r.seed, r.pos): r.cnt
        for r in st.cm_merged_sketch(spark, sketch_dir).collect()
    }
    want = {
        (r.seed, r.pos): r.cnt for r in st.cm_counter_partials(batch_ev).collect()
    }
    assert merged == want  # exact counter-wise equality
    # the stream really did contribute multiple bounded partials
    n_batches = (
        spark.read.option("basePath", sketch_dir)
        .parquet(f"{sketch_dir}/batch_id=*")
        .select("batch_id")
        .distinct()
        .count()
    )
    assert n_batches >= 2

    keys = batch_ev.select("user_id").distinct()
    got_hh = [
        (r.user_id, r.cm_est)
        for r in st.cm_heavy_hitters(
            st.cm_merged_sketch(spark, sketch_dir), keys
        ).collect()
    ]
    want_hh = [
        (r.user_id, r.cm_est)
        for r in st.cm_heavy_hitters(st.cm_counter_partials(batch_ev), keys).collect()
    ]
    assert got_hh == want_hh and len(got_hh) == 10


def test_cm_heavy_hitters_unseen_key_counts_empty_cells(spark, event_files):
    """ADVICE r6 #1: a candidate key absent from the stream may hash into
    counter cells NO stream key touched — those cells have no sketch row,
    and the estimate must treat them as 0 (min over all d counters), not
    drop them (inner-join overestimate) or lose the key entirely."""
    from naive_query_engine_spark.operators.sketches import (
        CM_HEX_DIGITS,
        CM_SEEDS,
        _seed_rows,
    )

    batch_ev = (
        spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).limit(200)
    )
    sketch = st.cm_counter_partials(batch_ev)
    counters = {(r.seed, r.pos): r.cnt for r in sketch.collect()}

    unseen = [-1_000_001, -1_000_002, -1_000_003]
    keys = spark.createDataFrame([(k,) for k in unseen], "user_id long")
    probe = {
        (r.user_id, r.seed, r.pos)
        for r in keys.select(
            "user_id",
            _seed_rows(F.col("user_id"), CM_SEEDS, CM_HEX_DIGITS).alias("sp"),
        )
        .select("user_id", "sp.seed", "sp.pos")
        .collect()
    }
    expected = {
        k: min(
            counters.get((s, p), 0) for (u, s, p) in probe if u == k
        )
        for k in unseen
    }
    got = {
        r.user_id: r.cm_est
        for r in st.cm_heavy_hitters(sketch, keys, k=len(unseen)).collect()
    }
    assert got == expected, (got, expected)
    # every probed key survives the join (no silent drop)
    assert set(got) == set(unseen)


def test_cm_sink_replay_idempotent(spark, event_files, tmp_path):
    """After a checkpoint restart, foreachBatch re-delivers the in-flight
    batch — the sink must absorb the replay without double-counting
    (overwrite-per-batch_id, the exactly-once recipe)."""
    sketch_dir = str(tmp_path / "cm-replay")
    batch = (
        spark.read.schema(st.EVENTS_SCHEMA).parquet(event_files).limit(500)
    )
    sink = st.cm_merge_sink(sketch_dir)
    sink(batch, 0)
    once = {
        (r.seed, r.pos): r.cnt
        for r in st.cm_merged_sketch(spark, sketch_dir).collect()
    }
    sink(batch, 0)  # replay of the SAME batch id
    twice = {
        (r.seed, r.pos): r.cnt
        for r in st.cm_merged_sketch(spark, sketch_dir).collect()
    }
    assert once == twice  # idempotent, not doubled
    sink(batch, 1)  # a genuinely new batch DOES add
    merged = {
        (r.seed, r.pos): r.cnt
        for r in st.cm_merged_sketch(spark, sketch_dir).collect()
    }
    assert merged == {k: 2 * v for k, v in once.items()}


def test_stream_ivf_probe_equals_batch(spark, tmp_path):
    """The ANN serving loop end-to-end (the r7 substrate's online path):
    query vectors arrive as micro-batches and probe the STATIC
    session-cached IVF index state per batch (quantize → broadcast-
    centroid assign → one cell-keyed join → per-query top-k); the union
    over micro-batches must equal the batch probe of the full query set
    exactly — per-query results are independent, so micro-batch
    boundaries cannot change them (the incremental-dedup invariant,
    vector edition)."""
    from naive_query_engine_spark.operators.kmeans import ivf_probe_neighbors

    e = t(spark, SF_SMOKE, "embeddings")
    queries = e.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    arrivals = str(tmp_path / "qvecs")
    queries.repartition(4).write.parquet(arrivals)
    got: set = set()

    def probe_batch(batch_df, _bid):
        got.update(
            tuple(r)
            for r in ivf_probe_neighbors(spark, SF_SMOKE, batch_df).collect()
        )

    q = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(probe_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = {
        tuple(r) for r in ivf_probe_neighbors(spark, SF_SMOKE, queries).collect()
    }
    assert got == want
    assert got  # non-vacuous: every query has within-cell neighbors here
    per_query: dict = {}
    for query_id, neighbor_id, _cos, rk in got:
        assert neighbor_id != query_id  # self-matches masked
        per_query.setdefault(query_id, set()).add(rk)
    from naive_query_engine_spark.operators.similarity import TOP_K

    for ranks in per_query.values():  # dense 1..k ranks, k <= TOP_K
        assert ranks == set(range(1, len(ranks) + 1)) and len(ranks) <= TOP_K


def test_watermark_excludes_late_replay_from_results(spark, tmp_path):
    """Late-data enforcement end-to-end, with the watermark CHECKPOINTED
    across restarts: run 1 processes the corpus head and advances the
    watermark to max(ts) - 1h; run 2 (same checkpoint) sees a REPLAY of
    events days older than that.  The append-mode windowed counts must
    never contain a replay-side window — the ancient rows are filtered
    by the RESTORED watermark (batch twin of the policy:
    events_late_arrival_audit).  Also documents the observability gap:
    pre-aggregation watermark filtering reports ZERO in
    numRowsDroppedByWatermark, so a production late-data DLQ must count
    late rows itself (e.g. a foreachBatch filter), not rely on that
    metric."""
    import json as _json

    ev = t(spark, SF_SMOKE, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "user_id"
    )  # NTZ -> TIMESTAMP: EventTimeWatermark rejects TIMESTAMP_NTZ
    hi = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    lo = ev.agg(F.min("ts").alias("m")).collect()[0]["m"]
    assert (hi - lo).days >= 2  # the corpus spans enough for lateness
    arrivals = str(tmp_path / "late_arrivals")
    on_time = ev.filter(F.col("ts") >= F.lit(hi) - F.expr("INTERVAL 1 DAY"))
    very_late = ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 DAY"))
    assert very_late.count() > 0
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")

    def run_available():
        counts = (
            spark.readStream.schema(on_time.schema)
            .parquet(arrivals)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .count()
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [
            _json.loads(pp.json) if hasattr(pp, "json") else pp
            for pp in q.recentProgress
        ]

    on_time.coalesce(1).write.mode("append").parquet(arrivals)
    run_available()  # advances + checkpoints the watermark to hi - 1h
    very_late.coalesce(1).write.mode("append").parquet(arrivals)
    progresses = run_available()  # the replay, under the restored watermark
    assert progresses, "the replay run processed no batch"
    late_max = very_late.agg(F.max("ts")).collect()[0][0].isoformat()
    assert all(
        p["eventTime"]["watermark"] > late_max for p in progresses
    )  # the restored watermark already sits past the whole replay
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in progresses
        for op in p["stateOperators"]
    )
    n_late = very_late.count()
    assert 0 < dropped <= n_late  # a lower bound, not an exact count
    assert dropped >= n_late - len(progresses)  # ≤1 pre-filtered row/batch
    assert all(
        op["numRowsUpdated"] == 0
        for p in progresses
        for op in p["stateOperators"]
    )  # the replay touched no state
    out = spark.read.parquet(sink)
    assert out.count() > 0  # head windows below the watermark flushed
    cutoff = hi - __import__("datetime").timedelta(days=1, hours=1)
    assert out.filter(F.col("window.start") < F.lit(cutoff)).count() == 0, (
        "an ancient replay window reached the sink"
    )


def test_stream_ivf_index_upsert_equals_batch_rebuild(spark, tmp_path):
    """The living-index ingest loop end-to-end (VERDICT r7 #2): arriving
    vectors stream in as micro-batches, each foreachBatch upserting the
    persisted cell-partitioned IVF index (frozen quantizer, touched-cell
    edge recompute, dynamic partition overwrite); the final edge table
    must equal the from-scratch rebuild over the full corpus under the
    same centroids — touched cells are rebuilt from their full current
    membership, so batch boundaries cannot change the fixpoint (the
    incremental-dedup invariant, index-maintenance edition)."""
    from naive_query_engine_spark.operators.kmeans import (
        KMEANS_ITERS,
        KMEANS_K,
        _assign_to_cells,
        build_ivf_vector_index,
        cell_mutual_knn_edges,
        train_centroids,
        upsert_ivf_vector_index,
    )
    from naive_query_engine_spark.operators.similarity import TOP_K, _qtable
    from naive_query_engine_spark.queries import cut_lineage, spread

    table = "b_stream_ivf_maint"
    e = t(spark, SF_SMOKE, "embeddings")
    base = e.filter("vec_id % 3 <> 0").select("vec_id", "embedding")
    arriving = e.filter("vec_id % 3 = 0").select("vec_id", "embedding")
    build_ivf_vector_index(spark, base, table, n_buckets=8)
    try:
        arrivals_dir = str(tmp_path / "vec_arrivals")
        arriving.repartition(3).write.parquet(arrivals_dir)

        def upsert_batch(batch_df, _bid):
            upsert_ivf_vector_index(spark, table, batch_df)

        q = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals_dir)
            .writeStream.foreachBatch(upsert_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        qt = cut_lineage(
            spread(_qtable(spark, SF_SMOKE).select("vec_id", "q", "nrm2"))
        )
        centroids = train_centroids(
            qt.filter("vec_id % 3 <> 0").select("vec_id", "q"),
            KMEANS_K,
            KMEANS_ITERS,
        )
        want_edges = cell_mutual_knn_edges(
            _assign_to_cells(qt, centroids), TOP_K, with_cell=True
        )
        # the upserts ran under the stream's cloned session: refresh this
        # session's relation cache before reading the final state
        spark.catalog.refreshTable(table)
        spark.catalog.refreshTable(f"{table}_assign")
        got = sorted(tuple(r) for r in spark.table(table).collect())
        assert got == sorted(tuple(r) for r in want_edges.collect())
        assert got
        # membership reached full-corpus size exactly once per vector
        assert (
            spark.table(f"{table}_assign").count() == e.count()
        )
    finally:
        for suffix in ("", "_assign", "_centroids", "_conf"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_stream_dedup_on_ingest_equals_batch(spark, tmp_path):
    """The admit-gate loop: arriving vectors stream in and each micro-batch
    probes the MAINTAINED index for a tau-twin verdict; the union over
    batches must equal the batch verdicts of the full arrival set (the
    incremental-dedup invariant, admission edition).  Also pins verdict
    semantics against the exact pair set: every is_duplicate arrival has
    a same-cell corpus twin at cosine >= tau, and dup_of is an existing
    corpus vector, not a co-arrival."""
    from naive_query_engine_spark.operators.kmeans import (
        build_ivf_vector_index,
        dedup_on_ingest,
    )
    from naive_query_engine_spark.operators.similarity import COSINE_THRESHOLD

    table = "b_stream_ingest_gate"
    e = t(spark, SF_SMOKE, "embeddings")
    base = e.filter("vec_id % 3 <> 0").select("vec_id", "embedding")
    arriving = e.filter("vec_id % 3 = 0").select("vec_id", "embedding")
    build_ivf_vector_index(spark, base, table, n_buckets=8)
    try:
        arrivals_dir = str(tmp_path / "gate_arrivals")
        arriving.repartition(3).write.parquet(arrivals_dir)
        got: set = set()

        def gate_batch(batch_df, _bid):
            got.update(
                tuple(r) for r in dedup_on_ingest(spark, table, batch_df).collect()
            )

        q = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals_dir)
            .writeStream.foreachBatch(gate_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        want = {
            tuple(r) for r in dedup_on_ingest(spark, table, arriving).collect()
        }
        assert got == want and got
        base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
        dups = [r for r in got if r[1]]
        assert dups  # non-vacuous: the corpus contains tau-twins
        for vec_id, is_dup, dup_of, best in dups:
            assert dup_of in base_ids  # an existing vector, not a co-arrival
            assert best >= COSINE_THRESHOLD
        for vec_id, is_dup, dup_of, best in got:
            if not is_dup:
                assert dup_of is None
                assert best is None or best < COSINE_THRESHOLD
    finally:
        for suffix in ("", "_assign", "_centroids", "_conf"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_stream_maintain_ivf_index_admit_then_index(spark, tmp_path):
    """The COMPOSED maintenance tick (r9): admit-gate -> upsert ->
    compaction trigger as one `maintain_ivf_index` call per micro-batch.
    Pins (a) foreachBatch execution == a driver-loop fold with the SAME
    batch boundaries (the composition is a sequential fold — order
    matters, batching at fixed boundaries doesn't), (b) a corpus twin is
    rejected and never indexed, (c) a twin of an EARLIER-ADMITTED
    arrival is rejected by the LIVE maintained state with dup_of = that
    arrival, and (d) the intra-batch pre-pass (VERDICT r9 #3): two
    mutual twins in one batch → the LOWER id is admitted, the higher
    rejected with dup_of naming its co-arrival; the BARE gate
    (`dedup_on_ingest` default) stays batching-invariant and passes
    both."""
    import time as _time

    from naive_query_engine_spark.operators.kmeans import (
        build_ivf_vector_index,
        dedup_on_ingest,
        maintain_ivf_index,
    )

    e = t(spark, SF_SMOKE, "embeddings")
    base = e.filter("vec_id % 3 <> 0").select("vec_id", "embedding")

    def plant(src_df, src_id: int, new_id: int):
        emb = src_df.filter(F.col("vec_id") == src_id).collect()[0]["embedding"]
        return spark.createDataFrame(
            [(new_id, emb)], "vec_id long, embedding array<float>"
        )

    base_ids = [r["vec_id"] for r in base.select("vec_id").orderBy("vec_id").limit(1).collect()]
    novel = [float((-1) ** i * (i + 1)) for i in range(64)]  # far from the corpus
    twins = spark.createDataFrame(
        [(9_000_003, novel), (9_000_004, novel)],
        "vec_id long, embedding array<float>",
    )

    seq_table, stream_table = "b_maint_seq", "b_maint_stream"
    try:
        build_ivf_vector_index(spark, base, seq_table, n_buckets=8)
        batch0 = (
            e.filter("vec_id % 6 = 0")
            .select("vec_id", "embedding")
            .unionByName(plant(base, base_ids[0], 9_000_001))
        )
        r0 = maintain_ivf_index(spark, seq_table, batch0)
        # (b) the corpus twin was rejected, real arrivals were admitted
        assert r0["n_rejected"] >= 1 and r0["n_admitted"] >= 1
        admitted0 = {
            r["vec_id"]
            for r in spark.table(f"{seq_table}_assign")
            .filter("vec_id % 6 = 0")
            .select("vec_id")
            .collect()
        }
        assert 9_000_001 not in {
            r["vec_id"]
            for r in spark.table(f"{seq_table}_assign").select("vec_id").collect()
        }
        src = sorted(admitted0)[0]  # an arrival the gate admitted in tick 0
        batch1 = (
            e.filter("vec_id % 6 = 3")
            .select("vec_id", "embedding")
            .unionByName(plant(e, src, 9_000_002))
        )
        # (c) the live state rejects the twin and names the EARLIER ARRIVAL
        v = {
            r["vec_id"]: r
            for r in dedup_on_ingest(spark, seq_table, batch1).collect()
        }
        assert v[9_000_002]["is_duplicate"] and v[9_000_002]["dup_of"] == src
        maintain_ivf_index(spark, seq_table, batch1)
        # (d) intra-batch mutual twins: the bare gate (batching-invariant
        # by contract) passes both; the composed tick's lowest-id-wins
        # pre-pass admits only the lower id, dup_of = the co-arrival
        bare = {
            r["vec_id"]: r
            for r in dedup_on_ingest(spark, seq_table, twins).collect()
        }
        assert not bare[9_000_003]["is_duplicate"]
        assert not bare[9_000_004]["is_duplicate"]
        gated = {
            r["vec_id"]: r
            for r in dedup_on_ingest(
                spark, seq_table, twins, intra_batch=True
            ).collect()
        }
        assert not gated[9_000_003]["is_duplicate"]
        assert gated[9_000_004]["is_duplicate"]
        assert gated[9_000_004]["dup_of"] == 9_000_003
        r2 = maintain_ivf_index(spark, seq_table, twins)
        assert r2["n_admitted"] == 1 and r2["n_rejected"] == 1
        seq_assign = sorted(
            tuple(r) for r in spark.table(f"{seq_table}_assign").collect()
        )
        seq_edges = sorted(tuple(r) for r in spark.table(seq_table).collect())
        assert 9_000_003 in {r[0] for r in seq_assign}
        assert 9_000_004 not in {r[0] for r in seq_assign}
        assert 9_000_002 not in {r[0] for r in seq_assign}

        # --- the same fold through foreachBatch (mod-time-ordered files)
        build_ivf_vector_index(spark, base, stream_table, n_buckets=8)
        arrivals_dir = tmp_path / "maint_arrivals"
        arrivals_dir.mkdir()
        for i, b in enumerate((batch0, batch1, twins)):
            b.coalesce(1).write.parquet(str(arrivals_dir / f"b{i}"))
            _time.sleep(1.1)  # FileStreamSource orders by mod time
        schema = "vec_id long, embedding array<float>"

        def tick(batch_df, _bid):
            maintain_ivf_index(spark, stream_table, batch_df)

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(arrivals_dir / "b*"))
            .writeStream.foreachBatch(tick)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        spark.catalog.refreshTable(f"{stream_table}_assign")
        spark.catalog.refreshTable(stream_table)
        got_assign = sorted(
            tuple(r) for r in spark.table(f"{stream_table}_assign").collect()
        )
        got_edges = sorted(tuple(r) for r in spark.table(stream_table).collect())
        assert got_assign == seq_assign
        assert got_edges == seq_edges and got_edges
    finally:
        for tbl in (seq_table, stream_table):
            for suffix in ("", "_assign", "_centroids", "_conf"):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}{suffix}")
