"""Oracle-checked benchmark of naive_query_engine_spark.

    python3 perfbench/run.py --workload curation_cold --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process is one closed-loop client (no
think time) on ``local[<nproc>]`` in a fresh JVM, over the seed-42 test
corpus at sf0.01, the scale the test suite's oracle sweep verifies.
``--seed`` sets the order of the operations and, in ``index_serving``, the
arrival batches and probe keys; the data never changes.  Every operation's
delivered result is compared exactly with DuckDB over the same parquet,
outside the timers.

Workloads, and why each exists:

- ``curation_cold``: curation operators with every session substrate
  dropped before each one, so each pays for the builds and job
  round-trips it declares; the dedup cascade ends each pass.  Substrate
  builds, construction-time jobs and Python kernels are on the timed path.
- ``index_serving``: a maintained IVF index; seeded upsert batches
  interleaved with warm reads of the same operator family and a SQL
  neighbour probe of the index through ``NaiveDB.run_sql``.  Substrate
  hits and table writes are on the timed path; builds are in set-up.

The loop runs whole passes over the workload's operations until
``--seconds`` have gone by; ``index_serving`` has one fixed schedule (its
batches partition the arrivals) and runs it once.  The last line of stdout
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  A traced run keeps its spans in memory and
writes them, with one record per operation, to
``.perfbench/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything a run writes stays here, inside the checkout
STATE = os.path.join(ROOT, ".perfbench")

# Run sizes are set by the time one run may take (about a minute with
# session start), not by coverage: a pass holds each operation once.

#: the MinHash and pHash dedup families and the PQ read that
#: ``index_serving`` serves warm, so one operator is seen cold and warm;
#: each is also run at sf0.001 first, as JIT warm-up (same code paths,
#: other substrate keys)
CURATION_OPS = (
    "dedup_minhash_lsh",
    "multimodal_image_phash_dedup",
    "similarity_ivfpq_adc_topk",
)
#: runs last in every pass: too costly to warm up, and run first it pays
#: about 2 s of JIT warm-up the others would share, so its time would
#: depend on the seed
CASCADE = "pipeline_dedup_cascade"

#: reads over the PQ and frozen-quantizer substrates
INDEX_READS = ("similarity_ivfpq_adc_topk", "dedup_ingest_admit_gate")
INDEX_TABLE = "perfbench_ivf_index"
INDEX_SUFFIXES = ("", "_assign", "_centroids", "_conf")
#: timed batches, each followed by the three reads: the upserts are a
#: quarter of the operations, so p90 falls among them and the median
#: among the reads
INDEX_BATCHES = 2
#: timed, the first call of a kind ran 15-45% slower than the third, so
#: set-up upserts a warm-up batch of this many arrivals (an upsert costs
#: about the same whatever its size), calls each read WARM_CALLS times
#: (the first builds its substrates) and probes once
WARM_ARRIVALS = 8
WARM_CALLS = 2
INDEX_BUCKETS = 8
PROBE_IDS = 50
PROBE_SQL = (
    "SELECT i.vec_a, i.vec_b, i.cell, e.label FROM {index} i "
    "JOIN embeddings e ON e.vec_id = i.vec_b WHERE i.vec_a IN ({ids})"
)

#: Spark's context cleaner polls its reference queue every 100 ms
CLEANER_WAIT_S = 0.2

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "storage_peak_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "engine.register_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.cascade_construct_jobs": "count",
    "operators.substrate_builds": "count",
    "operators.substrate_hits": "count",
    "operators.substrate_build_s": "s",
    "operators.substrate_mb": "MB",
    "operators.touched_cell_ratio": "ratio",
    "functions.python_run_s": "s",
    "functions.python_start_s": "s",
    "functions.python_mb": "MB",
    "sources.input_mb": "MB",
    "sources.output_mb": "MB",
    "spark.jobs": "count",
    "spark.stages_run": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.action_s": "s",
    "spark.eff_parallelism": "ratio",
    "trace.latency_p50_s": "s",
    "trace.probe_s": "s",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


@dataclass
class Op:
    """One timed call: ``construct`` builds the result (a DataFrame, or
    the report of a write), ``deliver`` brings it into this process, and
    ``check`` compares it with the oracle (None when equal)."""

    name: str
    layer: str
    construct: Callable[[], Any]
    deliver: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    before: Callable[[], Any] | None = None
    #: extra fields the check leaves for the operation's record
    info: dict = field(default_factory=dict)


def _to_pandas(df):
    return df.toPandas()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n_per_pass: int) -> float:
    """The highest percentile with at least ten of one pass's samples above
    it, or p90 when a pass has fewer than twenty.  Fixed per workload, so
    the metric means the same thing however many passes a run makes."""
    return 1.0 - 10.0 / n_per_pass if n_per_pass >= 20 else 0.9


class Bench:
    """One workload run: session, warm-up, set-up, timed passes, checks."""

    name = ""
    #: True when the schedule cannot repeat, so one pass is the run
    passes_fixed = False

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.layer: Counter = Counter()
        self.records: list[dict] = []
        self.storage_peak_mb = 0.0
        self.rdd_peak_mb = 0.0
        self.probe_s = 0.0
        self.oracle_s = 0.0
        self.op_seq = 0
        self.sub_mark = (0, 0, 0.0)
        self.substrates = None

    # -- session and probes ---------------------------------------------

    def start_session(self) -> None:
        # the registry imports every operator module, so the substrate
        # probe and the cold reset see every cache dict
        import naive_query_engine_spark.queries  # noqa: F401
        from layers import SparkProbe, SubstrateProbe, Tracer
        from naive_query_engine_spark import get_spark
        from tests.conftest import SF_ORACLE, SF_SMOKE

        self.sf = SF_ORACLE
        self.sf_warm = SF_SMOKE
        for d in (self.sf, self.sf_warm):
            if not os.path.isfile(os.path.join(d, "embeddings.parquet")):
                raise FileNotFoundError(f"test corpus not found at {d}")
        self.tracer = Tracer(self.trace)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(STATE, "warehouse")},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.tracer.add("session.start", t0, t0 + self.session_start_s)
        self.probe = SparkProbe(self.spark)
        if self.trace:
            self.substrates = SubstrateProbe(self.tracer)

    def mark_measured(self) -> None:
        """Substrate counters count from here: after the sf0.001 warm-up,
        so builds at the measured scale made in set-up are included."""
        if self.substrates is not None:
            sub = self.substrates
            self.sub_mark = (sub.builds, sub.hits, sub.build_s)

    def settle(self) -> None:
        """Collect Python and JVM garbage outside the timers, then sample
        the storage still in use.  Each operation starts on a collected
        heap, and blocks of frames nothing references (orphaned
        checkpoints, broadcasts) do not count, whenever the JVM happens to
        free them."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(CLEANER_WAIT_S)
        self.storage_peak_mb = max(self.storage_peak_mb, self.probe.storage_mb())
        self.rdd_peak_mb = max(self.rdd_peak_mb, self.probe.rdd_storage_mb())

    # -- one operation --------------------------------------------------

    def run_op(self, op: Op, timed: bool = True) -> dict:
        """Run ``op``; when ``timed``, keep its record.  Its wall time
        covers construction, execution and delivery to this process; the
        oracle check and the status-store reads come after the clock."""
        if op.before is not None:
            op.before()
        self.op_seq += 1
        group = f"perfbench-{self.op_seq}"
        self.tracer.op_id = self.op_seq
        if self.trace:
            self.probe.set_group(group, op.name)
            sub = self.substrates
            sub0 = (sub.builds, sub.hits, sub.build_s)
        rec = {"op": op.name, "layer": op.layer, "error": None}
        result = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op.layer):
                obj = op.construct()
                t1 = time.perf_counter()
                if self.trace:
                    self.probe.drain()
                    rec["construct_jobs"] = len(self.probe.jobs(group))
                t1b = time.perf_counter()
                self.probe_s += t1b - t1
                with self.tracer.span("spark.action"):
                    result = op.deliver(obj)
            t2 = time.perf_counter()
            rec.update(wall_s=(t1 - t0) + (t2 - t1b), construct_s=t1 - t0, action_s=t2 - t1b)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["wall_s"] = time.perf_counter() - t0
        if self.trace:
            t3 = time.perf_counter()
            self.probe.drain()
            jobs = self.probe.jobs(group)
            rec.update(self.probe.group_stats(jobs, rec["wall_s"]))
            rec.update(self.probe.python_stats(jobs))
            rec["substrate_builds"] = sub.builds - sub0[0]
            rec["substrate_hits"] = sub.hits - sub0[1]
            rec["substrate_build_s"] = sub.build_s - sub0[2]
            self.probe.clear_group()
            self.probe_s += time.perf_counter() - t3
        if rec["error"] is None:
            rec["error"] = op.check(result)
        rec.update(op.info)
        if timed:
            self.records.append(rec)
        elif rec["error"]:
            raise RuntimeError(f"set-up operation {op.name} failed: {rec['error']}")
        return rec

    def checked(self, check: Callable[[], str | None]) -> str | None:
        """Run an oracle check, keeping its time out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            return check()
        finally:
            self.oracle_s += time.perf_counter() - t0

    def query_op(self, name: str, sf_dir: str, before=None) -> Op:
        """A registry query: ``QUERIES[name].fn`` is the construction,
        ``toPandas`` the delivery; checked at the measured scale only."""
        from naive_query_engine_spark.queries import QUERIES

        fn = QUERIES[name].fn
        return Op(
            name,
            "queries",
            lambda: fn(self.spark, sf_dir),
            _to_pandas,
            lambda pdf: self.checked(lambda: self.oracle.check_query(name, pdf))
            if sf_dir == self.sf
            else None,
            before,
        )

    def register(self, tables: tuple[str, ...]) -> None:
        """Expose the workload's input tables through the engine catalog,
        timed as the engine layer's registration."""
        from naive_query_engine_spark import NaiveDB

        self.db = NaiveDB(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span("engine.register"):
            for name in tables:
                self.db.create_parquet_table(name, os.path.join(self.sf, f"{name}.parquet"))
        self.layer["engine.register_s"] = time.perf_counter() - t0

    def shuffled(self, ops: list[Op], salt: int) -> list[Op]:
        ops = list(ops)
        random.Random(f"{self.name}:{self.seed}:{salt}").shuffle(ops)
        return ops

    # -- workload hooks -------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def schedule(self, pass_idx: int) -> list[Op]:
        raise NotImplementedError

    def end_pass(self) -> None:
        # sample what the pass's last operation left stored
        self.settle()

    def finish(self) -> list[dict]:
        """Checks after the timed loop; returns their records."""
        return []

    def teardown(self) -> None:
        pass

    # -- the run --------------------------------------------------------

    def run(self) -> dict:
        from oracle import Oracle

        setup_t0 = time.perf_counter()
        self.start_session()
        self.oracle = Oracle(self.sf, STATE)
        try:
            with self.tracer.span("setup"):
                self.setup()
            setup_s = time.perf_counter() - setup_t0 - self.oracle_s
            loop_t0 = time.perf_counter()
            passes = n_per_pass = 0
            while True:
                ops = self.schedule(passes)
                n_per_pass = n_per_pass or len(ops)
                for op in ops:
                    self.run_op(op)
                self.end_pass()
                passes += 1
                if self.passes_fixed or time.perf_counter() - loop_t0 >= self.seconds:
                    break
            final = self.finish()
        finally:
            self.teardown()
            self.oracle.close()
        return self.report(setup_s, passes, n_per_pass, final)

    def report(self, setup_s: float, passes: int, n_per_pass: int, final) -> dict:
        import duckdb
        from pyspark import __version__ as spark_version

        recs = self.records
        walls = [r["wall_s"] for r in recs]
        failed = [r for r in recs + final if r["error"]]
        q_tail = tail_quantile(n_per_pass)
        log("host:", json.dumps({
            "nproc": len(os.sched_getaffinity(0)),
            "spark": spark_version,
            "duckdb": duckdb.__version__,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "workload": self.name,
            "seed": self.seed,
            "passes": passes,
            "ops": len(recs),
            "latency_tail_s": f"p{round(100 * q_tail)} of {len(walls)} samples",
        }))
        log("ops:", json.dumps([[r["op"], round(r["wall_s"], 3)] for r in recs]))
        for r in failed:
            log("FAILED:", r["op"], r["error"])
        e2e = {
            "setup_s": setup_s,
            # the client's own rate: harness work between calls (resets,
            # oracle checks, status reads) is not counted
            "ops_per_min": 60.0 * len(walls) / sum(walls),
            "latency_p50_s": statistics.median(walls),
            "latency_tail_s": percentile(walls, q_tail),
            "storage_peak_mb": self.storage_peak_mb,
        }
        if self.trace:
            metrics, units = self.per_layer(passes, e2e), PER_LAYER_UNITS
            path = os.path.join(STATE, f"trace-{self.name}-{self.seed}.jsonl")
            self.tracer.write(path, recs)
            log("trace:", os.path.relpath(path, ROOT))
        else:
            metrics, units = e2e, END_TO_END_UNITS
        return {
            "correct": not failed,
            "attempted": len(recs) + len(final),
            "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def per_layer(self, passes: int, e2e: dict) -> dict:
        """Per-layer figures of the timed operations, per pass.  Counts and
        sizes of layers a workload does not exercise read 0.  Every time
        here is measured on both workloads, never a constant; the times
        only ``index_serving`` has (SQL, index build, upsert) go to
        stderr."""
        recs, sub = self.records, self.substrates

        def tot(key: str, layer: str | None = None, op: str | None = None) -> float:
            return sum(
                r.get(key, 0.0)
                for r in recs
                if (layer is None or r["layer"] == layer) and (op is None or r["op"] == op)
            ) / passes

        upserts = [r for r in recs if r["layer"] == "operators.upsert"]
        if upserts:
            log("index_serving layers:", json.dumps({
                "engine.run_sql_s": tot("construct_s", "engine.run_sql"),
                "operators.index_build_s": self.layer["operators.index_build_s"],
                "operators.upsert_s": statistics.median(r["wall_s"] for r in upserts),
            }))
        return {
            "session.start_s": self.session_start_s,
            "engine.register_s": self.layer["engine.register_s"],
            "queries.construct_s": tot("construct_s", "queries"),
            "queries.construct_jobs": tot("construct_jobs", "queries"),
            "queries.cascade_construct_jobs": tot("construct_jobs", op=CASCADE),
            "operators.substrate_builds": (sub.builds - self.sub_mark[0]) / passes,
            "operators.substrate_hits": (sub.hits - self.sub_mark[1]) / passes,
            "operators.substrate_build_s": (sub.build_s - self.sub_mark[2]) / passes,
            "operators.substrate_mb": self.rdd_peak_mb,
            "operators.touched_cell_ratio": statistics.mean(
                r["touched_cell_ratio"] for r in upserts
            )
            if upserts
            else 0.0,
            "functions.python_run_s": tot("python_run_s"),
            "functions.python_start_s": tot("python_start_s") + tot("python_init_s"),
            "functions.python_mb": (tot("python_sent_b") + tot("python_returned_b"))
            / (1024 * 1024),
            "sources.input_mb": tot("input_mb"),
            "sources.output_mb": tot("output_mb"),
            "spark.jobs": tot("jobs"),
            "spark.stages_run": tot("stages_run"),
            "spark.stages_skipped": tot("stages_skipped"),
            "spark.tasks": tot("tasks"),
            "spark.task_s": tot("task_s"),
            "spark.cpu_s": tot("cpu_s"),
            "spark.gc_s": tot("gc_s"),
            "spark.shuffle_mb": tot("shuffle_mb"),
            "spark.spill_mb": tot("spill_mb"),
            "spark.action_s": tot("action_s"),
            "spark.eff_parallelism": tot("task_s") / tot("wall_s"),
            # the traced run's own latency: minus the untraced run's
            # latency_p50_s, this is the tracing overhead per operation
            "trace.latency_p50_s": e2e["latency_p50_s"],
            "trace.probe_s": self.probe_s / passes,
        }


class CurationCold(Bench):
    name = "curation_cold"

    def setup(self) -> None:
        from layers import ColdReset

        self.reset = ColdReset(self.spark)
        self.register(("documents", "embeddings"))
        for name in CURATION_OPS:
            self.run_op(self.query_op(name, self.sf_warm, before=self.cold), timed=False)
        self.end_pass()
        self.mark_measured()

    def schedule(self, pass_idx: int) -> list[Op]:
        ops = [self.query_op(n, self.sf, before=self.cold) for n in CURATION_OPS]
        return self.shuffled(ops, pass_idx) + [
            self.query_op(CASCADE, self.sf, before=self.cold)
        ]

    def cold(self) -> None:
        """Sample what the previous call left stored, then drop it."""
        self.settle()
        self.reset()

    def end_pass(self) -> None:
        # drop what the last operation built, so the guard sees every
        # build of the pass and the next pass starts cold
        self.cold()
        self.reset.end_pass()


class IndexServing(Bench):
    name = "index_serving"
    passes_fixed = True

    def table_dirs(self) -> list[str]:
        wh = os.path.join(STATE, "warehouse")
        return [os.path.join(wh, INDEX_TABLE + s) for s in INDEX_SUFFIXES]

    def sweep(self) -> None:
        """Drop the index tables and any LOCATION a killed run left, which
        would fail the next build with LOCATION_ALREADY_EXISTS."""
        for s in INDEX_SUFFIXES:
            self.spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}{s}")
        for d in self.table_dirs():
            shutil.rmtree(d, ignore_errors=True)

    def vectors(self, ids: list[int] | None):
        from pyspark.sql import functions as F

        from naive_query_engine_spark.queries import t

        e = t(self.spark, self.sf, "embeddings")
        e = e.filter("vec_id % 3 <> 0") if ids is None else e.filter(F.col("vec_id").isin(ids))
        return e.select("vec_id", "embedding")

    def setup(self) -> None:
        from naive_query_engine_spark.operators.kmeans import build_ivf_vector_index

        self.sweep()
        self.mark_measured()
        self.register(("embeddings",))
        t0 = time.perf_counter()
        with self.tracer.span("operators.index_build"):
            build_ivf_vector_index(
                self.spark, self.vectors(None), INDEX_TABLE, n_buckets=INDEX_BUCKETS
            )
        self.layer["operators.index_build_s"] = time.perf_counter() - t0
        self.k_cells = self.spark.table(f"{INDEX_TABLE}_conf").collect()[0]["k_cells"]
        con = self.oracle.con
        arrivals = [r[0] for r in con.execute(
            "SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0 ORDER BY 1").fetchall()]
        all_ids = [r[0] for r in con.execute(
            "SELECT vec_id FROM embeddings ORDER BY 1").fetchall()]
        rng = random.Random(f"{self.name}:{self.seed}")
        rng.shuffle(arrivals)
        # batch 0 is the warm-up; with the timed batches it partitions the
        # arrivals, so the final census covers every one
        warm, rest = arrivals[:WARM_ARRIVALS], arrivals[WARM_ARRIVALS:]
        self.batches = [sorted(warm)] + [
            sorted(rest[b::INDEX_BATCHES]) for b in range(INDEX_BATCHES)
        ]
        self.probe_keys = [sorted(rng.sample(all_ids, PROBE_IDS)) for _ in self.batches]
        self.run_op(self.upsert_op(0), timed=False)
        for name in INDEX_READS * WARM_CALLS:
            self.run_op(self.query_op(name, self.sf), timed=False)
        self.run_op(self.probe_op(0), timed=False)

    def upsert_op(self, b: int) -> Op:
        from naive_query_engine_spark.operators.kmeans import upsert_ivf_vector_index

        batch = self.batches[b]

        def check(report: dict) -> str | None:
            op.info["touched_cell_ratio"] = len(report["touched_cells"]) / self.k_cells
            if report["n_arrivals"] != len(batch):
                return f"{report['n_arrivals']} arrivals upserted, {len(batch)} sent"
            return None

        op = Op(
            f"upsert:{b}",
            "operators.upsert",
            lambda: upsert_ivf_vector_index(self.spark, INDEX_TABLE, self.vectors(batch)),
            lambda report: report,
            check,
            self.settle,
        )
        return op

    def probe_op(self, b: int) -> Op:
        """Neighbours of seeded keys, read from the index through SQL; the
        oracle reads the index's own files as they are at that moment."""
        ids = ", ".join(map(str, self.probe_keys[b]))
        files = f"read_parquet('{self.table_dirs()[0]}/*/*.parquet', hive_partitioning = true)"
        return Op(
            f"probe:{b}",
            "engine.run_sql",
            lambda: self.db.run_sql(PROBE_SQL.format(index=INDEX_TABLE, ids=ids)),
            _to_pandas,
            lambda pdf: self.checked(lambda: self.oracle.check_sql(
                PROBE_SQL.format(index=files, ids=ids), pdf, f"probe:{b}")),
        )

    def schedule(self, pass_idx: int) -> list[Op]:
        ops: list[Op] = []
        for b in range(1, INDEX_BATCHES + 1):
            reads = [self.query_op(n, self.sf) for n in INDEX_READS] + [self.probe_op(b)]
            reads = self.shuffled(reads, b)
            # settled before the write and after it; the reads run back to back
            reads[0].before = self.settle
            ops += [self.upsert_op(b)] + reads
        return ops

    def finish(self) -> list[dict]:
        """The per-cell census of the maintained index against the
        from-scratch oracle of ``similarity_ivf_index_upsert``."""
        from pyspark.sql import functions as F

        from naive_query_engine_spark.operators.kmeans import _EDGE_CKSUM

        edges = self.spark.table(INDEX_TABLE)
        members = self.spark.table(f"{INDEX_TABLE}_assign")
        census = (
            members.groupBy("cell")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .join(
                edges.groupBy("cell").agg(
                    F.count(F.lit(1)).cast("long").alias("n_edges"),
                    F.sum(F.col("vec_a") * _EDGE_CKSUM + F.col("vec_b"))
                    .cast("long")
                    .alias("edge_checksum"),
                ),
                "cell",
                "left",
            )
            .fillna(0, ["n_edges", "edge_checksum"])
            .select(F.col("cell").cast("long"), "n_members", "n_edges", "edge_checksum")
            .toPandas()
        )
        err = self.oracle.check_query("similarity_ivf_index_upsert", census)
        log("census:", "match" if err is None else f"MISMATCH {err}")
        return [{"op": "census", "layer": "check", "error": err}]

    def teardown(self) -> None:
        self.sweep()


WORKLOADS = {b.name: b for b in (CurationCold, IndexServing)}


def prepare_environment() -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the checkout,
    and make the package importable here and in Spark's Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "local")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    # read by the JVM itself, so the engine's session settings stay as
    # they are; no hsperfdata file in the system temp directory either
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    prepare_environment()
    bench = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit.  The JVM outlives a stopped
    context until its stdin closes, which is how PySpark ends it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
