"""Per-layer measurement from outside the engine.

Nothing here changes engine code.  Three probes:

- :class:`SparkProbe` reads Spark's status stores (jobs, stages, SQL plan
  metrics, block-manager storage) for the job group set around each call;
- :class:`SubstrateProbe` swaps each module-level ``_*_CACHE`` dict of the
  package for a counting dict, so hits, builds and build time of session
  substrates are seen where the operator code touches them;
- :class:`ColdReset` drops every session substrate and refuses to go on
  when a cold pass dropped none (a cache moved out of its sight would make
  "cold" numbers warm).

:class:`Tracer` keeps spans in memory and writes them out at the end.
"""

from __future__ import annotations

import gc
import json
import re
import sys
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame

PACKAGE = "naive_query_engine_spark"
MB = 1024 * 1024
_CACHE_NAME = re.compile(r"^_\w+_CACHE$")

#: SQL plan-node metrics of the Python/pandas kernels (ArrowEvalPython,
#: MapInPandas, FlatMapGroupsInPandas ...), by the name Spark gives them
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_returned_b",
}
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB,
}
_SEP = "\x01"
#: ``SQLPlanMetric(name,accumulatorId,metricType)`` and ``accumulatorId -> value``
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^\x01]*?),(\d+),\w+\)")
_METRIC_VALUE = re.compile(r"^(\d+) -> (.*)$", re.S)
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*(ns|us|ms|s|m|min|h|B|KiB|MiB|GiB|TiB)\b")


def cache_dicts(package: str = PACKAGE) -> list[tuple[object, str, dict]]:
    """Every module-level ``_*_CACHE`` dict of the loaded ``package``."""
    found = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if _CACHE_NAME.match(attr) and isinstance(val, dict):
                found.append((mod, attr, val))
    return found


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric ("total (min, med, max ...)\\n
    1.2 s (...)" or just "1.2 s") in seconds or bytes."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkProbe:
    """Status-store reads for one job group at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self._last_exec_id = -1

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def storage_mb(self) -> float:
        """Block-manager storage in use now: memory (cached and
        checkpointed blocks, broadcasts) plus RDD blocks on disk."""
        mem = 0
        status = self._jsc.getExecutorMemoryStatus()
        it = status.valuesIterator()
        while it.hasNext():
            pair = it.next()
            mem += pair._1() - pair._2()
        disk = sum(info.diskSize() for info in self._jsc.getRDDStorageInfo())
        return (mem + disk) / MB

    def rdd_storage_mb(self) -> float:
        """Persisted and checkpointed RDD blocks, memory plus disk."""
        return sum(
            info.memSize() + info.diskSize() for info in self._jsc.getRDDStorageInfo()
        ) / MB

    def group_stats(self, job_ids: list[int], wall_s: float) -> dict[str, float]:
        """Execution counters of ``job_ids``.  A stage counts as run once,
        in the first group that ran it; later jobs that reuse its shuffle
        output see it as skipped."""
        out = Counter()
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            jd = self._store.job(jid)
            out["stages_skipped"] += jd.numSkippedStages()
            out["tasks"] += jd.numCompletedTasks() + jd.numFailedTasks()
            for sid in sorted(_ints(jd.stageIds().mkString(","))):
                if sid in self._seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self._seen_stages.add(sid)
                out["stages_run"] += 1
                out["task_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                out["input_mb"] += sd.inputBytes() / MB
                out["output_mb"] += sd.outputBytes() / MB
        out["eff_parallelism"] = out["task_s"] / wall_s if wall_s > 0 else 0.0
        return dict(out)

    def python_stats(self, job_ids: list[int]) -> dict[str, float]:
        """Python-kernel plan metrics of the SQL executions that ran
        ``job_ids``.  Each execution is read once: executions list oldest
        first, so read back from the newest to the last one seen.  The store
        keeps each execution's own metric values, so they add up."""
        out = Counter()
        want = set(job_ids)
        count = self._sql_store.executionsCount()
        if not want or count == 0:
            return dict(out)
        n = min(count, 8)
        while True:
            execs = self._sql_store.executionsList(count - n, n)
            if n == count or execs.apply(0).executionId() <= self._last_exec_id:
                break
            n = min(count, 2 * n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec_id:
                continue
            self._last_exec_id = eid
            if not _ints(ex.jobs().keys().mkString(",")) & want:
                continue
            wanted = {
                int(acc): PYTHON_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(ex.metrics().mkString(_SEP))
                if name in PYTHON_METRICS
            }
            if not wanted:
                continue
            for entry in self._sql_store.executionMetrics(eid).mkString(_SEP).split(_SEP):
                m = _METRIC_VALUE.match(entry)
                if m and int(m.group(1)) in wanted:
                    out[wanted[int(m.group(1))]] += _metric_total(m.group(2))
        return dict(out)


def _ints(text: str) -> set[int]:
    return {int(x) for x in text.split(",") if x}


class CountingCache(dict):
    """A drop-in for a ``_*_CACHE`` dict that counts hits and builds.

    The operators all follow ``if key not in CACHE: CACHE[key] = build()``,
    so a failed membership test opens a build and the store closes it.  A
    stored frame that is persisted but not yet computed is materialised
    inside the build span, so the span covers the whole substrate build."""

    def __init__(self, name: str, on_build, *args) -> None:
        super().__init__(*args)
        self.name = name
        self.on_build = on_build
        self.hits = 0
        self._opened: dict[object, float] = {}

    def __contains__(self, key) -> bool:
        found = super().__contains__(key)
        if found:
            self.hits += 1
        else:
            self._opened[key] = time.perf_counter()
        return found

    def __setitem__(self, key, value) -> None:
        start = self._opened.pop(key, time.perf_counter())
        for df in _frames(value):
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                df.count()
        super().__setitem__(key, value)
        self.on_build(self.name, start, time.perf_counter())


def _frames(value) -> list[DataFrame]:
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [v for v in value if isinstance(v, DataFrame)]
    return []


class SubstrateProbe:
    """Installs :class:`CountingCache` in place of every cache dict."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.builds = 0
        self._spans: list[tuple[float, float]] = []
        self.caches: list[CountingCache] = []
        for mod, attr, d in cache_dicts():
            cc = CountingCache(f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}", self._built, d)
            setattr(mod, attr, cc)
            self.caches.append(cc)

    def _built(self, name: str, start: float, end: float) -> None:
        self.builds += 1
        self._spans.append((start, end))
        self.tracer.add(f"operators.substrate_build:{name}", start, end)

    @property
    def build_s(self) -> float:
        """Time covered by build spans; a substrate built inside another's
        build counts once."""
        total, reach = 0.0, float("-inf")
        for start, end in sorted(self._spans):
            if end > reach:
                total += end - max(start, reach)
                reach = end
        return total

    @property
    def hits(self) -> int:
        return sum(c.hits for c in self.caches)


class ColdResetError(RuntimeError):
    pass


class ColdReset:
    """Drop every session substrate: empty the ``_*_CACHE`` dicts, clear
    Spark's cache and collect garbage in Python and the JVM, so orphaned
    ``localCheckpoint`` blocks are freed."""

    def __init__(self, spark, package: str = PACKAGE) -> None:
        self.spark = spark
        self.package = package
        self.pass_dropped = 0

    def __call__(self) -> int:
        dropped = 0
        for _, _, d in cache_dicts(self.package):
            dropped += len(d)
            d.clear()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.pass_dropped += dropped
        return dropped

    def end_pass(self) -> None:
        """Fail loudly when a whole cold pass found nothing to drop."""
        dropped, self.pass_dropped = self.pass_dropped, 0
        if dropped == 0:
            raise ColdResetError(
                "cold pass dropped no substrate state: the reset no longer "
                f"sees the session caches of {self.package!r}"
            )


class Tracer:
    """In-memory spans: (name, start, end, parent, op id)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        if self.enabled:
            self.spans.append(self._span(name, start, end))

    def _span(self, name: str, start: float, end: float) -> dict:
        return {
            "name": name,
            "start": round(start - self.t0, 6),
            "end": round(end - self.t0, 6),
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }

    @contextmanager
    def span(self, name: str):
        """Time the block as a span whose parent is the enclosing span."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        start = time.perf_counter()
        self.spans.append(self._span(name, start, start))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = round(time.perf_counter() - self.t0, 6)

    def write(self, path: str, records: list[dict]) -> None:
        """Spans, then one record per timed operation, as JSON lines."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for r in records:
                fh.write(json.dumps({"record": r}) + "\n")
