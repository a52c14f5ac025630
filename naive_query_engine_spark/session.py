"""SparkSession factory with scale-oriented defaults.

The reference engine (``/root/reference``) is a single-thread, single-process,
fully-materializing executor (src/physical_plan/plan.rs:14-21).  Here the
equivalent "execution engine" is Spark itself; this module owns the tuning
knobs that make the same logical plans hold up at cluster scale:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- explicit shuffle-partition count sized for the local harness (32 cores);
  on a real cluster this is overridden via ``extra_conf`` or spark-submit
- Arrow transfer on (every pandas-UDF exchange is Arrow-batched)
- a generous broadcast threshold: every TPC-H-ish dimension table
  (region/nation/supplier/part/customer at small SF) broadcasts instead of
  shuffling the fact table
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle reads the same parquet as naive timestamps)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # legacy corpus generations carried TIMESTAMP(NANOS) events; harmless now
    # that the corpus is naive-microsecond (TIMESTAMP_NTZ), kept for compat
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # r10: long single-JVM sessions (58-query bench, test suite) exhaust
    # the default 240 MB JIT code cache — thousands of whole-stage-codegen
    # classes compile over the run, and once the cache fills, later
    # expression-heavy stages run INTERPRETED (bisected: the map-only VAD
    # synthesis stage read 2.2 s in a fresh session and 9.5 s after the
    # 37-query bench prefix with the Python kernel exonerated — the
    # JVM-only stage inflated identically; 1g + flushing halved it).  On
    # a real cluster each executor JVM runs one app and the default
    # usually suffices; locally this is the difference between measuring
    # the plan and measuring code-cache thrash.  NOTE (ADVICE r10):
    # get_spark() MERGES this with any user/spark-defaults value (theirs
    # first, ours appended — later -XX wins for same-flag conflicts) and,
    # like every conf here, it is a NO-OP when getOrCreate() reuses an
    # already-running JVM — bench calibrations assume a fresh session.
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
    # bucketed-table warehouse (co-located joins); keep out of the repo tree
    "spark.sql.warehouse.dir": "/tmp/nqes-warehouse",
}


def _spark_defaults_value(key: str) -> str:
    """Read one key from spark-defaults.conf, the way spark-submit would.

    Looks in $SPARK_CONF_DIR then $SPARK_HOME/conf; returns "" when the
    file or key is absent.  Needed because builder.config() *overrides*
    (not merges) a spark-defaults value, and for extraJavaOptions we want
    user flags set there to survive our defaults (ADVICE r11 #1).
    """
    # Spark resolves exactly ONE conf dir: $SPARK_CONF_DIR when set,
    # else $SPARK_HOME/conf — never both.  Falling through to a stale
    # $SPARK_HOME file when SPARK_CONF_DIR deliberately omits the key
    # would resurrect flags the user removed.
    if os.environ.get("SPARK_CONF_DIR"):
        conf_dirs = [os.environ["SPARK_CONF_DIR"]]
    elif os.environ.get("SPARK_HOME"):
        conf_dirs = [os.path.join(os.environ["SPARK_HOME"], "conf")]
    else:
        conf_dirs = []
    for d in conf_dirs:
        path = os.path.join(d, "spark-defaults.conf")
        found = ""
        try:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("#"):
                        continue
                    # spark-defaults.conf separates key from value with
                    # whitespace or a single '='/':' (java.util.Properties
                    # semantics).  Match on the key prefix so a '=' in the
                    # VALUE (-Dfoo=bar) is never treated as the separator,
                    # and consume at most ONE '='/':' after optional
                    # whitespace ('key = value' must not yield '= value' —
                    # ADVICE r12 #1: a bare '=' JVM flag kills the driver).
                    # java.util.Properties semantics: LAST occurrence
                    # of a repeated key wins, so keep scanning
                    if line == key:
                        found = ""
                    elif line.startswith(key) and line[len(key)] in " \t=:":
                        rest = line[len(key) :].lstrip(" \t")
                        if rest[:1] in ("=", ":"):
                            rest = rest[1:]
                        found = rest.strip()
        except OSError:
            continue
        return found
    return ""


def get_spark(
    app_name: str = "naive-query-engine-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and without that
    env var to ``local[<cores this process may run on>]``, so an unset run
    never starts more task threads than the host gives it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**DEFAULT_CONF, **(extra_conf or {})}
    # Append (never clobber) driver JVM options a user already set, from
    # either source Spark itself would honour (ADVICE r10 #4, r11 #1):
    # the SPARK_DRIVER_EXTRA_JAVA_OPTIONS env var AND the
    # spark.driver.extraJavaOptions line in spark-defaults.conf.  Their
    # -Xmx / GC flags survive, and our code-cache flags still apply
    # because later -XX options win on conflict.
    jvm_key = "spark.driver.extraJavaOptions"
    if jvm_key in conf:
        pres = [
            os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "").strip(),
            _spark_defaults_value(jvm_key).strip(),
        ]
        for pre in pres:
            if pre and pre not in conf[jvm_key]:
                conf[jvm_key] = f"{pre} {conf[jvm_key]}"
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
