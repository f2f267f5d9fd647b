"""SparkSession factory.

Defaults are chosen for the verification environment (local[32], single
JVM) but the knobs mirror what a 1000-executor deployment would set:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
shuffle partitions sized to the parallelism, Arrow enabled for the few
pandas-UDF paths, UTC session time zone so results are reproducible
against any oracle.
"""

from __future__ import annotations

import os
from functools import wraps

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "spark-chain-analytics"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # At 100 TB this would be ~2-3x total cores; locally match cores so
        # AQE coalesces instead of scheduling thousands of tiny tasks.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate turns explode(expensive_expr) into a
        # pre-Generate Filter whose pushed-down predicate re-inlines the
        # full expression (measured 8x slowdown on the shingle pipelines);
        # the inferred filter can never reach the parquet scan here, so
        # excluding the rule is pure win.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # reliable-mode materialization (operators/materialize.py) writes
        # RDD checkpoints; with the cleaner on, checkpoint files whose
        # RDDs are garbage-collected are deleted instead of accumulating
        # in the checkpoint FS for the life of the deployment (review
        # find). Startup-only conf — tune_session cannot set it.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tunings to an externally provided session
    (the driver hands us one; master/memory are fixed by then)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # see get_spark: avoids re-inlining expensive generator inputs
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    except Exception:
        pass  # some conf keys may be fixed; best-effort
    return spark


# {applicationId: {key: value}}, for the active SparkContext only
_APP_MEMO: dict[str, dict] = {}


def app_memo(key, build):
    """``build()`` once per (active SparkContext, ``key``). State built
    under a context is rebuilt for a new one: a Column or DataFrame holds
    a py4j handle into the JVM that built it (served to a later context
    on a fresh gateway it fails with an NPE far from the cause), and a
    catalog name is unknown to the next session. The first call under a
    new ``applicationId`` empties the memo, so nothing pins a stopped
    context. One ``applicationId`` read per call."""
    app_id = SparkContext._active_spark_context.applicationId
    if app_id not in _APP_MEMO:
        _APP_MEMO.clear()
    entries = _APP_MEMO.setdefault(app_id, {})
    if key not in entries:
        entries[key] = build()
    return entries[key]


clear_app_memo = _APP_MEMO.clear


def app_cache(fn):
    """Decorator: :func:`app_memo` keyed on ``fn`` and its arguments."""
    return wraps(fn)(lambda *args: app_memo((fn, *args), lambda: fn(*args)))
