"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config below is chosen so the
same logical plans scale to a real cluster: AQE on (runtime coalescing,
skew-join splitting), Arrow transport for the pandas paths, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Escape hatch for the ANSI guard below: set True to run operators
#: under ``spark.sql.ansi.enabled=true`` anyway. Only safe when your
#: data can never hit the permissive edges the engine assumes away —
#: see :func:`require_ansi_off` for the exact semantics at stake.
ALLOW_ANSI = False


def ansi_enabled(spark: SparkSession | None = None) -> bool:
    """Whether the (given or active) session runs ANSI SQL mode."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        return str(spark.conf.get("spark.sql.ansi.enabled",
                                  "false")).lower() == "true"
    except Exception:  # pragma: no cover — conf lookup is best-effort
        return False


def require_ansi_off(feature: str = "this operator",
                     spark: SparkSession | None = None) -> None:
    """Loud session guard (r10 verdict item 1): Spark 4.x defaults
    ``spark.sql.ansi.enabled=true``, but this engine — like the
    reference it re-expresses (flint validates its session config up
    front, ``src/main/scala/com/twosigma/flint/FlintConf.scala``) —
    builds column expressions that assume the PERMISSIVE semantics:

    - division returns NULL (never raises) on a zero denominator,
    - invalid casts return NULL,
    - out-of-range ``element_at``/array-index probes return NULL
      (binary searches and lookahead guards rely on it),
    - ``size(NULL)`` is -1 (legacy sizeOfNull).

    Under ANSI mode each of those RAISES (or silently changes value
    for ``size``), so a user embedding the library in their own
    session would get data-dependent runtime errors or silently
    different nulls. Rather than fail deep inside a job, operators
    call this guard at plan-build time and fail immediately with the
    remedy: build the session via :func:`get_spark` (pins ANSI off),
    or ``spark.conf.set("spark.sql.ansi.enabled", "false")``, or — if
    you know your data never hits these edges — set
    ``flint_spark.session.ALLOW_ANSI = True`` at your own risk."""
    if ALLOW_ANSI:
        return
    if ansi_enabled(spark):
        raise RuntimeError(
            f"flint_spark: {feature} requires spark.sql.ansi.enabled="
            f"false (permissive null-on-error SQL semantics: null "
            f"division/casts, lazy out-of-range array probes, legacy "
            f"sizeOfNull). This session has ANSI mode ON (the Spark "
            f"4.x default). Fix: build the session with "
            f"flint_spark.get_spark(), or spark.conf.set("
            f"'spark.sql.ansi.enabled', 'false'), or set "
            f"flint_spark.session.ALLOW_ANSI = True if your data can "
            f"never hit those edges.")


def ansi_guard(feature: str):
    """Decorator form of :func:`require_ansi_off` for operator modules
    whose public functions don't flow through one of the expression
    chokepoints (``time_ns_expr`` / ``h28`` / ``_words`` / ``_dvec``)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            require_ansi_off(feature)
            return fn(*args, **kwargs)
        return wrapper
    return deco


def get_spark(app_name: str = "flint_spark", master: str | None = None) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # ANSI off: we want permissive numeric semantics matching the
        # reference engine (nulls on bad casts, wrap-free via explicit pmod).
        .config("spark.sql.ansi.enabled", "false")
        # read parquet TIMESTAMP(NANOS) columns as LongType epoch-ns —
        # Spark has no ns timestamp; Long ns is this engine's canonical
        # exact time representation (same duality as the reference's
        # TimeType: long ns vs timestamp µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # keep every generated class of a call sequence compiled: one
        # pass of the tick operators generates ~95 distinct classes,
        # and the default 100-entry cache (split over 4 LRU segments)
        # evicted and Janino-recompiled about 20 of them on every pass
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # no Python call-site capture per DataFrame API call: it costs
        # py4j round trips on every call, and for plans built inside
        # the operators the captured site points into this package
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers fork from flint_spark._daemon: pyspark's daemon minus
        # the per-task re-read of unchanged zip/jar archives. The daemon
        # module must import whatever the driver's working directory.
        .config("spark.python.daemon.module", "flint_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
