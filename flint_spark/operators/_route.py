"""One routing policy for every operator that decides how its work splits.

Keyless series (and keyed series whose hottest key holds most rows)
would run their window, scan or as-of through ONE task. Each such
operator asks this module two questions: is the input past the
single-task budget (:func:`keyless_distributed`, read off the Catalyst
plan-size estimate), and how many time buckets does its data span
(:func:`time_buckets`) — a bucketed route needs ``MIN_BUCKETS`` to beat
the one-task plan it replaces. The window engines then replicate rows
into those buckets with :func:`replicate_into_buckets`.

Probes that scan data (the time span, the hottest key's share) are
memoized in one LRU keyed on the plan's semantic hash plus its size
estimate, so N calls on one frame pay one probe job, and a re-read of
a path whose files changed does not reuse a stale answer. Only this
module reads plan statistics.
"""

from __future__ import annotations

import threading
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..timeseries import floor_div, time_ns_expr

#: Catalyst reports ~Long.Max (~8 EB) for plans with no stats
#: (RDD-backed frames); an estimate at or above this means "unknown"
STATS_UNKNOWN = 1 << 60

#: single-task budget: keyless inputs whose estimate is at most this
#: run their one-task plan (one Arrow group, one window partition);
#: bigger ones, and unknown sizes, take the distributed route
SINGLE_TASK_BYTES = 64 << 20

#: fewest time buckets a bucketed route needs; fewer buckets pay the
#: row replication without the parallelism, so callers fall back
MIN_BUCKETS = 4

#: entries kept by the probe memo, which the span and hot-key probes
#: share: room for 64 frames of each
PROBE_MEMO_SIZE = 128

_PROBES: dict = {}
_LOCK = threading.Lock()
_MISS = object()


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``'s optimized plan."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are a routing hint only
        return 1 << 62


def keyless_distributed(nbytes: int | Callable[[], int],
                        distributed: bool | None,
                        budget: int = SINGLE_TASK_BYTES) -> bool:
    """Resolve an operator's ``distributed`` option: True/False pin the
    route, None takes the distributed route when the size estimate
    exceeds ``budget`` (unknown stats always do). ``nbytes`` may be a
    zero-argument callable, so a pinned route skips the estimate."""
    if distributed is not None:
        return distributed
    return (nbytes() if callable(nbytes) else nbytes) > budget


def probe_memo(cache: dict, cap: int, ck, compute):
    """LRU memo safe under concurrent callers: a hit is refreshed to
    most-recent, a miss runs ``compute()`` (outside the lock — it
    launches a Spark job) and evicts ONE stale entry at capacity. A
    ``None`` key skips the memo. Two misses on one key both compute,
    and the second store overwrites the first."""
    if ck is None:
        return compute()
    with _LOCK:
        val = cache.pop(ck, _MISS)
        if val is not _MISS:
            cache[ck] = val
            return val
    val = compute()
    with _LOCK:
        if ck not in cache and len(cache) >= cap:
            cache.pop(next(iter(cache)))
        cache[ck] = val
    return val


def _memo(df: DataFrame, tag: tuple, compute):
    try:
        ck = (df.semanticHash(), estimated_bytes(df), *tag)
    except Exception:  # noqa: BLE001 — hashing is a cache key only
        ck = None
    return probe_memo(_PROBES, PROBE_MEMO_SIZE, ck, compute)


def span(df: DataFrame) -> tuple[int, int] | None:
    """(min, max) epoch-ns of ``df``'s time column, None when it holds
    no non-null time: one column-pruned aggregate, memoized."""
    def probe():
        tns = time_ns_expr(df)
        row = df.select(F.min(tns).alias("lo"), F.max(tns).alias("hi")).first()
        return None if row is None or row["lo"] is None \
            else (int(row["lo"]), int(row["hi"]))

    return _memo(df, ("span",), probe)


def time_buckets(df: DataFrame, width: int) -> int | None:
    """Number of ``width``-ns time buckets ``df``'s span covers, or None
    when that is fewer than ``MIN_BUCKETS`` (or the input is empty)."""
    got = span(df)
    if got is None:
        return None
    n = (got[1] - got[0]) // width + 1
    return n if n >= MIN_BUCKETS else None


def hot_key_fraction(df: DataFrame, key: Sequence[str]) -> float:
    """Largest single key's share of rows: one count aggregation over
    the key columns (column-pruned scan), memoized."""
    def probe():
        row = (df.groupBy(*key).count()
               .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
               .first())
        return (row["mx"] / row["n"]) if row and row["n"] else 0.0

    return _memo(df, ("hot", tuple(key)), probe)


def replicate_into_buckets(df: DataFrame, lo: int, hi: int, width: int,
                           op: str) -> DataFrame:
    """Copy each row into every ``width``-ns time bucket whose targets
    it can serve as context for a [t+lo, t+hi] window, plus its own
    bucket. Adds ``__tns`` (epoch ns), ``__b`` (bucket) and ``__tgt``
    (True on the own-bucket copy, the one that emits output).

    A target t in bucket floor(t/B) needs context s in [t+lo, t+hi],
    and s is shipped to every bucket in [floor((s-hi)/B),
    floor((s-lo)/B)], an interval that always contains floor(t/B).
    With width >= hi - lo a row lands in at most 3 buckets. A null
    time would explode into a null bucket sequence and the row would
    silently vanish, so it fails the query instead, naming ``op``."""
    tns = time_ns_expr(df)
    tns = F.when(tns.isNull(), F.raise_error(F.lit(
        f"{op}: null time value — the bucketed window engine requires "
        f"a non-null time column")).cast("long")).otherwise(tns)
    t = F.col("__tns")
    own_b = floor_div(t, width)
    serve_from = floor_div(t - F.lit(int(hi)), width)
    serve_to = floor_div(t - F.lit(int(lo)), width)
    return (df.withColumn("__tns", tns)
            .withColumn("__ob", own_b)
            .withColumn("__b", F.explode(F.sequence(
                F.least(serve_from, F.col("__ob")),
                F.greatest(serve_to, F.col("__ob")))))
            .withColumn("__tgt", F.col("__b") == F.col("__ob"))
            .drop("__ob"))
