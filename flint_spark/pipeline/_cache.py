"""One retention policy for every operator-internal persisted subtree.

Operators persist subtrees that their returned plan reads more than
once: MinHash signatures, SimHash tables, shingle tables, the keyless
prefix engine's per-row state (running summarizers and EWMA scans),
DSIR scores. The caller's
first action is invisible inside the operator, so it cannot unpersist
them itself. Instead a strong-ref LRU keeps the ``LRU_SIZE`` most
recently built subtrees cached and unpersists the oldest one past that,
whether or not a live frame still reads it: retention is a hard cap.

Every plan persisted here must be a pure function of the data, so an
eviction can only ever cost a recompute, never change a result. A
returned frame carries a refcounted pin per subtree it reads
(:func:`hold`), so operators that post-process a result can hand the
pins on; a pin's ``df`` turns None once the last frame holding it is
garbage-collected or its subtree is evicted. One lock guards all state,
so operators may be called from concurrent threads. ``STATS`` counts
subtrees built, reused by a later call, and evicted.
"""

from __future__ import annotations

import itertools
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: persisted subtrees kept cached: the former prefix-layout registry's
#: default. ``STATS["evicted"]`` shows when a pipeline outgrows it.
LRU_SIZE = 4

STATS = {"built": 0, "reused": 0, "evicted": 0}

# re-entrant: a finalizer may run during garbage collection triggered
# inside a locked section of the same thread
_LOCK = threading.RLock()
_RECENT: list = []  # persisted frames, oldest first
_SALT = itertools.count()


class _Pin:
    """Refcount of the live frames that read one persisted subtree."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.count = 0


def _drop(df: DataFrame) -> None:
    """Unpersist a frame taken off ``_RECENT``; the caller holds _LOCK."""
    df._flint_pins[0].df = None
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — session may already be stopped
        pass


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` under this module's retention and return the
    persisted frame; read it, and :func:`hold` it on the frames built
    from it.

    Spark's CacheManager keys entries on the analyzed plan, so two calls
    over equivalent inputs would share one entry, and releasing either
    would unpersist the other's. A trivially true filter on a unique
    literal gives every call its own entry; the optimizer folds it away
    before execution."""
    df = df.where(F.lit(next(_SALT)).isNotNull()).persist()
    df._flint_pins = (_Pin(df),)
    with _LOCK:
        STATS["built"] += 1
        _RECENT.append(df)
        while len(_RECENT) > LRU_SIZE:
            STATS["evicted"] += 1
            _drop(_RECENT.pop(0))
    return df


def _unpin(pins: tuple) -> None:
    with _LOCK:
        for pin in pins:
            pin.count -= 1
            if pin.count <= 0:
                pin.df = None  # only the LRU holds the subtree now


def hold(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Pin the persisted subtrees behind ``sources`` on ``result`` until
    ``result`` is garbage-collected. A source is a frame returned by
    :func:`persist` or by an earlier :func:`hold`; others carry no pins
    and are skipped. Returns ``result``."""
    with _LOCK:
        pins = tuple(p for s in sources for p in getattr(s, "_flint_pins", ())
                     if p.df is not None and p.df is not result)
        for pin in pins:
            pin.count += 1
    if pins:
        result._flint_pins = getattr(result, "_flint_pins", ()) + pins
        weakref.finalize(result, _unpin, pins)
    return result


def release_caches() -> None:
    """Unpersist every subtree held here now (test and reset hook).
    Frames evaluated afterwards recompute them: the same results, more
    work."""
    with _LOCK:
        while _RECENT:
            _drop(_RECENT.pop())
