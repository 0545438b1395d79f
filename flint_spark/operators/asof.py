"""Temporal (as-of) joins and ordered merge.

The reference executes these as shuffle-free narrow merge joins over
partition-range metadata (``rdd/function/join/RangeMergeJoin.scala:28-140``,
``LeftJoin.scala:31-97``, ``FutureLeftJoin.scala:29-136``). Spark has no
as-of join, so we compile the same *semantics* to stock operators with
the **union as-of** plan:

    tag left/right -> unionByName -> Window.partitionBy(key)
    .orderBy(time, src) -> last/first(right_row_struct, ignorenulls)
    -> filter left rows -> null out matches beyond tolerance

Cost: exactly one shuffle (the window partitioning on the join key) —
no nested-loop, no cartesian, and WindowExec streams each key group, so
it scales to arbitrarily many rows per key. The right row is packed
into a single struct so all right columns come from the *same* matched
row even when right columns contain nulls.

Semantics replicated from the reference (correctness checklist,
SURVEY §2.3):
- tolerance inclusive at the far end (``LeftJoin.scala:69``);
- equal timestamps match in leftJoin (``LeftJoin.scala:91``) and in
  futureLeftJoin unless ``strict_lookahead``
  (``FutureLeftJoin.scala:70-71``);
- key match on exact equality of the key tuple;
- output schema = left ++ right-minus-(time,key), optional aliases,
  conflicting names rejected.

Keyless joins degenerate to a single window partition; callers joining
un-keyed tables at scale should pre-bucket by a coarse time range (see
``asof_keyless_bucketed`` below, which does this automatically).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..timeseries import TIME_COLUMN, floor_div, parse_duration_ns, time_ns_expr
from . import _route

_RROW = "__rrow"
_SRC = "__src"
_TNS = "__tns"


def _output_names(cols: Sequence[str], alias: str | None) -> dict[str, str]:
    return {c: (f"{alias}_{c}" if alias else c) for c in cols}


def _prepare(left: DataFrame, right: DataFrame, key: Sequence[str],
             left_alias: str | None, right_alias: str | None):
    key = list(key)
    left_data = [c for c in left.columns if c != TIME_COLUMN and c not in key]
    right_data = [c for c in right.columns if c != TIME_COLUMN and c not in key]
    left_out = _output_names(left_data, left_alias)
    right_out = _output_names(right_data, right_alias)
    # the conflict set includes key and time: an aliased data column may
    # collide with them too (e.g. key=['user_id'], right 'id' with
    # right_alias='user' -> 'user_id')
    reserved = set(key) | {TIME_COLUMN}
    conflicts = ((set(left_out.values()) & set(right_out.values()))
                 | (set(left_out.values()) & reserved)
                 | (set(right_out.values()) & reserved))
    if conflicts:
        raise ValueError(f"conflicting output columns {sorted(conflicts)}; "
                         "use left_alias/right_alias")

    # each side computes its own epoch-ns ordering key before the union,
    # so the two time columns may have different dtypes (long ns vs
    # timestamp) — mirroring the reference's TimeType duality.
    rstruct = F.struct(
        time_ns_expr(right).alias("__rtime"),
        *[F.col(c) for c in right_data],
    )
    r_pre = right.select(time_ns_expr(right).alias(_TNS), *key, rstruct.alias(_RROW))
    struct_t = r_pre.schema[_RROW].dataType
    left_types = {f.name: f.dataType for f in left.schema.fields}
    left_time_t = left.schema[TIME_COLUMN].dataType

    l_tagged = left.select(
        time_ns_expr(left).alias(_TNS), F.col(TIME_COLUMN), *key, *left_data,
        F.lit(None).cast(struct_t).alias(_RROW),
    )
    r_tagged = r_pre.select(
        F.col(_TNS), F.lit(None).cast(left_time_t).alias(TIME_COLUMN), *key,
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_data],
        F.col(_RROW),
    )
    return key, left_data, right_data, left_out, right_out, l_tagged, r_tagged


def _finish(unioned: DataFrame, key, left_data, right_data, left_out, right_out,
            valid: Column, left_marker: int = 1) -> DataFrame:
    matched = F.col(_RROW)
    out_cols = [F.col(TIME_COLUMN)] + [F.col(k) for k in key]
    out_cols += [F.col(c).alias(left_out[c]) for c in left_data]
    out_cols += [F.when(valid, matched[c]).alias(right_out[c]) for c in right_data]
    return unioned.filter(F.col(_SRC) == left_marker).select(*out_cols)


def left_join(left: DataFrame, right: DataFrame, tolerance: str | int = 0,
              key: Sequence[str] = (), left_alias: str | None = None,
              right_alias: str | None = None,
              distributed: bool | None = None,
              hot_key_guard: float | None = None,
              bucket: str = "7d") -> DataFrame:
    """As-of backward join: most recent right row with time in
    [t - tolerance, t] (inclusive both ends), per key.

    KEYLESS calls auto-route through :func:`asof_keyless_bucketed`
    when the combined Catalyst size estimate exceeds the single-task
    budget (``distributed=None``; force with True/False) — an empty
    key means the union-window engine would sort BOTH tables in one
    task. ``hot_key_guard=f`` additionally runs one count-by-key probe
    on the left and takes the bucketed route with the composite
    (bucket, key) when a single key holds more than fraction ``f`` of
    the rows — the skew shape where per-key ordering degenerates to
    the keyless case. The probe is opt-in because it costs a scan
    (memoized per input plan, so repeated joins on one frame pay once).
    Both routes are output-identical (property-pinned), differing only
    in plan shape; for a small static right side without a shuffle of
    the left, call :func:`left_join_broadcast`."""
    key = list(key)
    # distributed=False pins the single-window plan unconditionally —
    # it must also suppress the hot-key probe job, not just the route
    if key and hot_key_guard is not None and distributed is not False \
            and _route.hot_key_fraction(left, key) > hot_key_guard:
        return asof_keyless_bucketed(
            left, right, tolerance, bucket=bucket, key=key,
            left_alias=left_alias, right_alias=right_alias)
    if not key and _route.keyless_distributed(
            lambda: (_route.estimated_bytes(left)
                     + _route.estimated_bytes(right)), distributed):
        return asof_keyless_bucketed(
            left, right, tolerance, bucket=bucket,
            left_alias=left_alias, right_alias=right_alias)
    tol = parse_duration_ns(tolerance)
    key, left_data, right_data, left_out, right_out, l, r = _prepare(
        left, right, key, left_alias, right_alias)
    # right rows sort before left rows at equal time so they are visible
    # in the unbounded-preceding frame (equal timestamps match). The
    # right-row struct itself is the final sort key: duplicate
    # (key, time) right rows then resolve deterministically (max struct
    # wins) regardless of physical layout - the reference's last-seen is
    # stream-order-dependent, which a shuffled engine cannot reproduce.
    l = l.withColumn(_SRC, F.lit(1))
    r = r.withColumn(_SRC, F.lit(0))
    u = l.unionByName(r)
    w = (Window.partitionBy(*key).orderBy(_TNS, _SRC, F.col(_RROW))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn(_RROW, F.last(_RROW, ignorenulls=True).over(w))
    valid = F.col(_RROW)["__rtime"] >= F.col(_TNS) - F.lit(tol)
    return _finish(u, key, left_data, right_data, left_out, right_out, valid)


def future_left_join(left: DataFrame, right: DataFrame, tolerance: str | int = 0,
                     key: Sequence[str] = (), left_alias: str | None = None,
                     right_alias: str | None = None,
                     strict_lookahead: bool = False) -> DataFrame:
    """As-of forward join: closest future right row in [t, t + tolerance]
    (or (t, t + tolerance] when strict): the union-window plan with a
    time-descending frame."""
    tol = parse_duration_ns(tolerance)
    key, left_data, right_data, left_out, right_out, l, r = _prepare(
        left, right, key, left_alias, right_alias)
    # The frame runs over time-DESCENDING order so the "nearest future
    # right" is the last non-null seen in an unbounded-PRECEDING frame,
    # which WindowExec maintains incrementally (O(n)). The forward-frame
    # formulation ([currentRow, unboundedFollowing] + first) uses
    # Spark's UnboundedFollowingWindowFunctionFrame, which re-aggregates
    # the suffix for every row — O(n^2) per key, a scale-killer.
    if strict_lookahead:
        # in desc order, rights at equal time sort AFTER the left row ->
        # outside its preceding frame -> only strictly-future rights.
        l = l.withColumn(_SRC, F.lit(0))
        r = r.withColumn(_SRC, F.lit(1))
    else:
        # rights first at equal time -> equal timestamps match.
        l = l.withColumn(_SRC, F.lit(1))
        r = r.withColumn(_SRC, F.lit(0))
    u = l.unionByName(r)
    # struct tie-break: duplicate (key, time) right rows resolve
    # deterministically to the MAX struct — the same rule as the
    # backward join, so a dedup-by-max pre-aggregation on the right side
    # is redundant in either direction (and its shuffle can be dropped).
    # (asc struct + last(): among equal-(time) rights the max struct is
    # visited last and wins.)
    w = (Window.partitionBy(*key).orderBy(F.desc(_TNS), _SRC, F.col(_RROW))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn(_RROW, F.last(_RROW, ignorenulls=True).over(w))
    valid = F.col(_RROW)["__rtime"] <= F.col(_TNS) + F.lit(tol)
    return _finish(u, key, left_data, right_data, left_out, right_out,
                   valid, left_marker=0 if strict_lookahead else 1)


def left_join_broadcast(left: DataFrame, right: DataFrame,
                        tolerance: str | int = 0, key: Sequence[str] = (),
                        direction: str = "backward",
                        strict_lookahead: bool = False,
                        time_column: str = TIME_COLUMN,
                        right_time_column: str | None = None) -> DataFrame:
    """As-of join against a SMALL right side with ZERO shuffle of the
    left (a dim/reference table — rates, calendars, metadata): the
    as-of analogue of a broadcast hash join. The union-window plan
    (:func:`left_join`) costs one exchange of the BIG side; here the
    right side is collected once, broadcast, and probed map-side by
    one Arrow stage (``streaming.ts_stream._broadcast_asof``, the
    engine of ``asof_join_static`` too, so the same call works on a
    streaming left).

    The right side is a SNAPSHOT taken when the plan is built (as in
    :func:`left_join_topk_broadcast`): later changes to its source are
    not seen by this result. Semantics (tolerance bounds inclusive,
    equal-timestamp matching, max-struct duplicate rule, forward and
    strict variants, null keys matching null keys) equal the window
    plan's; the route-identity property test pins them."""
    from ..streaming.ts_stream import _broadcast_asof

    return _broadcast_asof(
        left, right, tolerance, key, time_column,
        right_time_column if right_time_column is not None
        else time_column, direction, strict_lookahead)


def nearest_join(left: DataFrame, right: DataFrame,
                 tolerance: str | int = 0, key: Sequence[str] = (),
                 left_alias: str | None = None,
                 right_alias: str | None = None) -> DataFrame:
    """As-of NEAREST join (pandas ``merge_asof(direction='nearest')``):
    for each left row at t, the right row minimizing |right.time - t|
    within [t - tolerance, t + tolerance], per key; distance ties (and
    equal timestamps, distance 0) resolve to the BACKWARD candidate —
    pandas' prior-row tie rule. Beyond the reference, which only ships
    backward/forward (``LeftJoin.scala`` / ``FutureLeftJoin.scala``).

    Single-pass plan: one union, ONE data exchange, two window
    directions over the same partitioning (the ``symmetric_join``
    trick) — each direction needs its own equal-time sort position, so
    Catalyst plans two sorts but shuffles the data once. Duplicate
    (key, time) rights resolve by the engine's max-struct rule in both
    directions."""
    tol = parse_duration_ns(tolerance)
    key, left_data, right_data, left_out, right_out, l, r = _prepare(
        left, right, key, left_alias, right_alias)
    # rights sort before lefts at equal time under BOTH orderings
    # (asc and desc agree on the secondary _SRC key), so an
    # equal-timestamp right is visible to each direction's frame
    l = l.withColumn(_SRC, F.lit(1))
    r = r.withColumn(_SRC, F.lit(0))
    u = l.unionByName(r)
    wb = (Window.partitionBy(*key).orderBy(_TNS, _SRC, F.col(_RROW))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy(*key).orderBy(F.desc(_TNS), _SRC, F.col(_RROW))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = (u.withColumn("__b", F.last(_RROW, ignorenulls=True).over(wb))
         .withColumn("__f", F.last(_RROW, ignorenulls=True).over(wf)))
    t = F.col(_TNS)
    b, fwd = F.col("__b"), F.col("__f")
    b_ok = F.coalesce(b["__rtime"] >= t - F.lit(tol), F.lit(False))
    f_ok = F.coalesce(fwd["__rtime"] <= t + F.lit(tol), F.lit(False))
    use_b = b_ok & (~f_ok | ((t - b["__rtime"]) <= (fwd["__rtime"] - t)))
    chosen = F.when(use_b, b).when(f_ok, fwd)
    out_cols = [F.col(TIME_COLUMN)] + [F.col(k) for k in key]
    out_cols += [F.col(c).alias(left_out[c]) for c in left_data]
    out_cols += [chosen[c].alias(right_out[c]) for c in right_data]
    return u.filter(F.col(_SRC) == 1).select(*out_cols)


def symmetric_join(left: DataFrame, right: DataFrame,
                   tolerance: str | int = 0, key: Sequence[str] = (),
                   left_alias: str = "left",
                   right_alias: str = "right") -> DataFrame:
    """Full-outer as-of join (reference internal ``SymmetricJoin.scala``):
    one output row per input row from BOTH sides, each carrying the most
    recent counterpart within tolerance. Columns are alias-prefixed on
    both sides plus a ``side`` marker.

    Single-pass plan: ONE union + ONE exchange, with two window
    functions over the same partitioning (each direction needs its own
    equal-time sort position, so Catalyst plans two sorts — but the
    full-data shuffle happens once, not twice as the naive
    two-left-join composition would)."""
    tol = parse_duration_ns(tolerance)
    key = list(key)
    left_data = [c for c in left.columns if c != TIME_COLUMN and c not in key]
    right_data = [c for c in right.columns if c != TIME_COLUMN and c not in key]
    left_out = _output_names(left_data, left_alias)
    right_out = _output_names(right_data, right_alias)
    # same conflict validation as _prepare enforces for the other joins,
    # with 'side' reserved for the output marker: colliding aliases
    # (left_alias == right_alias with shared names), aliased names
    # shadowing key/time, or a data column landing on 'side' would
    # otherwise silently produce duplicate/ambiguous output columns
    reserved = set(key) | {TIME_COLUMN, "side"}
    conflicts = ((set(left_out.values()) & set(right_out.values()))
                 | (set(left_out.values()) & reserved)
                 | (set(right_out.values()) & reserved))
    if conflicts:
        raise ValueError(f"conflicting output columns {sorted(conflicts)}; "
                         "use distinct left_alias/right_alias")
    if left.schema[TIME_COLUMN].dataType != right.schema[TIME_COLUMN].dataType:
        # one output time column needs one dtype: canonicalize the right
        # side's time to the left's (exact ns round-trip)
        from ..timeseries import ns_to_time_expr
        ldt = left.schema[TIME_COLUMN].dataType.simpleString()
        right = right.withColumn(
            TIME_COLUMN, ns_to_time_expr(time_ns_expr(right), ldt))

    lstruct = F.struct(time_ns_expr(left).alias("__time"),
                       *[F.col(c) for c in left_data])
    rstruct = F.struct(time_ns_expr(right).alias("__time"),
                       *[F.col(c) for c in right_data])
    l_pre = left.select(time_ns_expr(left).alias(_TNS), F.col(TIME_COLUMN),
                        *key, lstruct.alias("__lrow"))
    r_pre = right.select(time_ns_expr(right).alias(_TNS), F.col(TIME_COLUMN),
                         *key, rstruct.alias("__rrow"))
    lrow_t = l_pre.schema["__lrow"].dataType
    rrow_t = r_pre.schema["__rrow"].dataType
    l_tagged = l_pre.select(
        _TNS, TIME_COLUMN, *key, "__lrow",
        F.lit(None).cast(rrow_t).alias("__rrow"), F.lit(0).alias(_SRC))
    r_tagged = r_pre.select(
        _TNS, TIME_COLUMN, *key,
        F.lit(None).cast(lrow_t).alias("__lrow"), "__rrow",
        F.lit(1).alias(_SRC))
    u = l_tagged.unionByName(r_tagged)
    # direction L<-R: rights must be visible to lefts at equal time ->
    # rights (src=1) sort FIRST via desc(src); max-struct wins at dup
    w_r = (Window.partitionBy(*key)
           .orderBy(_TNS, F.desc(_SRC), F.col("__rrow"))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # direction R<-L: lefts (src=0) sort first naturally
    w_l = (Window.partitionBy(*key)
           .orderBy(_TNS, F.col(_SRC), F.col("__lrow"))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = (u.withColumn("__mr", F.last("__rrow", ignorenulls=True).over(w_r))
          .withColumn("__ml", F.last("__lrow", ignorenulls=True).over(w_l)))
    valid_r = F.col("__mr")["__time"] >= F.col(_TNS) - F.lit(tol)
    valid_l = F.col("__ml")["__time"] >= F.col(_TNS) - F.lit(tol)
    is_left = F.col(_SRC) == 0
    out_cols = [F.col(TIME_COLUMN)] + [F.col(k) for k in key]
    out_cols += [
        F.when(is_left, F.col("__lrow")[c])
         .otherwise(F.when(valid_l, F.col("__ml")[c]))
         .alias(left_out[c]) for c in left_data]
    out_cols += [
        F.when(~is_left, F.col("__rrow")[c])
         .otherwise(F.when(valid_r, F.col("__mr")[c]))
         .alias(right_out[c]) for c in right_data]
    out_cols.append(F.when(is_left, F.lit("left"))
                    .otherwise(F.lit("right")).alias("side"))
    return u.select(*out_cols)


def merge(left: DataFrame, right: DataFrame,
          origin_column: str | None = None) -> DataFrame:
    """Ordered union of same-schema tables; ties ordered left-first
    (reference ``rdd/function/join/Merge.scala:27-77``: MergeIterator
    emits the left iterator's rows first at equal keys).

    Ordering is logical — downstream operators re-establish physical
    order lazily, by the engine's row order (``timeseries.row_order``:
    time, tie columns, values), which knows nothing of which side a row
    came from. ``origin_column`` is the one way to observe the
    left-first tie rule: when given, an explicit 0 (left) / 1 (right)
    marker is attached; pass it as a consumer's ``tie_break`` to order
    left rows first at equal timestamps.
    """
    if set(left.columns) != set(right.columns):
        raise ValueError("merge requires identical schemas")
    if origin_column is None:
        return left.unionByName(right)
    return (left.withColumn(origin_column, F.lit(0))
            .unionByName(right.withColumn(origin_column, F.lit(1))))


def asof_keyless_bucketed(left: DataFrame, right: DataFrame,
                          tolerance: str | int, bucket: str = "7d",
                          key: Sequence[str] = (),
                          **kwargs) -> DataFrame:
    """Scale path for keyless OR hot-key as-of joins: assign both sides
    to coarse time buckets, replicate right rows into the *next* bucket
    so matches can cross the boundary (requires bucket >= tolerance,
    hence a bounded tolerance), then run the keyed join with
    (bucket, *key) as the composite key. The window shuffle becomes
    parallel in time — the mitigation when one key holds an entire
    table's rows (keyless series are the extreme case) and per-key
    ordering would otherwise funnel through one task.

    DEGENERACY GUARD (r6 advice): the bucket width clamps UP to the
    tolerance, so a tolerance near the data span would put every row
    in bucket 0 — one task PLUS a doubled right side, strictly worse
    than the single-window plan it replaces. A cheap memoized min/max
    probe of the left's time range falls back to the plain join when
    fewer than ``_route.MIN_BUCKETS`` buckets would result."""
    tol = parse_duration_ns(tolerance)
    bucket_ns = parse_duration_ns(bucket)
    if bucket_ns < tol:
        bucket_ns = tol
    key = list(key)
    if _route.time_buckets(left, bucket_ns) is None:
        import warnings
        warnings.warn(
            "asof_keyless_bucketed: bucket width covers the whole time "
            "range — falling back to the single-window plan (tolerance "
            "close to the data span cannot be time-parallelized)",
            stacklevel=2)
        return left_join(left, right, tolerance, key=key,
                         distributed=False, **kwargs)
    left_b = left.withColumn("__bucket", floor_div(time_ns_expr(left), bucket_ns))
    right_b = right.withColumn("__bucket", floor_div(time_ns_expr(right), bucket_ns))
    # replicate right rows into the following bucket (boundary lookback)
    right_rep = right_b.unionByName(right_b.withColumn("__bucket", F.col("__bucket") + 1))
    # distributed=False pins the keyed union-window engine — THIS plan
    # is the bucketed route; re-routing inside would defeat its pins
    joined = left_join(left_b, right_rep, tolerance, key=["__bucket"] + key,
                       distributed=False, **kwargs)
    return joined.drop("__bucket")


def left_join_topk(left: DataFrame, right: DataFrame, k: int,
                   tolerance: str | int = 0,
                   key: Sequence[str] = ()) -> DataFrame:
    """Last-k as-of join: for each left row at t, the K MOST RECENT
    right rows in [t - tolerance, t] per key, attached as arrays
    (``<col>_lastk``, most-recent-first) plus an ``n_matched`` count —
    "give me the last 3 ticks before each event". Beyond the
    reference, whose as-of family stops at the single nearest row
    per direction (``LeftJoin.scala``/``FutureLeftJoin.scala``).

    Candidate order extends the engine's as-of tie rule: rights sort
    by the engine's row order (time, values; ``timeseries.row_order``),
    and the array is that order's tail reversed — so at equal
    timestamps the max-struct row ranks first, matching what
    ``left_join`` would have picked as THE match.
    Cardinality-preserving (unmatched rows keep empty arrays), unlike
    an interval join that multiplies rows.

    Plan: a tagged two-side union riding the complete-group Arrow
    batch engine (``functions._grouped_map``) — ONE hash
    repartition of the union + a within-partition key sort + a single
    ``mapInPandas`` carrying MANY key groups per Arrow batch. The
    first cut of this operator cogrouped per key, which pays the
    JVM<->Arrow round-trip PER KEY twice (two frames); at 1.5k keys /
    250k rows a NO-OP cogroup alone measured 14s where this engine's
    whole join runs in ~1s (``git show 3936ed2:docs/BENCH_NOTES.md``).
    Per-row window
    bounds come from two vectorized searchsorteds, the k-tail gather
    is a (n, k) index matrix — no per-row Python loop over
    candidates. For a small static right side use
    :func:`left_join_topk_broadcast`."""
    import numpy as np
    import pandas as pd

    from ..functions import _grouped_map
    from ..streaming.ts_stream import _lastk_plan

    key = list(key)
    if not key:
        raise ValueError("left_join_topk needs a join key")
    tol = parse_duration_ns(tolerance) if tolerance else 0
    rdata, out_names, out_schema = _lastk_plan(
        left.columns, left.schema.fields, right, key, TIME_COLUMN, k)
    in_cols = list(left.columns)
    lpay = [c for c in left.columns if c not in key]
    pref = {c: f"__r_{i}" for i, c in enumerate(rdata)}

    def _filler(dtype):
        # integral/boolean nulls would flip the Arrow->pandas dtype to
        # float64/object for the WHOLE column, silently corrupting
        # int64 values above 2**53 on the side that actually carries
        # them — fill the unused side with typed zeros instead (their
        # values are never read; floats/strings/timestamps keep their
        # dtype under nulls and stay None)
        name = dtype.simpleString()
        if name in ("tinyint", "smallint", "int", "bigint"):
            return F.lit(0).cast(dtype)
        if name == "boolean":
            return F.lit(False)
        return F.lit(None).cast(dtype)

    ltypes = {f.name: f.dataType for f in left.schema.fields}
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    l_ns = left.withColumn(_TNS, time_ns_expr(left))
    u_l = l_ns.select(
        *key, F.lit(1).alias("__side"), F.col(_TNS),
        *lpay, F.lit(0).cast("long").alias("__rtns"),
        *[_filler(rtypes[c]).alias(pref[c]) for c in rdata])
    u_r = right.select(
        *key, F.lit(0).alias("__side"),
        F.lit(0).cast("long").alias(_TNS),
        *[_filler(ltypes[c]).alias(c) for c in lpay],
        time_ns_expr(right).alias("__rtns"),
        *[F.col(c).alias(pref[c]) for c in rdata])
    union = u_l.unionByName(u_r)

    def last_k(head: pd.DataFrame, segs: list) -> pd.DataFrame | None:
        # Vectorized ACROSS key groups (r11): ONE left/right split per
        # head — the engine's sort already put each group's right rows
        # in row order — and a per-group loop of two numpy
        # searchsorteds over array views (a pandas sub-frame per group
        # cost ~2 ms each, ~3 s at 1.5k keys).
        side = head["__side"].to_numpy()
        lmask = side == 1
        if not lmask.any():
            return None
        ngroups = len(segs) - 1
        marker = np.zeros(len(head), dtype=np.int64)
        marker[segs[:-1]] = 1
        gid = np.cumsum(marker) - 1
        out = head.loc[lmask, in_cols].reset_index(drop=True)
        t = head.loc[lmask, _TNS].to_numpy(np.int64)
        n = len(t)
        rsrt = head.loc[~lmask]
        if len(rsrt) == 0:
            for c in rdata:
                # dtype=object even when n == 0: an empty default
                # assignment makes a float64 column, which Arrow
                # refuses to cast to list<...>
                out[out_names[c]] = pd.Series(
                    [[] for _ in range(n)], index=out.index,
                    dtype=object)
            out["n_matched"] = np.zeros(n, dtype=np.int32)
            return out
        rt_all = rsrt["__rtns"].to_numpy(np.int64)
        rg = gid[~lmask]
        grange = np.arange(ngroups)
        rstart = np.searchsorted(rg, grange, side="left")
        rend = np.searchsorted(rg, grange, side="right")
        lgid = gid[lmask]
        lstart = np.searchsorted(lgid, grange, side="left")
        lend = np.searchsorted(lgid, grange, side="right")
        lo = np.empty(n, dtype=np.int64)
        hi = np.empty(n, dtype=np.int64)
        for g in range(ngroups):
            ls, le = lstart[g], lend[g]
            if ls == le:
                continue
            rt = rt_all[rstart[g]:rend[g]]
            tg = t[ls:le]
            lo[ls:le] = rstart[g] + np.searchsorted(
                rt, tg - tol, side="left")
            hi[ls:le] = rstart[g] + np.searchsorted(
                rt, tg, side="right")
        # (n, k) gather in GLOBAL right coordinates: row i takes
        # rt-indices hi-1, hi-2, ..., masked below its group's lo
        # — the k-tail of the candidate run, reversed (the contract
        # of the broadcast twin, ``ts_stream._broadcast_asof``)
        idx = hi[:, None] - 1 - np.arange(k)[None, :]
        mask = idx >= lo[:, None]
        idx = np.clip(idx, 0, len(rt_all) - 1)
        for c in rdata:
            rv = rsrt[pref[c]].to_numpy()
            picked = rv[idx]
            out[out_names[c]] = pd.Series(
                [picked[i][mask[i]].tolist() for i in range(n)],
                index=out.index, dtype=object)
        out["n_matched"] = mask.sum(axis=1).astype(np.int32)
        return out

    return _grouped_map(union, key, "__rtns", last_k, out_schema,
                        values=list(pref.values()))


def left_join_topk_broadcast(left: DataFrame, right: DataFrame, k: int,
                             tolerance: str | int = 0,
                             key: Sequence[str] = ()) -> DataFrame:
    """:func:`left_join_topk` against a SMALL right side with ZERO
    shuffle of the left: the broadcast right table and a vectorized
    k-tail gather map-side — the last-k analogue of
    :func:`left_join_broadcast`, whose engine and plan-time snapshot
    of the right side it shares (``streaming.ts_stream.
    topk_join_static`` is the same call); parity with
    :func:`left_join_topk` is test-pinned."""
    from ..streaming.ts_stream import topk_join_static

    return topk_join_static(left, right, k, tolerance, key)
