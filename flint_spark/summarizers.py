"""Summarizer registry — aggregation factories compiling to Column expressions.

The reference implements each summarizer as a stateful commutative-monoid
aggregator (zero/add/merge/render, reference
``rdd/function/summarize/summarizer/Summarizer.scala:25-73``) with a
registry in ``timeseries/Summarizers.scala`` (755 LoC). Spark's hash
aggregation *is* that monoid, so here every summarizer compiles to one or
more aliased ``Column`` aggregate expressions — JVM-side, codegen'd,
partial+final (tree) aggregation for free. Only the order-dependent EMA
family and OLS need pandas (see ``operators/ema.py``,
``operators/regression.py``).

Builders have signature ``(df, mask, over) -> Column``:
- ``mask`` is applied to every input column (``where`` support; Spark
  aggregates skip nulls, same effect as the reference's
  PredicateSummarizerFactory, ``timeseries/summarize/Summarizer.scala:104-144``);
- ``over`` is applied to every *aggregate function call* — identity for
  ``groupBy().agg()`` use, ``.over(window)`` for per-row window /
  cumulative use. This is what lets one compound summarizer (e.g.
  z-score = (last-mean)/stddev) compile to either a hash aggregate or a
  set of window functions sharing one WindowExec.

Output naming matches the reference (``<col>_sum``, ``<x>_<y>_covariance``,
...). ``compose`` concatenates summarizers, ``prefix`` prefixes output
names, ``where`` masks inputs.
"""

from __future__ import annotations

import functools
import math
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Mask = Callable[[Column], Column]
Over = Callable[[Column], Column]
Builder = Callable[[DataFrame, Mask, Over], Column]
_IDENT: Mask = lambda c: c


class Summarizer:
    """A named list of aggregate-expression builders.

    ``state_items`` (optional) are the raw sufficient-statistic
    accumulators behind the rendered outputs — the analogue of the
    reference's summarizer state (zero/add/merge before render). For
    summarizers without an explicit state list, the rendered outputs
    stand in (Catalyst's internal aggregation buffer is not exposable).

    ``cum_items``/``cum_render`` (optional) make the summarizer
    DISTRIBUTABLE as a keyless running aggregate (the reference's
    ``addSummaryColumns`` partial-state contract,
    ``Summarizations.scala:51-122``): ``cum_items`` is a list of
    ``(name, builder, merge_kind)`` state accumulators where each
    merge kind is a commutative-monoid combine understood by
    ``operators.prefix.keyless_cumulative``, and
    ``cum_render(df, state)`` maps the merged cumulative state columns
    back to output columns, aligned with ``self.names``. Summarizers
    without a cum spec (exact quantiles — value buffers don't merge)
    fall back to the single-partition window.
    """

    def __init__(self, items: Sequence[tuple[str, Builder]], prefix: str = "",
                 mask: Mask = _IDENT,
                 state_items: Sequence[tuple[str, Builder]] | None = None,
                 cum_items=None, cum_render=None):
        self._items = list(items)
        self._prefix = prefix
        self._mask = mask
        self._state_items = list(state_items) if state_items is not None else None
        self._cum_items = list(cum_items) if cum_items is not None else None
        self._cum_render = cum_render

    @property
    def has_cum(self) -> bool:
        """True when the summarizer can run as a DISTRIBUTED keyless
        running aggregate (mergeable partial state + render)."""
        return self._cum_items is not None and self._cum_render is not None

    def exprs(self, df: DataFrame) -> list[Column]:
        """Aliased Columns for ``groupBy().agg(...)``."""
        return [fn(df, self._mask, _IDENT).alias(self._prefix + name)
                for name, fn in self._items]

    @property
    def _effective_state(self) -> list[tuple[str, Builder]]:
        return self._state_items if self._state_items is not None else self._items

    def state_exprs(self, df: DataFrame) -> list[Column]:
        """Aliased Columns for the raw accumulator state, deduplicated by
        name (compose(mean, variance) shares count/sum)."""
        seen: set[str] = set()
        out = []
        for name, fn in self._effective_state:
            full = self._prefix + name
            if full in seen:
                continue
            seen.add(full)
            out.append(fn(df, self._mask, _IDENT).alias(full))
        return out

    def over_exprs(self, df: DataFrame, window) -> list[tuple[str, Column]]:
        """(name, Column) pairs with every aggregate evaluated over ``window``."""
        over: Over = lambda c: c.over(window)
        return [(self._prefix + name, fn(df, self._mask, over))
                for name, fn in self._items]

    @property
    def names(self) -> list[str]:
        return [self._prefix + name for name, _ in self._items]

    def prefix(self, p: str) -> "Summarizer":
        return Summarizer(self._items, prefix=f"{p}_{self._prefix}" if self._prefix
                          else f"{p}_", mask=self._mask,
                          state_items=self._state_items,
                          cum_items=self._cum_items,
                          cum_render=self._cum_render)

    def where(self, predicate: Column) -> "Summarizer":
        outer = self._mask
        return Summarizer(self._items, self._prefix,
                          mask=lambda c: F.when(predicate, outer(c)),
                          state_items=self._state_items,
                          cum_items=self._cum_items,
                          cum_render=self._cum_render)


def _combine_cum(summarizers: Sequence[Summarizer]):
    """Concatenate members' cum specs under per-member tags (masks and
    prefixes stay baked into each member's accumulators; tags keep two
    members over the same column from colliding). An unmasked member's
    builders pass through as the same objects, so an accumulator two
    members share is one builder and a window evaluates it once."""
    if not all(s.has_cum for s in summarizers):
        return None, None
    cum_items = []
    members = []
    for i, s in enumerate(summarizers):
        tag, msk = f"c{i}_", s._mask
        for name, fn, kind in s._cum_items:
            if msk is not _IDENT:
                fn = (lambda df, m, o, fn=fn, msk=msk:
                      fn(df, lambda c: m(msk(c)), o))
            cum_items.append((tag + name, fn, kind))
        members.append((tag, s))

    def cum_render(df, st):
        out: list[Column] = []
        for tag, s in members:
            out.extend(s._cum_render(
                df, {n: st[tag + n] for n, _, _ in s._cum_items}))
        return out

    return cum_items, cum_render


def compose(*summarizers: Summarizer) -> Summarizer:
    """Concatenate outputs (reference ``Summarizers.compose``,
    ``timeseries/Summarizers.scala:387-418``)."""
    items: list[tuple[str, Builder]] = []
    state: list[tuple[str, Builder]] = []
    for s in summarizers:
        for name, fn in s._items:
            pfx, msk = s._prefix, s._mask
            items.append((pfx + name,
                          (lambda df, m, o, fn=fn, msk=msk:
                           fn(df, lambda c: m(msk(c)), o))))
        for name, fn in s._effective_state:
            pfx, msk = s._prefix, s._mask
            state.append((pfx + name,
                          (lambda df, m, o, fn=fn, msk=msk:
                           fn(df, lambda c: m(msk(c)), o))))
    cum_items, cum_render = _combine_cum(summarizers)
    return Summarizer(items, state_items=state,
                      cum_items=cum_items, cum_render=cum_render)


def stack(*summarizers: Summarizer) -> Summarizer:
    """Same-schema summarizers -> one ``stack`` array-of-structs column
    (reference ``Summarizers.stack``, ``timeseries/Summarizers.scala:420-443``,
    ``StackSummarizerFactory.scala``)."""
    names0 = summarizers[0].names
    for s in summarizers[1:]:
        if s.names != names0:
            raise ValueError("stack requires identical output schemas")

    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        structs = []
        for s in summarizers:
            cols = [fn(df, lambda c: m(s._mask(c)), o).alias(s._prefix + n)
                    for n, fn in s._items]
            structs.append(F.struct(*cols))
        return F.array(*structs)

    return Summarizer([("stack", build)])


def _moment_state(column: str, order: int) -> list[tuple[str, Builder]]:
    """Raw accumulators (count, Σx, Σx², ...) up to the given moment
    order — the reference's NthMomentSummarizer state vector."""
    items: list[tuple[str, Builder]] = [
        (f"{column}_state_count",
         lambda df, m, o: o(F.count(m(F.col(column))))),
        (f"{column}_state_sum",
         lambda df, m, o: o(F.sum(m(F.col(column)))).cast("double")),
    ]
    if order >= 2:
        items.append((f"{column}_state_sumSq",
                      lambda df, m, o:
                      o(F.sum(m(F.col(column)) * m(F.col(column)))).cast("double")))
    return items


# ---- mergeable cumulative state (cum_items/cum_render) helpers --------
# Builders accumulate raw power sums (the reference's Kahan-backed
# moment state, ``math/Kahan.java`` — here plain doubles, the engine's
# documented tolerance policy); renders reproduce Spark's ANSI-off edge
# semantics exactly: double x/0 -> null, var_samp(n=1) -> null,
# corr/skewness of a constant -> null (probed, tests pin them).

# One builder object per accumulator: a windowed summarizer evaluates
# each distinct (builder, mask) once (``windows_ops.WindowAggs``), so
# compose(mean(x), stddev(x)) shares the count and sum of x.
@functools.cache
def _c_n(col: str) -> Builder:
    return lambda df, m, o: o(F.count(m(F.col(col))))


@functools.cache
def _c_s(col: str, p: int = 1) -> Builder:
    def b(df: DataFrame, m: Mask, o: Over) -> Column:
        x = m(F.col(col)).cast("double")
        e = x
        for _ in range(p - 1):
            e = e * x
        return o(F.sum(e))
    return b


def _var_from(n: Column, s: Column, q: Column) -> Column:
    nd = n.cast("double")
    return F.when(n > 1,
                  F.greatest(q - s * s / nd, F.lit(0.0)) / (nd - 1))


def _cum_sum(col: str):
    # raw-typed sum state (long stays exact); cast at render like the
    # rendered output. The count companion guards the RENDER: a
    # prefix-DIFFERENCE evaluation (windows_ops._summarizer_window_pairs)
    # yields s = 0 for an empty/all-null window where SQL SUM is NULL —
    # n carries the distinction through the subtraction exactly.
    items = [("n", _c_n(col), "sum"),
             ("s", lambda df, m, o: o(F.sum(m(F.col(col)))), "sum")]
    return items, lambda df, st: [
        F.when(st["n"] > 0, st["s"].cast("double"))]


def _cum_mean(col: str):
    items = [("n", _c_n(col), "sum"), ("s", _c_s(col), "sum")]
    return items, lambda df, st: [st["s"] / st["n"]]


def _nsq(col: str):
    return [("n", _c_n(col), "sum"), ("s", _c_s(col), "sum"),
            ("q", _c_s(col, 2), "sum")]


def _cum_variance(col: str):
    return _nsq(col), lambda df, st: [_var_from(st["n"], st["s"], st["q"])]


def _cum_stddev(col: str):
    return _nsq(col), lambda df, st: [
        F.sqrt(_var_from(st["n"], st["s"], st["q"]))]


def _cum_extreme(kind: str):
    agg = F.min if kind == "min" else F.max
    def spec(col: str):
        items = [("m", lambda df, m, o: o(agg(m(F.col(col)))), kind)]
        return items, lambda df, st: [st["m"]]
    return spec


def _cum_product(col: str):
    items = [("p", lambda df, m, o: o(F.product(m(F.col(col)))), "product")]
    return items, lambda df, st: [st["p"]]


def _central(st, upto: int):
    """Central sums M2..M4 from raw power sums (clamped M2 — plain
    doubles can dip an ulp negative where Welford stays at 0)."""
    nd = st["n"].cast("double")
    s1, s2 = st["s"], st["q"]
    m2 = F.greatest(s2 - s1 * s1 / nd, F.lit(0.0))
    out = {"nd": nd, "m2": m2}
    if upto >= 3:
        s3 = st["s3"]
        out["m3"] = (s3 - F.lit(3.0) * s1 * s2 / nd
                     + F.lit(2.0) * s1 * s1 * s1 / (nd * nd))
    if upto >= 4:
        s3, s4, s1p2 = st["s3"], st["s4"], s1 * s1
        out["m4"] = (s4 - F.lit(4.0) * s1 * s3 / nd
                     + F.lit(6.0) * s1p2 * s2 / (nd * nd)
                     - F.lit(3.0) * s1p2 * s1p2 / (nd * nd * nd))
    return out


def _cum_skewness(col: str):
    items = _nsq(col) + [("s3", _c_s(col, 3), "sum")]
    def render(df, st):
        c = _central(st, 3)
        return [F.sqrt(c["nd"]) * c["m3"] / (c["m2"] * F.sqrt(c["m2"]))]
    return items, render


def _cum_kurtosis(col: str):
    items = _nsq(col) + [("s3", _c_s(col, 3), "sum"),
                         ("s4", _c_s(col, 4), "sum")]
    def render(df, st):
        c = _central(st, 4)
        return [c["nd"] * c["m4"] / (c["m2"] * c["m2"]) - F.lit(3.0)]
    return items, render


def _simple(name_fmt: str, agg: Callable[[Column], Column],
            post: Callable[[Column], Column] = lambda c: c,
            state_order: int | None = None, cum_spec=None):
    def factory(column: str) -> Summarizer:
        ci, cr = cum_spec(column) if cum_spec is not None else (None, None)
        return Summarizer(
            [(name_fmt.format(col=column),
              lambda df, m, o: post(o(agg(m(F.col(column))))))],
            state_items=(_moment_state(column, state_order)
                         if state_order else None),
            cum_items=ci, cum_render=cr)
    return factory


# -- basic aggregates (reference Summarizers.scala:63-130,665-712) ------
def count(column: str | None = None) -> Summarizer:
    if column is None:
        b: Builder = lambda df, m, o: o(F.count(m(F.lit(1))))
        return Summarizer([("count", b)],
                          cum_items=[("n", b, "sum")],
                          cum_render=lambda df, st: [st["n"]])
    b2: Builder = lambda df, m, o: o(F.count(m(F.col(column))))
    return Summarizer([(f"{column}_count", b2)],
                      cum_items=[("n", b2, "sum")],
                      cum_render=lambda df, st: [st["n"]])


sum_ = _simple("{col}_sum", F.sum, lambda c: c.cast("double"), state_order=1,
               cum_spec=_cum_sum)
mean = _simple("{col}_mean", F.avg, state_order=1, cum_spec=_cum_mean)
stddev = _simple("{col}_stddev", F.stddev_samp, state_order=2,  # Bessel, ref :108-118
                 cum_spec=_cum_stddev)
variance = _simple("{col}_variance", F.var_samp, state_order=2,  # Bessel, ref :120-130
                   cum_spec=_cum_variance)
min_ = _simple("{col}_min", F.min, cum_spec=_cum_extreme("min"))
max_ = _simple("{col}_max", F.max, cum_spec=_cum_extreme("max"))
product = _simple("{col}_product", F.product, cum_spec=_cum_product)
skewness = _simple("{col}_skewness", F.skewness,    # population g1, ref :726-739
                   cum_spec=_cum_skewness)
kurtosis = _simple("{col}_kurtosis", F.kurtosis,    # excess, ref :741-754
                   cum_spec=_cum_kurtosis)


def geometric_mean(column: str) -> Summarizer:
    """Zero/sign-aware geometric mean (reference
    ``rdd/.../GeometricMeanSummarizer.scala``): any zero -> 0; sign is
    the parity of negative inputs."""
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        c = m(F.col(column))
        zeros = o(F.sum(F.when(c == 0, 1).otherwise(0)))
        negs = o(F.sum(F.when(c < 0, 1).otherwise(0)))
        mag = F.exp(o(F.avg(F.log(F.abs(c)))))
        sign = F.when(F.pmod(negs, F.lit(2)) == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
        return F.when(zeros > 0, F.lit(0.0)).otherwise(mag * sign)

    # F.log(0) is null in Spark, so the log-count/log-sum pair already
    # excludes zeros exactly like the rendered avg(log(abs)))
    def _lg(df, m, o):
        return o(F.sum(F.log(F.abs(m(F.col(column))))))

    def _nl(df, m, o):
        return o(F.count(F.log(F.abs(m(F.col(column))))))

    def _zeros(df, m, o):
        return o(F.sum(F.when(m(F.col(column)) == 0, 1).otherwise(0)))

    def _negs(df, m, o):
        return o(F.sum(F.when(m(F.col(column)) < 0, 1).otherwise(0)))

    def render(df, st):
        mag = F.exp(st["sl"] / st["nl"])
        sign = (F.when(F.pmod(st["negs"], F.lit(2)) == 1, F.lit(-1.0))
                .otherwise(F.lit(1.0)))
        return [F.when(st["zeros"] > 0, F.lit(0.0)).otherwise(mag * sign)]

    return Summarizer(
        [(f"{column}_geometricMean", build)],
        cum_items=[("zeros", _zeros, "sum"), ("negs", _negs, "sum"),
                   ("nl", _nl, "sum"), ("sl", _lg, "sum")],
        cum_render=render)


def dot_product(x: str, y: str) -> Summarizer:
    b: Builder = lambda df, m, o: o(F.sum(m(F.col(x)) * m(F.col(y))))
    # count companion guards the render for prefix-difference windows
    # (empty window: SUM is NULL, a difference of prefixes is 0)
    nb: Builder = lambda df, m, o: o(F.count(m(F.col(x)) * m(F.col(y))))
    return Summarizer([(f"{x}_{y}_dotProduct", b)],
                      cum_items=[("n", nb, "sum"), ("sxy", b, "sum")],
                      cum_render=lambda df, st: [
                          F.when(st["n"] > 0, st["sxy"])])


def _pair_sums(x: str, y: str) -> list[tuple[str, Builder, str]]:
    """Pairwise-masked moment sums (rows where EITHER side is null are
    skipped entirely — covar_pop/corr semantics)."""
    def both(m):
        bx, by = m(F.col(x)).cast("double"), m(F.col(y)).cast("double")
        return bx.isNotNull() & by.isNotNull(), bx, by

    def _n(df, m, o):
        ok, _, _ = both(m)
        return o(F.count(F.when(ok, 1)))

    def mk(which):
        def b(df, m, o):
            ok, bx, by = both(m)
            e = {"sx": bx, "sy": by, "sxx": bx * bx, "syy": by * by,
                 "sxy": bx * by}[which]
            return o(F.sum(F.when(ok, e)))
        return b

    return ([("n", _n, "sum")] +
            [(w, mk(w), "sum") for w in ("sx", "sy", "sxx", "syy", "sxy")])


def covariance(x: str, y: str) -> Summarizer:
    """Population covariance (reference ``CovarianceSummarizer.scala``)."""
    items = [it for it in _pair_sums(x, y) if it[0] in ("n", "sx", "sy", "sxy")]

    def render(df, st):
        nd = st["n"].cast("double")
        return [F.when(st["n"] > 0,
                       (st["sxy"] - st["sx"] * st["sy"] / nd) / nd)]

    return Summarizer([(f"{x}_{y}_covariance",
                        lambda df, m, o: o(F.covar_pop(m(F.col(x)), m(F.col(y)))))],
                      cum_items=items, cum_render=render)


def correlation(x, y=None) -> Summarizer:
    """Pearson r plus its t-statistic (reference
    ``subtractable/CorrelationSummarizer.scala``). Accepts the
    reference python call shapes (``python/ts/flint/summarizers.py:110``):
    ``correlation('x', 'y')`` for one pair, ``correlation([cols])`` for
    all pairs (= :func:`correlation_matrix`), and
    ``correlation([xCols], [yCols])`` for the two-list cross form
    (= :func:`correlation_cross`)."""
    if isinstance(x, (list, tuple)):
        if y is None:
            return correlation_matrix(*x)
        return correlation_cross(
            list(x), list(y) if isinstance(y, (list, tuple)) else [y])
    if y is None:
        raise TypeError("correlation needs a second column "
                        "(or pass a list of columns for the matrix form)")

    def tstat(df: DataFrame, m: Mask, o: Over) -> Column:
        cx, cy = m(F.col(x)), m(F.col(y))
        r = o(F.corr(cx, cy))
        n = o(F.count(F.when(cx.isNotNull() & cy.isNotNull(), 1)))
        return r * F.sqrt((n - 2) / (1 - r * r))

    def _r(st):
        nd = st["n"].cast("double")
        num = st["sxy"] - st["sx"] * st["sy"] / nd
        vx = F.greatest(st["sxx"] - st["sx"] * st["sx"] / nd, F.lit(0.0))
        vy = F.greatest(st["syy"] - st["sy"] * st["sy"] / nd, F.lit(0.0))
        return num / F.sqrt(vx * vy)   # 0 denominator -> null, like corr

    def render(df, st):
        r = _r(st)
        return [r, r * F.sqrt((st["n"] - 2) / (1 - r * r))]

    return Summarizer([
        (f"{x}_{y}_correlation",
         lambda df, m, o: o(F.corr(m(F.col(x)), m(F.col(y))))),
        (f"{x}_{y}_correlationTStat", tstat),
    ], cum_items=_pair_sums(x, y), cum_render=render)


def correlation_matrix(*columns: str) -> Summarizer:
    """All-pairs Pearson correlation (reference ``correlation(cols*)``
    form, ``Summarizers.scala:211-261``): one output pair per unordered
    column pair."""
    pairs = [(x, y) for i, x in enumerate(columns) for y in columns[i + 1:]]
    subs = [correlation(x, y) for x, y in pairs]
    items: list[tuple[str, Builder]] = []
    for s in subs:
        items.extend(s._items)
    cum_items, cum_render = _combine_cum(subs)
    return Summarizer(items, cum_items=cum_items, cum_render=cum_render)


def correlation_cross(x_columns: Sequence[str],
                      y_columns: Sequence[str]) -> Summarizer:
    """Two-list cross form (reference ``correlation(xCols, yCols)``,
    ``Summarizers.scala:226-261``; python ``summarizers.py:110``
    ``correlation(columns, other=)``): one (r, tStat) pair per
    ``x × y`` combination — a portfolio-vs-factors user correlating 50
    returns against 5 factors gets exactly 250 pairs, not the 1225 of
    the all-pairs matrix. Duplicate column pairs rejected like the
    reference (overlapping lists would emit colliding output names)."""
    xs, ys = list(x_columns), list(y_columns)
    if set(xs) & set(ys):
        raise ValueError(
            f"x and y column sets overlap: {sorted(set(xs) & set(ys))}")
    subs = [correlation(x, y) for x in xs for y in ys]
    items: list[tuple[str, Builder]] = []
    for s in subs:
        items.extend(s._items)
    cum_items, cum_render = _combine_cum(subs)
    return Summarizer(items, cum_items=cum_items, cum_render=cum_render)


def nth_moment(column: str, n: int) -> Summarizer:
    def _sp(df, m, o):
        return o(F.sum(F.pow(m(F.col(column)), F.lit(n))))

    return Summarizer(
        [(f"{column}_{n}thMoment",
          lambda df, m, o: o(F.avg(F.pow(m(F.col(column)), F.lit(n)))))],
        cum_items=[("n", _c_n(column), "sum"), ("sp", _sp, "sum")],
        cum_render=lambda df, st: [st["sp"] / st["n"]])


def nth_central_moment(column: str, n: int) -> Summarizer:
    """Central moment via binomial expansion of raw moments — single pass
    (reference ``subtractable/NthCentralMomentSummarizer.scala``)."""
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        c = m(F.col(column))
        mu = o(F.avg(c))
        total = F.lit(0.0)
        for k in range(n + 1):
            raw_k = o(F.avg(F.pow(c, F.lit(k)))) if k > 0 else F.lit(1.0)
            coef = math.comb(n, k) * ((-1) ** (n - k))
            total = total + F.lit(float(coef)) * raw_k * F.pow(mu, F.lit(n - k))
        return total

    def mk(k):
        return lambda df, m, o: o(F.sum(F.pow(m(F.col(column)), F.lit(k))))

    items = ([("n", _c_n(column), "sum")] +
             [(f"s{k}", mk(k), "sum") for k in range(1, n + 1)])

    def render(df, st):
        cnt = st["n"].cast("double")
        mu = st["s1"] / cnt
        total = F.lit(0.0)
        for k in range(n + 1):
            raw_k = (st[f"s{k}"] / cnt) if k > 0 else F.lit(1.0)
            coef = math.comb(n, k) * ((-1) ** (n - k))
            total = total + F.lit(float(coef)) * raw_k * F.pow(mu, F.lit(n - k))
        return [total]

    return Summarizer([(f"{column}_{n}thCentralMoment", build)],
                      cum_items=items, cum_render=render)


def z_score(column: str, in_sample: bool = True) -> Summarizer:
    """z-score of the most recent value (reference
    ``subtractable/ZScoreSummarizer.scala``). Out-of-sample excludes the
    last observation from mean/stddev, via raw-sum algebra."""
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        c = m(F.col(column))
        last = o(F.max_by(c, F.when(c.isNotNull(), F.col("time"))))
        if in_sample:
            return (last - o(F.avg(c))) / o(F.stddev_samp(c))
        n = o(F.count(c)).cast("double")
        s, q = o(F.sum(c)), o(F.sum(c * c))
        n1 = n - 1
        s1, q1 = s - last, q - last * last
        var1 = (q1 - s1 * s1 / n1) / (n1 - 1)
        return (last - s1 / n1) / F.sqrt(var1)

    def _last(df, m, o):
        c = m(F.col(column))
        return o(F.max_by(c, F.when(c.isNotNull(), F.col("time"))))

    def render(df, st):
        last = st["last"]
        if in_sample:
            return [(last - st["s"] / st["n"])
                    / F.sqrt(_var_from(st["n"], st["s"], st["q"]))]
        n = st["n"].cast("double")
        s, q = st["s"], st["q"]
        n1 = n - 1
        s1, q1 = s - last, q - last * last
        var1 = (q1 - s1 * s1 / n1) / (n1 - 1)
        return [(last - s1 / n1) / F.sqrt(var1)]

    return Summarizer([(f"{column}_zScore", build)],
                      cum_items=_nsq(column) + [("last", _last, "last")],
                      cum_render=render)


# -- weighted family (reference Summarizers.scala:74-95,145-166,263-280) --
def _wsums(o: Over, x: Column, y: Column | None, w: Column):
    sw = o(F.sum(w))
    sw2 = o(F.sum(w * w))
    swx = o(F.sum(w * x))
    swxx = o(F.sum(w * x * x))
    if y is None:
        return sw, sw2, swx, swxx, None, None, None
    swy = o(F.sum(w * y))
    swyy = o(F.sum(w * y * y))
    swxy = o(F.sum(w * x * y))
    return sw, sw2, swx, swxx, swy, swyy, swxy


def _wsum_items(x: str, weight: str,
                y: str | None = None) -> list[tuple[str, Builder, str]]:
    """Weighted power-sum accumulators matching ``_wsums`` expression
    for expression (null handling included: a null in any factor skips
    that row for that particular sum, exactly like the rendered form)."""
    def mk(which):
        def b(df, m, o):
            cx = m(F.col(x))
            cw = m(F.col(weight))
            cy = m(F.col(y)) if y is not None else None
            e = {"sw": cw, "sw2": cw * cw, "swx": cw * cx,
                 "swxx": cw * cx * cx}
            if cy is not None:
                e.update({"swy": cw * cy, "swyy": cw * cy * cy,
                          "swxy": cw * cx * cy})
            return o(F.sum(e[which]))
        return b
    names = ["sw", "sw2", "swx", "swxx"] + (
        ["swy", "swyy", "swxy"] if y is not None else [])
    return [(nm, mk(nm), "sum") for nm in names]


def weighted_covariance(x: str, y: str, weight: str) -> Summarizer:
    """Unbiased weighted covariance (reference
    ``rdd/.../WeightedCovarianceSummarizer.scala``):
    (Σwxy − ΣwxΣwy/Σw) / (Σw − Σw²/Σw)."""
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        cx, cy, cw = m(F.col(x)), m(F.col(y)), m(F.col(weight))
        sw, sw2, swx, _, swy, _, swxy = _wsums(o, cx, cy, cw)
        return (swxy - swx * swy / sw) / (sw - sw2 / sw)

    def render(df, st):
        return [(st["swxy"] - st["swx"] * st["swy"] / st["sw"])
                / (st["sw"] - st["sw2"] / st["sw"])]

    return Summarizer([(f"{x}_{y}_{weight}_weightedCovariance", build)],
                      cum_items=_wsum_items(x, weight, y), cum_render=render)


def weighted_correlation(x: str, y: str, weight: str) -> Summarizer:
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        cx, cy, cw = m(F.col(x)), m(F.col(y)), m(F.col(weight))
        sw, _, swx, swxx, swy, swyy, swxy = _wsums(o, cx, cy, cw)
        num = swxy - swx * swy / sw
        vx = swxx - swx * swx / sw
        vy = swyy - swy * swy / sw
        return num / F.sqrt(vx * vy)

    def render(df, st):
        num = st["swxy"] - st["swx"] * st["swy"] / st["sw"]
        vx = st["swxx"] - st["swx"] * st["swx"] / st["sw"]
        vy = st["swyy"] - st["swy"] * st["swy"] / st["sw"]
        return [num / F.sqrt(vx * vy)]

    return Summarizer([(f"{x}_{y}_{weight}_weightedCorrelation", build)],
                      cum_items=_wsum_items(x, weight, y), cum_render=render)


def weighted_mean_test(column: str, weight: str) -> Summarizer:
    """weightedMean / weightedStandardDeviation / weightedTStat /
    observationCount (reference ``subtractable/WeightedMeanTestSummarizer.scala``;
    the reference also ships this as a Spark UDAF —
    ``sql/function/aggregate/WeightedMeanTest.scala``)."""
    def parts(df: DataFrame, m: Mask, o: Over):
        cx, cw = m(F.col(column)), m(F.col(weight))
        sw, sw2, swx, swxx, *_ = _wsums(o, cx, None, cw)
        wmean = swx / sw
        wvar = (swxx - swx * swx / sw) / (sw - sw2 / sw)  # unbiased
        return cx, sw, sw2, wmean, wvar

    def render(df, st):
        wmean = st["swx"] / st["sw"]
        wvar = ((st["swxx"] - st["swx"] * st["swx"] / st["sw"])
                / (st["sw"] - st["sw2"] / st["sw"]))
        return [wmean, F.sqrt(wvar),
                wmean * st["sw"] / F.sqrt(wvar * st["sw2"]), st["n"]]

    return Summarizer([
        (f"{column}_{weight}_weightedMean",
         lambda df, m, o: parts(df, m, o)[3]),
        (f"{column}_{weight}_weightedStandardDeviation",
         lambda df, m, o: F.sqrt(parts(df, m, o)[4])),
        (f"{column}_{weight}_weightedTStat",
         lambda df, m, o: (lambda cx, sw, sw2, wmean, wvar:
                           wmean * sw / F.sqrt(wvar * sw2))(*parts(df, m, o))),
        (f"{column}_{weight}_observationCount",
         lambda df, m, o: o(F.count(m(F.col(column))))),
    ], cum_items=_wsum_items(column, weight) + [("n", _c_n(column), "sum")],
       cum_render=render)


def quantile(column: str, probabilities: Sequence[float]) -> Summarizer:
    """Exact quantiles with linear (R-7) interpolation, matching the
    reference's commons-math Percentile
    (``subtractable/QuantileSummarizer.scala``). Use ``approx_quantile``
    for the sketch-based 100TB path, or ``quantile_auto`` to pick by a
    measured group-size bound.

    Memory bound: ``F.percentile`` buffers EVERY group value in the
    aggregation operator — ~8 bytes x rows per (group, column), held on
    one executor at final aggregation. At 1e8 rows in one group that is
    ~800 MB: exact quantiles are only safe when the largest group is
    bounded; beyond that the sketch (``approx_quantile``, fixed ~KB per
    group at any scale, rank error <= 1/accuracy) is the right plan.

    Output name: ``<col>_<p>quantile`` with '.' replaced by '_'
    (reference uses e.g. ``price_0.25quantile``; dots in column names
    fight Spark's nested-field resolution at every turn)."""
    items = [
        (f"{column}_{str(p).replace('.', '_')}quantile",
         (lambda df, m, o, p=p: o(F.percentile(m(F.col(column)), F.lit(p)))))
        for p in probabilities
    ]
    return Summarizer(items)


def approx_quantile(column: str, probabilities: Sequence[float],
                    accuracy: int = 10000) -> Summarizer:
    """Scale path: mergeable quantile sketch across partitions."""
    items = [
        (f"{column}_{str(p).replace('.', '_')}quantile",
         (lambda df, m, o, p=p: o(F.percentile_approx(m(F.col(column)), F.lit(p),
                                                      F.lit(accuracy)))))
        for p in probabilities
    ]
    return Summarizer(items)


class EmaWindowSummarizer:
    """Marker summarizer for the EMA family inside ``summarize_windows``
    — mirrors the reference's ``summarizeWindows(window,
    Summarizers.ewma(...))`` call shape (its flagship left-subtractable
    case, ``doc/ema.md:120-121``). The EMA recurrence is
    order-dependent, not a frame aggregate, so ``summarize_windows``
    routes this marker to the closed-form O(n) implementations
    (``operators.ema.ewma_windowed`` / ``exponential_smoothing_windowed``)
    instead of rendering ``.over(frame)`` expressions."""

    def __init__(self, kind: str, column: str, **kwargs):
        assert kind in ("ewma", "exponential_smoothing")
        self.kind = kind
        self.column = column
        self.kwargs = kwargs


def ewma(column: str, alpha: float = 0.05, duration_per_period: str = "1d",
         convention: str = "legacy") -> EmaWindowSummarizer:
    """Reference ``Summarizers.ewma`` for use in ``summarize_windows``
    (for the running form call ``operators.ema.ewma`` directly)."""
    return EmaWindowSummarizer("ewma", column, alpha=alpha,
                               duration_per_period=duration_per_period,
                               convention=convention)


def exponential_smoothing(column: str, alpha: float = 0.05,
                          priming_periods: float = 0.0,
                          duration_per_period: str = "1d",
                          interpolation: str = "current",
                          convention: str = "core") -> EmaWindowSummarizer:
    """Reference ``Summarizers.exponentialSmoothing`` for
    ``summarize_windows`` (running form: ``operators.ema``)."""
    return EmaWindowSummarizer(
        "exponential_smoothing", column, alpha=alpha,
        priming_periods=priming_periods,
        duration_per_period=duration_per_period,
        interpolation=interpolation, convention=convention)


#: largest per-group row count for which exact quantiles are planned by
#: default (~32 MB of doubles buffered on the final aggregator)
EXACT_QUANTILE_MAX_ROWS = 4_000_000


def quantile_auto(column: str, probabilities: Sequence[float],
                  df=None, key: Sequence[str] = (),
                  max_exact_rows: int = EXACT_QUANTILE_MAX_ROWS,
                  accuracy: int = 10000) -> Summarizer:
    """Exact quantiles when the largest group is measured (or assumed)
    to fit the per-group buffer bound; the mergeable sketch otherwise.

    The switch must happen at PLANNING time — a ``CASE WHEN`` over both
    aggregates would still evaluate (and buffer) the exact branch. With
    ``df`` given, one cheap count-by-key probe measures the real largest
    group (column-pruned scan, same cost class as any pre-flight
    statistics pass); without it, the conservative choice is the sketch.
    """
    if df is not None:
        key = list(key)
        if key:
            largest = (df.groupBy(*key).agg(F.count(column).alias("__n"))
                       .agg(F.max("__n")).first()[0]) or 0
        else:
            largest = df.select(F.count(column)).first()[0] or 0
        if largest <= max_exact_rows:
            return quantile(column, probabilities)
    return approx_quantile(column, probabilities, accuracy)


def rows(column: str = "rows") -> Summarizer:
    """Collect member rows per group as a sorted array of structs
    (reference ``subtractable/RowsSummarizer.scala``; used by
    ``groupByCycle``/``addWindows``)."""
    def build(df: DataFrame, m: Mask, o: Over) -> Column:
        cols = [F.col(c) for c in df.columns if not c.startswith("__")]
        return F.sort_array(o(F.collect_list(F.struct(*cols))))

    def _collect(df, m, o):
        cols = [F.col(c) for c in df.columns if not c.startswith("__")]
        return o(F.collect_list(F.struct(*cols)))

    return Summarizer([(column, build)],
                      cum_items=[("rows", _collect, "concat")],
                      cum_render=lambda df, st: [F.sort_array(st["rows"])])


# ----------------------------------------------------------------------
# reference python-name aliases (python/ts/flint/summarizers.py exports
# max/min/sum — shadowing builtins, as the reference itself does —
# plus zscore / weighted_mean). The reference's ewma / ema_halflife /
# linear_regression summarizers are per-row scan operators here:
# operators.ema.ewma / ema_half_life and operators.regression.
# ols_regression (an exact single-pass aggregate form does not exist —
# the exponent needs the group's min time, and aggregates cannot nest).
# ----------------------------------------------------------------------

max = max_          # noqa: A001 - reference API shadows the builtin
min = min_          # noqa: A001
sum = sum_          # noqa: A001
zscore = z_score
weighted_mean = weighted_mean_test


def approx_count_distinct(column: str, rsd: float = 0.05) -> Summarizer:
    """HyperLogLog++ distinct-count sketch (the 100 TB path for
    cardinality: mergeable across partitions, O(1) state; the reference
    has no distinct-count summarizer at all). ``rsd`` = relative
    standard deviation. Not DuckDB-oracle-able (different sketch);
    pytest-gated against exact distinct counts."""
    return Summarizer([(f"{column}_approxCountDistinct",
                        lambda df, m, o:
                        o(F.approx_count_distinct(m(F.col(column)), rsd)))])


def histogram(column: str, bins: Sequence[float]) -> Summarizer:
    """Fixed-bin histogram as one aggregate expression per bin edge
    pair: counts of rows in [b_i, b_{i+1}) plus underflow/overflow.
    Pure codegen (a masked count per bin), single pass."""
    items: list[tuple[str, Builder]] = [
        (f"{column}_hist_under",
         lambda df, m, o: o(F.count(F.when(m(F.col(column)) < bins[0], 1)))),
    ]
    for i in range(len(bins) - 1):
        lo, hi = bins[i], bins[i + 1]
        items.append((
            f"{column}_hist_{i}",
            (lambda df, m, o, lo=lo, hi=hi:
             o(F.count(F.when((m(F.col(column)) >= lo)
                              & (m(F.col(column)) < hi), 1))))))
    items.append((f"{column}_hist_over",
                  lambda df, m, o:
                  o(F.count(F.when(m(F.col(column)) >= bins[-1], 1)))))
    # every output IS a mergeable count: cum state == items
    cum_items = [(f"b{i}", fn, "sum") for i, (_, fn) in enumerate(items)]
    return Summarizer(items, cum_items=cum_items,
                      cum_render=lambda df, st:
                      [st[f"b{i}"] for i in range(len(cum_items))])


class OlsSummarizerSpec:
    """Marker returned by :func:`linear_regression` (reference
    ``python/ts/flint/summarizers.py:337``): OLS is not a frame
    aggregate in this engine, so ``TimeSeriesDataFrame.summarize``
    routes this marker to the Gramian engine
    (``operators.regression.ols_regression`` — one hash aggregation +
    per-group numpy solve, same 15 output fields)."""

    def __init__(self, y, xs, weight=None, use_intercept=True,
                 ignore_constants=False):
        self.y = y
        self.xs = [xs] if isinstance(xs, str) else list(xs)
        self.weight = weight
        self.use_intercept = use_intercept
        self.ignore_constants = ignore_constants


def linear_regression(y_column, x_columns, weight_column=None, *,
                      use_intercept=True, ignore_constants=False):
    """Reference ``summarizers.linear_regression``
    (``python/ts/flint/summarizers.py:337``): returns a marker that
    ``summarize`` routes to the distributed Gramian OLS."""
    return OlsSummarizerSpec(y_column, x_columns, weight_column,
                             use_intercept, ignore_constants)


def ema_halflife(column: str, halflife_duration: str,
                 time_column: str = "time",
                 interpolation: str = "previous",
                 convention: str = "legacy"):
    """Reference ``summarizers.ema_halflife``
    (``python/ts/flint/summarizers.py:236``): EMA with alpha=0.5 and
    one period per half-life (``Summarizers.scala:623-663``), for use
    in ``summarize_windows`` — the running form is
    ``TimeSeriesDataFrame.ema_half_life``."""
    if convention == "legacy" and interpolation == "previous":
        return ewma(column, alpha=0.5,
                    duration_per_period=halflife_duration,
                    convention="legacy")
    return exponential_smoothing(
        column, alpha=0.5, priming_periods=0.0,
        duration_per_period=halflife_duration,
        interpolation=interpolation, convention=convention)
