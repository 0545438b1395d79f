"""OLS multiple linear regression as a distributed Gramian aggregation.

Reference: ``Summarizers.OLSRegression`` (``Summarizers.scala:282-339``,
core ``subtractable/OLSRegressionSummarizer.scala`` over a Gramian state
``rdd/.../RegressionSummarizer.scala``, solver
``math/stats/regression/OLSMultipleLinearRegression.scala``).

Spark-first plan: the sufficient statistics (X'WX, X'Wy, y'Wy, n,
Σln w) are plain ``sum()`` aggregate expressions — Catalyst runs them
as partial+final hash aggregation, so the full 100 TB scan reduces to
one tiny row per group with no driver involvement. The k×k solve then
runs inside an Arrow-batched ``mapInPandas`` over that aggregated row,
one numpy ``solve``/``eig`` per group.

Output schema matches the reference's 15 fields: samples, beta,
intercept, hasIntercept, stdErr_intercept, stdErr_beta, rSquared, r,
tStat_intercept, tStat_beta, logLikelihood, akaikeIC, bayesIC, cond,
const_columns. Weighted form follows the reference: observations are
scaled by sqrt(w) (w normalized to mean 1 for the likelihood terms).
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _gram_exprs(y: str, xs: Sequence[str], weight: str | None):
    """Aggregate expressions for the weighted Gramian sufficient stats."""
    w = F.col(weight) if weight else F.lit(1.0)
    terms = [F.lit(1.0)] + [F.col(x) for x in xs] + [F.col(y)]
    names = []
    exprs = []
    k = len(terms)
    for i in range(k):
        for j in range(i, k):
            names.append(f"g_{i}_{j}")
            exprs.append(F.sum(w * terms[i] * terms[j]).alias(f"g_{i}_{j}"))
    exprs.append(F.count(F.col(y)).alias("n_obs"))
    exprs.append(F.sum(F.log(w)).alias("sum_log_w"))
    return names, exprs


def _rel_det_ok(det, A0, min_rel_det):
    """``|det| > min_rel_det * |prod(diag(A))|`` for a stack of Gramians,
    with a log-space fallback where the Hadamard diagonal product
    overflows/underflows a double (e.g. ~30 regressors with second
    moments ~1e11 push prod(diag) past 1.8e308 → inf, and the plain
    guard would silently reject every solvable window). The plain
    product is kept as the primary test so finite-regime decisions are
    bit-identical to the SQL oracles that mirror it; only non-finite
    (or zero-with-nonzero-diagonal underflow) scales reroute through
    ``sum(log|diag|)``."""
    diag = np.diagonal(A0, axis1=1, axis2=2)
    with np.errstate(all="ignore"):
        diag_scale = np.abs(np.prod(diag, axis=1))
        ok = np.abs(det) > min_rel_det * diag_scale
        bad = ~np.isfinite(diag_scale) | (
            (diag_scale == 0.0) & (np.abs(diag) > 0.0).all(axis=1))
        if bad.any():
            log_scale = np.sum(np.log(np.abs(diag[bad])), axis=1)
            ok[bad] = np.log(np.abs(det[bad])) \
                > math.log(min_rel_det) + log_scale
    return ok


_RESULT_FIELDS = [
    T.StructField("samples", T.LongType()),
    T.StructField("beta", T.ArrayType(T.DoubleType())),
    T.StructField("intercept", T.DoubleType()),
    T.StructField("hasIntercept", T.BooleanType()),
    T.StructField("stdErr_intercept", T.DoubleType()),
    T.StructField("stdErr_beta", T.ArrayType(T.DoubleType())),
    T.StructField("rSquared", T.DoubleType()),
    T.StructField("r", T.DoubleType()),
    T.StructField("tStat_intercept", T.DoubleType()),
    T.StructField("tStat_beta", T.ArrayType(T.DoubleType())),
    T.StructField("logLikelihood", T.DoubleType()),
    T.StructField("akaikeIC", T.DoubleType()),
    T.StructField("bayesIC", T.DoubleType()),
    T.StructField("cond", T.DoubleType()),
    T.StructField("const_columns", T.ArrayType(T.StringType())),
]


def _solve_row(row: pd.Series, nx: int, intercept: bool,
               x_names: Sequence[str] = (),
               ignore_constants: bool = False,
               constant_error_bound: float = 1.0e-12) -> dict:
    k = nx + 2  # [1, x1..xnx, y]
    G = np.empty((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"]
    n = int(row["n_obs"])
    sw = G[0, 0]  # Σw

    # constant-variable detection: x is constant iff its weighted sum of
    # squared deviations is below the bound (reference
    # constantErrorBound semantics, Summarizers.scala:282-339)
    const_idx = [i for i in range(nx)
                 if G[i + 1, i + 1] - G[0, i + 1] ** 2 / sw < constant_error_bound]
    const_cols = [x_names[i] for i in const_idx] if x_names else \
        [str(i) for i in const_idx]
    if const_idx and not ignore_constants:
        nan = float("nan")
        return dict(samples=n, beta=[nan] * nx, intercept=nan,
                    hasIntercept=intercept, stdErr_intercept=nan,
                    stdErr_beta=[nan] * nx, rSquared=nan, r=nan,
                    tStat_intercept=nan, tStat_beta=[nan] * nx,
                    logLikelihood=nan, akaikeIC=nan, bayesIC=nan,
                    cond=nan, const_columns=const_cols)
    keep_x = [i for i in range(nx) if i not in const_idx]

    def expand(values, fill):
        out = np.full(nx, fill)
        out[keep_x] = values
        return out

    # design = [1?, kept x...]; target = y
    design_rows = ([0] if intercept else []) + [i + 1 for i in keep_x]
    A = G[np.ix_(design_rows, design_rows)]   # X'WX (incl. intercept row/col)
    b = G[design_rows, k - 1]                 # X'Wy
    yy = G[k - 1, k - 1]                      # y'Wy
    p = A.shape[0]
    try:
        beta_full = np.linalg.solve(A, b)
        Ainv = np.linalg.inv(A)
    except np.linalg.LinAlgError:
        nan = float("nan")
        return dict(samples=n, beta=[nan] * nx, intercept=nan,
                    hasIntercept=intercept, stdErr_intercept=nan,
                    stdErr_beta=[nan] * nx, rSquared=nan, r=nan,
                    tStat_intercept=nan, tStat_beta=[nan] * nx,
                    logLikelihood=nan, akaikeIC=nan, bayesIC=nan,
                    cond=nan, const_columns=const_cols)
    rss = float(yy - 2 * beta_full @ b + beta_full @ A @ beta_full)
    if intercept:
        # TSS around the weighted mean of y
        ybar = G[0, k - 1] / sw
        tss = float(yy - sw * ybar * ybar)
    else:
        tss = float(yy)
    rss = max(rss, 0.0)
    dof = n - p
    sigma2 = rss / dof if dof > 0 else float("nan")
    se = np.sqrt(np.maximum(np.diag(Ainv), 0.0) * sigma2)
    tstat = beta_full / se
    r2 = 1.0 - rss / tss if tss > 0 else float("nan")
    # Gaussian log-likelihood at the MLE variance (rss/n), with weights
    # contributing 0.5*Σln w (reference normalizes weights to mean 1)
    sum_log_w = float(row["sum_log_w"]) if not pd.isna(row["sum_log_w"]) else 0.0
    mean_w_log = n * math.log(sw / n) if sw > 0 else 0.0
    norm_log_w = sum_log_w - mean_w_log  # Σ ln(w_i / mean(w))
    if rss > 0:
        ll = -0.5 * n * (math.log(2 * math.pi * rss / n) + 1.0) + 0.5 * norm_log_w
    else:
        ll = float("inf")
    n_params = p + 1  # betas (+intercept) + variance
    aic = -2 * ll + 2 * n_params
    bic = -2 * ll + n_params * math.log(n) if n > 0 else float("nan")
    eig = np.linalg.eigvalsh(A)
    cond = float(eig[-1] / eig[0]) if eig[0] > 0 else float("inf")
    if intercept:
        icpt, betas = float(beta_full[0]), beta_full[1:]
        se_i, se_b = float(se[0]), se[1:]
        t_i, t_b = float(tstat[0]), tstat[1:]
    else:
        icpt, betas = 0.0, beta_full
        se_i, se_b = float("nan"), se
        t_i, t_b = float("nan"), tstat
    # constant positions: beta/stdErr 0.0, tStat NaN (reference contract)
    betas = expand(betas, 0.0)
    se_b = expand(se_b, 0.0)
    t_b = expand(t_b, float("nan"))
    return dict(samples=n, beta=[float(v) for v in betas], intercept=icpt,
                hasIntercept=intercept, stdErr_intercept=se_i,
                stdErr_beta=[float(v) for v in se_b], rSquared=r2,
                r=math.sqrt(r2) if r2 == r2 and r2 >= 0 else float("nan"),
                tStat_intercept=t_i, tStat_beta=[float(v) for v in t_b],
                logLikelihood=ll, akaikeIC=aic, bayesIC=bic, cond=cond,
                const_columns=const_cols)


def ols_regression(df: DataFrame, y: str, xs: Sequence[str],
                   weight: str | None = None, intercept: bool = True,
                   key: Sequence[str] = (),
                   ignore_constants: bool = False,
                   constant_error_bound: float = 1.0e-12) -> DataFrame:
    """Distributed OLS: Gramian hash-aggregation + per-group numpy solve."""
    xs = list(xs)
    key = list(key)
    # null-skip entire rows where any input is null (reference semantics)
    cols = [y] + xs + ([weight] if weight else [])
    clean = df.dropna(subset=cols)
    _, exprs = _gram_exprs(y, xs, weight)
    grouped = clean.groupBy(*key).agg(*exprs) if key else clean.groupBy().agg(*exprs)

    out_schema = T.StructType(
        [f for f in grouped.schema.fields if f.name in key] + _RESULT_FIELDS)
    nx = len(xs)

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                res = _solve_row(row, nx, intercept, xs, ignore_constants,
                                 constant_error_bound)
                for kcol in key:
                    res[kcol] = row[kcol]
                rows.append(res)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return grouped.mapInPandas(solve, out_schema)


def rolling_ols(df: DataFrame, y: str, x: str, window,
                key: Sequence[str] = (),
                min_samples: int = 3) -> DataFrame:
    """Per-row simple OLS over each row's trailing time window (the
    rolling-beta shape): adds ``beta`` (slope), ``alpha`` (intercept)
    and ``r2``, computed in closed form from windowed sums —
    ``beta = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` — so the whole
    operator is ONE keyed exchange of O(n) window sums, zero Python.
    Each windowed sum evaluates as the difference of two GROWING
    frames (``windows_ops.WindowAggs.diff``): Spark re-aggregates a
    SLIDING frame per row (O(n x rows-per-window) — the r8 windows_ops
    finding), growing frames are maintained incrementally. The
    multi-regressor path (:func:`ols_regression`) needs a Gramian
    solve and stays a whole-group aggregate; for one regressor the
    solve is this algebraic identity. Rows whose window holds fewer
    than ``min_samples`` points or a degenerate x (zero variance) get
    nulls (every sum is consumed under those guards, so the
    difference form's 0-for-empty never surfaces)."""
    from ..windows import TimeWindow
    from .windows_ops import WindowAggs

    if not isinstance(window, TimeWindow):
        raise TypeError("window must be a TimeWindow "
                        "(windows.past_absolute_time(...))")
    lo, hi = window.range_bounds()
    ws = WindowAggs.keyed(df, key)
    xc, yc = F.col(x), F.col(y)
    # null-pair masking: a row where EITHER side is null contributes to
    # no sum (matching the whole-table OLS null-skip rule)
    both = xc.isNotNull() & yc.isNotNull()
    mx = F.when(both, xc)
    my = F.when(both, yc)
    # ALL twelve growing-frame sums in ONE projection (r11, guide
    # §2.4): adding beta/alpha/r2 via chained withColumns re-extracted
    # the embedded window sums per output column — three Window nodes,
    # each with its own re-derived sort key and therefore its own full
    # Sort (plan-verified). Materialized together they plan one
    # WindowExec / one sort; the combine arithmetic below is unchanged.
    terms = {"__ro_n": (F.count, mx), "__ro_sx": (F.sum, mx),
             "__ro_sy": (F.sum, my), "__ro_sxx": (F.sum, mx * mx),
             "__ro_syy": (F.sum, my * my), "__ro_sxy": (F.sum, mx * my)}
    sums = {n: ws.diff(n, lambda o, agg=agg, e=e: o(agg(e)), lo, hi)
            for n, (agg, e) in terms.items()}
    sums["__ro_n"] = sums["__ro_n"].cast("double")
    o = ws.apply(df, sums.items())
    n, sx, sy = F.col("__ro_n"), F.col("__ro_sx"), F.col("__ro_sy")
    sxx, syy, sxy = (F.col("__ro_sxx"), F.col("__ro_syy"),
                     F.col("__ro_sxy"))
    det = n * sxx - sx * sx
    beta = F.when((n >= min_samples) & (det > 0),
                  (n * sxy - sx * sy) / det)
    alpha = F.when(beta.isNotNull(), (sy - beta * sx) / n)
    denom_y = n * syy - sy * sy
    r2 = F.when(beta.isNotNull() & (denom_y > 0),
                F.pow(n * sxy - sx * sy, 2) / (det * denom_y))
    return (o.withColumn("beta", beta)
            .withColumn("alpha", alpha)
            .withColumn("r2", r2)
            .drop(*sums))


def rolling_ols_multi(df: DataFrame, y: str, xs: Sequence[str], window,
                      key: Sequence[str] = (),
                      min_samples: int | None = None,
                      fit_intercept: bool = True,
                      min_rel_det: float = 1e-9) -> DataFrame:
    """Per-row MULTI-regressor OLS over each row's trailing time window
    — the k-factor rolling-beta shape (reference users get it from
    ``OLSRegressionSummarizer`` inside ``summarizeWindows``,
    ``Summarizers.scala:282-339``). Adds ``alpha`` (intercept, null
    when ``fit_intercept=False``), ``beta`` (array, one slope per
    regressor, in ``xs`` order) and ``r2``.

    Plan: the whole-table :func:`ols_regression` Gramian recipe
    applied per frame — every sufficient statistic
    (n, Σt_i·t_j over terms [1, x1..xk, y]) is a prefix-DIFFERENCE
    window sum (``windows_ops.WindowAggs.diff`` — two growing frames, O(n),
    where a sliding frame re-aggregates per row) sharing ONE
    WindowExec (one keyed exchange), and the (k+1)x(k+1) solves run
    batched (``np.linalg.solve`` over stacked matrices) in ONE
    Arrow-batched pandas stage — no per-row Python, no driver.

    Null rule: complete-case per row — a row where ``y`` or ANY
    regressor is null contributes to no sum (the pairwise rule of
    :func:`rolling_ols` generalized). Windows with fewer than
    ``min_samples`` complete rows (default ``k + 2``), a singular
    design, or zero response variance get nulls."""
    from ..windows import TimeWindow
    from .windows_ops import WindowAggs

    if not isinstance(window, TimeWindow):
        raise TypeError("window must be a TimeWindow "
                        "(windows.past_absolute_time(...))")
    xs = list(xs)
    k = len(xs)
    if k == 0:
        raise ValueError("xs must name at least one regressor")
    if min_samples is None:
        min_samples = k + 2
    lo, hi = window.range_bounds()
    ws = WindowAggs.keyed(df, key)
    complete = F.col(y).isNotNull()
    for x in xs:
        complete = complete & F.col(x).isNotNull()
    terms = [F.lit(1.0)] + [F.col(x) for x in xs] + [F.col(y)]
    masked = [F.when(complete, t) for t in terms]
    m = k + 2
    sums = []
    for i in range(m):
        for j in range(i, m):
            e = masked[i] * masked[j]
            sums.append(ws.diff((i, j), lambda o, e=e: o(F.sum(e)), lo, hi))
    packed = F.array(*sums)
    tri = [(i, j) for i in range(m) for j in range(i, m)]
    p = k + 1 if fit_intercept else k
    off = 0 if fit_intercept else 1
    out_t = T.StructType([T.StructField("alpha", T.DoubleType()),
                          T.StructField("beta",
                                        T.ArrayType(T.DoubleType())),
                          T.StructField("r2", T.DoubleType())])

    @F.pandas_udf(out_t)
    def solve(col: pd.Series) -> pd.DataFrame:
        N = len(col)
        S = np.zeros((N, m, m))
        # np.asarray converts None -> nan for float64 itself (and
        # passes Arrow's already-nan ndarray cells through) — the
        # per-element Python listcomp this replaces was ~1.5x slower
        # at 100k rows for identical values (r11)
        vals = np.asarray(col.tolist(), dtype=np.float64) \
            if N else np.zeros((0, len(tri)))
        for idx, (i, j) in enumerate(tri):
            S[:, i, j] = vals[:, idx]
            S[:, j, i] = vals[:, idx]
        n = S[:, 0, 0]
        A = S[:, off:k + 1, off:k + 1]
        b = S[:, off:k + 1, k + 1]
        syy = S[:, k + 1, k + 1]
        sy = S[:, 0, k + 1]
        with np.errstate(all="ignore"):
            A0 = np.nan_to_num(A, nan=0.0)
            det = np.linalg.det(A0)
            # RELATIVE singularity guard (r10): det != 0 admits windows
            # whose determinant is pure cancellation noise — at 10x data
            # the two engines' ulp-different windowed sums coin-flipped
            # ~900 rows in and out of the emitted set. The default
            # 1e-9 of the Gramian's diagonal product (Hadamard scale)
            # caps the implied condition number at ~1e9, which keeps
            # solver disagreement across evaluation orders below the
            # oracle gates' output grid; pass a smaller min_rel_det to
            # admit worse-conditioned designs at your own risk —
            # coefficients then carry kappa*eps relative noise.
            # (_rel_det_ok falls back to log space where the diagonal
            # product itself overflows a double — r10 ADVICE.)
            ok = (n >= min_samples) & np.isfinite(det) \
                & _rel_det_ok(det, A0, min_rel_det) \
                & np.isfinite(A).all(axis=(1, 2)) & np.isfinite(b).all(axis=1)
            coef = np.full((N, p), np.nan)
            if ok.any():
                coef[ok] = np.linalg.solve(A[ok], b[ok])
            sse = syy - np.einsum("np,np->n", coef, b)
            sst = syy - sy * sy / np.maximum(n, 1) if fit_intercept else syy
            r2 = np.where(ok & (sst > 0), 1.0 - sse / sst, np.nan)
        alpha = coef[:, 0] if fit_intercept else np.full(N, np.nan)
        betas = coef[:, 1:] if fit_intercept else coef
        return pd.DataFrame({
            "alpha": [None if not np.isfinite(a) else float(a)
                      for a in alpha],
            "beta": [None if not o else [float(v) for v in row]
                     for o, row in zip(ok, betas)],
            "r2": [None if not np.isfinite(v) else float(v) for v in r2],
        })

    # nondeterministic marker: Catalyst clones deterministic UDF calls
    # into pushed-down filters (e.g. a beta-isNotNull filter would run
    # the whole batched solve TWICE); the solve is pure, but opting out
    # of expression duplication keeps exactly one Arrow stage
    solve = solve.asNondeterministic()
    res = ws.apply(df, [("__ols", solve(packed))])
    return (res.withColumn("alpha", F.col("__ols.alpha"))
            .withColumn("beta", F.col("__ols.beta"))
            .withColumn("r2", F.col("__ols.r2"))
            .drop("__ols"))


def lead_lag_corr(df: DataFrame, x_col: str, y_col: str,
                  lags: Sequence[int] = (-3, -2, -1, 0, 1, 2, 3),
                  key: Sequence[str] = (),
                  tie_break: Sequence[str] = ()) -> DataFrame:
    """Lead-lag cross-correlation: ``corr(x_t, y_{t+L})`` per key for
    each row offset L in ``lags`` (x = y gives the autocorrelation
    function). The signal-discovery primitive behind "does x lead y by
    k ticks?".

    Plan: every shifted series is materialized in ONE projection — all
    lead/lag expressions share a single WindowSpec so Catalyst collapses
    them into one Window node over one keyed sort — then a single
    hash-aggregate computes all per-lag Pearson correlations with
    map-side partials. The aggregation's ClusteredDistribution on the
    key is already satisfied by the window's HashPartitioning, so the
    whole operator is ONE data exchange, zero Python; the tiny per-key
    result explodes into (key, lag, xy_corr, n_pairs) rows afterwards.

    Pairs with a null on either side are skipped (Pearson
    pairwise-complete, Spark/SQL ``corr`` semantics); a lag whose
    shifted partner falls off the series end contributes no pair.
    Degenerate correlations (zero variance, < 2 pairs) are null.
    Keyless use sorts on a single task — intended per-instrument
    (keyed), like the reference's summarizer family.
    """
    from pyspark.sql import Window

    from ..timeseries import row_order

    keyc = [F.col(c) for c in key]
    w = Window.partitionBy(*keyc).orderBy(*row_order(
        df, tie_break=tie_break, values=[x_col, y_col], skip=key))
    y = F.col(y_col)
    shifted = {
        f"__y_{i}": (F.lead(y, lag).over(w) if lag >= 0
                     else F.lag(y, -lag).over(w))
        for i, lag in enumerate(lags)
    }
    d = df.withColumns(shifted)

    x = F.col(x_col)
    aggs = []
    for i, lag in enumerate(lags):
        yl = F.col(f"__y_{i}")
        c = F.corr(x, yl)
        aggs.append(F.when(~F.isnan(c), c).alias(f"__c_{i}"))
        aggs.append(F.count(F.when(x.isNotNull() & yl.isNotNull(), 1))
                    .alias(f"__n_{i}"))
    g = d.groupBy(*keyc).agg(*aggs)

    pairs = F.array(*[
        F.struct(F.lit(int(lag)).alias("lag"),
                 F.col(f"__c_{i}").alias("xy_corr"),
                 F.col(f"__n_{i}").alias("n_pairs"))
        for i, lag in enumerate(lags)])
    return (g.select(*[F.col(c) for c in key],
                     F.explode(pairs).alias("__p"))
            .select(*[F.col(c) for c in key], "__p.lag", "__p.xy_corr",
                    "__p.n_pairs"))


def spearman_corr(df: DataFrame, x_col: str, y_col: str,
                  key: Sequence[str] = ()) -> DataFrame:
    """Spearman rank correlation per key: Pearson correlation of
    tie-averaged ranks — the robust (monotone-invariant) complement to
    ``corr``'s linear coefficient.

    Pairwise-complete: rows with a null on either side are excluded
    BEFORE ranking (they would shift everyone else's rank). Tie groups
    get the textbook average rank, computed from rank() + the tie-group
    size without a second pass. Plan: one hash exchange on the key,
    two in-partition sorts (one per rank order), and a final aggregate
    that reuses the partitioning — zero Python. Returns
    (key..., spearman, n)."""
    from pyspark.sql import Window

    keyc = [F.col(c) for c in key]
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def avg_rank(col: str) -> Column:
        w = Window.partitionBy(*keyc).orderBy(F.col(col))
        # tie-group size as the RANGE current-row peer frame of the
        # SAME (key, order-by-col) spec rank() uses: the former
        # partitionBy(key, col) count was its own window spec, so each
        # rank column planned TWO Window nodes with two full sorts
        # (r11, guide §2.4 — four sorts for the operator where two
        # suffice). Peer-frame count == partition-by-(key, col) count
        # exactly (same integer), and both expressions now share one
        # WindowExec per rank order.
        peers = w.rangeBetween(Window.currentRow, Window.currentRow)
        return (F.rank().over(w).cast("double")
                + (F.count("*").over(peers) - F.lit(1)) / F.lit(2.0))

    ranked = base.withColumns({"__rx": avg_rank(x_col),
                               "__ry": avg_rank(y_col)})
    c = F.corr("__rx", "__ry")
    return (ranked.groupBy(*keyc)
            .agg(F.when(~F.isnan(c), c).alias("spearman"),
                 F.count("*").alias("n")))
