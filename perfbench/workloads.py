"""The workloads: their inputs, their timed public calls and the DuckDB
oracle each call's output is checked against.

A workload is a fixed sequence of calls; one pass runs every call to
completion through the ``noop`` sink.

Why each workload exists:

* ``ticks_sql``: flint's core order-aware operators over a quote/trade
  panel, all pure-JVM plans (Catalyst Window/Exchange does the work,
  Python sits idle). A plan-shape or as-of change shows here only.
* ``pandas_corpus``: many short keys through the Arrow-batched pandas
  engines, where JVM<->Arrow transport and per-group Python dominate,
  then text expressions and similarity pair joins over a corpus whose
  cost grows with duplicate density. The tick operators of
  ``ticks_sql`` sit idle, so a change to group batching, Arrow sizing
  or the pipeline shows here only.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa

import gen

# sizes: a pass takes about 3.5 s (ticks_sql) and 7 s (pandas_corpus)
# on 4 cores, most of it per-call scheduling; a run (JVM start, three
# set-ups, two timed passes) then takes 30-50 s
TICK_SYMBOLS, TICK_SECONDS = 60, 1200
PANEL_KEYS, PANEL_ROWS, PANEL_GRID = 1500, 30, 600
UDF_WINDOW_KEYS = 150
CORPUS_DOCS = 2000
CENTROIDS = 16

T0 = "2024-01-02 09:30:00"
READ_BEGIN, READ_END = "2024-01-02 09:35:00", "2024-01-02 09:45:00"
EWMA_ALPHA, EWMA_PERIOD_S = 0.05, 10
KF_Q, KF_R = 0.5, 1.0
TOPK_K, TOPK_TOL_S = 3, 30
CHUNK_TOKENS, CHUNK_OVERLAP = 16, 4
SEMDEDUP_THRESHOLD = 0.95


@dataclass
class Call:
    """One timed public call. ``build`` maps the registered inputs to
    the call's DataFrame; ``oracle`` is DuckDB SQL, or a function of a
    DuckDB connection returning a table, giving the expected output
    columns. ``python`` is the required Python-stage shape: False =
    none, True = at least one, None = not asserted."""
    name: str
    build: Callable[[dict], object]
    oracle: str | Callable
    python: bool | None = None


@dataclass
class Workload:
    name: str
    generate: Callable[[np.random.Generator, str], dict]
    register: Callable[[object, str], dict]
    calls: list[Call] = field(default_factory=list)


def _lam_per_us() -> float:
    return -np.log1p(-EWMA_ALPHA) / (EWMA_PERIOD_S * 1e6)


def _ewma_sql(table: str, col: str, key: str) -> str:
    """Closed form of the legacy EWMA: a decayed running sum."""
    lam = _lam_per_us()
    return f"""
      WITH e AS (SELECT *, epoch_us(time)::DOUBLE AS tus,
                        min(epoch_us(time)) OVER (PARTITION BY {key})::DOUBLE
                          AS base
                 FROM {table})
      SELECT time, {key},
             exp(-(tus - base) * {lam}) * sum({col} * exp((tus - base) * {lam}))
               OVER (PARTITION BY {key} ORDER BY time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS {col}_ewma
      FROM e"""


def _read_sql(table: str) -> str:
    return (f"SELECT * FROM {table} WHERE time >= TIMESTAMPTZ '{READ_BEGIN}+00'"
            f" AND time < TIMESTAMPTZ '{READ_END}+00'")


def _sql(builder: Callable[[], str]) -> Callable:
    """Oracle whose SQL is built on use (the builders import the repo's
    own oracle fragments, which need the program on the path)."""
    return lambda con: con.execute(builder()).arrow()


def _ts(spark, path: str):
    from flint_spark.sources.readbuilder import TSRead
    return TSRead(spark).parquet(path).df


def _read_call(path_key: str, table: str) -> Call:
    def build(inp):
        from flint_spark.sources.readbuilder import TSRead
        return TSRead(inp["spark"]).range(READ_BEGIN, READ_END) \
            .parquet(inp[path_key]).df
    return Call("readbuilder.parquet", build, _read_sql(table), python=False)


# ---------------------------------------------------------------- ticks_sql

def _gen_ticks(rng, out_dir):
    q = gen.quotes_table(rng, TICK_SYMBOLS, TICK_SECONDS)
    t = gen.trades_table(rng, TICK_SYMBOLS, TICK_SECONDS)
    return {"quotes": gen.write_parquet(q, f"{out_dir}/quotes.parquet"),
            "trades": gen.write_parquet(t, f"{out_dir}/trades.parquet"),
            "keys": TICK_SYMBOLS}


def _reg_ticks(spark, d):
    return {"spark": spark, "quotes_path": f"{d}/quotes.parquet",
            "quotes": _ts(spark, f"{d}/quotes.parquet"),
            "trades": _ts(spark, f"{d}/trades.parquet")}


def _asof(direction):
    def build(inp):
        from flint_spark.operators import asof
        fn = asof.left_join if direction == "backward" else asof.future_left_join
        return fn(inp["trades"], inp["quotes"], tolerance="5s", key=["sym"])
    cmp_, tol = (">=", "-") if direction == "backward" else ("<=", "+")
    picks = ", ".join(
        f"CASE WHEN q.time {cmp_} t.time {tol} INTERVAL 5 SECOND "
        f"THEN q.{c} END AS {c}" for c in ("bid", "ask", "size"))
    sql = (f"SELECT t.time, t.sym, t.price, t.qty, {picks} FROM trades t "
           f"ASOF LEFT JOIN quotes q ON t.sym = q.sym AND t.time {cmp_} q.time")
    name = "asof.left_join" if direction == "backward" \
        else "asof.future_left_join"
    return Call(name, build, sql, python=False)


def _summarize_windows(inp):
    from flint_spark import summarizers as S, windows as W
    from flint_spark.operators import windows_ops
    return windows_ops.summarize_windows(
        inp["quotes"], W.past_absolute_time("60s"),
        S.compose(S.count(), S.mean("bid"), S.stddev("bid")), key=["sym"])


_WINDOW_60S = ("(PARTITION BY {k} ORDER BY time RANGE BETWEEN "
               "INTERVAL 60 SECOND PRECEDING AND CURRENT ROW)")

SQL_WINDOWS = f"""
  SELECT time, sym, count(*) OVER w AS count, avg(bid) OVER w AS bid_mean,
         stddev_samp(bid) OVER w AS bid_stddev
  FROM quotes WINDOW w AS {_WINDOW_60S.format(k='sym')}"""


def _summarize_intervals(inp):
    from flint_spark import clocks, summarizers as S
    from flint_spark.operators import intervals
    end = np.datetime64(T0) + np.timedelta64(TICK_SECONDS + 120, "s")
    clock = clocks.uniform(T0, str(end).replace("T", " "), "1min")
    return intervals.summarize_intervals(
        inp["quotes"], clock, S.compose(S.count(), S.mean("bid")),
        key=["sym"])


# inclusion "begin", rounding "end": [tick, tick + 1 min) labelled by its end
SQL_INTERVALS = """
  SELECT time_bucket(INTERVAL 1 MINUTE, time) + INTERVAL 1 MINUTE AS time,
         sym, count(*) AS count, avg(bid) AS bid_mean
  FROM quotes GROUP BY 1, 2"""


def _ohlc(inp):
    from flint_spark.operators import bars
    return bars.ohlc_bars(inp["trades"], "1min", "price", key=["sym"],
                          volume_col="qty", twap=True)


SQL_OHLC = """
  WITH b AS (SELECT *, time_bucket(INTERVAL 1 MINUTE, time) AS bk FROM trades),
  h AS (SELECT *, epoch_us(coalesce(lead(time) OVER (PARTITION BY sym, bk
                                                     ORDER BY time),
                                    bk + INTERVAL 1 MINUTE))
                  - epoch_us(time) AS hold
        FROM b)
  SELECT bk AS time, sym, arg_min(price, time) AS open, max(price) AS high,
         min(price) AS low, arg_max(price, time) AS close, count(*) AS n,
         sum(qty)::DOUBLE AS volume, sum(price * qty) / sum(qty) AS vwap,
         sum(price * hold) / sum(hold) AS twap
  FROM h GROUP BY 1, 2"""


def _rolling_ols(inp):
    from flint_spark import windows as W
    from flint_spark.operators import regression
    return regression.rolling_ols(inp["quotes"], "ask", "bid",
                                  W.past_absolute_time("60s"), key=["sym"])


SQL_ROLLING_OLS = f"""
  WITH s AS (
    SELECT time, sym, count(*) OVER w AS n, sum(bid) OVER w AS sx,
           sum(ask) OVER w AS sy, sum(bid * bid) OVER w AS sxx,
           sum(ask * ask) OVER w AS syy, sum(bid * ask) OVER w AS sxy
    FROM quotes WINDOW w AS {_WINDOW_60S.format(k='sym')}),
  b AS (SELECT *, n * sxx - sx * sx AS det, n * syy - sy * sy AS dy,
               CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS beta
        FROM s)
  SELECT time, sym, beta, (sy - beta * sx) / n AS alpha,
         CASE WHEN beta IS NOT NULL AND dy > 0
              THEN pow(n * sxy - sx * sy, 2) / (det * dy) END AS r2
  FROM b"""


def _ewma_native(inp):
    from flint_spark.operators import ema
    return ema.ewma_native(inp["quotes"], "bid", alpha=EWMA_ALPHA,
                           duration_per_period=f"{EWMA_PERIOD_S}s",
                           key=["sym"])


TICKS_SQL = Workload("ticks_sql", _gen_ticks, _reg_ticks, [
    _read_call("quotes_path", "quotes"),
    _asof("backward"),
    _asof("forward"),
    Call("windows_ops.summarize_windows", _summarize_windows, SQL_WINDOWS,
         python=False),
    Call("intervals.summarize_intervals", _summarize_intervals,
         SQL_INTERVALS, python=False),
    Call("bars.ohlc_bars", _ohlc, SQL_OHLC, python=False),
    Call("regression.rolling_ols", _rolling_ols, SQL_ROLLING_OLS,
         python=False),
    Call("ema.ewma_native", _ewma_native, _ewma_sql("quotes", "bid", "sym"),
         python=False),
])


# ------------------------------------------------- Arrow engines (panel)

def _gen_panel(rng, out_dir):
    p = gen.panel_table(rng, PANEL_KEYS, PANEL_ROWS, PANEL_GRID)
    r = gen.panel_table(rng, PANEL_KEYS, PANEL_ROWS, PANEL_GRID, value="v")
    return {"panel": gen.write_parquet(p, f"{out_dir}/panel.parquet"),
            "panel_r": gen.write_parquet(r, f"{out_dir}/panel_r.parquet"),
            "keys": PANEL_KEYS}


def _reg_panel(spark, d):
    return {"spark": spark, "panel_path": f"{d}/panel.parquet",
            "panel": _ts(spark, f"{d}/panel.parquet"),
            "panel_r": _ts(spark, f"{d}/panel_r.parquet")}


def cycle_stats(g):
    """Per-cycle pandas reducer (module level so workers import it)."""
    return {"n": len(g), "x_sum": float(g["x"].sum())}


def window_sum(w):
    return float(w["x"].sum())


def _cycles_udf(inp):
    from flint_spark import functions as FL
    return FL.summarize_cycles_udf(inp["panel"], cycle_stats,
                                   "n long, x_sum double")


def _windows_udf(inp):
    from pyspark.sql import functions as F

    from flint_spark import functions as FL, windows as W
    sub = inp["panel"].filter(F.col("id") < UDF_WINDOW_KEYS)
    return FL.summarize_windows_udf(sub, W.past_absolute_time("60s"),
                                    window_sum, "x_win", key=["id"])


SQL_WINDOWS_UDF = f"""
  SELECT time, id, sum(x) OVER {_WINDOW_60S.format(k='id')} AS x_win
  FROM panel WHERE id < {UDF_WINDOW_KEYS}"""


def _ewma(inp):
    from flint_spark.operators import ema
    return ema.ewma(inp["panel"], "x", alpha=EWMA_ALPHA,
                    duration_per_period=f"{EWMA_PERIOD_S}s", key=["id"])


def _kalman(inp):
    from flint_spark.operators import kalman
    return kalman.kalman_local_level(inp["panel"], "x", KF_Q, KF_R,
                                     period=f"{EWMA_PERIOD_S}s", key=["id"])


def kalman_oracle(con) -> pa.Table:
    """Local-level Kalman filter, vectorised across keys (every key has
    ``PANEL_ROWS`` rows): predict var += q * dt / period, gain =
    var / (var + r), level += gain * (x - level)."""
    t = con.execute("SELECT id, epoch_us(time) AS tus, x, time FROM panel "
                    "ORDER BY id, time").arrow()
    shape = (-1, PANEL_ROWS)
    tus = t.column("tus").to_numpy().reshape(shape).astype(np.float64)
    x = t.column("x").to_numpy().reshape(shape)
    level, var = x[:, 0].copy(), np.full(len(x), KF_R)
    out = np.empty_like(x)
    out[:, 0] = level
    for i in range(1, x.shape[1]):
        pred = var + KF_Q * (tus[:, i] - tus[:, i - 1]) / (EWMA_PERIOD_S * 1e6)
        gain = pred / (pred + KF_R)
        level = level + gain * (x[:, i] - level)
        var = (1.0 - gain) * pred
        out[:, i] = level
    return pa.table({"time": t.column("time"), "id": t.column("id"),
                     "x_kf": out.ravel()})


def _topk(inp):
    from flint_spark.operators import asof
    return asof.left_join_topk(inp["panel"], inp["panel_r"], TOPK_K,
                               tolerance=f"{TOPK_TOL_S}s", key=["id"])


SQL_TOPK = f"""
  WITH c AS (
    SELECT l.time, l.id, l.x, l.y, r.v,
           row_number() OVER (PARTITION BY l.id, l.time
                              ORDER BY r.time DESC) AS rn
    FROM panel l LEFT JOIN panel_r r
      ON r.id = l.id
     AND r.time BETWEEN l.time - INTERVAL {TOPK_TOL_S} SECOND AND l.time)
  SELECT time, id, any_value(x) AS x, any_value(y) AS y,
         list(v) FILTER (WHERE rn <= {TOPK_K} AND v IS NOT NULL) AS v_lastk,
         count(v) FILTER (WHERE rn <= {TOPK_K})::INT AS n_matched
  FROM c GROUP BY time, id"""


def _ols(inp):
    from flint_spark.operators import regression
    return regression.ols_regression(inp["panel"], "y", ["x"], key=["id"])


SQL_OLS = """
  SELECT id, regr_count(y, x) AS samples, [regr_slope(y, x)] AS beta,
         regr_intercept(y, x) AS intercept, regr_r2(y, x) AS rSquared
  FROM panel GROUP BY id"""


PANDAS_CALLS = [
    _read_call("panel_path", "panel"),
    Call("functions.summarize_cycles_udf", _cycles_udf,
         "SELECT time, count(*) AS n, sum(x) AS x_sum FROM panel GROUP BY 1",
         python=True),
    Call("functions.summarize_windows_udf", _windows_udf, SQL_WINDOWS_UDF,
         python=True),
    Call("ema.ewma", _ewma, _ewma_sql("panel", "x", "id"), python=True),
    Call("kalman.kalman_local_level", _kalman, kalman_oracle, python=True),
    Call("asof.left_join_topk", _topk, SQL_TOPK, python=True),
    Call("regression.ols_regression", _ols, SQL_OLS, python=True),
]


# ---------------------------------------------------------- dedup corpus

def _gen_corpus(rng, out_dir):
    docs, emb, shares = gen.corpus_tables(rng, CORPUS_DOCS)
    return {"docs": gen.write_parquet(docs, f"{out_dir}/docs.parquet"),
            "emb": gen.write_parquet(emb, f"{out_dir}/emb.parquet"),
            "keys": CORPUS_DOCS, **shares}


def _reg_corpus(spark, d):
    return {"spark": spark, "docs": spark.read.parquet(f"{d}/docs.parquet"),
            "emb": spark.read.parquet(f"{d}/emb.parquet")}


def _quality(inp):
    from flint_spark.pipeline import text
    return inp["docs"].select("doc_id",
                              text.quality_score().alias("quality"),
                              text.language_id().alias("lang"))


def _quality_sql() -> str:
    from entry_queries.common import lang_case_sql, quality_sql
    return (f"SELECT doc_id, {quality_sql()} AS quality, {lang_case_sql()} "
            f"AS lang FROM (SELECT doc_id, text, string_split(text, ' ') AS w "
            f"FROM docs)")


def _exact(inp):
    from flint_spark.pipeline import dedup
    return dedup.exact_duplicate_groups(inp["docs"])


def _minhash(inp):
    from entry_queries.pipeline_q import _MH_BANDS, _MH_N, _MH_SEED, _MH_THRESH
    from flint_spark.pipeline import dedup
    return dedup.minhash_lsh_pairs(inp["docs"], num_hashes=_MH_N,
                                   bands=_MH_BANDS, seed=_MH_SEED,
                                   threshold=_MH_THRESH)


def _minhash_sql() -> str:
    # the repo's own MinHash replay (same hash family and parameters)
    from entry_queries.pipeline_q import _sql_minhash_lsh
    return _sql_minhash_lsh().replace("FROM documents", "FROM docs")


def _simhash(inp):
    from flint_spark.pipeline import dedup
    return dedup.simhash_pairs(inp["docs"], max_hamming=3)


def _simhash_sql() -> str:
    from entry_queries.pipeline_q import _sql_simhash_pairs
    return _sql_simhash_pairs().replace("FROM documents", "FROM docs")


def _chunks(inp):
    from flint_spark.pipeline import text
    return text.chunk_documents(inp["docs"], CHUNK_TOKENS, CHUNK_OVERLAP)


_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP
SQL_CHUNKS = f"""
  WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
  c AS (SELECT doc_id, w, unnest(generate_series(0, greatest(1,
          ceil((len(w) - {CHUNK_OVERLAP}) / {_STRIDE})::INT) - 1)) AS chunk_id
        FROM d)
  SELECT doc_id, chunk_id,
         least({CHUNK_TOKENS}, len(w) - chunk_id * {_STRIDE})::INT
           AS chunk_tokens,
         array_to_string(list_slice(w, chunk_id * {_STRIDE} + 1,
                                    chunk_id * {_STRIDE} + {CHUNK_TOKENS}),
                         ' ') AS chunk_text
  FROM c"""


def centroid_ids() -> list[int]:
    return [i * (CORPUS_DOCS // CENTROIDS) for i in range(CENTROIDS)]


def _semdedup(inp):
    from flint_spark.pipeline import similarity
    return similarity.semantic_dedup_pairs(inp["emb"], centroid_ids(),
                                           threshold=SEMDEDUP_THRESHOLD)


SQL_SEMDEDUP = f"""
  WITH b AS (SELECT vec_id, list_transform(embedding, x -> x / sqrt(
               list_dot_product(embedding, embedding))) AS vn FROM emb),
  c AS (SELECT vec_id AS cid, vn AS cvn FROM b
        WHERE vec_id IN ({', '.join(map(str, centroid_ids()))})),
  s AS (SELECT b.vec_id, c.cid, row_number() OVER (
          PARTITION BY b.vec_id ORDER BY list_dot_product(b.vn, c.cvn) DESC,
          c.cid) AS rn
        FROM b, c),
  j AS (SELECT s.vec_id, s.cid, b.vn FROM s JOIN b USING (vec_id)
        WHERE rn = 1)
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cid AS centroid_id,
         list_dot_product(x.vn, y.vn) AS cosine
  FROM j x JOIN j y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE list_dot_product(x.vn, y.vn) >= {SEMDEDUP_THRESHOLD}"""


CORPUS_CALLS = [
    Call("text.quality_score", _quality, _sql(_quality_sql)),
    Call("dedup.exact_duplicate_groups", _exact,
         "SELECT md5(text) AS text_md5, count(*) AS n_dups, "
         "min(doc_id) AS canonical_id FROM docs GROUP BY 1 HAVING count(*) > 1"),
    Call("dedup.minhash_lsh_pairs", _minhash, _sql(_minhash_sql)),
    Call("dedup.simhash_pairs", _simhash, _sql(_simhash_sql)),
    Call("text.chunk_documents", _chunks, SQL_CHUNKS),
    Call("similarity.semantic_dedup_pairs", _semdedup, SQL_SEMDEDUP,
         python=True),
]


# ------------------------------------------------------------ pandas_corpus
# The Arrow-engine panel and the dedup corpus share one workload: a run
# costs ~15 s of JVM start and cold JIT before any timed pass, and a
# third workload's 22 runs would not fit the driver's time limit

def _gen_pandas_corpus(rng, out_dir):
    return {**_gen_panel(rng, out_dir), **_gen_corpus(rng, out_dir),
            "keys": {"panel": PANEL_KEYS, "corpus": CORPUS_DOCS}}


def _reg_pandas_corpus(spark, d):
    return {**_reg_panel(spark, d), **_reg_corpus(spark, d)}


PANDAS_CORPUS = Workload("pandas_corpus", _gen_pandas_corpus,
                         _reg_pandas_corpus, PANDAS_CALLS + CORPUS_CALLS)


WORKLOADS = {w.name: w for w in (TICKS_SQL, PANDAS_CORPUS)}


def input_rows(record: dict) -> int:
    """Rows the workload consumes per pass."""
    return sum(v["rows"] for v in record.values()
               if isinstance(v, dict) and "rows" in v)


def duck_views(con, d: str) -> None:
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{d}/{f}')")
