"""Reference udf() call-shape parity (python/ts/flint/functions.py:31-196)
and the banded-join skew guards."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flint_spark import functions as FL
from flint_spark.pipeline import dedup


@pytest.fixture(scope="module")
def cycles_df(spark):
    pdf = pd.DataFrame({
        "time": pd.to_datetime(["2024-01-01"] * 3 + ["2024-01-02"] * 2),
        "v": [1.0, 2.0, 3.0, 10.0, 20.0],
        "w": [1.0, 1.0, 2.0, 1.0, 3.0],
    })
    return spark.createDataFrame(pdf)


def test_udf_pandas_series_args(cycles_df):
    @FL.udf(T.DoubleType())
    def weighted_mean(v, w):
        return float(np.average(v, weights=w))

    out = (FL.summarize_cycles_calls(
        cycles_df, {"wm": weighted_mean(cycles_df["v"], cycles_df["w"])})
        .toPandas().sort_values("time", ignore_index=True))
    assert out["wm"].tolist() == [pytest.approx((1 + 2 + 6) / 4.0),
                                  pytest.approx((10 + 60) / 4.0)]


def test_udf_numpy_arg_type(cycles_df):
    @FL.udf(T.DoubleType(), arg_type="numpy")
    def mean_udf(v):
        assert isinstance(v, np.ndarray)
        return float(v.mean())

    out = (FL.summarize_cycles_calls(cycles_df, {"m": mean_udf(cycles_df["v"])})
           .toPandas().sort_values("time", ignore_index=True))
    assert out["m"].tolist() == [2.0, 15.0]


def test_udf_whole_frame_arg(cycles_df):
    @FL.udf(T.DoubleType())
    def wm_frame(pdf):
        assert isinstance(pdf, pd.DataFrame)
        return float(np.average(pdf["v"], weights=pdf["w"]))

    sub = cycles_df[["v", "w"]]
    out = (FL.summarize_cycles_calls(cycles_df, {"wm": wm_frame(sub)})
           .toPandas().sort_values("time", ignore_index=True))
    assert out["wm"].iloc[0] == pytest.approx(2.25)


def test_udf_numpy_whole_frame_is_ordered_dict(cycles_df):
    @FL.udf(T.DoubleType(), arg_type="numpy")
    def wm_dict(d):
        assert list(d.keys()) == ["v", "w"]
        assert isinstance(d["v"], np.ndarray)
        return float(np.average(d["v"], weights=d["w"]))

    out = (FL.summarize_cycles_calls(
        cycles_df, {"wm": wm_dict(cycles_df[["v", "w"]])})
        .toPandas().sort_values("time", ignore_index=True))
    assert out["wm"].iloc[0] == pytest.approx(2.25)


def test_udf_tuple_multi_return(cycles_df):
    @FL.udf((T.DoubleType(), T.LongType()), arg_type="numpy")
    def stats(v):
        return float(v.mean()), len(v)

    out = (FL.summarize_cycles_calls(
        cycles_df, {("m", "n"): stats(cycles_df["v"])})
        .toPandas().sort_values("time", ignore_index=True))
    assert out["m"].tolist() == [2.0, 15.0]
    assert out["n"].tolist() == [3, 2]


def test_udf_rejects_expressions(cycles_df):
    @FL.udf(T.DoubleType())
    def ident(v):
        return float(v.iloc[0])

    with pytest.raises(ValueError, match="plain columns"):
        ident(cycles_df["v"] + 1)


# ---------------------------------------------------------------------
# skew guards
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def hot_bucket_docs(spark):
    """Adversarial corpus: 60 documents sharing one ubiquitous sentence
    (-> one hot band bucket) plus 2 genuine near-dup pairs."""
    boiler = "terms of service apply to all content on this site"
    rows = [(i, f"{boiler} item {i} unique words alpha beta {i}")
            for i in range(60)]
    rows += [(100, "the quick brown fox jumps over the lazy dog today"),
             (101, "the quick brown fox jumps over the lazy dog tonight")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_pairs_bucket_cap_bounds_pairs(hot_bucket_docs):
    uncapped = dedup.simhash_pairs(hot_bucket_docs, max_hamming=16)
    capped = dedup.simhash_pairs(hot_bucket_docs, max_hamming=16, max_bucket=8)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_cap < n_un  # the hot bucket no longer explodes quadratically
    # genuine near-dup (100, 101) survives: they collide in rare buckets
    assert capped.filter((F.col("id_a") == 100) & (F.col("id_b") == 101)).count() == 1


def test_minhash_lsh_bucket_cap_bounds_pairs(hot_bucket_docs):
    uncapped = dedup.minhash_lsh_pairs(hot_bucket_docs, threshold=0.0)
    capped = dedup.minhash_lsh_pairs(hot_bucket_docs, threshold=0.0, max_bucket=8)
    assert capped.count() < uncapped.count()
    assert (capped.filter((F.col("id_a") == 100) & (F.col("id_b") == 101))
            .count() == 1)


def test_ivf_lloyd_training_improves_and_assigns_nearest(spark):
    """Lloyd iterations: mean within-cluster cosine is non-decreasing,
    and the final assignment is the true argmax-cosine centroid."""
    import itertools
    from flint_spark.pipeline import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def quality(cents):
        a = sim.ivf_assign_trained(emb, cents)
        return a.agg(F.avg("centroid_cos")).first()[0]

    c1 = sim.ivf_train(emb, k=8, iters=1)
    c3 = sim.ivf_train(emb, k=8, iters=3)
    q1, q3 = quality(c1), quality(c3)
    assert q3 >= q1 - 1e-9  # Lloyd monotonicity (spherical k-means)
    # assignment is the brute-force nearest centroid for a sample row
    a = sim.ivf_assign_trained(emb, c3).limit(5).collect()
    for r in a:
        v = np.array(r["v"])
        cosines = [float(np.dot(v, np.array(c))
                         / (np.linalg.norm(v) * np.linalg.norm(c)))
                   for c in c3]
        assert int(np.argmax(cosines)) == r["centroid_id"]


def test_summarize_windows_calls_udf_dict(spark):
    from flint_spark import windows as W

    df = spark.createDataFrame(
        [(1000, 1, 1.0, 1.0), (1050, 1, 2.0, 3.0), (1100, 1, 4.0, 1.0),
         (1300, 1, 8.0, 2.0)],
        "time long, id int, v double, w double")

    @FL.udf(T.DoubleType())
    def wmean(pdf):
        return float(np.average(pdf["v"], weights=pdf["w"]))

    @FL.udf((T.DoubleType(), T.LongType()))
    def sum_n(v):
        return float(v.sum()), len(v)

    out = FL.summarize_windows_calls(
        df, W.past_absolute_time(100),
        {"wm": wmean(df[["v", "w"]]), ("s", "n"): sum_n(df["v"])},
        key=["id"])
    got = {r.time: (r.wm, r.s, r.n) for r in out.collect()}
    assert got[1000] == (1.0, 1.0, 1)
    assert got[1050] == (pytest.approx((1 + 6) / 4.0), 3.0, 2)
    # close-close [t-100, t]: row 1000 is still inside at t=1100
    assert got[1100] == (pytest.approx((1 + 6 + 4) / 5.0), 7.0, 3)
    assert got[1300] == (8.0, 8.0, 1)


def test_tsdf_summarize_dispatches_udf_dict(spark):
    """Reference API parity: TSDF.summarize_windows / summarize_cycles
    accept a udf DICT in the summarizer position
    (python/ts/flint/dataframe.py:922-1010,1099-1240) and route to the
    *_calls engines."""
    from flint_spark import TimeSeriesDataFrame, windows as W

    df = spark.createDataFrame(
        [(1000, 1, 1.0), (1000, 1, 3.0), (1100, 1, 4.0), (1300, 1, 8.0)],
        "time long, id int, v double")
    ts = TimeSeriesDataFrame(df)

    @FL.udf(T.DoubleType())
    def total(v):
        return float(v.sum())

    win = ts.summarize_windows(W.past_absolute_time(100),
                               {"s": total(df["v"])}, key=["id"])
    assert {r.time: r.s for r in win.df.collect()} == \
        {1000: 4.0, 1100: 8.0, 1300: 8.0}
    cyc = ts.summarize_cycles({"s": total(df["v"])}, key=["id"])
    assert {r.time: r.s for r in cyc.df.collect()} == \
        {1000: 4.0, 1100: 4.0, 1300: 8.0}


def test_add_columns_for_cycle_udf_call(spark, cycles_df):
    """add_columns_for_cycle accepts a bound functions.udf() call (the
    reference CycleColumn udf form) and honors its declared type."""
    from flint_spark.operators import cycles

    @FL.udf(T.DoubleType())
    def pct_of_max(v):
        return v / v.max()

    out = cycles.add_columns_for_cycle(
        cycles_df, {"pom": pct_of_max(cycles_df["v"])})
    got = (out.toPandas().sort_values(["time", "v"], ignore_index=True))
    assert got["pom"].tolist() == pytest.approx(
        [1 / 3, 2 / 3, 1.0, 0.5, 1.0])


def test_resize_media_plumbing(spark):
    from flint_spark.pipeline import multimodal

    docs = spark.createDataFrame(
        [(1, "hello world this is a longer document with many bytes"),
         (2, "tiny")], ["doc_id", "text"])
    mm = multimodal.with_binary_payload(docs)
    out = multimodal.resize_media(mm, width=4, height=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows[1]["payload"]) == 12      # stride-sampled to w*h
    assert len(rows[2]["payload"]) == 4       # shorter than target: kept
    assert rows[1]["media_meta"]["width"] == 4
    assert rows[1]["media_meta"]["height"] == 3
    # deterministic
    again = {r["doc_id"]: r for r in
             multimodal.resize_media(mm, width=4, height=3).collect()}
    assert again[1]["payload"] == rows[1]["payload"]


# ---------------------------------------------------------------------
# deterministic sampling / splitting / packing
# ---------------------------------------------------------------------

def test_hash_split_stable_under_append(spark):
    from flint_spark.pipeline import sampling

    a = spark.range(1000).withColumnRenamed("id", "doc_id")
    b = spark.range(2000).withColumnRenamed("id", "doc_id")
    wa = sampling.hash_split(a, {"train": 0.8, "val": 0.2})
    wb = sampling.hash_split(b, {"train": 0.8, "val": 0.2})
    pa = wa.toPandas().set_index("doc_id")["split"]
    pb = wb.toPandas().set_index("doc_id")["split"]
    # adding data must not move any existing row between splits
    assert (pb.loc[pa.index] == pa).all()
    frac = (pa == "train").mean()
    assert 0.75 < frac < 0.85


def test_deterministic_sample_and_stratified(spark):
    from flint_spark.pipeline import sampling

    df = (spark.range(2000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en")
                      .otherwise("de")))
    s1 = sampling.deterministic_sample(df, 0.25).toPandas()
    s2 = sampling.deterministic_sample(df, 0.25).toPandas()
    assert s1["doc_id"].tolist() == s2["doc_id"].tolist()  # reproducible
    assert 0.2 < len(s1) / 2000 < 0.3
    st = sampling.stratified_sample(df, "lang", {"en": 0.5}).toPandas()
    assert (st["lang"] == "en").all()
    assert 0.4 < len(st) / 1000 < 0.6


def test_take_per_key_and_packing(spark):
    from flint_spark.pipeline import sampling

    df = (spark.range(300).withColumnRenamed("id", "doc_id")
          .withColumn("k", F.pmod(F.col("doc_id"), F.lit(3)))
          .withColumn("n_tokens", F.lit(100) + F.pmod(F.col("doc_id"), F.lit(50))))
    took = sampling.take_per_key(df, ["k"], 5)
    assert took.groupBy("k").count().agg(F.max("count")).first()[0] == 5
    # same 5 every run
    assert sorted(took.toPandas()["doc_id"]) == sorted(took.toPandas()["doc_id"])

    packed = sampling.pack_documents(df, budget=1000, tokens_col="n_tokens",
                                     shard_col="k").toPandas()
    # bins are contiguous in id order and every bin except possibly the
    # last holds >= budget - max_doc tokens and < budget + max_doc
    for _, grp in packed.groupby(["k", "bin_id"]):
        assert grp["n_tokens"].sum() < 1000 + 150
    sizes = (packed.groupby(["k", "bin_id"])["n_tokens"].sum()
             .groupby(level=0).apply(lambda s: s.iloc[:-1]))
    if len(sizes):
        assert (sizes >= 1000 - 150).all()


def test_repeat_dataset_and_mixture(spark):
    from flint_spark.pipeline import sampling

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    r = sampling.repeat_dataset(df, 2.3).toPandas()
    eff = len(r) / 1000
    assert 2.25 < eff < 2.35
    # copies are indexed and deterministic
    counts = r.groupby("doc_id")["repeat_idx"].max() + 1
    assert set(counts.unique()) == {2, 3}
    again = sampling.repeat_dataset(df, 2.3).toPandas()
    assert sorted(again["doc_id"]) == sorted(r["doc_id"])

    sub = sampling.repeat_dataset(df, 0.4)
    n = sub.count()
    assert 330 < n < 470

    mixed = sampling.mix_corpora({
        "web": (df, 1.0), "code": (df, 0.5)}).toPandas()
    share = (mixed["source"] == "code").mean()
    assert 0.28 < share < 0.38  # 0.5/(1+0.5)


def test_lsh_dim_mismatch_raises(spark):
    from flint_spark.pipeline import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="dim"):
        sim.lsh_ann_topk(emb, [0, 1], dim=16)  # fixture vectors are 64-d


def test_minhash_stop_shingle_cap(hot_bucket_docs):
    """max_df on the signature path: boilerplate shingles stop pulling
    unrelated docs' signatures together, so candidate pairs shrink
    while the genuine near-dup pair survives."""
    loose = dedup.minhash_lsh_pairs(hot_bucket_docs, threshold=0.0)
    tight = dedup.minhash_lsh_pairs(hot_bucket_docs, threshold=0.0, max_df=30)
    assert tight.count() < loose.count()
    assert (tight.filter((F.col("id_a") == 100) & (F.col("id_b") == 101))
            .count() == 1)


def test_winnowing_fingerprints(spark):
    """Winnow set is a subset of shingle hashes, ~2/(w+1) dense, and a
    shared run between two docs is guaranteed to produce a shared
    fingerprint (the MOSS guarantee for runs longer than w+k-1)."""
    from flint_spark.pipeline.dedup import winnow_fingerprints, winnow_pairs

    common = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, f"intro words {common} closing remarks here"),
         (2, f"other beginning text {common} different ending words"),
         (3, "completely unrelated content about spark window functions")],
        ["doc_id", "text"])
    fps = winnow_fingerprints(docs, window=4)
    per_doc = {r["doc_id"]: r["n"] for r in
               fps.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert all(n > 0 for n in per_doc.values())
    pairs = winnow_pairs(docs, window=4, min_shared=2).collect()
    keys = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in keys           # the shared run is detected
    assert all(3 not in p for p in keys)  # unrelated doc stays out
    # density: winnowed set is well below the full shingle count
    from flint_spark.pipeline.dedup import shingles
    n_sh = shingles(docs).groupBy("doc_id").count().agg(F.sum("count")).first()[0]
    n_fp = fps.count()
    assert n_fp < n_sh * 0.8


def test_decontaminate_exact_ngram_semantics(spark):
    from flint_spark.pipeline import decontam

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence with no overlap at all"),
         (3, "quick brown fox jumps over something else entirely today")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "xx the quick brown fox jumps yy")], "doc_id long, text string")
    out = {r["doc_id"]: (r["hits"], r["contaminated"])
           for r in decontam.decontaminate(train, test, n=5).collect()}
    # doc 1 shares 'the quick brown fox jumps' (and the 5-gram starting
    # at 'quick' is NOT in test: test has 'quick brown fox jumps yy')
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)   # shares 4-gram only, n=5 misses it
    # plan: dictionary side must broadcast, corpus must not shuffle for it
    plan = decontam.decontaminate(train, test, n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
