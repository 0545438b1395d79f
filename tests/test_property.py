"""Property-based differential testing (hypothesis): random small
frames, as-of joins checked against pandas merge_asof and a
hand-written reference; summarizers against pandas aggregation.
Goes beyond the reference's test strategy (it had no randomized
differential harness — SURVEY §5)."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from flint_spark import summarizers as S
from flint_spark.operators import aggregate as agg_ops
from flint_spark.operators import asof

_SPARK = {}


def _spark():
    if "s" not in _SPARK:
        from flint_spark.session import get_spark
        _SPARK["s"] = get_spark("prop_tests")
    return _SPARK["s"]


@st.composite
def panels(draw, max_rows=40):
    n = draw(st.integers(1, max_rows))
    times = sorted(draw(st.lists(st.integers(0, 500), min_size=n, max_size=n)))
    ids = draw(st.lists(st.integers(1, 3), min_size=n, max_size=n))
    vals = draw(st.lists(st.integers(-100, 100), min_size=n, max_size=n))
    return pd.DataFrame({"time": times, "id": ids,
                         "v": [float(x) for x in vals]})


def _ref_asof_backward(left, right, tol):
    out = []
    for _, lr in left.iterrows():
        cand = right[(right["id"] == lr["id"]) & (right["time"] <= lr["time"])
                     & (right["time"] >= lr["time"] - tol)]
        out.append(cand.sort_values("time").iloc[-1]["rv"]
                   if len(cand) else None)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200))
def test_asof_backward_vs_reference(left, right, tol):
    # unique (id, time) on the right — ties are engine-order-dependent
    right = (right.groupby(["time", "id"], as_index=False)
             .agg(rv=("v", "max")))
    spark = _spark()
    ldf = spark.createDataFrame(left, "time long, id int, v double")
    rdf = spark.createDataFrame(right, "time long, id int, rv double")
    got = (asof.left_join(ldf, rdf, tolerance=tol, key=["id"])
           .toPandas().sort_values(["time", "id", "v"], ignore_index=True))
    exp_vals = _ref_asof_backward(
        left.sort_values(["time", "id", "v"], ignore_index=True), right, tol)
    got_vals = [None if pd.isna(x) else x for x in got["rv"]]
    assert got_vals == exp_vals


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels())
def test_summarize_vs_pandas(panel):
    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double")
    summ = S.compose(S.count(), S.sum_("v"), S.mean("v"),
                     S.min_("v"), S.max_("v"))
    got = agg_ops.summarize(df, summ, key=["id"]).toPandas() \
        .set_index("id").sort_index()
    exp = panel.groupby("id")["v"].agg(["count", "sum", "mean", "min", "max"])
    assert (got["count"] == exp["count"]).all()
    assert np.allclose(got["v_sum"], exp["sum"])
    assert np.allclose(got["v_mean"], exp["mean"])
    assert np.allclose(got["v_min"], exp["min"])
    assert np.allclose(got["v_max"], exp["max"])


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), w=st.integers(0, 100))
def test_window_count_vs_pandas(panel, w):
    from flint_spark import windows as W
    from flint_spark.operators import windows_ops

    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double")
    got = (windows_ops.summarize_windows(df, W.TimeWindow(-w, 0, "p"),
                                         S.count(), key=["id"])
           .toPandas())
    for _, r in got.iterrows():
        exp = ((panel["id"] == r["id"]) & (panel["time"] <= r["time"])
               & (panel["time"] >= r["time"] - w)).sum()
        assert r["count"] == exp


@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), budget=st.integers(50, 500))
def test_pack_documents_invariants(panel, budget):
    """Packing: every bin's tokens < budget + max_doc; bins are
    contiguous in id order; no document dropped or duplicated."""
    from flint_spark.pipeline import sampling

    pdf = panel.rename(columns={"time": "doc_id"}).drop_duplicates("doc_id")
    pdf["n_tokens"] = (pdf["v"].abs() % 97 + 1).astype(int)
    df = _spark().createDataFrame(pdf[["doc_id", "id", "n_tokens"]])
    out = sampling.pack_documents(df, budget=budget, tokens_col="n_tokens",
                                  shard_col="id").toPandas()
    assert len(out) == len(pdf)
    mx = out["n_tokens"].max()
    for (_, _), grp in out.groupby(["id", "bin_id"]):
        assert grp["n_tokens"].sum() < budget + mx
    for _, shard in out.groupby("id"):
        shard = shard.sort_values("doc_id")
        assert (shard["bin_id"].diff().dropna() >= 0).all()  # monotone bins


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), seq_len=st.integers(8, 200))
def test_pack_sequences_invariants(panel, seq_len):
    """Boundary-splitting packing: segments cover each document's
    tokens exactly once, contiguously from offset 0, and every
    per-shard sequence except the last holds exactly seq_len tokens."""
    from flint_spark.pipeline import sampling

    pdf = panel.rename(columns={"time": "doc_id"}).drop_duplicates("doc_id")
    pdf["n_tokens"] = (pdf["v"].abs() % 97).astype(int)  # zeros included
    df = _spark().createDataFrame(pdf[["doc_id", "id", "n_tokens"]])
    out = sampling.pack_sequences(df, seq_len, "n_tokens",
                                  shard_col="id").toPandas()
    toks = dict(zip(pdf["doc_id"], pdf["n_tokens"]))
    for doc, grp in out.groupby("doc_id"):
        grp = grp.sort_values("seq_id")
        assert list(grp["doc_off"]) == \
            [0, *grp["seg_tokens"].cumsum()[:-1]]
        assert grp["seg_tokens"].sum() == toks[doc]
    for shard, grp in out.groupby("id"):
        per_seq = grp.groupby("seq_id")["seg_tokens"].sum()
        last = per_seq.index.max()
        total = sum(toks[d] for d in pdf[pdf["id"] == shard]["doc_id"])
        for seq, tot in per_seq.items():
            assert tot == (seq_len if seq != last
                           else total - last * seq_len)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), budget=st.integers(8, 300))
def test_pack_bins_invariants(panel, budget):
    """Next-fit capacity packing: no document dropped/duplicated, bins
    monotone in id order, every bin fits the budget unless it holds a
    single oversized document."""
    from flint_spark.pipeline import sampling

    pdf = panel.rename(columns={"time": "doc_id"}).drop_duplicates("doc_id")
    pdf["n_tokens"] = (pdf["v"].abs() % 257).astype(int)
    df = _spark().createDataFrame(pdf[["doc_id", "id", "n_tokens"]])
    out = sampling.pack_bins(df, budget=budget, tokens_col="n_tokens",
                             shard_col="id").toPandas()
    assert len(out) == len(pdf)
    for (_, _), grp in out.groupby(["id", "bin_id"]):
        tot = grp["n_tokens"].sum()
        assert tot <= budget or (len(grp) == 1
                                 and grp["n_tokens"].iloc[0] > budget)
    for _, shard in out.groupby("id"):
        shard = shard.sort_values("doc_id")
        assert (shard["bin_id"].diff().dropna() >= 0).all()
        assert shard["bin_id"].iloc[0] == 0


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), n_shards=st.integers(1, 8),
       k=st.integers(1, 4))
def test_balance_shards_invariants(panel, n_shards, k):
    """Token-balanced sharding: every document assigned exactly one
    shard in [0, n); per-shard token totals spread at most K*4x the
    largest document (per-(magnitude, sub-bucket) round-robin bound,
    K=1 default); and the assignment is a pure function of
    (tokens, id) — rerun equal."""
    from flint_spark.pipeline import sampling

    pdf = panel.rename(columns={"time": "doc_id"}).drop_duplicates("doc_id")
    pdf["n_tokens"] = (pdf["v"].abs() % 997).astype(int)
    df = _spark().createDataFrame(pdf[["doc_id", "n_tokens"]])
    out = sampling.balance_shards(df, n_shards, "n_tokens",
                                  sub_buckets=k).toPandas()
    assert len(out) == len(pdf)
    assert out["shard"].between(0, n_shards - 1).all()
    sums = out.groupby("shard")["n_tokens"].sum()
    sums = sums.reindex(range(n_shards), fill_value=0)
    mx = int(out["n_tokens"].max())
    assert sums.max() - sums.min() <= k * 4 * max(mx, 1), sums
    again = sampling.balance_shards(df, n_shards, "n_tokens",
                                    sub_buckets=k).toPandas()
    a = dict(zip(out["doc_id"], out["shard"]))
    b = dict(zip(again["doc_id"], again["shard"]))
    assert a == b


@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60,
                    unique=True))
def test_hash_split_is_pure_function_of_id(ids):
    """The split of an id never depends on what other rows are present."""
    from flint_spark.pipeline import sampling

    spark = _spark()
    full = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    half = spark.createDataFrame([(i,) for i in ids[::2]], ["doc_id"])
    w = {"train": 0.7, "val": 0.3}
    pf = (sampling.hash_split(full, w).toPandas()
          .set_index("doc_id")["split"])
    ph = (sampling.hash_split(half, w).toPandas()
          .set_index("doc_id")["split"])
    assert (pf.loc[ph.index] == ph).all()


def _ref_asof_forward(left, right, tol, strict):
    out = []
    for _, lr in left.iterrows():
        lo = lr["time"] + 1 if strict else lr["time"]
        cand = right[(right["id"] == lr["id"]) & (right["time"] >= lo)
                     & (right["time"] <= lr["time"] + tol)]
        out.append(cand.sort_values("time").iloc[0]["rv"]
                   if len(cand) else None)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200),
       strict=st.booleans())
def test_asof_forward_vs_reference(left, right, tol, strict):
    """Forward join (desc-order prefix-frame formulation) vs a
    hand-written per-row reference, strict and non-strict."""
    right = (right.groupby(["time", "id"], as_index=False)
             .agg(rv=("v", "max")))
    spark = _spark()
    ldf = spark.createDataFrame(left, "time long, id int, v double")
    rdf = spark.createDataFrame(right, "time long, id int, rv double")
    got = (asof.future_left_join(ldf, rdf, tolerance=tol, key=["id"],
                                 strict_lookahead=strict)
           .toPandas().sort_values(["time", "id", "v"], ignore_index=True))
    exp_vals = _ref_asof_forward(
        left.sort_values(["time", "id", "v"], ignore_index=True),
        right, tol, strict)
    got_vals = [None if pd.isna(x) else x for x in got["rv"]]
    assert got_vals == exp_vals


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200))
def test_symmetric_join_equals_two_left_joins(left, right, tol):
    """Single-pass symmetric join == union of the two independent
    left_joins (the definitionally-correct composition)."""
    left = (left.groupby(["time", "id"], as_index=False)
            .agg(lv=("v", "max")))
    right = (right.groupby(["time", "id"], as_index=False)
             .agg(rv=("v", "max")))
    spark = _spark()
    ldf = spark.createDataFrame(left, "time long, id int, lv double")
    rdf = spark.createDataFrame(right, "time long, id int, rv double")
    got = (asof.symmetric_join(ldf, rdf, tolerance=tol, key=["id"])
           .toPandas())
    a = (asof.left_join(ldf, rdf, tol, ["id"], "left", "right").toPandas()
         .assign(side="left"))
    b = (asof.left_join(rdf, ldf, tol, ["id"], "right", "left").toPandas()
         .assign(side="right"))
    exp = pd.concat([a, b], ignore_index=True)
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols, ignore_index=True)
    e = exp[cols].sort_values(cols, ignore_index=True)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)


@st.composite
def corpora(draw, max_docs=12):
    n = draw(st.integers(2, max_docs))
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    texts = [" ".join(draw(st.lists(st.sampled_from(vocab),
                                    min_size=1, max_size=8)))
             for _ in range(n)]
    return pd.DataFrame({"doc_id": range(n), "text": texts})


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(docs=corpora())
def test_tfidf_vs_pandas_reference(docs):
    """tfidf_top_terms == a direct pandas tf-idf computation (raw tf,
    ln(n_docs/df), rank ties on term)."""
    import math

    from flint_spark.pipeline.text import tfidf_top_terms

    spark = _spark()
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = (tfidf_top_terms(sdf, k=2)
           .toPandas().sort_values(["doc_id", "rank"], ignore_index=True))

    tok = docs.assign(w=docs["text"].str.split(" ")).explode("w")
    tf = tok.groupby(["doc_id", "w"]).size()
    dfreq = tok.drop_duplicates(["doc_id", "w"]).groupby("w").size()
    n_docs = len(docs)
    rows = []
    for (did, w), f in tf.items():
        rows.append((did, w, f, f * math.log(n_docs / dfreq[w])))
    ref = pd.DataFrame(rows, columns=["doc_id", "term", "tf", "tfidf"])
    ref = (ref.sort_values(["doc_id", "tfidf", "term"],
                           ascending=[True, False, True])
           .groupby("doc_id").head(2).reset_index(drop=True))
    assert len(got) == len(ref)
    for g, r in zip(got.itertuples(), ref.itertuples()):
        assert (g.doc_id, g.term, g.tf) == (r.doc_id, r.term, r.tf)
        assert abs(g.tfidf - r.tfidf) < 1e-9


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(docs=corpora())
def test_unigram_logprob_vs_pandas_reference(docs):
    import math

    from flint_spark.pipeline.text import unigram_logprob

    spark = _spark()
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = (unigram_logprob(sdf).toPandas()
           .sort_values("doc_id", ignore_index=True))
    tok = docs.assign(w=docs["text"].str.split(" ")).explode("w")
    cnt = tok.groupby("w").size()
    total = len(tok)
    ref = (tok.assign(nll=tok["w"].map(lambda w: -math.log(cnt[w] / total)))
           .groupby("doc_id")["nll"].mean())
    for r in got.itertuples():
        assert abs(r.nll - ref[r.doc_id]) < 1e-9
        assert r.n_tokens == (tok["doc_id"] == r.doc_id).sum()


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=30,
                     unique=True),
       split=st.integers(1, 29))
def test_bloom_no_false_negatives_property(keys, split):
    """Any corpus/batch split: every corpus key is flagged maybe_seen
    (no false negatives), and keys the filter keeps are never corpus
    members."""
    from flint_spark.pipeline import bloom

    spark = _spark()
    corpus_keys = keys[:min(split, len(keys))]
    corpus = spark.createDataFrame([(k,) for k in corpus_keys], "k long")
    batch = spark.createDataFrame([(k,) for k in keys], "k long")
    bf = bloom.bloom_build(corpus, "k", m=1 << 12, k=3, salt="p")
    flags = {r["k"]: r["maybe_seen"]
             for r in bloom.bloom_flag(batch, bf, "k", m=1 << 12, k=3,
                                       salt="p").collect()}
    for ck in corpus_keys:
        assert flags[ck] is True
    kept = {k for k, seen in flags.items() if not seen}
    assert kept.isdisjoint(set(corpus_keys))


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(edges=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                      min_size=1, max_size=40))
def test_connected_components_vs_union_find(edges):
    """Distributed min-label propagation + pointer jumping == classic
    union-find on arbitrary random graphs (self-loops and duplicate
    edges included); every node labeled with its component minimum."""
    from flint_spark.pipeline.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    spark = _spark()
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster"]
           for r in connected_components(pairs).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    for a, b in edges:
        union(a, b)
    comp_min = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    exp = {n: comp_min[find(n)] for n in parent}
    assert got == exp


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(st.integers(0, 9999),
                          st.sampled_from(["en", "de", "fr"])),
                min_size=5, max_size=60, unique_by=lambda t: t[0]))
def test_temperature_mix_properties(rows):
    """alpha=1 keeps everything; alpha<1 keeps the whole SMALLEST
    stratum (downsampling larger strata toward it) and never
    upsamples; selection is a pure function of id
    (layout-independent)."""
    from flint_spark.pipeline import sampling

    spark = _spark()
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang"])
    df = spark.createDataFrame(pdf)
    full = sampling.temperature_mix(df, "lang", alpha=1.0).toPandas()
    assert len(full) == len(pdf)

    out = sampling.temperature_mix(df, "lang", alpha=0.5) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    counts = pdf.groupby("lang").size()
    smallest = counts.idxmin()
    kept = out.groupby("lang").size()
    assert kept.get(smallest, 0) == counts[smallest]
    for lang, n in counts.items():
        assert kept.get(lang, 0) <= n
    out2 = sampling.temperature_mix(df.repartition(7), "lang", alpha=0.5) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(out, out2)


def test_pca_components_orthonormal_and_dominant():
    """Components are unit-norm, near-orthogonal, and pc0 captures at
    least as much Gramian energy as pc1 (power iteration converged)."""
    import numpy as np
    from flint_spark.pipeline import similarity

    spark = _spark()
    rng = np.random.RandomState(3)
    # anisotropic cloud: one dominant direction
    base = rng.randn(200, 64) * 0.1
    base[:, 7] += rng.randn(200) * 3.0
    base[:, 23] += rng.randn(200) * 1.0
    pdf = pd.DataFrame({"vec_id": range(200),
                        "embedding": [r.tolist() for r in base]})
    df = spark.createDataFrame(pdf)
    comps = similarity.pca_components(df, n_components=2, iters=8)
    u0, u1 = np.array(comps[0]), np.array(comps[1])
    assert abs(np.linalg.norm(u0) - 1) < 1e-4
    assert abs(np.linalg.norm(u1) - 1) < 1e-4
    assert abs(u0 @ u1) < 1e-2
    # dominant axis is 7
    assert np.argmax(np.abs(u0)) == 7
    G = base.T @ base
    assert u0 @ G @ u0 >= u1 @ G @ u1
    proj = similarity.pca_project(df, comps).toPandas()
    ref0 = base @ u0
    got = proj.sort_values("vec_id")["pc0"].to_numpy()
    assert np.allclose(got, ref0, atol=1e-6)


def test_semantic_dedup_pairs_vs_brute_force():
    """Within-cluster pairs == brute-force pairs restricted to same
    assigned cluster; max_cluster drops oversized clusters entirely."""
    import numpy as np
    from flint_spark.pipeline import similarity

    spark = _spark()
    rng = np.random.RandomState(5)
    centers = rng.randn(3, 64) * 2
    vecs = np.vstack([centers[i % 3] + rng.randn(64) * 0.3
                      for i in range(60)])
    pdf = pd.DataFrame({"vec_id": range(60),
                        "embedding": [r.tolist() for r in vecs]})
    df = spark.createDataFrame(pdf)
    cent_ids = [0, 1, 2]
    out = similarity.semantic_dedup_pairs(df, cent_ids, threshold=0.8,
                                          method="expr").toPandas()
    out_arrow = similarity.semantic_dedup_pairs(df, cent_ids, threshold=0.8,
                                                method="arrow").toPandas()
    # arrow (numpy matmul) and expr (fold) paths agree on the pair SET
    # and to float tolerance on values
    pd.testing.assert_frame_equal(
        out.sort_values(["id_a", "id_b"], ignore_index=True).round(9),
        out_arrow.sort_values(["id_a", "id_b"], ignore_index=True).round(9),
        check_dtype=False)
    # brute-force reference
    def cos(a, b):
        return a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    assign = {}
    for i in range(60):
        sims = [(cos(vecs[i], vecs[c]), -c) for c in cent_ids]
        assign[i] = -max(sims)[1]
    ref = set()
    for i in range(60):
        for j in range(i + 1, 60):
            if assign[i] == assign[j] and cos(vecs[i], vecs[j]) >= 0.8:
                ref.add((i, j))
    got = set(zip(out["id_a"], out["id_b"]))
    assert got == ref
    # skew guard: a cap below every cluster size empties the output
    capped = similarity.semantic_dedup_pairs(df, cent_ids, threshold=0.8,
                                             max_cluster=5).toPandas()
    assert len(capped) == 0


def test_flag_repeated_spans_short_docs_and_exact_dups():
    """Docs shorter than n get n_ngrams=0; exact duplicate docs have
    repeated_frac == 1.0; a unique doc has repeated_frac == 0."""
    from flint_spark.pipeline import dedup

    spark = _spark()
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c d e f g",            # dup of 2
                 "a b c d e f g",
                 "totally unique words here never repeated elsewhere x",
                 "tiny"],                      # < n words
    })
    out = dedup.flag_repeated_spans(spark.createDataFrame(pdf), n=5,
                                    min_df=2) \
        .toPandas().set_index("doc_id")
    assert out.loc[4, "n_ngrams"] == 0 and out.loc[4, "repeated_frac"] == 0
    assert out.loc[1, "repeated_frac"] == 1.0
    assert out.loc[2, "repeated_frac"] == 1.0
    assert out.loc[3, "repeated_frac"] == 0.0


def test_remove_repeated_spans_semantics_and_chunk_composability():
    """r10 verdict item 4: the Lee et al. REWRITE stage. Pins (a) exact
    excision of a cross-document span with everything else intact,
    (b) flag/remove consistency — a fully-repeated doc rewrites to
    empty exactly when flag_repeated_spans scores it 1.0, (c) the
    rewrite composes with chunk_documents (chunks rebuild the cleaned
    text, never resurrect removed spans), (d) layout invariance."""
    from flint_spark.pipeline import dedup
    from flint_spark.pipeline.text import chunk_documents

    spark = _spark()
    span = "one two three four five"
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [f"intro words here {span} tail words",
                 f"other document text {span} closing part",
                 "a b c d e f g",            # exact dup pair -> fully
                 "a b c d e f g",            # covered, rewrites empty
                 "unique content with no shared spans at all"],
    })
    df = spark.createDataFrame(pdf)
    out = dedup.remove_repeated_spans(df, n=5, min_df=2) \
        .toPandas().set_index("doc_id").sort_index()
    assert out.loc[1, "text"] == "intro words here tail words"
    assert out.loc[2, "text"] == "other document text closing part"
    assert out.loc[1, "n_words_removed"] == 5
    # flag/remove consistency: repeated_frac==1.0 docs rewrite empty
    assert out.loc[3, "text"] == "" and out.loc[3, "n_words_kept"] == 0
    assert out.loc[4, "text"] == ""
    assert out.loc[5, "text"] == pdf.loc[4, "text"]
    assert out.loc[5, "n_words_removed"] == 0
    flags = dedup.flag_repeated_spans(df, n=5, min_df=2) \
        .toPandas().set_index("doc_id")
    for i in (3, 4):
        assert flags.loc[i, "repeated_frac"] == 1.0
        assert out.loc[i, "n_words_kept"] == 0

    # composability: chunk the CLEANED corpus; every chunk text is a
    # substring of the cleaned doc and chunk token counts re-add
    cleaned = dedup.remove_repeated_spans(df, n=5, min_df=2)
    chunks = chunk_documents(cleaned, max_tokens=4, overlap=1) \
        .toPandas()
    cl = out["text"].to_dict()
    for _, r in chunks.iterrows():
        if r["chunk_text"]:
            assert r["chunk_text"] in cl[r["doc_id"]], r["chunk_text"]
            assert span not in r["chunk_text"]

    # layout invariance
    out2 = dedup.remove_repeated_spans(df.repartition(7), n=5, min_df=2) \
        .toPandas().set_index("doc_id").sort_index()
    pd.testing.assert_frame_equal(out, out2)


def test_hashed_classifier_score_bounds_and_determinism():
    """Scores in (0,1); raw mean bounded by max |weight|; layout-
    independent."""
    from flint_spark.pipeline import text as text_ops
    from flint_spark.pipeline.hashing import linear_weights

    spark = _spark()
    pdf = pd.DataFrame({"doc_id": range(20),
                        "text": [f"word{i} common tokens {i}" for i in range(20)]})
    df = spark.createDataFrame(pdf)
    out = text_ops.hashed_classifier_score(df).toPandas()
    wmax = max(abs(x) for x in linear_weights(64, 17))
    assert (out["clf_score"] > 0).all() and (out["clf_score"] < 1).all()
    assert (out["clf_raw"].abs() <= wmax + 1e-9).all()
    out2 = text_ops.hashed_classifier_score(df.repartition(5)).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id", ignore_index=True),
        out2.sort_values("doc_id", ignore_index=True))


def test_gramian_arrow_matches_expr():
    """Arrow (GEMM partials) and expr (posexplode) Gramians agree to
    float tolerance; pca_components(method='arrow') returns the same
    quantized components when the quantization absorbs the FP delta."""
    import numpy as np
    from flint_spark.pipeline import similarity

    spark = _spark()
    rng = np.random.RandomState(11)
    base = rng.randn(150, 16)
    pdf = pd.DataFrame({"vec_id": range(150),
                        "embedding": [r.tolist() for r in base]})
    df = spark.createDataFrame(pdf)
    ge = similarity.gramian(df, dim=16).toPandas() \
        .sort_values(["i", "j"], ignore_index=True)
    ga = similarity.gramian(df, dim=16, method="arrow").toPandas() \
        .sort_values(["i", "j"], ignore_index=True)
    assert np.allclose(ge["g"], ga["g"], rtol=1e-12)
    ce = similarity.pca_components(df, 2, dim=16)
    ca = similarity.pca_components(df, 2, dim=16, method="arrow")
    assert ce == ca


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), lo=st.integers(-120, 60), span=st.integers(0, 180),
       bucket=st.integers(1, 400))
def test_summarize_windows_udf_vs_brute_force(panel, lo, span, bucket):
    """Bucketed window-UDF engine vs per-row pandas brute force on
    random panels (duplicate timestamps included): any window bounds
    [lo, lo+span] incl. detached/future ones, any bucket width >=
    span (random widths land group boundaries everywhere relative to
    windows)."""
    from flint_spark import functions as FL
    from flint_spark.windows import TimeWindow

    hi = lo + span
    width = max(bucket, span, 1)
    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double")
    out = FL.summarize_windows_udf(
        df, TimeWindow(lo, hi, "rand"),
        lambda w: float(w["v"].sum()) if len(w) else -1.0,
        "s", key=["id"], bucket=width)
    got = {}
    for r in out.collect():
        got.setdefault((r.time, r.id, r.v), []).append(r.s)
    exp = {}
    for _, row in panel.iterrows():
        sub = panel[(panel.id == row.id)
                    & (panel.time >= row.time + lo)
                    & (panel.time <= row.time + hi)]
        k = (row.time, row.id, row.v)
        exp.setdefault(k, []).append(float(sub.v.sum())
                                     if len(sub) else -1.0)
    assert {k: sorted(v) for k, v in got.items()} \
        == {k: sorted(v) for k, v in exp.items()}


@st.composite
def interval_sets(draw, max_rows=30):
    n = draw(st.integers(1, max_rows))
    rows = []
    for i in range(n):
        b = draw(st.integers(0, 300))
        d = draw(st.integers(-3, 60))  # includes degenerate/empty
        k = draw(st.integers(0, 2))
        rows.append((i, b, b + d, f"k{k}"))
    return rows


def _islands(rows, keyed, merge_adjacent=True):
    from collections import defaultdict
    groups = defaultdict(list)
    for i, b, e, k in rows:
        if e > b:
            groups[k if keyed else 0].append((b, e))
    out = {}
    for k, l in groups.items():
        l.sort()
        isl = []
        for b, e in l:
            joined = isl and (b <= isl[-1][1] if merge_adjacent
                              else b < isl[-1][1])
            if joined:
                isl[-1][1] = max(isl[-1][1], e)
                isl[-1][2] += 1
            else:
                isl.append([b, e, 1])
        out[k] = isl
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows=interval_sets(), adj=st.booleans(), bucket=st.integers(7, 97))
def test_interval_family_vs_reference(rows, adj, bucket):
    """merge_intervals == island scan; interval_gaps == island holes;
    interval_overlap_join == brute-force overlap pairs — all under a
    random bucket width (exactly-once emission must hold for ANY
    width, that is the point of the overlap-start-bucket rule)."""
    from flint_spark.operators.intervals import interval_gaps, merge_intervals
    from flint_spark.operators.joins import interval_overlap_join

    spark = _spark()
    df = spark.createDataFrame(rows, "iid long, begin long, end long, k string")

    ref = _islands(rows, True, adj)
    got = sorted((r.k, r.begin, r.end, r.n_merged) for r in
                 merge_intervals(df, key=["k"], merge_adjacent=adj).collect())
    exp = sorted((k, b, e, c) for k, isl in ref.items() for b, e, c in isl)
    assert got == exp

    ref_adj = _islands(rows, True, True)
    got_g = sorted((r.k, r.begin, r.end) for r in
                   interval_gaps(df, key=["k"]).collect())
    exp_g = sorted((k, a[1], b2[0]) for k, isl in ref_adj.items()
                   for a, b2 in zip(isl, isl[1:]))
    assert got_g == exp_g

    rdf = spark.createDataFrame(
        [(i + 1000, b, e, k) for i, b, e, k in rows],
        "rid long, rbegin long, rend long, k string")
    got_p = sorted((r.iid, r.rid) for r in interval_overlap_join(
        df, rdf, bucket=bucket, key=["k"]).select("iid", "rid").collect())
    exp_p = sorted((i, j + 1000)
                   for i, b, e, k in rows if e > b
                   for j, rb, re_, rk in rows
                   if re_ > rb and rk == k and b < re_ and rb < e)
    assert got_p == exp_p


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200),
       k=st.integers(1, 4))
def test_left_join_topk_vs_reference(left, right, tol, k):
    """Last-k as-of join (union-engine and broadcast paths)
    == per-row reference: tail of the (time, value)-sorted candidate
    run, reversed — for random frames, tolerances and k, including
    duplicate timestamps (tie rule) and ids missing on either side."""
    from flint_spark.operators.asof import (left_join_topk,
                                            left_join_topk_broadcast)

    spark = _spark()
    right = right.rename(columns={"v": "rv"})
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)

    def ref():
        out = {}
        for _, lr in left.iterrows():
            cand = right[(right["id"] == lr["id"])
                         & (right["time"] <= lr["time"])
                         & (right["time"] >= lr["time"] - tol)]
            cand = cand.sort_values(["time", "rv"])
            out[(lr["time"], lr["id"], lr["v"])] = \
                list(cand["rv"])[-k:][::-1]
        return out

    exp = ref()
    for fn in (left_join_topk, left_join_topk_broadcast):
        got = {(r.time, r.id, r.v): list(r.rv_lastk)
               for r in fn(ldf, rdf, k=k, tolerance=tol,
                           key=["id"]).collect()}
        assert got == exp, fn.__name__


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(max_rows=30),
       scale=st.floats(0.5, 4.0), shift=st.floats(-50.0, 50.0))
def test_ewm_moments_affine_invariance(panel, scale, shift):
    """Estimator laws for the decayed-moment family on random panels:
    mean(a·x + b) = a·mean(x) + b, var(a·x + b) = a²·var(x),
    vol scales by |a|, and corr(x, a·x + b) pins at 1 wherever
    defined (a > 0). Catches any weight/normalizer asymmetry between
    the moment columns that pointwise goldens could miss."""
    from pyspark.sql import functions as F

    from flint_spark.operators.ema import ewm_corr, ewm_volatility

    spark = _spark()
    pdf = panel.copy()
    pdf["time"] = pdf["time"] * 10 ** 9
    df = spark.createDataFrame(pdf)
    a, b = float(scale), float(shift)
    base = ewm_volatility(df, "v", alpha=0.2, duration_per_period="100s",
                          key=["id"])
    tx = ewm_volatility(df.withColumn("v", F.col("v") * a + b),
                        "v", alpha=0.2, duration_per_period="100s",
                        key=["id"])
    kb = {(r.id, r.time): (r.v_ewm_mean, r.v_ewm_var)
          for r in base.collect()}
    kt = {(r.id, r.time): (r.v_ewm_mean, r.v_ewm_var)
          for r in tx.collect()}
    assert set(kb) == set(kt)
    for kk in kb:
        m0, v0 = kb[kk]
        m1, v1 = kt[kk]
        assert abs(m1 - (a * m0 + b)) < 1e-6 * (1 + abs(m0) + abs(b))
        assert abs(v1 - a * a * v0) < 1e-6 * (1 + v0)

    cdf = ewm_corr(df.withColumn("y", F.col("v") * a + b), "v", "y",
                   alpha=0.2, duration_per_period="100s", key=["id"])
    for r in cdf.collect():
        if r.v_y_ewm_corr is not None:
            assert abs(r.v_y_ewm_corr - 1.0) < 1e-6
            assert abs(r.v_y_ewm_beta - 1.0 / a) < 1e-4 * (1 + 1 / a)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(max_rows=24), n_splits=st.integers(1, 3),
       data=st.data())
def test_ewm_stream_batch_differential(panel, n_splits, data):
    """In-order replay differential on random panels: ewma_stream and
    ewm_volatility_stream replayed over 1-3 time-ordered trigger files
    must match the batch engines at 1e-9 — pins the cross-trigger
    carry/renormalization math (state enters as E·exp(-Σsteps)) on
    arbitrary gaps, duplicate timestamps and key mixes."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flint_spark.operators.ema import ewm_volatility, ewma_native
    from flint_spark.streaming import ts_stream

    spark = _spark()
    pdf = panel.copy()
    # dedupe (id, time) — duplicate timestamps make the stream's
    # stable sort order nondeterministic vs the batch tie rule for
    # the running value; the tie RULE itself is pinned elsewhere
    pdf = pdf.drop_duplicates(["id", "time"]).reset_index(drop=True)
    pdf["time"] = pdf["time"] * 10 ** 9
    df = spark.createDataFrame(pdf)

    cuts = sorted(data.draw(st.lists(
        st.integers(0, 500 * 10 ** 9), min_size=n_splits - 1,
        max_size=n_splits - 1, unique=True)))
    with tempfile.TemporaryDirectory() as d:
        bounds = [None, *cuts, None]
        wrote = 0
        for i in range(len(bounds) - 1):
            part = df
            if bounds[i] is not None:
                part = part.filter(F.col("time") >= bounds[i])
            if bounds[i + 1] is not None:
                part = part.filter(F.col("time") < bounds[i + 1])
            if part.count() == 0:
                continue
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(d, f"tmp{i}"))
            src = next(f for f in os.listdir(os.path.join(d, f"tmp{i}"))
                       if f.endswith(".parquet"))
            os.rename(os.path.join(d, f"tmp{i}", src),
                      os.path.join(d, f"chunk_{i}.parquet"))
            wrote += 1
        assert wrote > 0
        st_df = (spark.readStream.schema(df.schema)
                 .option("maxFilesPerTrigger", 1).parquet(d))
        out = ts_stream.ewma_stream(st_df, "v", key=["id"], alpha=0.3,
                                    duration_per_period="100s",
                                    time_column="time")
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName("pdiff_ewma").start())
        q.processAllAvailable()
        q.stop()
        st2 = (spark.readStream.schema(df.schema)
               .option("maxFilesPerTrigger", 1).parquet(d))
        out2 = ts_stream.ewm_volatility_stream(
            st2, "v", key=["id"], alpha=0.3, duration_per_period="100s",
            time_column="time")
        q2 = (out2.writeStream.outputMode("append").format("memory")
              .queryName("pdiff_vol").start())
        q2.processAllAvailable()
        q2.stop()

    got_e = {(r.id, r["__tns"]): r.v_ewma
             for r in spark.sql("SELECT * FROM pdiff_ewma").collect()}
    exp_e = {(r.id, r.time): r.v_ewma
             for r in ewma_native(df, "v", alpha=0.3,
                                  duration_per_period="100s",
                                  key=["id"]).collect()}
    assert set(got_e) == set(exp_e)
    for kk in exp_e:
        assert abs(got_e[kk] - exp_e[kk]) < 1e-9, kk

    got_v = {(r.id, r["__tns"]): (r.v_ewm_mean, r.v_ewm_var)
             for r in spark.sql("SELECT * FROM pdiff_vol").collect()}
    exp_v = {(r.id, r.time): (r.v_ewm_mean, r.v_ewm_var)
             for r in ewm_volatility(df, "v", alpha=0.3,
                                     duration_per_period="100s",
                                     key=["id"]).collect()}
    assert set(got_v) == set(exp_v)
    for kk in exp_v:
        assert abs(got_v[kk][0] - exp_v[kk][0]) < 1e-9, kk
        assert abs(got_v[kk][1] - exp_v[kk][1]) < 1e-9, kk


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(max_rows=24), n_splits=st.integers(1, 3),
       data=st.data())
def test_kalman_hw_stream_batch_differential(panel, n_splits, data):
    """In-order replay differential for the recursion engines:
    kalman_stream and holt_winters_stream over 1-3 time-ordered
    trigger files must match the batch operators at 1e-9 on random
    panels — pins the cross-trigger state carry ((last_t, level, var)
    and the (init, level, trend, seas[period]) vector) on arbitrary
    gaps and key mixes."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flint_spark.operators.holtwinters import holt_winters
    from flint_spark.operators.kalman import kalman_local_level
    from flint_spark.streaming import ts_stream

    spark = _spark()
    pdf = panel.copy()
    pdf = pdf.drop_duplicates(["id", "time"]).reset_index(drop=True)
    pdf["time"] = pdf["time"] * 10 ** 9
    df = spark.createDataFrame(pdf)

    cuts = sorted(data.draw(st.lists(
        st.integers(0, 500 * 10 ** 9), min_size=n_splits - 1,
        max_size=n_splits - 1, unique=True)))
    with tempfile.TemporaryDirectory() as d:
        bounds = [None, *cuts, None]
        wrote = 0
        for i in range(len(bounds) - 1):
            part = df
            if bounds[i] is not None:
                part = part.filter(F.col("time") >= bounds[i])
            if bounds[i + 1] is not None:
                part = part.filter(F.col("time") < bounds[i + 1])
            if part.count() == 0:
                continue
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(d, f"tmp{i}"))
            src = next(f for f in os.listdir(os.path.join(d, f"tmp{i}"))
                       if f.endswith(".parquet"))
            os.rename(os.path.join(d, f"tmp{i}", src),
                      os.path.join(d, f"chunk_{i}.parquet"))
            wrote += 1
        assert wrote > 0
        for name, stream_fn in [
            ("pdiff_kf",
             lambda s: ts_stream.kalman_stream(
                 s, "v", key=["id"], q=2.0, r=5.0, period="100s",
                 p0=10.0, time_column="time")),
            ("pdiff_hw",
             lambda s: ts_stream.holt_winters_stream(
                 s, "v", key=["id"], period=3, alpha=0.4, beta=0.2,
                 gamma=0.3, unit="100s", time_column="time")),
        ]:
            st_df = (spark.readStream.schema(df.schema)
                     .option("maxFilesPerTrigger", 1).parquet(d))
            q = (stream_fn(st_df).writeStream.outputMode("append")
                 .format("memory").queryName(name).start())
            q.processAllAvailable()
            q.stop()

    got_kf = {(r.id, r["__tns"]): r.v_kf
              for r in spark.sql("SELECT * FROM pdiff_kf").collect()}
    exp_kf = {(r.id, r.time): r.v_kf
              for r in kalman_local_level(
                  df, "v", q=2.0, r=5.0, period="100s", p0=10.0,
                  key=["id"]).collect()}
    assert set(got_kf) == set(exp_kf)
    for kk, e in exp_kf.items():
        g = got_kf[kk]
        if e is None or g is None:
            assert e is None and g is None
        else:
            assert abs(g - e) < 1e-9 * (1 + abs(e))

    got_hw = {(r.id, r["__tns"]): (r.v_hw_level, r.v_hw_trend, r.v_hw)
              for r in spark.sql("SELECT * FROM pdiff_hw").collect()}
    exp_hw = {(r.id, r.time): (r.v_hw_level, r.v_hw_trend, r.v_hw)
              for r in holt_winters(
                  df, "v", period=3, alpha=0.4, beta=0.2, gamma=0.3,
                  unit="100s", key=["id"]).collect()}
    assert set(got_hw) == set(exp_hw)
    for kk, es in exp_hw.items():
        for g, e in zip(got_hw[kk], es):
            if e is None or g is None:
                assert e is None and g is None
            else:
                assert abs(g - e) < 1e-9 * (1 + abs(e))


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200))
def test_keyless_asof_routes_identical(left, right, tol):
    """Auto-routing pin: the keyless union-window engine and the
    time-bucketed engine (what ``distributed=None`` picks at scale)
    must be output-identical — including a bucket width SMALLER than
    the data span so matches genuinely cross bucket boundaries."""
    right = (right.groupby("time", as_index=False).agg(rv=("v", "max")))
    spark = _spark()
    ldf = spark.createDataFrame(left[["time", "v"]],
                                "time long, v double")
    rdf = spark.createDataFrame(right[["time", "rv"]],
                                "time long, rv double")
    single = (asof.left_join(ldf, rdf, tolerance=tol, distributed=False)
              .toPandas().sort_values(["time", "v"], ignore_index=True))
    bucketed = (asof.left_join(ldf, rdf, tolerance=tol, distributed=True,
                               bucket=max(tol, 97))
                .toPandas().sort_values(["time", "v"], ignore_index=True))
    pd.testing.assert_frame_equal(single, bucketed[single.columns.tolist()],
                                  check_dtype=False)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200))
def test_hot_key_guard_routes_identical(left, right, tol):
    """hot_key_guard pin: with every row on ONE key (fraction 1.0 >
    guard 0.5), the probe must fire and the bucketed composite-key
    route must equal the plain keyed route."""
    left = left.assign(id=1)
    right = (right.assign(id=1)
             .groupby(["time", "id"], as_index=False).agg(rv=("v", "max")))
    spark = _spark()
    ldf = spark.createDataFrame(left, "time long, id int, v double")
    rdf = spark.createDataFrame(right, "time long, id int, rv double")
    plain = (asof.left_join(ldf, rdf, tolerance=tol, key=["id"])
             .toPandas().sort_values(["time", "id", "v"],
                                     ignore_index=True))
    guarded = (asof.left_join(ldf, rdf, tolerance=tol, key=["id"],
                              hot_key_guard=0.5, bucket=max(tol, 97))
               .toPandas().sort_values(["time", "id", "v"],
                                       ignore_index=True))
    pd.testing.assert_frame_equal(plain, guarded[plain.columns.tolist()],
                                  check_dtype=False)


# ---------------------------------------------------------------------
# r7: keyless distributed routes must be output-identical to the
# single-window plans they replace — duplicate timestamps included
# (range partitioning may cut right at a tie group; equal keys never
# straddle, which these tests would catch if violated).
# ---------------------------------------------------------------------

def _route_pair(fn):
    """Run fn(distributed) for both routes, sorted + column-sorted."""
    a = fn(False)
    b = fn(True)
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = b[sorted(b.columns)].reset_index(drop=True)
    return a, b


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels())
def test_keyless_cumulative_routes_identical(panel):
    panel = panel.assign(uid=range(len(panel)))
    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double, uid long")
    summ = S.compose(S.count(), S.sum_("v"), S.mean("v"), S.min_("v"),
                     S.max_("v"), S.stddev("v"))

    def run(dist):
        return (agg_ops.add_summary_columns(df, summ, distributed=dist,
                                            tie_break=["uid"])
                .toPandas().sort_values(["time", "uid"]))

    a, b = _route_pair(run)
    # integer-valued doubles: count/sum/min/max fold exactly on every
    # grouping; mean/stddev renders divide the same exact sums but the
    # single-window stddev is Welford -> compare with tolerance
    for c in ("count", "v_sum", "v_min", "v_max"):
        assert (a[c].fillna(-1e18) == b[c].fillna(-1e18)).all(), c
    for c in ("v_mean", "v_stddev"):
        av, bv = a[c].to_numpy(float), b[c].to_numpy(float)
        assert (np.isnan(av) == np.isnan(bv)).all(), c
        assert np.allclose(np.nan_to_num(av), np.nan_to_num(bv),
                           rtol=1e-9, atol=1e-12), c


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), w=st.integers(1, 120))
def test_keyless_window_routes_identical(panel, w):
    from flint_spark.operators import windows_ops
    from flint_spark.windows import past_absolute_time

    spark = _spark()
    df = spark.createDataFrame(panel[["time", "v"]], "time long, v double")
    summ = S.compose(S.count(), S.sum_("v"), S.min_("v"), S.max_("v"))

    def run(dist):
        return (windows_ops.summarize_windows(
            df, past_absolute_time(w), summ, distributed=dist)
            .toPandas().sort_values(["time", "v"]))

    a, b = _route_pair(run)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels(), thr=st.integers(1, 50))
def test_keyless_volume_bars_routes_identical(panel, thr):
    from flint_spark.operators.bars import volume_bars

    panel = panel.assign(vol=(panel["v"].abs() % 7).astype(float),
                         uid=range(len(panel)))
    spark = _spark()
    df = spark.createDataFrame(
        panel[["time", "v", "vol", "uid"]],
        "time long, v double, vol double, uid long")

    def run(dist):
        return (volume_bars(df, float(thr), "v", "vol",
                            tie_break=["uid"], distributed=dist)
                .toPandas().sort_values(["bar_seq"]))

    a, b = _route_pair(run)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels())
def test_keyless_cusum_routes_identical(panel):
    from flint_spark.operators.changepoint import cusum

    panel = panel.assign(uid=range(len(panel)))
    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double, uid long")

    def run(dist):
        return (cusum(df, "v", mu=0.0, sigma=10.0, distributed=dist,
                      tie_break=["uid"])
                .toPandas().sort_values(["time", "uid"]))

    a, b = _route_pair(run)
    for c in ("v_cusum_pos", "v_cusum_neg"):
        av, bv = a[c].to_numpy(float), b[c].to_numpy(float)
        assert (np.isnan(av) == np.isnan(bv)).all(), c
        assert np.allclose(np.nan_to_num(av), np.nan_to_num(bv),
                           rtol=1e-9, atol=1e-12), c
    assert (a["v_alarm"].fillna(False) == b["v_alarm"].fillna(False)).all()


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(panel=panels())
def test_keyless_drawdown_routes_identical(panel):
    from flint_spark.operators.bars import drawdown

    panel = panel.assign(uid=range(len(panel)))
    spark = _spark()
    df = spark.createDataFrame(panel, "time long, id int, v double, uid long")

    def run(dist):
        return (drawdown(df, "v", tie_break=["uid"], distributed=dist)
                .toPandas().sort_values(["time", "uid"]))

    a, b = _route_pair(run)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(left=panels(), right=panels(), tol=st.integers(0, 200),
       mode=st.sampled_from(["backward", "forward", "strict"]))
def test_asof_broadcast_route_identical(left, right, tol, mode):
    """The broadcast as-of engine equals the pinned union-window plan
    across backward/forward/strict — DUPLICATE (key, time) rights
    included (panels generate ties; both must resolve them to the
    max-struct row)."""
    spark = _spark()
    ldf = spark.createDataFrame(left, "time long, id int, v double")
    # keep duplicate (id, time) rights on purpose — rv duplicates too
    rdf = spark.createDataFrame(
        right.rename(columns={"v": "rv"}), "time long, id int, rv double")

    def call(route):
        if route == "broadcast":
            return asof.left_join_broadcast(
                ldf, rdf, tolerance=tol, key=["id"],
                direction="backward" if mode == "backward" else "forward",
                strict_lookahead=(mode == "strict"))
        if mode == "backward":
            return asof.left_join(ldf, rdf, tolerance=tol, key=["id"],
                                  distributed=False)
        return asof.future_left_join(
            ldf, rdf, tolerance=tol, key=["id"],
            strict_lookahead=(mode == "strict"))

    cols = None
    outs = []
    for route in ("window", "broadcast"):
        out = call(route).toPandas()
        out = out[sorted(out.columns)].sort_values(
            ["time", "id", "v"], ignore_index=True)
        cols = cols or out.columns.tolist()
        outs.append(out[cols])
    pd.testing.assert_frame_equal(outs[0], outs[1], check_dtype=False)


# ---------------------------------------------------------------------
# r10 verdict item 6: property coverage for the newest operators
# ---------------------------------------------------------------------

@st.composite
def span_corpora(draw):
    """Small corpora engineered to produce cross-document repeated
    n-grams: tiny vocabulary (incl. multi-byte words), 1-10 docs of
    0-12 words, so overlapping spans and doc-boundary grams occur
    constantly."""
    vocab = ["aa", "bb", "cc", "héllo", "日本語", "x"]
    n_docs = draw(st.integers(1, 10))
    docs = []
    for i in range(n_docs):
        k = draw(st.integers(0, 12))
        ws = [vocab[draw(st.integers(0, len(vocab) - 1))] for _ in range(k)]
        docs.append((i, " ".join(ws)))
    return docs


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(docs=span_corpora(), n=st.integers(2, 4))
def test_remove_repeated_spans_vs_reference(docs, n):
    """remove_repeated_spans vs a plain-Python replay of the Lee et al.
    contract: every word position covered by ANY n-gram occurring in
    >= min_df distinct documents is removed; docs rebuild from the
    surviving words in order. Overlapping spans, doc-boundary grams,
    multi-byte words and empty docs all arise from the strategy."""
    from flint_spark.pipeline.dedup import remove_repeated_spans

    min_df = 2
    words = {i: t.split(" ") for i, t in docs}
    df_count: dict[str, int] = {}
    for ws in words.values():
        for g in {" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)}:
            df_count[g] = df_count.get(g, 0) + 1
    rep = {g for g, c in df_count.items() if c >= min_df}
    expected = {}
    for i, ws in words.items():
        cov: set[int] = set()
        for j in range(len(ws) - n + 1):
            if " ".join(ws[j:j + n]) in rep:
                cov.update(range(j, j + n))
        kept = [w for p, w in enumerate(ws) if p not in cov]
        expected[i] = (" ".join(kept), len(kept), len(ws) - len(kept))

    spark = _spark()
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    out = remove_repeated_spans(sdf, n=n, min_df=min_df).toPandas() \
        .set_index("doc_id")
    assert len(out) == len(docs)
    for i, (txt, nk, nr) in expected.items():
        row = out.loc[i]
        assert row["text"] == txt, (i, row["text"], txt)
        assert int(row["n_words_kept"]) == nk
        assert int(row["n_words_removed"]) == nr


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_decode_png_truncation_total(data):
    """decode_png on ANY truncation of a valid PNG either raises a
    ValueError (clear corrupt-PNG/unsupported message), returns None
    (signature gone), or — when every byte the pixels need survived
    (cut inside/after IEND) — returns the exact original image. Never
    a wrong array, never a non-ValueError exception (the r10 ADVICE
    failure mode: opaque zlib/struct errors)."""
    import numpy as np

    from flint_spark.pipeline import multimodal as mm

    h = data.draw(st.integers(1, 6))
    w = data.draw(st.integers(1, 6))
    ch = data.draw(st.sampled_from([1, 3, 4]))
    shape = (h, w) if ch == 1 else (h, w, ch)
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    img = rng.integers(0, 256, size=shape).astype(np.uint8)
    png = mm.encode_png(img)
    cut = data.draw(st.integers(0, len(png) - 1))
    try:
        out = mm.decode_png(png[:cut])
    except ValueError:
        return
    if out is None:
        assert cut < len(mm._PNG_SIG)
    else:
        # only reachable when the full IHDR+IDAT payload survived
        assert out.shape == img.shape and (out == img).all()


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ticks=st.lists(st.integers(0, 400), min_size=1, max_size=8,
                      unique=True),
       times=st.lists(st.integers(-50, 450), min_size=1, max_size=30),
       inclusion=st.sampled_from(["begin", "end"]),
       rounding=st.sampled_from(["begin", "end"]))
def test_intervalize_vs_searchsorted(ticks, times, inclusion, rounding):
    """The public arbitrary-clock ``intervalize`` vs a numpy
    searchsorted reference, across all four inclusion/rounding
    conventions, degenerate clocks (1 tick = no intervals) and
    all-rows-out-of-range inputs."""
    import numpy as np

    from flint_spark.operators.intervals import _INTERVAL, intervalize

    spark = _spark()
    df = spark.createDataFrame([(t, i) for i, t in enumerate(times)],
                               "time long, rid long")
    clock_df = spark.createDataFrame([(t,) for t in ticks], "time long")
    out = intervalize(df, clock_df, inclusion, rounding).toPandas() \
        .set_index("rid")[_INTERVAL].to_dict()

    arr = np.asarray(sorted(ticks), dtype=np.int64)
    m = len(arr) - 1
    expected = {}
    for i, t in enumerate(times):
        if m < 1:
            continue
        if inclusion == "begin":
            j = int(np.searchsorted(arr, t, side="right")) - 1
            if not (0 <= j <= m - 1):
                continue
            expected[i] = int(arr[j if rounding == "begin" else j + 1])
        else:
            je = int(np.searchsorted(arr, t, side="left"))
            if not (1 <= je <= m):
                continue
            expected[i] = int(arr[je - 1 if rounding == "begin" else je])
    assert out == expected, (ticks, times, inclusion, rounding)
