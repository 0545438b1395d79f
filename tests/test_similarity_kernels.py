"""Focused pins for the similarity kernels:

- `_argmax_centroid`'s Column-API fallback now binds the row norm once
  as a lambda variable and constant-folds centroid norms in Python,
  mirroring the one-parse SQL path structurally. Both rewrites must be
  BIT-identical to the original per-centroid-norm expression (the
  oracle gates hash the expr path; the fallback is the non-finite /
  Column-input route and needs its own pin — r11 verdict item 9).
- `semantic_dedup_pairs`' Gram kernels are row-blocked so a
  degenerate/uncapped cluster no longer materializes a dense n x n
  score matrix in one task (r12 ADVICE). Blocking must not change the
  pair set, values, or row order.
- The IVF search path: one assigner projection, one probe-cell ranker,
  one probe-vector collect and one top-k window (guard tests); the
  ranker orders cells exactly as Spark's window did; flat IVF and
  IVF-PQ probe the same cells; the Lloyd trainers release their
  persisted training base when they raise.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

_SPARK = {}


def _spark():
    if "s" not in _SPARK:
        from flint_spark.session import get_spark
        _SPARK["s"] = get_spark("sim_kernel_tests")
    return _SPARK["s"]


def _old_argmax(vcol, cents):
    """The pre-r12 Column fallback, verbatim: row norm and centroid
    norms re-folded per centroid. The reference the rewrite must match
    bit-for-bit."""
    from flint_spark.pipeline.similarity import _dot, _norm

    entries = []
    for cid, cv in cents:
        lit_cv = F.array(*[F.lit(float(x)) for x in cv])
        cos = _dot(vcol, lit_cv) / (_norm(vcol) * _norm(lit_cv))
        entries.append(F.struct(cos.alias("s"), F.lit(-cid).alias("nid")))
    return F.array_max(F.array(*entries))


def _assert_argmax_bitwise(cents, n_rows=200, seed=3):
    from flint_spark.pipeline.similarity import _argmax_centroid

    spark = _spark()
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n_rows, len(cents[0][1]))
    pdf = pd.DataFrame({"vec_id": range(n_rows),
                        "v": [r.tolist() for r in vecs]})
    df = spark.createDataFrame(pdf)
    new = _argmax_centroid(F.col("v"), cents)
    old = _old_argmax(F.col("v"), cents)
    out = df.select(
        "vec_id",
        new["s"].alias("ns"), new["nid"].alias("nn"),
        old["s"].alias("os"), old["nid"].alias("on")).toPandas()
    # bitwise: compare raw float64 bit patterns, not approximate values
    assert (out["ns"].to_numpy().view("int64")
            == out["os"].to_numpy().view("int64")).all()
    assert (out["nn"] == out["on"]).all()


def test_argmax_column_fallback_bitwise_finite():
    rng = np.random.RandomState(11)
    cents = [(i, rng.randn(16).tolist()) for i in range(5)]
    _assert_argmax_bitwise(cents)


def test_argmax_column_fallback_bitwise_nonfinite():
    """Non-finite centroid components force the Column fallback in
    every caller (`_finite` guard) — the exact case the r11 rewrite
    left unbound."""
    rng = np.random.RandomState(12)
    cents = [(i, rng.randn(8).tolist()) for i in range(4)]
    cents[1][1][3] = float("inf")
    cents[2][1][0] = float("nan")
    _assert_argmax_bitwise(cents)


def test_semantic_dedup_gram_blocking_multi_block():
    """A cluster big enough that the row-blocked Gram kernel runs >= 2
    blocks (n > _GRAM_BLOCK_ELEMS / n) must produce exactly the
    brute-force pair set, with expr and arrow methods agreeing."""
    from flint_spark.pipeline import similarity

    spark = _spark()
    n, dim = 2100, 3
    assert n * n > similarity._GRAM_BLOCK_ELEMS  # blocking engages
    rng = np.random.RandomState(7)
    vecs = rng.randn(n, dim)
    pdf = pd.DataFrame({"vec_id": range(n),
                        "embedding": [r.tolist() for r in vecs]})
    df = spark.createDataFrame(pdf)
    thr = 0.999
    out = similarity.semantic_dedup_pairs(
        df, [0], threshold=thr, method="expr").toPandas()
    out_a = similarity.semantic_dedup_pairs(
        df, [0], threshold=thr, method="arrow").toPandas()
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = vn @ vn.T
    ia, jb = np.nonzero(np.triu(S >= thr, k=1))
    ref = {(int(a), int(b)) for a, b in zip(ia, jb)}
    assert ref, "degenerate fixture: no pairs survive the threshold"
    got = set(zip(out["id_a"], out["id_b"]))
    assert got == ref
    assert set(zip(out_a["id_a"], out_a["id_b"])) == ref
    ref_cos = {(int(a), int(b)): S[a, b] for a, b in zip(ia, jb)}
    for _, r in out.iterrows():
        assert abs(r["cosine"] - ref_cos[(r["id_a"], r["id_b"])]) < 1e-9


def test_ivf_search_mechanisms_defined_once():
    """Every IVF route shares one assigner projection, one probe-cell
    ranker, one probe-vector collect and one top-k window: no
    crossJoin against a centroid table and no row_number over a
    probe-centroid cosine remain (only the exact baseline crossJoins,
    against its probes), and no other function collects an
    id-filtered frame."""
    import ast
    import inspect

    from flint_spark.pipeline import similarity

    names = {"crossJoin", "row_number", "_argmax_centroid", "_probe_cells",
             "_collect_vectors", "_pynorm"}
    calls, collects = set(), set()
    for fn in ast.parse(inspect.getsource(similarity)).body:
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            owner = getattr(fn, "name", None)
            if name in names:
                calls.add((owner, name))
            if name == "collect" and "'isin'" in ast.dump(f.value):
                collects.add(owner)
    assert calls == {
        ("cosine_topk", "crossJoin"),
        ("_topk", "row_number"),
        ("_assign", "_argmax_centroid"),
        ("_flat_search", "_probe_cells"),
        ("_ivfpq_search", "_probe_cells"),
        ("_argmax_centroid", "_pynorm"),
        ("_probe_cells", "_pynorm"),
        ("ivf_assign", "_collect_vectors"),
        ("ivf_ann_topk", "_collect_vectors"),
        ("ivf_ann_topk_trained", "_collect_vectors"),
        ("ivfpq_topk", "_collect_vectors"),
        ("ivfpq_topk_table", "_collect_vectors"),
    }
    assert collects == {"_collect_vectors"}


_CELLS = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
          (3, [0.0, 1.0]), (4, [-1.0, 0.0]), (5, [3.0, 0.5])]


def test_probe_cell_ranker_edge_order():
    """Cosine descending, ties to the lower label, a zero-norm cell or
    probe (Spark's null cosine) last, a NaN cosine first."""
    from flint_spark.pipeline.similarity import _probe_cells

    nan = float("nan")
    probes = [(10, [0.2, 1.0]), (11, [0.0, 0.0]), (12, [nan, 1.0]),
              (13, None), (14, [1.0, None]), (15, [1.0, 0.0, 0.0])]
    got = {pid: labels for pid, _, labels in _probe_cells(probes, _CELLS, 6)}
    assert got[10] == [2, 3, 5, 1, 4, 0]  # 2 and 3 tie; cell 0 is null
    for pid in (11, 12, 13, 14, 15):  # all null or all NaN: label order
        assert got[pid] == [0, 1, 2, 3, 4, 5]
    assert [c for _, _, c in _probe_cells(probes[:1], _CELLS, 1)] == [[2]]
    # a NaN cell ranks first, a null one last
    nan_cells = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [nan, 0.0])]
    assert _probe_cells([(1, [1.0, 1.0])], nan_cells, 3)[0][2] == [2, 1, 0]


def test_probe_cell_ranker_matches_spark_window(spark):
    """The driver ranker orders cells exactly as the window it replaced:
    ``orderBy(desc(pcos), centroid_id)`` over a probe x centroid
    crossJoin, with the same ``_dot``/``_norm`` folds."""
    from pyspark.sql import Window

    from flint_spark.pipeline.similarity import _dot, _norm, _probe_cells

    rng = np.random.RandomState(5)
    cells = _CELLS + [(6 + i, rng.randn(2).round(3).tolist())
                      for i in range(6)]
    cells.append((12, list(cells[7][1])))  # exact tie with cell 7
    probes = [(i, rng.randn(2).round(3).tolist()) for i in range(40)]
    probes += [(40, [0.0, 0.0]), (41, [float("nan"), 1.0]),
               (42, [1.0, 0.0]), (43, list(cells[7][1]))]
    p = spark.createDataFrame(probes, "probe_id long, pv array<double>")
    c = spark.createDataFrame(cells, "centroid_id long, cv array<double>")
    pcos = _dot(F.col("pv"), F.col("cv")) / (_norm(F.col("pv"))
                                             * _norm(F.col("cv")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("pcos"),
                                               "centroid_id")
    rows = (p.crossJoin(c).select("probe_id", "centroid_id",
                                  pcos.alias("pcos"))
            .withColumn("rk", F.row_number().over(w)).collect())
    spark_order = {}
    for r in sorted(rows, key=lambda r: (r["probe_id"], r["rk"])):
        spark_order.setdefault(r["probe_id"], []).append(r["centroid_id"])
    got = {pid: labels
           for pid, _, labels in _probe_cells(probes, cells, len(cells))}
    assert got == spark_order


def test_flat_and_pq_searches_probe_the_same_cells(spark):
    """Member-id IVF, trained IVF and IVF-PQ probe the same cells: with
    k above every cell's size each returns exactly the probed cells'
    members, and the two flat entry points return identical rows when
    the matrix holds the members' vectors in id order. The centroids
    include a zero-norm cell and an exact tie."""
    from flint_spark.pipeline import similarity as sim

    rng = np.random.RandomState(9)
    vecs = rng.randn(120, 4).round(4)
    vecs[30] = 0.0  # zero-norm member centroid
    vecs[60] = vecs[45]  # two centroids tie for every probe
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    members = [15, 30, 45, 60, 90]
    probes = [0, 1, 2, 30, 45, 77]
    k = 200
    flat = sim.ivf_ann_topk(emb, probes, members, k=k, nprobe=2)
    matrix = [vecs[i].tolist() for i in members]
    trained = sim.ivf_ann_topk_trained(emb, matrix, probes, k=k, nprobe=2)
    books = [[[0.0] * 4]]  # one subspace, one code: scores are irrelevant
    pq = sim.ivfpq_topk(emb, matrix, books, probes, k=k, nprobe=2)
    rows = sorted(tuple(r) for r in flat.collect())
    assert rows == sorted(tuple(r) for r in trained.collect())
    pairs = {(r[0], r[1]) for r in rows}
    assert pairs == {(r["probe_id"], r["vec_id"]) for r in pq.collect()}
    assert {p for p, _ in pairs} == set(probes)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pq_train_releases_its_persist_on_bad_input(spark):
    """``pq_train`` persists its training base; an empty table or a dim
    not divisible by ``m`` raises and must not leave it cached."""
    import pytest

    from flint_spark.pipeline import similarity as sim

    emb = spark.createDataFrame([(i, [float(i + j) for j in range(8)])
                                 for i in range(6)],
                                "vec_id long, embedding array<double>")
    before = _persisted(spark)
    with pytest.raises(ValueError, match="m=3"):
        sim.pq_train(emb, m=3, ksub=2, iters=1)
    with pytest.raises(ValueError, match="empty"):
        sim.pq_train(emb.limit(0), m=4, ksub=2, iters=1)
    assert _persisted(spark) == before


def test_ivf_train_needs_k_rows_and_releases_its_persist(spark):
    """``k`` above the training rows (say, after a small
    ``train_fraction``) is a clear ValueError, not an IndexError, and
    the persisted training base is released."""
    import pytest

    from flint_spark.pipeline import similarity as sim

    emb = spark.createDataFrame([(i, [1.0, float(i)]) for i in range(3)],
                                "vec_id long, embedding array<double>")
    before = _persisted(spark)
    with pytest.raises(ValueError, match=r"k=5 .*got 3"):
        sim.ivf_train(emb, k=5, iters=1)
    assert _persisted(spark) == before
    assert len(sim.ivf_train(emb, k=3, iters=1)) == 3
    assert _persisted(spark) == before
