"""Embedding similarity search: exact cosine top-k and the ANN routes.

- ``cosine_topk`` — the exact baseline: broadcast the (small) probe set,
  one pass over all embeddings, dot products via ``zip_with``/
  ``aggregate`` (JVM-side, no Python), per-probe top-k with a window.
  One scan, one small shuffle for the top-k.
- ``lsh_ann_topk`` — the scale path: sign-random-projection buckets
  (deterministic literal hyperplanes so the DuckDB oracle matches
  bit-for-bit); probes only compare against their own bucket, cutting
  the candidate set by ~2^planes for unit-cost recall tradeoff.
- ``ivf_ann_topk`` / ``ivf_ann_topk_trained`` — IVF: every vector is
  assigned to its nearest centroid (member vectors named by id, or an
  ``ivf_train`` matrix); each probe scans its ``nprobe`` nearest cells.
- ``ivfpq_topk`` / ``ivfpq_topk_table`` — IVF cells + residual product
  codes, in-session or over the cell-partitioned codes table.

All IVF routes share one assigner projection (``_assign``), one
driver-side probe-cell ranker (``_probe_cells``) and one probe-vector
collect (``_collect_vectors``). ``docs/DESIGN_NOTES.md`` ("Which ANN
route pays off") has each route's recall@k against ``cosine_topk`` and
its time at several corpus sizes. PQ-flat search (``pq_topk``) was
removed because other routes beat it on both at every point measured.

Vectors are cast float->double before any arithmetic so both engines
do identical double math, summed left-to-right.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._cache import hold, persist
from .hashing import hyperplanes, qid


def _dvec(col: Column) -> Column:
    # the shared vector caster is the similarity family's ANSI
    # chokepoint (cosine ratios divide by norms that can be zero;
    # see session.require_ansi_off)
    from ..session import require_ansi_off

    require_ansi_off("similarity operators (_dvec)")
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


# ----------------------------------------------------------------------
# r11 construction-cost fix (guide §1/§4: the driver is part of the
# job). Centroid/codebook/LUT literals used to be built as per-element
# ``F.lit`` chains — one py4j round-trip per float, so one k x dim
# centroid argmax costs ~512 driver round-trips (~1-2 s) per build, and
# the IVF/PQ training family rebuilds them every Lloyd iteration. The
# SAME expression rendered as ONE SQL string parses in ~1 ms.
#
# Only the fold forms are rendered (aggregate/zip_with — identical
# shape to the Column-API trees, so evaluated values are bit-equal);
# an earlier attempt additionally emitted size-guarded UNROLLED
# multiply-add chains and regressed plan/exec time 10-70x (optimizer +
# codegen choke on the tree width) — do not reintroduce those.
# ``repr(float)`` emits the shortest decimal that round-trips, so the
# parsed literal is the bit-identical IEEE double.
# ----------------------------------------------------------------------


def _dlit(x: float) -> str:
    """SQL double literal parsing to the bit-identical IEEE value."""
    return f"{float(x)!r}D"


def _finite(vals) -> bool:
    return all(math.isfinite(float(x)) for x in vals)


def _arr_sql(vals) -> str:
    return "array(" + ",".join(_dlit(x) for x in vals) + ")"


def _arr2_sql(mat) -> str:
    return "array(" + ",".join(_arr_sql(row) for row in mat) + ")"


def _lit_f64s(vals) -> Column:
    """array<double> literal in one parse call; same
    CreateArray(Literal...) tree as ``F.array(*map(F.lit, vals))``.
    Non-finite values (no SQL literal form) keep the per-element path."""
    fs = [float(x) for x in vals]
    if _finite(fs):
        return F.expr(_arr_sql(fs))
    return F.array(*[F.lit(x) for x in fs])


def _dot_sql(a: str, b: str) -> str:
    """The `_dot` fold as SQL text (identical parsed tree shape)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, x) -> acc + x)")


def _norm_sql(a: str) -> str:
    """The `_norm` fold as SQL text (identical parsed tree shape)."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


#: Gram-kernel row-block budget (doubles per block): bounds the dense
#: score block at ~32 MB (plus one same-size temporary on the fold
#: path) per task regardless of cluster size, instead of the unblocked
#: n x n matrix that OOMs on a degenerate/uncapped cluster (r12 ADVICE)
_GRAM_BLOCK_ELEMS = 4_000_000


def cosine_topk(emb: DataFrame, probe_ids: Sequence[int], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbours for each probe id:
    (probe_id, vec_id, cosine, rank)."""
    base = emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
    probes = (base.filter(F.col(id_col).isin(list(probe_ids)))
              .select(F.col(id_col).alias("probe_id"), F.col("v").alias("pv")))
    joined = base.crossJoin(F.broadcast(probes)).filter(F.col(id_col) != F.col("probe_id"))
    return _cosine_topk_of(joined, id_col, k)


def _cosine_topk_of(pairs: DataFrame, id_col: str, k: int) -> DataFrame:
    """(probe_id, id, cosine, rank) over (probe_id, pv, id, v) pairs."""
    cos = (_dot(F.col("v"), F.col("pv"))
           / (_norm(F.col("v")) * _norm(F.col("pv")))).alias("cosine")
    return _topk(pairs.select("probe_id", F.col(id_col), cos),
                 F.desc("cosine"), id_col, k)


def _topk(scored: DataFrame, order: Column, id_col: str,
          k: int) -> DataFrame:
    """Every search's top-k window: by ``order``, then the lower id."""
    w = Window.partitionBy("probe_id").orderBy(order, F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def bucket_expr(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: sum_p 2^p * [dot(v, plane_p) > 0].

    Pass the vector COLUMN NAME for the one-parse string-built form
    (same fold trees — see the r11 builder block); a Column keeps the
    per-element construction."""
    if isinstance(vec, str) and all(_finite(p) for p in planes):
        terms = " + ".join(
            f"CASE WHEN {_dot_sql(qid(vec), _arr_sql(plane))} > 0 "
            f"THEN {2 ** p} ELSE 0 END"
            for p, plane in enumerate(planes))
        return F.expr(f"cast((0 + {terms}) AS bigint)")
    vec = F.col(vec) if isinstance(vec, str) else vec
    total = F.lit(0)
    for p, plane in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(c) for c in plane]))
        total = total + F.when(d > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return total.cast("long")


def _pynorm(v) -> float:
    """``_norm`` on the driver: the same ordered += from 0.0, then the
    correctly rounded sqrt, so the double is bit-identical to Spark's."""
    acc = 0.0
    for x in v:
        acc += x * x
    return math.sqrt(acc)


def _probe_cells(probes, cells, nprobe: int):
    """The one probe-cell ranker: [(probe_id, pv, [label, ...])] with
    each probe's ``nprobe`` nearest of the labelled ``cells``
    [(label, vector)], on the driver. The cosine is ``_dot(pv, cv) /
    (_norm(pv) * _norm(cv))`` bit for bit, ranked as Spark's
    ``orderBy(desc(cosine), label)`` ranks it: NaN first, null last,
    ties to the lower label. Flat IVF and IVF-PQ probe exactly these
    cells; ranking against k constants needs no crossJoin, no window."""
    normed = [(label, cv, _pynorm(cv)) for label, cv in cells]

    def order(pv, cell):
        label, cv, nb = cell
        # Spark's null: a null vector or element, unequal lengths
        # (zip_with pads with nulls) or a zero denominator
        if pv is None or len(pv) != len(cv) or None in pv:
            return (2, 0.0, label)
        dot = 0.0
        for a, b in zip(pv, cv):
            dot += a * b
        den = _pynorm(pv) * nb
        if den == 0:
            return (2, 0.0, label)
        c = dot / den
        return (0, 0.0, label) if math.isnan(c) else (1, -c, label)

    return [(pid, pv, [cell[0] for cell in sorted(
                normed, key=lambda cell: order(pv, cell))[:max(nprobe, 0)]])
            for pid, pv in probes]


def _collect_vectors(emb: DataFrame, ids: Sequence, id_col: str,
                     vec_col: str) -> list:
    """The one driver read of named rows' vectors — probes and member
    centroids: [(id, double vector)], sorted by id."""
    rows = (emb.filter(F.col(id_col).isin(list(ids)))
            .select(F.col(id_col).alias("id"),
                    _dvec(F.col(vec_col)).alias("v")).collect())
    return sorted(((r["id"], None if r["v"] is None else list(r["v"]))
                   for r in rows), key=lambda r: r[0])


def _argmax_centroid(vcol: Column | str,
                     centroids: Sequence[tuple[int, Sequence[float]]]):
    """Nearest-centroid struct (cos, -id) via ``array_max`` over literal
    centroid arrays — a PURE PROJECTION. The former shape (crossJoin
    against a broadcast centroid table + per-vector row_number window)
    shuffled and sorted the ENTIRE vector table just to take an argmax
    over k tiny constants; at 100 TB that shuffle is the whole job.
    Tie rule preserved: max (cos, -id) == smallest centroid_id at equal
    cosine. Cosine arithmetic is identical to the join form (same
    zip_with/aggregate fold), so results are bit-equal.

    Pass the vector COLUMN NAME to get the one-parse string-built form
    (r11 builder block above); a Column (or non-finite centroid
    components, which have no SQL literal form) keeps the per-element
    construction."""
    cents = [(int(cid), [float(x) for x in cv]) for cid, cv in centroids]

    # r11 (guide §1.2 per-task work): the row norm used to be re-folded
    # PER CENTROID (k x 64 extra interpreted fold steps per row) — bind
    # it ONCE as a lambda variable; and each centroid's own norm is a
    # CONSTANT — fold it in Python (``_pynorm``) so the optimizer stops
    # re-deriving k 64-literal folds per plan. r12: the Column-API
    # fallback applies the same binding, keeping the two paths
    # structurally identical.
    if isinstance(vcol, str) and all(_finite(cv) for _, cv in cents):
        qv = qid(vcol)
        entries = ",".join(
            f"struct({_dot_sql(qv, _arr_sql(cv))} / "
            f"(nv * {_dlit(_pynorm(cv))}) AS s, "
            f"{-cid} AS nid)"
            for cid, cv in cents)
        return F.expr(
            f"element_at(transform(array({_norm_sql(qv)}), "
            f"nv -> array_max(array({entries}))), 1)")
    vcol = F.col(vcol) if isinstance(vcol, str) else vcol

    def _best(nv):
        entries = []
        for cid, cv in cents:
            lit_cv = F.array(*[F.lit(float(x)) for x in cv])
            cos = _dot(vcol, lit_cv) / (nv * F.lit(_pynorm(cv)))
            entries.append(F.struct(cos.alias("s"),
                                    F.lit(-cid).alias("nid")))
        return F.array_max(F.array(*entries))

    return F.element_at(F.transform(F.array(_norm(vcol)), _best), 1)


def ivf_assign(emb: DataFrame, centroid_ids: Sequence[int],
               id_col: str = "vec_id", vec_col: str = "embedding",
               method: str = "expr") -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (centroids = deterministic member vectors; their k vectors
    are collected — k x dim floats, the bounded quantizer matrix — and
    broadcast into a map-only stage).
    Returns (id, v, centroid_id, centroid_cos).

    ``method="expr"`` inlines the centroids as literals in an
    ``array_max`` projection — zero Python, bit-replayable in SQL (the
    oracle-gated form; per-centroid cost is an interpreted fold, fine
    for coarse k). ``method="arrow"`` does the same argmax as one
    numpy ``M @ C.T`` per Arrow batch in ``mapInPandas`` — the scale
    path when k x dim is large enough that 2·k·dim interpreted fold
    steps per row dominate (measured 16s -> ~2s at 400k x 128 x 16).
    Same (cos, smallest-id) tie rule; numpy's summation order may
    differ in final ulps on exact cosine ties."""
    return _assign_members(
        emb, _collect_vectors(emb, centroid_ids, id_col, vec_col), id_col,
        vec_col, method)


def _assign_members(emb: DataFrame, cents, id_col: str, vec_col: str,
                    method: str) -> DataFrame:
    """``ivf_assign`` over already collected member centroids
    [(id, vector)], sorted by id."""
    from .dedup import _spread

    base = emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
    id_type = emb.schema[id_col].dataType
    if method == "arrow":
        return _ivf_assign_arrow(_spread(base), cents, id_col, id_type)
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)):
        raise ValueError(
            f"method='expr' encodes the smallest-id tie rule as a "
            f"max(cos, -id) struct and needs integral ids; {id_col!r} is "
            f"{id_type.simpleString()} — use method='arrow'")
    # _spread (r11, guide §2): the argmax is k x dim interpreted fold
    # steps PER ROW; a single-file local scan would run the whole
    # assignment in one task (no-op on many-split inputs)
    return _assign(_spread(base), cents, id_col, "long")


def _assign(base: DataFrame, cells, id_col: str,
            label_type: str) -> DataFrame:
    """The one IVF assigner: (id, v) -> (id, v, centroid_id,
    centroid_cos), the nearest of the labelled ``cells``
    [(label, vector)] as a pure projection (``_argmax_centroid``).
    Member ids label ``ivf_assign``'s cells, 0..k-1 the trained ones."""
    best = _argmax_centroid("v", cells)
    return base.select(
        F.col(id_col), "v",
        (-best["nid"]).cast(label_type).alias("centroid_id"),
        best["s"].alias("centroid_cos"))


def _trained_cells(centroids) -> list:
    """A trained centroid matrix as labelled cells [(0..k-1, vector)]."""
    return [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]


def _ivf_assign_arrow(base: DataFrame, cents, id_col: str,
                      id_type=None) -> DataFrame:
    """Batched numpy argmax-cosine assignment: one (batch x dim) @
    (dim x k) GEMM per Arrow batch; driver/executor state is the k x
    dim centroid matrix only. Works for ANY id type (the output schema
    inherits the input id field — string ids are fine; the expr path
    needs integral ids for its max-struct tie encoding)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cid_arr = np.array([c for c, _ in cents])
    C = np.stack([np.asarray(cv, dtype="float64") for _, cv in cents])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["v"].to_numpy())
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            S = (M / nrm) @ Cn.T
            # argmax returns the FIRST maximal column; cid_arr is
            # sorted ascending -> smallest centroid id wins ties,
            # matching the expression path's max (cos, -id) rule
            best = S.argmax(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "v": pdf["v"],
                "centroid_id": cid_arr[best],
                "centroid_cos": S[np.arange(len(S)), best],
            })

    if id_type is None:
        id_type = base.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("centroid_id", id_type),
        T.StructField("centroid_cos", T.DoubleType())])
    return base.mapInPandas(_assign, schema)


def ivf_ann_topk(emb: DataFrame, probe_ids: Sequence[int],
                 centroid_ids: Sequence[int], k: int = 10, nprobe: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: each probe searches only the inverted
    lists of its ``nprobe`` nearest centroids — candidate set shrinks by
    ~len(centroids)/nprobe while recall stays high for clustered data.
    Deterministic (centroids are fixed member ids), so exactly
    oracle-able in SQL. One collect reads the member centroids and the
    probes; the search is ``_flat_search``."""
    rows = _collect_vectors(emb, [*centroid_ids, *probe_ids], id_col,
                            vec_col)
    cids, pids = set(centroid_ids), set(probe_ids)
    cents = [r for r in rows if r[0] in cids]
    assigned = _assign_members(emb, cents, id_col, vec_col, "expr")
    return _flat_search(assigned, [r for r in rows if r[0] in pids], cents,
                        k, nprobe, id_col)


def _flat_search(assigned: DataFrame, probes, cells, k: int, nprobe: int,
                 id_col: str) -> DataFrame:
    """The one flat IVF search: the probes' cells (``_probe_cells``)
    as a driver-built table, broadcast into one equi-join on
    ``centroid_id`` with the assigned rows, then the top-k window."""
    schema = T.StructType([
        T.StructField("probe_id", assigned.schema[id_col].dataType),
        T.StructField("pv", T.ArrayType(T.DoubleType())),
        T.StructField("centroid_id",
                      assigned.schema["centroid_id"].dataType)])
    probe_lists = assigned.sparkSession.createDataFrame(
        [(pid, pv, label) for pid, pv, labels
         in _probe_cells(probes, cells, nprobe) for label in labels],
        schema)
    cand = (assigned.select(F.col(id_col), "v", "centroid_id")
            .join(F.broadcast(probe_lists), "centroid_id")
            .filter(F.col(id_col) != F.col("probe_id")))
    return _cosine_topk_of(cand, id_col, k)


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                             n_planes: int = 8, dim: int = 64, seed: int = 11,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-space near-duplicate pairs: candidates from shared
    sign-random-projection buckets, verified by exact cosine >= threshold.
    The bucket equi-join keeps the pair space ~2^planes smaller than the
    full cross product (the embedding face of MinHash-LSH dedup)."""
    _check_dim(emb, vec_col, dim)
    planes = hyperplanes(n_planes, dim, seed)
    # normalize once per row (projected norm column — see
    # semantic_dedup_pairs) so each candidate pair is one dot product
    base = persist(emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
                   .withColumn("bucket", bucket_expr("v", planes))
                   .withColumn("__nrm", _norm(F.col("v")))
                   .select(F.col(id_col), "bucket",
                           F.transform(F.col("v"),
                                       lambda x: x / F.col("__nrm")).alias("vn")))
    a = base.select(F.col(id_col).alias("id_a"), F.col("vn").alias("vna"),
                    "bucket")
    b = base.select(F.col(id_col).alias("id_b"), F.col("vn").alias("vnb"),
                    "bucket")
    cos = _dot(F.col("vna"), F.col("vnb")).alias("cosine")
    return hold(a.join(b, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", cos)
                .filter(F.col("cosine") >= threshold), base)


def _check_dim(emb: DataFrame, vec_col: str, dim: int) -> None:
    """Hyperplane dim must equal the vector dim: ``zip_with`` pads the
    shorter side with nulls, which silently corrupts buckets (observed:
    dim=64 planes over 16-d vectors degraded LSH to useless buckets).
    One cheap first-row probe per operator build."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is not None and row["d"] != dim:
        raise ValueError(f"{vec_col} has dim {row['d']} but planes use dim "
                         f"{dim}; pass dim={row['d']}")


def lsh_ann_topk(emb: DataFrame, probe_ids: Sequence[int], k: int = 10,
                 n_planes: int = 8, dim: int = 64, seed: int = 11,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH bucket."""
    _check_dim(emb, vec_col, dim)
    planes = hyperplanes(n_planes, dim, seed)
    base = (emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
            .withColumn("bucket", bucket_expr("v", planes)))
    probes = (base.filter(F.col(id_col).isin(list(probe_ids)))
              .select(F.col(id_col).alias("probe_id"), F.col("v").alias("pv"),
                      F.col("bucket").alias("pbucket")))
    joined = (base.join(F.broadcast(probes),
                        (F.col("bucket") == F.col("pbucket"))
                        & (F.col(id_col) != F.col("probe_id"))))
    return _cosine_topk_of(joined, id_col, k)


def _train_subset(emb: DataFrame, train_fraction: float | None,
                  id_col: str, seed: int) -> DataFrame:
    """Deterministic id-hash training subset (``train_fraction`` of
    rows) for the Lloyd trainers — the 100 TB posture: k-means quality
    needs a representative SAMPLE, not the corpus, so training cost is
    O(fraction · N) while assignment/search still cover every vector.
    The md5-bucket predicate (``sampling.deterministic_sample``) is a
    pure function of (seed, id): the same rows train on every run,
    engine and layout, so sampled training is exactly
    train-on-the-subset — SQL-oracle-able with one WHERE clause."""
    if train_fraction is None:
        return emb
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError("train_fraction must be in (0, 1]")
    from .sampling import deterministic_sample

    return deterministic_sample(emb, train_fraction, on=id_col,
                                salt=f"anntrain{seed}")


def ivf_train(emb: DataFrame, k: int = 16, iters: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 7, quantize: int | None = None,
              train_fraction: float | None = None) -> list[list[float]]:
    """Lloyd iterations for IVF coarse centroids (spherical k-means),
    fully distributed: each iteration is one map-only argmax-cosine
    assignment over inlined centroid literals (``_argmax_centroid``)
    plus one (centroid, component) hash aggregation — the only shuffle
    per iteration. The driver only ever holds the k x dim centroid
    matrix (~kB), never data vectors.

    Deterministic: init picks the k members with the smallest
    md5(seed || id); ties in assignment break on the lower centroid id.
    ``quantize=d`` half-up-rounds every centroid component to d decimals
    after each iteration, which pins the trained centroids across
    engines and aggregation orders (distributed avg is order-dependent
    in the last ulps) — the SQL-oracle-able mode.

    ``train_fraction`` trains on a deterministic id-hash subset
    (:func:`_train_subset`) — identical to calling ``ivf_train`` on
    that subset directly; pass it whenever the corpus dwarfs what one
    Lloyd pass should scan."""
    emb = _train_subset(emb, train_fraction, id_col, seed)
    base = emb.select(F.col(id_col).alias("vid"),
                      _dvec(F.col(vec_col)).alias("v")).persist()
    try:
        centroids = _lloyd_seeds(base, seed, k)
        if len(centroids) < k:
            raise ValueError(f"ivf_train needs at least k={k} training "
                             f"rows; got {len(centroids)}")
        for _ in range(iters):
            assigned = _assign(base, _trained_cells(centroids), "vid", "int")
            comp = (assigned.select("centroid_id", F.posexplode("v"))
                    .groupBy("centroid_id", "pos")
                    .agg(F.avg("col").alias("m")))
            new = {c: dict() for c in range(k)}
            for r in comp.collect():
                new[r["centroid_id"]][r["pos"]] = r["m"]
            centroids = [
                [new[c][p] for p in sorted(new[c])] if new[c] else centroids[c]
                for c in range(k)
            ]
            if quantize is not None:
                centroids = [[_q(x, quantize) for x in c] for c in centroids]
        return centroids
    finally:
        base.unpersist()


def _lloyd_seeds(base: DataFrame, seed: int, n: int) -> list:
    """Lloyd init shared by the trainers: the ``n`` training vectors
    with the smallest md5(seed || id)."""
    rows = (base
            .withColumn("h", F.md5(F.concat(F.lit(str(seed)),
                                            F.col("vid").cast("string"))))
            .orderBy("h", "vid").limit(n).select("v").collect())
    return [list(r["v"]) for r in rows]


def ivf_ann_topk_trained(emb: DataFrame, centroids: Sequence[Sequence[float]],
                         probe_ids: Sequence[int], k: int = 10,
                         nprobe: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """IVF top-k against TRAINED centroids (``ivf_train`` output): the
    ``ivf_ann_topk`` search (``_flat_search``) with the trained k x dim
    matrix as the coarse quantizer, labelled 0..k-1. End-to-end
    train->assign->search is deterministic (train with ``quantize``),
    so the full pipeline is SQL-oracle-able."""
    return _flat_search(ivf_assign_trained(emb, centroids, id_col, vec_col),
                        _collect_vectors(emb, probe_ids, id_col, vec_col),
                        _trained_cells(centroids), k, nprobe, id_col)


def semantic_dedup_pairs(emb: DataFrame, centroid_ids: Sequence[int],
                         threshold: float = 0.9,
                         max_cluster: int | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         method: str = "arrow") -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023:
    cluster the embedding space, compare only WITHIN clusters): map-only
    k-means assignment over inlined centroid literals, then per-cluster
    pairwise cosine >= ``threshold``. Output:
    (id_a, id_b, centroid_id, cosine).

    Scale posture: the all-pairs comparison shrinks from O(N²) to
    Σ_c |c|² — the whole point of SemDeDup — and the only corpus-scale
    exchange is the hash partition by ``centroid_id``. SemDeDup only
    scales when k grows with N so cluster sizes stay bounded (the paper
    uses k ~ sqrt(N)); ``max_cluster`` drops oversized clusters before
    pairing (a degenerate centroid attracting half the corpus would
    re-quadratify the work — raise k in training instead). Compose with
    ``dedup.connected_components`` / ``dedup.dedup_keep_canonical`` to
    turn pairs into a pruned corpus.

    ``method``: the dominant cost is Σ|c|² dot products, dense linear
    algebra that JVM array expressions evaluate element-at-a-time.
    ``"arrow"`` (default) runs the assignment as batched numpy GEMMs
    and each cluster as one numpy Gram matmul in an Arrow-batched
    ``applyInPandas`` (measured 15x end-to-end at 400k x 16d, 128
    clusters: 10s vs 148s; each task holds one |c| x dim block —
    bounded by ``max_cluster``). ``"expr"`` keeps left-fold float
    semantics end to end — bit-replayable in SQL, the
    DuckDB-oracle-gated form: assignment and normalization are fold
    expressions, and the per-cluster pairing executes the SAME fold
    order as ordered rank-1 Gram updates in an Arrow kernel (a plain
    matmul's SIMD/pairwise summation would NOT be bit-identical to a
    fold; the ordered update is, lane for lane)."""
    if method not in ("arrow", "expr"):
        raise ValueError("method must be 'arrow' or 'expr'")
    assigned = ivf_assign(emb, centroid_ids, id_col, vec_col,
                          method=method) \
        .select(F.col(id_col), "v", "centroid_id")
    if max_cluster is not None:
        ok = (assigned.groupBy("centroid_id")
              .agg(F.count("*").alias("__n"))
              .filter(F.col("__n") <= max_cluster).drop("__n"))
        assigned = assigned.join(F.broadcast(ok), "centroid_id")
    # null screen on the RAW vector (r11): a null v / null element row
    # can never form a pair (its cosine folds to null, dropped by the
    # >= filter), so drop it here. Testing v — not the derived vn —
    # matters: a predicate on vn gets pushed below the projection with
    # the whole normalization expression INLINED, re-evaluating the
    # norm fold per row in the filter (measured +1.3 s at sf0.1).
    assigned = assigned.filter(
        F.col("v").isNotNull()
        & ~F.exists(F.col("v"), lambda x: x.isNull()))
    # normalize ONCE per row before pairing: the pair count is
    # Σ_c |c|², so per-pair norm recomputation triples the dominant
    # cost; with unit vectors each pair is a single dot product.
    # The norm is projected as its own column first — inside the
    # transform lambda it would re-fold per element (the split-in-
    # lambda lesson from text_stats)
    assigned = (assigned.withColumn("__nrm", _norm(F.col("v")))
                .select(F.col(id_col), "centroid_id",
                        F.transform(F.col("v"),
                                    lambda x: x / F.col("__nrm")).alias("vn")))
    if method == "arrow":
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def _cluster_pairs(pdf):
            pdf = pdf.sort_values("__id", ignore_index=True)
            n = len(pdf)
            empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                  "id_b": pd.Series(dtype="int64"),
                                  "centroid_id": pd.Series(dtype="int64"),
                                  "cosine": pd.Series(dtype="float64")})
            if n < 2:
                return empty
            M = np.stack(pdf["vn"].to_numpy())
            ids = pdf["__id"].to_numpy()
            cid = int(pdf["centroid_id"].iloc[0])
            # row-blocked Gram (r12, ADVICE): a dense n x n S is
            # ~8 bytes * n² in ONE task — a degenerate 100k-row cluster
            # would need ~80 GB. Each block is rows x n (~bounded at
            # _GRAM_BLOCK_ELEMS doubles); global row-major pair order
            # is preserved because blocks emit in row order.
            bs = max(1, _GRAM_BLOCK_ELEMS // n)
            col_ix = np.arange(n)
            outs = []
            for r0 in range(0, n, bs):
                r1 = min(n, r0 + bs)
                S = M[r0:r1] @ M.T
                # boolean mask + nonzero, NOT triu_indices:
                # materializing the full index pair list costs
                # 2 x n²/2 int64 per cluster regardless of how few
                # pairs survive the threshold
                mask = (S >= thr) & (col_ix[None, :]
                                     > np.arange(r0, r1)[:, None])
                ia, jb = np.nonzero(mask)
                if not len(ia):
                    continue
                outs.append(pd.DataFrame({
                    "id_a": ids[ia + r0],
                    "id_b": ids[jb],
                    "centroid_id": np.full(len(ia), cid, dtype="int64"),
                    "cosine": S[ia, jb],
                }))
            return pd.concat(outs, ignore_index=True) if outs else empty

        return (assigned
                .select(F.col(id_col).alias("__id"), "centroid_id", "vn")
                .groupBy("centroid_id")
                .applyInPandas(_cluster_pairs,
                               "id_a long, id_b long, centroid_id long, "
                               "cosine double"))
    # fold-exact Arrow pairing (r11, guide §4.2): the former self-join
    # evaluated one interpreted three-layer higher-order fold PER PAIR
    # (Σ_c |c|² of them — ~3 s of the gate's 4 at sf0.1, vs 0.2 s for
    # assignment). This kernel accumulates each cluster's Gram matrix
    # by ORDERED rank-1 updates (S += outer(M[:,j], M[:,j]) for
    # j = 0..dim-1): per pair that is the identical float64
    # multiply-then-add sequence as the left fold — numpy elementwise
    # ops are lane-wise scalar IEEE ops, no reassociation, no FMA —
    # so cosines stay bitwise equal (oracle-pinned). Spark edge
    # semantics replicated exactly: null rows were screened on the
    # raw vector above (they can never form a pair); NaN cosines are
    # kept (Spark orders NaN above every number, so NaN >= thr is
    # true); vectors of unequal length pair as null (zip_with pads
    # the shorter side) and therefore pair only within equal-length
    # classes.
    import numpy as np
    import pandas as pd

    idt = emb.schema[id_col].dataType.simpleString()
    ct = assigned.schema["centroid_id"].dataType.simpleString()
    pair_schema = (f"id_a {idt}, id_b {idt}, centroid_id {ct}, "
                   f"cosine double")
    thr = float(threshold)

    def _fold_pairs(pdf):
        pdf = pdf.sort_values("__id", ignore_index=True)
        outs = []
        lens = pdf["vn"].map(len).to_numpy()
        for L in np.unique(lens):
            sub = pdf[lens == L]
            n = len(sub)
            if n < 2:
                continue
            M = np.stack(sub["vn"].to_numpy()).astype(np.float64,
                                                      copy=False)
            ids = sub["__id"].to_numpy()
            # row-blocked Gram (r12, ADVICE): the full n x n S plus the
            # np.outer temporary is ~16 bytes * n² in one task — a
            # degenerate/uncapped cluster OOMs where the old pair join
            # spilled. Blocking by ROWS keeps every S[a, b] element's
            # j-accumulation order untouched (each block still adds
            # outer-product columns j = 0..L-1 in sequence), so the
            # fold-exact bitwise contract holds; blocks emit in row
            # order, preserving the row-major global pair order.
            bs = max(1, _GRAM_BLOCK_ELEMS // n)
            col_ix = np.arange(n)
            for r0 in range(0, n, bs):
                r1 = min(n, r0 + bs)
                S = np.zeros((r1 - r0, n))
                for j in range(int(L)):
                    col = M[:, j]
                    S += np.outer(col[r0:r1], col)
                mask = ((S >= thr) | np.isnan(S)) \
                    & (col_ix[None, :] > np.arange(r0, r1)[:, None])
                ia, jb = np.nonzero(mask)
                if not len(ia):
                    continue
                outs.append(pd.DataFrame({
                    "id_a": ids[ia + r0], "id_b": ids[jb],
                    "centroid_id": np.repeat(sub["centroid_id"].iloc[0],
                                             len(ia)),
                    "cosine": S[ia, jb]}))
        if not outs:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype=pdf["__id"].dtype),
                 "id_b": pd.Series(dtype=pdf["__id"].dtype),
                 "centroid_id": pd.Series(
                     dtype=pdf["centroid_id"].dtype),
                 "cosine": pd.Series(dtype="float64")})
        return pd.concat(outs, ignore_index=True)

    # centroid_id is an argmax over literals of a fully-non-null
    # vector (screened above), so it cannot be null here
    return (assigned.select(F.col(id_col).alias("__id"), "centroid_id",
                            "vn")
            .groupBy("centroid_id")
            .applyInPandas(_fold_pairs, pair_schema))


def gramian(emb: DataFrame, vec_col: str = "embedding",
            dim: int = 64, method: str = "expr") -> DataFrame:
    """Distributed Gram matrix G = Σ_rows v·vᵀ as (i, j, g) — the
    one-pass covariance-style reduction under PCA/whitening. The
    single shuffle carries only dim² × partitions partials and the
    driver result is dim² scalars — constant in the row count, so the
    plan holds at 100 TB.

    ``method="expr"`` expands each row to its flattened outer product
    (one JVM ``posexplode``, no Python) — SQL-replayable, the
    oracle-gated form, but the explode is a dim²-per-row blowup.
    ``method="arrow"`` computes one numpy ``Mᵀ @ M`` partial per Arrow
    batch in ``mapInPandas`` (a dim² row per batch, GEMM instead of
    dim² exploded rows) — the scale path for large dim; numpy
    summation order differs from the fold in final ulps, which PCA's
    quantization absorbs."""
    base = emb.select(_dvec(F.col(vec_col)).alias("v"))
    if method == "arrow":
        import numpy as np
        import pandas as pd

        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim),
                             indexing="ij")

        def _partial(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack(pdf["v"].to_numpy())
                G = M.T @ M
                yield pd.DataFrame({"i": ii.ravel(), "j": jj.ravel(),
                                    "val": G.ravel()})

        flat = base.mapInPandas(_partial, "i int, j int, val double")
        return flat.groupBy("i", "j").agg(F.sum("val").alias("g"))
    outer = F.flatten(F.transform(
        F.col("v"), lambda x: F.transform(F.col("v"), lambda y: x * y)))
    flat = base.select(F.posexplode(outer).alias("pos", "val"))
    return (flat.groupBy((F.col("pos") / dim).cast("int").alias("i"),
                         F.pmod(F.col("pos"), F.lit(dim)).cast("int").alias("j"))
            .agg(F.sum("val").alias("g")))


def _q(x: float, decimals: int) -> float:
    m = 10.0 ** decimals
    return math.floor(x * m + 0.5) / m


def pca_components(emb: DataFrame, n_components: int = 2, iters: int = 8,
                   vec_col: str = "embedding", dim: int = 64,
                   g_decimals: int = 4,
                   v_decimals: int = 6,
                   method: str = "expr") -> list[list[float]]:
    """Top principal directions of the (uncentered) Gram matrix via
    power iteration with deflation — the distributed part is ONE
    :func:`gramian` pass; iteration happens on the driver over the
    dim×dim matrix (constant-size, like the reference's OLS Gramian
    solve).

    Deterministic & engine-replayable: G and every deflation are
    half-up quantized to ``g_decimals``, every normalized iterate to
    ``v_decimals``, and iteration starts from the fixed vector
    1/sqrt(dim)·𝟙 — so a SQL engine replaying the same arithmetic
    reproduces the components bit-for-bit (sum-order FP noise is
    absorbed by the quantization, the ``ivf_train`` trick)."""
    rows = gramian(emb, vec_col, dim, method=method).collect()
    G = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        G[r["i"]][r["j"]] = _q(r["g"], g_decimals)
    comps: list[list[float]] = []
    for _ in range(n_components):
        v = [_q(1.0 / math.sqrt(dim), v_decimals)] * dim
        for _ in range(iters):
            w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            nrm = math.sqrt(sum(x * x for x in w))
            v = [_q(x / nrm, v_decimals) for x in w]
        lam = _q(sum(v[i] * G[i][j] * v[j]
                     for i in range(dim) for j in range(dim)), g_decimals)
        comps.append(v)
        G = [[_q(G[i][j] - lam * v[i] * v[j], g_decimals)
              for j in range(dim)] for i in range(dim)]
    return comps


def pca_project(emb: DataFrame, components: Sequence[Sequence[float]],
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Project each vector onto trained principal directions — a pure
    map-only projection over inlined component literals (no join, no
    shuffle; the ``ivf_assign_trained`` shape). Output: (id, pc0,
    pc1, ...)."""
    base = emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
    cols = [F.col(id_col)]
    for c, comp in enumerate(components):
        cols.append(_dot(F.col("v"), _lit_f64s(comp)).alias(f"pc{c}"))
    return base.select(*cols)


def ivf_assign_trained(emb: DataFrame, centroids: Sequence[Sequence[float]],
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Assign vectors to trained centroids: (id, v, centroid_id,
    centroid_cos). Map-only projection over inlined centroid literals
    (``_assign``) — no join, no shuffle."""
    base = emb.select(F.col(id_col), _dvec(F.col(vec_col)).alias("v"))
    return _assign(base, _trained_cells(centroids), id_col, "int")


# ----------------------------------------------------------------------
# product quantization (IVF-PQ's fine quantizer)
# ----------------------------------------------------------------------

def _argmin_subcode(sv_col: Column, codebook: Sequence[Sequence[float]]):
    """Nearest sub-centroid struct (d2, code) via ``array_min`` over
    literal sub-centroid arrays — a pure projection, the PQ analogue of
    ``_argmax_centroid``. Squared-L2 fold; ties break on the lower
    code (struct comparison orders by d2 then code)."""
    entries = []
    for code, cv in enumerate(codebook):
        lit_cv = F.array(*[F.lit(float(x)) for x in cv])
        d2 = F.aggregate(F.zip_with(sv_col, lit_cv,
                                    lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda acc, v: acc + v)
        entries.append(F.struct(d2.alias("d"), F.lit(code).alias("code")))
    return F.array_min(F.array(*entries))


def _argmin_sub_sql(sv_expr: str, codebook: Sequence[Sequence[float]]) -> str:
    """`_argmin_subcode` as SQL text over a vector EXPRESSION string —
    same squared-L2 zip_with/aggregate folds, same (d2, code) tie rule.
    Caller must check ``_finite`` over the codebook first."""
    entries = ",".join(
        f"struct(aggregate(zip_with({sv_expr}, {_arr_sql(cv)}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x) AS d, "
        f"{code} AS code)"
        for code, cv in enumerate(codebook))
    return f"array_min(array({entries}))"


def pq_train(emb: DataFrame, m: int = 4, ksub: int = 8, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 7,
             quantize: int | None = None,
             train_fraction: float | None = None) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split each vector into
    ``m`` subspaces and run Lloyd k-means (squared L2, ``ksub``
    centroids) in every subspace — ALL subspaces per iteration in one
    pass: a map-only argmin assignment over inlined literals, one
    explode, one (subspace, code, component) hash aggregation (the only
    shuffle). Driver state is the m x ksub x (dim/m) codebook tensor =
    dim x ksub floats total, constant in rows.

    Deterministic like ``ivf_train``: init takes the ksub vectors with
    the smallest md5(seed || id) and slices them per subspace;
    assignment ties break on the lower code; ``quantize=d`` half-up
    rounds every component per iteration so training replays bitwise
    across engines and aggregation orders. Returns
    codebooks[s][code] = sub-centroid (list of dim/m floats).
    ``train_fraction`` as in :func:`ivf_train` (deterministic id-hash
    training subset — the at-scale mode)."""
    emb = _train_subset(emb, train_fraction, id_col, seed)
    base = emb.select(F.col(id_col).alias("vid"),
                      _dvec(F.col(vec_col)).alias("v")).persist()
    try:
        return _pq_lloyd(base, m, ksub, iters, seed, quantize)
    finally:
        base.unpersist()


def _pq_lloyd(base: DataFrame, m: int, ksub: int, iters: int, seed: int,
              quantize: int | None) -> list[list[list[float]]]:
    """``pq_train``'s Lloyd rounds over the persisted (vid, v) base."""
    seeds = _lloyd_seeds(base, seed, ksub)
    if not seeds:
        raise ValueError("empty embedding table")
    # dim/divisibility from the seed rows we already hold — a separate
    # ``first()`` dim probe was one whole extra Spark job per build
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = [[v[s * dsub:(s + 1) * dsub] for v in seeds] for s in range(m)]

    def _subs_expr():
        """One parsed string per iteration (r11 builder block);
        Column-API fallback when an average went non-finite."""
        if all(_finite(cv) for book in books for cv in book):
            entries = ",".join(
                f"struct({s} AS s, "
                f"{_argmin_sub_sql(f'slice(v, {s * dsub + 1}, {dsub})', books[s])}"
                f".code AS code, slice(v, {s * dsub + 1}, {dsub}) AS sv)"
                for s in range(m))
            return F.expr(f"array({entries})")
        return F.array(*[
            F.struct(F.lit(s).alias("s"),
                     _argmin_subcode(F.slice(F.col("v"), s * dsub + 1, dsub),
                                     books[s])["code"].alias("code"),
                     F.slice(F.col("v"), s * dsub + 1, dsub).alias("sv"))
            for s in range(m)])

    for _ in range(iters):
        comp = (base.select(F.explode(_subs_expr()).alias("e"))
                .select("e.s", "e.code", F.posexplode("e.sv"))
                .groupBy("s", "code", "pos").agg(F.avg("col").alias("mn")))
        acc: dict = {}
        for r in comp.collect():
            acc.setdefault((r["s"], r["code"]), {})[r["pos"]] = r["mn"]
        for s in range(m):
            for code in range(ksub):
                got = acc.get((s, code))
                if got:
                    books[s][code] = [got[p] for p in sorted(got)]
        if quantize is not None:
            books = [[[_q(x, quantize) for x in c] for c in book]
                     for book in books]
    return books


def pq_encode(emb: DataFrame, codebooks: Sequence[Sequence[Sequence[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep: Sequence[str] = ()) -> DataFrame:
    """PQ encode: (id, [keep...,] codes array<int>) — each vector
    compressed to m sub-centroid codes, a PURE PROJECTION over inlined
    codebook literals (zero exchanges; the 100 TB path stores the
    codes table at dim*8/m-fold compression and never rescans raw
    vectors). ``keep`` carries extra columns through the projection
    (e.g. the coarse cell id in IVF-PQ) so callers never need a
    re-join."""
    from ..session import require_ansi_off

    require_ansi_off("similarity operators (pq_encode)")
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    # bind the (possibly expression-backed — IVF-PQ residuals) input
    # vector to a lambda variable: CollapseProject would otherwise
    # inline the producing expression into EVERY per-code distance
    # fold (m x ksub evaluations per row instead of one)
    if all(_finite(cv) for book in codebooks for cv in book):
        dvec = f"transform(`{vec_col}`, x -> cast(x AS double))"
        codes_sql = ",".join(
            f"{_argmin_sub_sql(f'slice(vv, {s * dsub + 1}, {dsub})', codebooks[s])}.code"
            for s in range(m))
        codes = F.expr(
            f"element_at(transform(array({dvec}), "
            f"vv -> array({codes_sql})), 1)")
    else:
        def _codes(rv):
            return F.array(*[
                _argmin_subcode(F.slice(rv, s * dsub + 1, dsub),
                                codebooks[s])["code"]
                for s in range(m)])

        codes = F.element_at(
            F.transform(F.array(_dvec(F.col(vec_col))), _codes), 1)
    return emb.select(F.col(id_col), *[F.col(c) for c in keep],
                      codes.alias("codes"))


def _sub_lut(pv: Sequence[float],
             codebooks: Sequence[Sequence[Sequence[float]]]):
    """[m][ksub] squared-L2 table from a residual probe vector to every
    sub-centroid — plain left-to-right Python sums."""
    dsub = len(codebooks[0][0])
    lut = []
    for s, book in enumerate(codebooks):
        psub = pv[s * dsub:(s + 1) * dsub]
        row = []
        for cv in book:
            d2 = 0.0
            for a, b in zip(psub, cv):
                d2 += (a - b) * (a - b)
            row.append(d2)
        lut.append(row)
    return lut


# ----------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product codes (the standard
# billion-scale ANN layout)
# ----------------------------------------------------------------------

def ivfpq_build(emb: DataFrame, k_coarse: int = 8, m: int = 4,
                ksub: int = 8, coarse_iters: int = 1, pq_iters: int = 1,
                id_col: str = "vec_id", vec_col: str = "embedding",
                seed: int = 7, quantize: int | None = None,
                train_fraction: float | None = None):
    """Train the two-level quantizer: Lloyd coarse centroids
    (``ivf_train``, spherical) + PQ codebooks trained on the RESIDUALS
    ``v - c_assign(v)`` (``pq_train`` on a residual projection —
    residuals concentrate around zero, which is why PQ-on-residuals
    beats PQ-on-raw at equal bits). Returns (centroids, codebooks).
    Driver state: k_coarse x dim + dim x ksub floats; every training
    pass is the same map-only-assign + one-hash-agg shape as the
    underlying trainers. ``train_fraction`` flows to BOTH trainers
    (deterministic id-hash subset, :func:`_train_subset`) — residuals
    are only computed for the subset, so the whole build scans
    O(fraction · N) rows while assignment/search cover every vector."""
    sub = _train_subset(emb, train_fraction, id_col, seed)
    cents = ivf_train(sub, k=k_coarse, iters=coarse_iters, id_col=id_col,
                      vec_col=vec_col, seed=seed, quantize=quantize)
    res = _ivfpq_residuals(sub, cents, id_col, vec_col)
    books = pq_train(res, m=m, ksub=ksub, iters=pq_iters, id_col=id_col,
                     vec_col="residual", seed=seed, quantize=quantize)
    return cents, books


def _ivfpq_residuals(emb: DataFrame, centroids, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, centroid_id, residual): map-only — assignment over inlined
    centroid literals, residual as a zip_with subtraction."""
    assigned = ivf_assign_trained(emb, centroids, id_col, vec_col)
    cents = [[float(x) for x in c] for c in centroids]
    if all(_finite(c) for c in cents):
        cent_lit = F.expr(_arr2_sql(cents))
    else:
        cent_lit = F.array(*[
            F.array(*[F.lit(x) for x in c]) for c in cents])
    cv = F.element_at(cent_lit, (F.col("centroid_id") + 1).cast("int"))
    resid = F.zip_with(F.col("v"), cv, lambda a, b: a - b)
    return assigned.select(F.col(id_col), "centroid_id",
                           resid.alias("residual"))


def ivfpq_topk(emb: DataFrame, centroids, codebooks,
               probe_ids: Sequence[int], k: int = 10, nprobe: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_decimals: int = 6) -> DataFrame:
    """IVF-PQ asymmetric search: each probe visits its ``nprobe``
    nearest coarse cells and scores candidates by
    ``||(q - c_cell) - pq(residual_v)||²`` — a per-(probe, cell)
    lookup table of squared distances from the probe's RESIDUAL
    subvectors to the sub-centroids (P x nprobe x m x ksub driver
    floats, bounded by the quantizer). Candidates' PQ codes explode
    per subspace and meet the broadcast LUT in an equi-join; one
    (probe, vec) aggregation + the top-k window are the only
    data-scale exchanges, and search never touches raw vectors beyond
    the one encode pass. Scores round half-up BEFORE ranking for
    cross-engine order. Returns (probe_id, vec_id, adc, rank)."""
    res = _ivfpq_residuals(emb, centroids, id_col, vec_col)
    # cell id rides the encode projection — no re-join, no second
    # scan of the assign/residual subtree; the cached codes table is
    # the stored artifact (search scans codes, never raw vectors)
    codes = persist(pq_encode(res, codebooks, id_col, "residual",
                              keep=["centroid_id"]))
    probes = _collect_vectors(emb, probe_ids, id_col, vec_col)
    return hold(_ivfpq_search(codes, probes, centroids, codebooks, k,
                              nprobe, id_col, round_decimals), codes)


def ivfpq_save_codes(emb: DataFrame, centroids, codebooks, path: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Persist the IVF-PQ codes table PARTITIONED BY ``centroid_id`` —
    the billion-scale serving layout: each coarse cell is its own
    directory, so the search's probed-cell IN-filter becomes
    PARTITION PRUNING on disk (only ``nprobe/k_coarse`` of the corpus
    is ever read, with zero exchanges before the LUT join). Encode is
    the usual map-only projection; the write's partitionBy is the one
    exchange, paid once at build time."""
    res = _ivfpq_residuals(emb, centroids, id_col, vec_col)
    codes = pq_encode(res, codebooks, id_col, "residual",
                      keep=["centroid_id"])
    (codes.write.mode("overwrite").partitionBy("centroid_id")
     .parquet(path))


def ivfpq_topk_table(spark, path: str, emb: DataFrame, centroids,
                     codebooks, probe_ids: Sequence[int], k: int = 10,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     round_decimals: int = 6) -> DataFrame:
    """IVF-PQ search over a PERSISTED codes table
    (:func:`ivfpq_save_codes`): identical scoring to
    :func:`ivfpq_topk`, but the probed-cell filter prunes parquet
    partitions instead of filtering a scan — the plan reads only the
    probed cells' directories and needs no cache of the encode
    subtree (raw vectors are touched only to look up the probes)."""
    probes = _collect_vectors(emb, probe_ids, id_col, vec_col)
    return _ivfpq_search(spark.read.parquet(path), probes, centroids,
                         codebooks, k, nprobe, id_col, round_decimals)


def _ivfpq_search(codes: DataFrame, probes, centroids, codebooks,
                  k: int, nprobe: int, id_col: str,
                  round_decimals: int) -> DataFrame:
    """Shared ADC search over a codes table (in-session cached or read
    back from the partitioned artifact): driver-side probe LUTs over
    the bounded quantizer state, probed-cell pruning, one broadcast
    equi-join + one (probe, vec) aggregation + the top-k window."""
    spark = codes.sparkSession
    # the flat searches' probe cells (``_probe_cells``) + the per-cell
    # residual LUTs, all driver-side over the bounded quantizer state
    cells = _trained_cells(centroids)
    lut_rows = []
    probed_cells = set()
    for pid, pv, probed in _probe_cells(probes, cells, nprobe):
        probed_cells.update(probed)
        for cid in probed:
            pr = [a - b for a, b in zip(pv, cells[cid][1])]
            for s, row_d in enumerate(_sub_lut(pr, codebooks)):
                for code, d2 in enumerate(row_d):
                    lut_rows.append((pid, cid, s, code, d2))
    lut = spark.createDataFrame(
        lut_rows, "probe_id long, centroid_id int, s int, code int, "
                  "pd2 double")

    # IVF's whole point: scan only the probed cells. The probed set is
    # known driver-side (built in the LUT loop), so the prune is a
    # pushable IN-filter on the codes scan — partition pruning when
    # codes are persisted partitioned by centroid_id
    # (ivfpq_save_codes), a pushed filter otherwise; without it,
    # posexplode runs m× over 100% of the corpus before the LUT join
    # discards un-probed cells.
    exploded = (codes
                .filter(F.col("centroid_id").isin(sorted(probed_cells)))
                .select(F.col(id_col), "centroid_id",
                        F.posexplode("codes").alias("s", "code")))
    scale = float(10 ** round_decimals)
    # the LUT is complete (every (s, code) pair per probed cell), so
    # the inner join yields exactly m rows per candidate — no
    # completeness bookkeeping needed
    scored = (exploded.join(F.broadcast(lut),
                            ["centroid_id", "s", "code"])
              .filter(F.col(id_col) != F.col("probe_id"))
              .groupBy("probe_id", id_col)
              .agg((F.floor(F.sum("pd2") * scale + F.lit(0.5)) / scale)
                   .alias("adc")))
    return _topk(scored, F.col("adc"), id_col, k)
