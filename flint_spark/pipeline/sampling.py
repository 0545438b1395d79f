"""Deterministic sampling / splitting / packing for training-data
pipelines.

Everything here is pure-expression (codegen'd, no Python, no RNG
state): selection is a function of a content/id hash, so splits are
reproducible across runs, engines (md5 — DuckDB-oracle-able) and
cluster layouts, and a re-run after adding data moves no existing row
between splits. That property — not randomness — is what a 100 TB
training pipeline needs from its sampler.

Scale posture: ``hash_split`` / ``deterministic_sample`` are map-only
(no shuffle). ``take_per_key`` is one keyed window. The packing family
(``pack_documents`` / ``pack_sequences``) is a cumulative token sum —
per-shard keyed window when sharded, and for the UNSHARDED global
stream the distributed keyless prefix engine (one value-derived hash
exchange + a P-row carry, ``operators/prefix.py``) instead of a
one-task window: exact LONG sums make the routes bitwise-identical.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators import _route
from ._cache import hold, persist
from .hashing import h28, h28_sql

#: hash buckets for split arithmetic; 28-bit hash → uniform enough
_BUCKETS = 10_000


def _bucket(col: Column, salt: str) -> Column:
    return F.pmod(h28(F.concat(F.lit(salt), col.cast("string"))),
                  F.lit(_BUCKETS))


def _bucket_sql(expr: str, salt: str) -> str:
    inner = f"'{salt}' || ({expr})::VARCHAR"
    return f"(({h28_sql(inner)}) % {_BUCKETS})"


def hash_split(df: DataFrame, weights: Mapping[str, float],
               on: str = "doc_id", salt: str = "split") -> DataFrame:
    """Adds a ``split`` column ('train'/'val'/... per ``weights``) as a
    pure function of md5(salt || id): deterministic, engine-portable,
    stable under appends. Weights must sum to 1."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights sum to {total}, expected 1")
    b = _bucket(F.col(on), salt)
    expr = None
    edge = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        edge += w
        cond = b < F.lit(int(round(edge * _BUCKETS)))
        expr = F.when(cond, F.lit(name)) if expr is None else \
            expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def hash_split_sql(weights: Mapping[str, float], on: str = "doc_id",
                   salt: str = "split") -> str:
    """DuckDB CASE fragment computing the identical split column."""
    b = _bucket_sql(on, salt)
    parts = []
    edge = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        edge += w
        parts.append(f"WHEN {b} < {int(round(edge * _BUCKETS))} THEN '{name}'")
    return f"CASE {' '.join(parts)} ELSE '{items[-1][0]}' END"


def deterministic_sample(df: DataFrame, fraction: float, on: str = "doc_id",
                         salt: str = "sample") -> DataFrame:
    """Keep ~``fraction`` of rows, selected by id-hash — reproducible
    (same rows every run/engine), unlike ``df.sample`` whose output
    depends on partition layout."""
    b = _bucket(F.col(on), salt)
    return df.filter(b < F.lit(int(round(fraction * _BUCKETS))))


def weighted_sample(df: DataFrame, prob_col, on: str = "doc_id",
                    salt: str = "wsample") -> DataFrame:
    """Keep each row with its OWN probability (a column or expression in
    [0, 1]) — quality-weighted corpus downsampling, deterministic: the
    keep decision is a pure function of (salt, id), so re-runs and
    engines agree and appending data never flips an existing row.

    Probability quantization is ``floor(p * buckets + 0.5)`` — the same
    half-up rounding as :func:`deterministic_sample`, so the two
    samplers agree on equal probabilities and probabilities below half
    a bucket (5e-5) round to zero symmetrically rather than truncating
    everything under 1e-4 to never-keep."""
    if isinstance(prob_col, str):
        prob_col = F.col(prob_col)
    b = _bucket(F.col(on), salt)
    return df.filter(b < F.floor(prob_col * _BUCKETS + F.lit(0.5)))


def stratified_sample(df: DataFrame, strata: str,
                      fractions: Mapping[str, float],
                      on: str = "doc_id", salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling (hash-based ``sampleBy``):
    strata not listed keep fraction 0."""
    b = _bucket(F.col(on), salt)
    cond = F.lit(False)
    for value, frac in fractions.items():
        cond = cond | ((F.col(strata) == F.lit(value))
                       & (b < F.lit(int(round(frac * _BUCKETS)))))
    return df.filter(cond)


def take_per_key(df: DataFrame, key: Sequence[str], n: int,
                 on: str = "doc_id", salt: str = "take") -> DataFrame:
    """Deterministic k-per-key subsample (hash-ordered row_number) — the
    distributed, reproducible stand-in for per-key reservoir sampling.
    One keyed window shuffle."""
    w = Window.partitionBy(*key).orderBy(_bucket(F.col(on), salt), F.col(on))
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n).drop("__rk"))


#: unsharded packing auto-routes to the distributed prefix engine above
#: this Catalyst size estimate — a single-task window over more than
#: this is a scale bug, not a choice
_PACK_UNSHARDED_MAX_BYTES = 256 << 20

#: integral dtypes eligible as the distributed packing order axis
#: (df.dtypes spellings — LongType reports as 'bigint')
_PACK_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def _tok_long(tokens_col: str) -> Column:
    """Token count as an exact LONG: NULL packs as 0 (an empty doc at
    its stream position), fractional values truncate (counts are
    integers by definition), and NEGATIVE values fail loudly — under
    legacy sizeOfNull (ANSI off) ``F.size`` of a NULL split is -1, and
    a -1 flowing into the cumulative sum would silently shift every
    later document's offsets. Coalesce/clamp upstream if -1 was meant
    as missing."""
    raw = F.col(tokens_col).cast("long")
    bad = F.raise_error(F.concat(
        F.lit(f"pack: negative token count in {tokens_col!r} "
              f"(F.size of a NULL array is -1 under legacy sizeOfNull; "
              f"coalesce it to 0 upstream): "),
        raw.cast("string")))
    return F.when(raw < 0, bad.cast("long")) \
        .otherwise(F.coalesce(raw, F.lit(0)))


def _keyless_cum_before(df: DataFrame, tokens_col: str,
                        on: str) -> DataFrame:
    """Exclusive running token sum in ascending ``on`` order on the
    DISTRIBUTED keyless prefix engine (``operators/prefix.py``): one
    value-derived hash exchange + a P-row carry job, never a one-task
    global window. ``on`` becomes the engine's time axis, so it must be
    an integral column (doc ids are); token counts merge as exact LONG
    sums, so the route is bitwise-identical to the single-window plan.
    Returns the input columns plus ``__cum_before`` (long), holding
    the engine's persisted state (``_cache.hold``)."""
    from ..operators.prefix import keyless_cumulative

    dtypes = dict(df.dtypes)
    if dtypes.get(on) not in _PACK_INTEGRAL:
        raise TypeError(
            f"distributed packing orders on {on!r}, which must be an "
            f"integral column (got {dtypes.get(on)}); pass shard_col "
            f"or distributed=False for non-integral order keys")
    reserved = [c for c in df.columns if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"distributed packing reserves '__'-prefixed columns for "
            f"the prefix engine (which would silently drop {reserved}); "
            f"rename them or pass distributed=False")
    tok = _tok_long(tokens_col)
    # the engine's axis is the `time` column; stash a real one if
    # present, and ALWAYS cast the key (time_ns_expr rejects
    # smallint/tinyint; the cast is a no-op for bigint)
    stash = "time" in df.columns and on != "time"
    base = df.withColumnRenamed("time", "_pack_stash_time") if stash else df
    eng = base.withColumn("time", F.col(on).cast("long"))
    out = keyless_cumulative(
        eng,
        [("toks", lambda d, o: o(F.sum(_tok_long(tokens_col))), "sum")],
        lambda st: {"__cum_incl": st["toks"]})
    res = out.withColumn(
        "__cum_before",
        (F.coalesce(F.col("__cum_incl"), F.lit(0)) - tok).cast("long")) \
        .drop("__cum_incl")
    if on != "time":
        res = res.drop("time")
    if stash:
        res = res.withColumnRenamed("_pack_stash_time", "time")
    return hold(res, out)


def _cum_before(df: DataFrame, tokens_col: str, on: str,
                shard_col: str | None,
                distributed: bool | None) -> DataFrame:
    """Shared exclusive-prefix-token-sum stage for the packing family:
    per-shard keyed window when sharded (parallel by shard), else the
    distributed prefix engine or — for small inputs — one window task.
    Route policy (the ``left_join`` shape): ``distributed=None``
    auto-routes unsharded inputs distributed when the Catalyst size
    estimate exceeds the single-task budget OR is unknown; inputs the
    engine cannot take (non-integral ``on``) fall back to the one-task
    window with a loud warning instead of breaking."""
    if shard_col is None:
        eligible = dict(df.dtypes).get(on) in _PACK_INTEGRAL
        auto = _route.keyless_distributed(
            lambda: _route.estimated_bytes(df), distributed,
            _PACK_UNSHARDED_MAX_BYTES)
        if auto and eligible:
            return _keyless_cum_before(df, tokens_col, on)
        if auto and distributed:  # explicit ask the engine can't honor
            return _keyless_cum_before(df, tokens_col, on)  # raises
        if auto and not eligible:
            import warnings
            warnings.warn(
                f"packing order key {on!r} is not integral, so the "
                f"distributed prefix route is unavailable and this "
                f"large/unknown-size input runs through ONE window "
                f"task; pass shard_col to parallelize", stacklevel=3)
    tok = _tok_long(tokens_col)
    part = [shard_col] if shard_col else []
    w = (Window.partitionBy(*part).orderBy(F.col(on))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn("__cum_before",
                         (F.sum(tok).over(w) - tok).cast("long"))


def pack_documents(df: DataFrame, budget: int, tokens_col: str,
                   shard_col: str | None = None,
                   on: str = "doc_id",
                   distributed: bool | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    deterministic (shard, id) order and assigned ``bin_id`` =
    floor(cumulative_tokens_before / budget) — the standard training
    layout where documents are concatenated and the stream is chunked
    into ``budget``-token contexts.

    Sharded packing parallelizes by ``shard_col`` (bins are per-shard).
    UNSHARDED packing — one global stream — used to refuse large inputs
    (the whole table funneled through ONE window task); it now
    auto-routes the running token sum through the distributed keyless
    prefix engine (``operators/prefix.py``: one value-derived hash
    exchange + a P-row carry), so the exact global layout scales
    without sharding. Token sums are exact LONG arithmetic, so the
    distributed and single-window routes are bitwise-identical.
    ``distributed`` as in ``left_join``: None routes by Catalyst size
    estimate (unknown estimates route distributed — the safe shape).

    Token-count semantics (since the distributed route): counts are
    exact LONG arithmetic on EVERY route — NULL packs as 0, fractional
    values truncate (counts are integers by definition), and negative
    values fail loudly (``F.size`` of a NULL split is -1 under legacy
    sizeOfNull — see :func:`_tok_long`). Before r8 the sharded path
    float-summed raw values (NULL rows got NULL bins)."""
    from ..timeseries import floor_div

    if budget <= 0:
        raise ValueError("budget must be positive")
    cum = _cum_before(df, tokens_col, on, shard_col, distributed)
    out = (cum.withColumn("bin_id", floor_div(F.col("__cum_before"),
                                              int(budget)))
           .drop("__cum_before"))
    return hold(out, cum)


def pack_sequences(df: DataFrame, seq_len: int, tokens_col: str,
                   shard_col: str | None = None,
                   on: str = "doc_id",
                   distributed: bool | None = None) -> DataFrame:
    """Concat-and-chunk packing WITH document splitting — the GPT
    training layout where the (per-shard) token stream is cut every
    ``seq_len`` tokens and a document spanning a cut contributes a
    SEGMENT to each sequence it overlaps. One row per (document,
    overlapped sequence), with the slice coordinates a loader needs:

    - ``seq_id``: 0-based sequence index in the (shard's) stream;
    - ``doc_off``: first token of the segment within the document;
    - ``seq_off``: position of the segment within the sequence;
    - ``seg_tokens``: segment length (0 for empty/null-token docs,
      which still emit one row at their stream position).

    Every token of every document lands in exactly one segment;
    sequence ``seq_id`` holds exactly ``seq_len`` tokens except the
    stream's last. The cumulative stage is the same distributed prefix
    engine / per-shard window as :func:`pack_documents` (exact LONG
    sums — route-identical); the split itself is a map-only
    ``sequence``+``explode`` over the ≤ ceil(n/seq_len)+1 overlapped
    sequence ids. Scale: one hash exchange for the cumsum, then
    embarrassingly parallel."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from ..timeseries import floor_div

    cum = _cum_before(df, tokens_col, on, shard_col, distributed)
    n = _tok_long(tokens_col)
    cb = F.col("__cum_before")
    k0 = floor_div(cb, seq_len)
    k1 = F.when(n > 0, floor_div(cb + n - 1, seq_len)).otherwise(k0)
    out = cum.withColumn("seq_id", F.explode(F.sequence(k0, k1)))
    seq_start = F.col("seq_id") * F.lit(seq_len).cast("long")
    doc_off = F.greatest(F.lit(0).cast("long"), seq_start - cb)
    seg_end = F.least(n, seq_start + F.lit(seq_len) - cb)
    res = (out.withColumn("doc_off", doc_off)
           .withColumn("seq_off", cb + F.col("doc_off") - seq_start)
           .withColumn("seg_tokens",
                       F.when(n > 0, seg_end - F.col("doc_off"))
                       .otherwise(F.lit(0).cast("long")))
           .drop("__cum_before"))
    return hold(res, cum)


def repeat_dataset(df: DataFrame, factor: float, on: str = "doc_id",
                   salt: str = "repeat") -> DataFrame:
    """Deterministic fractional oversampling for mixture weighting:
    every row appears ``floor(factor)`` times, plus once more for the
    id-hash fraction selected by ``factor % 1`` — so ``factor=2.3``
    yields exactly ~2.3 epochs, the same rows every run. Adds
    ``repeat_idx`` (0-based copy number); map-only (explode)."""
    if factor <= 0:
        raise ValueError("factor must be > 0")
    whole = int(factor)
    frac = factor - whole
    b = _bucket(F.col(on), salt)
    n_copies = F.lit(whole) + F.when(
        b < F.lit(int(round(frac * _BUCKETS))), 1).otherwise(0)
    # rows with n_copies == 0 (factor < 1, hash not selected) drop out:
    # sequence(0, -1) would count backwards, so filter first
    return (df.withColumn("__n", n_copies).filter(F.col("__n") > 0)
            .withColumn("repeat_idx", F.explode(F.sequence(F.lit(0),
                                                           F.col("__n") - 1)))
            .drop("__n"))


def temperature_mix(df: DataFrame, strata: str, alpha: float = 0.5,
                    on: str = "doc_id", salt: str = "temp") -> DataFrame:
    """Temperature-flattened corpus mixing: downsample each stratum so
    group shares move from proportional (alpha=1) toward uniform
    (alpha=0) — the multilingual-pretraining reweighting p_k ∝ n_k^alpha
    applied as a deterministic per-row keep decision.

    Per-stratum keep probability q_k = n_k^(alpha-1) / max_j n_j^(alpha-1)
    (for alpha<1 the SMALLEST stratum keeps everything and larger
    strata are downsampled toward it — pure downsampling, no
    duplication; compose with ``repeat_dataset`` for upsampling mixes). The decision is md5(salt || id) vs
    floor(q_k * buckets + 0.5) — the same quantization as
    ``deterministic_sample`` / ``weighted_sample`` — so the output is
    reproducible across runs, engines, and appends.

    Fully declarative: counts and the max-power normalizer live in a
    strata-bounded subtree (tiny) that broadcast-joins back onto the
    corpus; the corpus itself is map-only. No driver collect. The
    normalizer is an unpartitioned window over the counts table (fine:
    it is strata-bounded) so the counts subtree — which scans the
    corpus — is referenced exactly once; a crossJoin against a separate
    max aggregate would duplicate that scan."""
    counts = df.groupBy(strata).agg(F.count("*").alias("__n"))
    powed = counts.select(
        F.col(strata),
        F.pow(F.col("__n").cast("double"), F.lit(alpha - 1.0)).alias("__p"))
    probs = (powed
             .withColumn("__mx", F.max("__p").over(
                 Window.partitionBy(F.lit(1))))
             .select(F.col(strata),
                     (F.col("__p") / F.col("__mx")).alias("__q")))
    b = _bucket(F.col(on), salt)
    return (df.join(F.broadcast(probs), strata)
            .filter(b < F.floor(F.col("__q") * _BUCKETS + F.lit(0.5)))
            .drop("__q"))


def mix_corpora(sources: Mapping[str, tuple[DataFrame, float]],
                on: str = "doc_id", salt: str = "mix") -> DataFrame:
    """Weighted training mixture: each named source is deterministically
    repeated/sampled to its weight (epochs), tagged with ``source``, and
    unioned. Schemas must match (align columns first)."""
    parts = []
    for name, (df, weight) in sources.items():
        part = repeat_dataset(df, weight, on, salt=f"{salt}:{name}") \
            .withColumn("source", F.lit(name))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def global_shuffle(df: DataFrame, seed: str = "epoch0", on: str = "doc_id",
                   shards: int = 64) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    unique ``global_pos`` in [0, n) — rows ordered by ``(shard,
    md5-key)`` where both derive from ``md5(seed || ':' || id)`` —
    without ever planning a single-partition global window. (The
    order is NOT the plain md5 sort order: the shard — hash prefix
    mod ``shards`` — is the major key. It is still a uniformly
    pseudo-random, seed-keyed permutation, which is the property a
    training shuffle needs.)

    Mechanics: ``shard`` = 28-bit hash of the sort key mod ``shards``;
    within-shard rank is one keyed window (ONE hash exchange);
    ``global_pos = shard_offset + rank`` where the offsets are the
    exclusive prefix sums of the ``shards``-row count table — the only
    driver state, bounded by ``shards`` regardless of corpus size.
    Epoch reshuffles are just a new ``seed``. ``on`` must be unique
    per row (it seeds the hash AND breaks exact-key ties); the
    permutation is reproducible across runs, engines and partition
    layouts, unlike ``df.orderBy(rand())``.

    Scale: readers consume shards 0..S-1 each sorted by ``global_pos``;
    ``shards`` only needs to exceed reader/writer parallelism. The
    count pass is a second scan but aggregates map-side to S rows."""
    if shards < 1:
        raise ValueError("shards must be >= 1")
    skey = F.md5(F.concat(F.lit(f"{seed}:"), F.col(on).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(skey, 1, 7), 16, 10).cast("long"),
        F.lit(shards)).cast("int")
    t = df.withColumn("__k", skey).withColumn("shard", shard)
    counts = {r["shard"]: r["c"] for r in
              t.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()}
    if None in counts:
        raise ValueError(
            f"global_shuffle: {counts[None]} row(s) have a null {on!r} — "
            "the id column must be non-null (it seeds the permutation)")
    offset, acc = {}, 0
    for s in sorted(counts):
        offset[s] = acc
        acc += counts[s]
    off_expr = F.element_at(
        F.create_map(*[F.lit(v) for s in sorted(offset)
                       for v in (s, offset[s])]),
        F.col("shard")) if offset else F.lit(0)
    rank = F.row_number().over(
        Window.partitionBy("shard").orderBy("__k", on)) - F.lit(1)
    return (t.withColumn("global_pos", (off_expr + rank).cast("long"))
            .drop("__k"))


def weighted_take_per_key(df: DataFrame, key: Sequence[str],
                          weight_col, n: int, on: str = "doc_id",
                          salt: str = "wtake") -> DataFrame:
    """Weight-proportional k-per-key subsample WITHOUT replacement
    (the exponential-race form of Efraimidis-Spirakis A-ES reservoir
    sampling): each row draws a deterministic uniform
    u = (md5_28(salt||id) + 1) / (2^28 + 1) and races with key
    -ln(u) / weight — exponential with rate ``weight``, so the n
    smallest are a weight-proportional sample. Deterministic and
    engine-portable like every sampler here (a pure function of
    (salt, id)): re-runs agree and appends never flip a surviving
    row's draw. Rows with null or non-positive weight are dropped
    (they can never win a race).

    One keyed window exchange — identical plan shape to
    :func:`take_per_key`, which is the uniform special case."""
    if isinstance(weight_col, str):
        weight_col = F.col(weight_col)
    u = ((_bucket28(F.col(on), salt) + F.lit(1)).cast("double")
         / F.lit(float(2 ** 28 + 1)))
    race = -F.log(u) / weight_col
    w = Window.partitionBy(*key).orderBy(race.asc(), F.col(on))
    return (df.filter(weight_col.isNotNull() & (weight_col > 0))
            .withColumn("__race", race)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n).drop("__rk", "__race"))


def _bucket28(col: Column, salt: str) -> Column:
    """Raw 28-bit hash (no modulus) — the race needs the full-width
    uniform, not the 10k split buckets."""
    return h28(F.concat(F.lit(salt), col.cast("string")))


# ----------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ----------------------------------------------------------------------

def _dsir_feats(text: Column) -> Column:
    """Hashed-n-gram feature stream: word unigrams + adjacent word
    bigrams (the DSIR feature space). Null text yields an empty
    feature list (neutral weight), never a dropped row."""
    ws = F.filter(F.split(text, " "), lambda w: w != "")
    # clamp: an empty/whitespace-only doc has size 0 and slice would
    # reject length -1 at runtime (aborting the job, not the row)
    n1 = F.greatest(F.size(ws) - F.lit(1), F.lit(0))
    bigrams = F.zip_with(F.slice(ws, 1, n1), F.slice(ws, 2, n1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.coalesce(F.concat(ws, bigrams),
                      F.array().cast("array<string>"))


def dsir_log_ratios(raw: DataFrame, target: DataFrame,
                    text_col: str = "text", n_buckets: int = 256,
                    alpha: float = 1.0) -> list[float]:
    """Per-bucket log importance ratios log(p_target / q_raw) over the
    hashed unigram+bigram feature space, Laplace-smoothed. Two
    corpus-scale explode+hash-agg passes; the driver holds exactly
    ``n_buckets`` counts per corpus — bounded by construction, never
    by data."""
    import math

    def counts_df(df, side: str):
        # _spread (r11, guide §2): tokenize+bigram+explode+hash per doc
        # is the pass's whole cost — a single-split local scan would
        # run it in one task (no-op on many-split corpora)
        from .dedup import _spread

        b = F.pmod(h28(F.col("f")), F.lit(n_buckets)).alias("b")
        return (_spread(df)
                .select(F.explode(_dsir_feats(F.col(text_col))).alias("f"))
                .select(b).groupBy("b").agg(F.count("*").alias("c"))
                .select(F.lit(side).alias("side"), "b", "c"))

    # ONE action for both distribution passes: the union's two
    # branches are independent and Spark schedules their stages
    # concurrently, so the (smaller) target pass rides along with the
    # raw pass instead of serializing after it (guide §2.6). Counts
    # are exact integers — identical to two separate collects.
    t, r = [0] * n_buckets, [0] * n_buckets
    for row in (counts_df(target, "t")
                .unionByName(counts_df(raw, "r")).collect()):
        (t if row["side"] == "t" else r)[row["b"]] = row["c"]
    t_tot, r_tot = sum(t) + alpha * n_buckets, sum(r) + alpha * n_buckets
    return [math.log((t[i] + alpha) / t_tot) -
            math.log((r[i] + alpha) / r_tot) for i in range(n_buckets)]



def dsir_score(df: DataFrame, ratios: Sequence[float],
               text_col: str = "text") -> DataFrame:
    """Score documents against a TRAINED ratio table: adds ``logw`` as
    a map-only fold over one literal array — stateless, zero
    exchanges, and therefore runs unchanged on ``readStream`` (the
    online face of DSIR: score arriving documents against a
    batch-built target model)."""
    n_buckets = len(ratios)
    if n_buckets > 4096:
        raise ValueError(
            f"{n_buckets} ratios inline as {n_buckets} literals; "
            f"cap is 4096 (use a coarser feature space)")
    # one parse call instead of n_buckets py4j literal round-trips
    # (r11 construction fix — see similarity._lit_f64s)
    from .similarity import _lit_f64s
    lit_r = _lit_f64s(ratios)
    feats = _dsir_feats(F.col(text_col))
    logw = F.aggregate(
        F.transform(feats, lambda f: F.element_at(
            lit_r, (F.pmod(h28(f), F.lit(n_buckets)) + F.lit(1))
            .cast("int"))),
        F.lit(0.0), lambda acc, v: acc + v)
    return df.withColumn("logw", logw)

def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 256, alpha: float = 1.0,
                seed: str = "dsir", gumbel: bool = True) -> DataFrame:
    """DSIR data selection: score every raw document with its log
    importance weight under the hashed-bigram target/raw ratio model,
    then take the k Gumbel-top-k winners (deterministic md5-derived
    Gumbel noise — reproducible resampling, the paper's sampler) or
    the plain top-k when ``gumbel=False``.

    Scoring is a MAP-ONLY projection: the n_buckets log-ratios inline
    as one literal array and each document folds
    ``element_at(ratios, h28(feat) % B + 1)`` over its own feature
    list — zero exchanges beyond the two bounded distribution
    aggregates; the only other exchange is the top-k cut. Adds
    ``logw`` and ``selected``. Documents with no features score 0
    (neutral), matching the empty-product convention."""
    if n_buckets > 4096:
        raise ValueError(
            f"n_buckets={n_buckets} inlines as {n_buckets} literals; "
            f"cap is 4096 (use a coarser feature space)")
    ratios = dsir_log_ratios(raw, target, text_col, n_buckets, alpha)
    scored = dsir_score(raw, ratios, text_col)
    if gumbel:
        u = ((h28(F.concat(F.lit(seed), F.col(id_col).cast("string")))
              .cast("double") + F.lit(0.5)) / F.lit(float(2 ** 28)))
        scored = scored.withColumn("__key", F.col("logw") - F.log(-F.log(u)))
    else:
        scored = scored.withColumn("__key", F.col("logw"))
    # cache the scored table: the md5+literal-lookup fold over every
    # document is the dominant cost, and it is needed twice — for the
    # kth-threshold pass below and for the returned DataFrame
    scored = persist(scored)
    # distributed top-k: TakeOrderedAndProject finds the kth (key, id)
    # pair (1-row collect), then selection is a map-only flag — no
    # global sort, no single-task window, order-of-k driver state
    kth = (scored.select("__key", F.col(id_col).alias("__id"))
           .orderBy(F.desc("__key"), "__id").limit(k)
           .orderBy("__key", F.desc("__id")).limit(1).collect())
    if kth:
        kk, ki = kth[0]["__key"], kth[0]["__id"]
        sel = (F.col("__key") > kk) | \
              ((F.col("__key") == kk) & (F.col(id_col) <= ki))
    else:
        sel = F.lit(False)
    return hold(scored.withColumn("selected", sel).drop("__key"), scored)


def pack_bins(df: DataFrame, budget: int, tokens_col: str,
              shard_col: str | None = None,
              on: str = "doc_id") -> DataFrame:
    """Capacity-respecting NEXT-FIT packing: documents stay WHOLE and a
    bin's token total never exceeds ``budget`` — the third classic
    packing layout (``pack_documents`` lets a document straddle bins;
    ``pack_sequences`` splits it). A new bin opens when the current
    document no longer fits; a document larger than ``budget`` lands in
    a bin of its own IF the current bin is non-empty (next-fit's
    standard oversized rule — it never splits). Adds ``bin_id``
    (0-based per shard).

    Engine: the reset depends on every prior reset — a non-monoid
    recurrence with no window algebra — so the per-shard scan rides a
    complete-group Arrow fold (one keyed exchange, the Kalman /
    Holt-Winters recurrence pattern) and the oracle replays it as a
    DuckDB ``WITH RECURSIVE`` CTE stepping document-by-document.
    UNSHARDED next-fit is inherently one sequential task (nothing to
    prefix-combine), so the unsharded form refuses inputs past the
    single-task budget — pass ``shard_col``; token counts follow
    :func:`_tok_long` (NULL->0, truncate, negatives fail loudly)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if budget <= 0:
        raise ValueError("budget must be positive")
    if shard_col is None:
        est = _route.estimated_bytes(df)
        if _route.STATS_UNKNOWN > est > _PACK_UNSHARDED_MAX_BYTES:
            raise ValueError(
                f"pack_bins without shard_col is ONE sequential task "
                f"(next-fit has no mergeable prefix state, unlike "
                f"pack_documents/pack_sequences) and this input's "
                f"Catalyst estimate ({est} bytes) exceeds "
                f"{_PACK_UNSHARDED_MAX_BYTES}; pass shard_col (e.g. "
                f"pmod(h28({on!r}), n_shards)) to pack per shard")
        if est >= _route.STATS_UNKNOWN:
            import warnings
            warnings.warn(
                "pack_bins without shard_col runs next-fit through ONE "
                "sequential task and this input's size is unknown to "
                "Catalyst; pass shard_col for any corpus that doesn't "
                "fit one executor", stacklevel=2)
    reserved = [c for c in df.columns if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"pack_bins reserves '__'-prefixed columns for its scratch "
            f"state (which would silently overwrite {reserved}); "
            f"rename them")
    base = df.withColumn("__n", _tok_long(tokens_col))
    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField("bin_id", T.LongType())])
    bud = int(budget)
    in_cols = list(df.columns)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(on, kind="stable")
        bins, _, _, _ = _next_fit(np, pdf["__n"].to_numpy(np.int64), bud)
        pdf = pdf[in_cols].copy()
        pdf["bin_id"] = bins
        return pdf

    if shard_col:
        return base.groupBy(shard_col).applyInPandas(fold, schema)
    # one global group (bare integer literals parse as group ordinals)
    return (base.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandas(fold, schema))


def _next_fit(np, n, budget: int, b: int = 0, fill: int = 0,
              used: int = 0):
    """The next-fit recurrence, shared VERBATIM by :func:`pack_bins`
    and the streaming twin's seeded fold — one body makes the
    batch==stream bitwise-parity claim true by construction. Returns
    (bins array, open bin id, its fill, its document count).

    "Current bin is non-empty" means HAS DOCUMENTS (``used``), not
    fill > 0: with zero-token documents in the bin the fill test
    judged it empty, and an OVERSIZED document then shared their bin —
    violating the a-bin-of-its-own contract (r10, found by the
    hypothesis invariant suite)."""
    bins = np.empty(len(n), np.int64)
    for i, ni in enumerate(n):
        if used > 0 and fill + ni > budget:
            b += 1
            fill = 0
            used = 0
        bins[i] = b
        fill += int(ni)
        used += 1
    return bins, int(b), int(fill), int(used)


def balance_shards(df: DataFrame, n_shards: int, tokens_col: str,
                   on: str = "doc_id",
                   sub_buckets: int = 1) -> DataFrame:
    """Assign documents to ``n_shards`` with NEAR-EQUAL token totals —
    the load-balancing step before sharded packing/tokenization, where
    hash-sharding can leave one worker with all the long documents.

    No global rank (a keyless row_number would funnel one task):
    documents bucket by size magnitude (floor(log2(tokens)), a
    map-only expression), rank WITHIN each bucket (keyed windows),
    and round-robin across shards with a per-bucket rotation so no
    shard always receives a bucket's largest member. Docs in one
    bucket are within 2x of each other and round-robin splits each
    bucket's count within 1 doc per shard, so shard totals differ by
    at most ~one max-size document per magnitude class (the property
    test pins max-min <= 4x the largest document for
    ``sub_buckets=1``).

    SCALE: there are only ~log2(max_tokens) ≈ 30 magnitude classes, so
    the default ranks each class in ONE task — fine up to a few
    hundred million docs per class, a funnel beyond. ``sub_buckets=K``
    splits every class into K deterministic id-hash sub-buckets ranked
    independently (parallelism ≈ classes x K); each sub-bucket
    round-robins with its own rotation, so the absolute spread bound
    loosens to K·4·max_doc — negligible RELATIVE to per-shard totals
    at exactly the corpus sizes that need K > 1. Deterministic — a
    pure function of (tokens, id) either way. Adds ``shard`` (int).
    Token counts follow :func:`_tok_long`."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if sub_buckets <= 0:
        raise ValueError("sub_buckets must be positive")
    bad = [c for c in df.columns
           if c.startswith("__") or c == "shard"]
    if bad:
        raise ValueError(
            f"balance_shards reserves '__'-prefixed scratch columns and "
            f"the 'shard' output name (would silently overwrite {bad}); "
            f"rename them")
    tok = _tok_long(tokens_col)
    # floor(log2(n)) via integer bit-length (length of the minimal
    # binary string), NOT double log2: ln(x)/ln(2) vs a native log2
    # can floor-diverge at exact powers of two across engines, and the
    # row-level "pure function of (tokens, id)" claim must be exact by
    # construction, not ulp-lucky. bin() is exact in Spark and DuckDB.
    bucket = F.when(tok <= 0, F.lit(0)).otherwise(
        (F.length(F.bin(tok)) - 1).cast("int"))
    sub = F.pmod(h28(F.concat(F.lit("balshard"),
                              F.col(on).cast("string"))),
                 F.lit(sub_buckets)).cast("int") \
        if sub_buckets > 1 else F.lit(0)
    base = df.withColumn("__bkt", bucket).withColumn("__sub", sub)
    w = Window.partitionBy("__bkt", "__sub").orderBy(
        _tok_long(tokens_col).desc(), F.col(on))
    rank = F.row_number().over(w)
    shard = F.pmod(rank - 1 + F.col("__bkt") + F.col("__sub"),
                   F.lit(n_shards)).cast("int")
    return base.withColumn("shard", shard).drop("__bkt", "__sub")
