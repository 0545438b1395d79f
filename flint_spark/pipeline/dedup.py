"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB posture):
- exact dedup = one hash aggregation on md5(text) — partial+final, no
  text shuffled (only the 32-byte digest);
- MinHash: shingle explosion is map-side; signatures reduce to one row
  of 64 longs per doc (hash agg); LSH banding turns the quadratic pair
  problem into equi-joins on (band, signature) — only bucket collisions
  are ever paired;
- stop-shingle removal (``max_df``) caps join fan-out on ubiquitous
  shingles — the classic skew killer for shingle self-joins;
- SimHash reduces each doc to one 32-bit int; candidate pairs come
  from 8-bit band equi-joins, verified by ``bit_count(xor)``.

All hashing is md5-based (``pipeline.hashing``) so results are
bit-identical to the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import hold, persist
from .hashing import P, h28, h32, minhash_params, qid


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _shingle_arr(k: int) -> Column:
    """k-word shingle array over the projected word column ``__w`` —
    THE shingle definition: every consumer (shingles, MinHash,
    winnowing, repeated-span totals) must build shingles identically or
    the cross-engine oracles silently diverge, so the expression lives
    in exactly one place."""
    return F.expr(
        f"transform(sequence(1, size(__w) - {k - 1}), "
        f"i -> concat_ws(' ', slice(__w, i, {k})))")


def _spread(docs: DataFrame) -> DataFrame:
    """Input-split parallelism guard for map-side explosions.

    The shingle/token explosion parallelism equals the scan's input
    splits; a corpus read from a handful of files (one, in the local
    fixtures) would funnel the whole expansion through one task. When
    the scan has fewer partitions than cores, spread the small input
    first (the shuffle moves only the pre-explosion text, which is tiny
    by definition here); 100 TB inputs have thousands of splits and pass
    through untouched."""
    if docs.isStreaming:  # micro-batch parallelism is the source's job
        return docs
    sc = docs.sparkSession.sparkContext
    p = sc.defaultParallelism
    if docs.rdd.getNumPartitions() < p:
        return docs.repartition(p)
    return docs


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 3, distinct: bool = True) -> DataFrame:
    """Word k-shingles per document: (id, shingle), distinct by default.

    The word array is materialized ONCE per row as a projected column
    before the ``transform`` lambda: embedding ``split`` inside the
    lambda body would re-split the text per output shingle (O(words²)
    work per document — measured 3-5x on the whole MinHash pipeline).

    Per-doc dedup happens MAP-SIDE via ``array_distinct`` on the shingle
    array before the explode: since ``id`` is part of every output row,
    (id, shingle) pairs are globally distinct by construction and the
    former post-explode ``.distinct()`` wide exchange is gone — the
    whole operator is exchange-free. ``distinct=False`` keeps duplicate
    in-document shingles (for consumers that weight by occurrence)."""
    base = _spread(docs).select(F.col(id_col),
                                _words(text_col).alias("__w"))
    sh = _shingle_arr(k)
    if distinct:
        sh = F.array_distinct(sh)
    # docs shorter than k words produce no shingles (sequence(1, n<1)
    # would count backwards in Spark, so filter first)
    return (base.filter(F.size(F.col("__w")) >= k)
            .select(F.col(id_col), F.explode(sh).alias("shingle")))


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text_md5, n_dups, canonical_id).

    Only the digest shuffles; canonical representative = min id."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def _cap_buckets(banded: DataFrame, bucket_cols: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Skew guard for banded self-joins: drop buckets with more than
    ``max_bucket`` members before pairing. A hot bucket (a ubiquitous
    byte-chunk / band signature) makes the self-join quadratic in that
    bucket; like ``ngram_jaccard_pairs``'s ``max_df`` stop-shingle cap,
    members of such buckets are overwhelmingly boilerplate and their
    true near-dups still collide in their other, rarer buckets.
    ``None`` disables the guard (the oracle-gated defaults)."""
    if max_bucket is None:
        return banded
    ok = (banded.groupBy(*bucket_cols).agg(F.count("*").alias("__n"))
          .filter(F.col("__n") <= max_bucket).drop("__n"))
    return banded.join(ok, bucket_cols)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 64, seed: int = 7,
                       max_df: int | None = None) -> DataFrame:
    """One row per doc: ``mh_0..mh_{n-1}`` MinHash values.

    min over shingles of (a_j * h28(shingle) + b_j) mod P — a single
    hash aggregation with ``num_hashes`` min() columns.

    ``max_df`` drops shingles present in more than that many documents
    BEFORE hashing (stop-shingle removal on the signature path):
    boilerplate shingles otherwise dominate the min statistics, pulling
    unrelated documents' signatures together and flooding LSH bands.
    ``None`` (the oracle-gated default) keeps all shingles.

    Scale shape: the default path is a PURE PROJECTION — the per-doc
    shingle array is hashed and min-reduced map-side (``array_min``
    over ``transform``), so NO row ever leaves its partition to build a
    signature. The former shape exploded the shingle stream and hash-
    aggregated it back per doc — a corpus-sized exchange that at 100 TB
    was the whole job. MinHash is min over a set, so the map-side
    reduction is bitwise-identical to the aggregation. Only ``max_df``
    needs corpus-wide document frequencies and keeps the explode+agg
    plan."""
    params = minhash_params(num_hashes, seed)
    if max_df is not None:
        # stop-shingle filtering needs corpus-wide document frequencies.
        # Anti-join against the ABOVE-threshold set (boilerplate-bounded,
        # broadcastable) — not an equi-join against the rare set, which
        # is corpus-sized and would shuffle the whole shingle stream.
        sh = shingles(docs, text_col, id_col, k)
        stop = (sh.groupBy("shingle").agg(F.count("*").alias("__df"))
                .filter(F.col("__df") > max_df).select("shingle"))
        # hash chains rendered as ONE parsed expression per signature
        # column instead of ~5 py4j Column calls each (r11 construction
        # fix; integer arithmetic — values are exactly the
        # per-element form's)
        sh = (sh.join(F.broadcast(stop), "shingle", "left_anti")
              .withColumn("h", h28(F.col("shingle"))))
        aggs = [F.expr(f"min(({a} * h + {b}) % {P})").alias(f"mh_{j}")
                for j, (a, b) in enumerate(params)]
        return sh.groupBy(id_col).agg(*aggs)
    base = _spread(docs).select(F.col(id_col), _words(text_col).alias("__w"))
    sh_arr = F.array_distinct(_shingle_arr(k))
    harr = F.transform(sh_arr, h28)
    base = base.filter(F.size(F.col("__w")) >= k).withColumn("__h", harr)
    cols = [
        F.expr(f"array_min(transform(__h, x -> ({a} * x + {b}) % {P}))")
        .alias(f"mh_{j}")
        for j, (a, b) in enumerate(params)
    ]
    return base.select(F.col(id_col), *cols)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3, num_hashes: int = 64,
                      bands: int = 16, seed: int = 7,
                      threshold: float = 0.5,
                      max_bucket: int | None = None,
                      max_df: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding, scored by the
    MinHash Jaccard estimate: (id_a, id_b, est_jaccard).

    bands × rows = num_hashes; a pair becomes a candidate iff it agrees
    on ALL rows of at least one band; est_jaccard = fraction of the
    num_hashes agreeing."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    # the signature table feeds the band join AND both sides of the
    # estimate join — persist it or Spark recomputes the whole
    # shingle->hash->32-min aggregation subtree four times.
    sig = persist(minhash_signatures(docs, text_col, id_col, k, num_hashes,
                                     seed, max_df))
    mh_cols = [f"mh_{j}" for j in range(num_hashes)]
    # band structs / scoring rendered as parsed expressions (r11
    # construction fix): the per-element Column form cost ~400 py4j
    # round-trips per build; values are identical (integer/string ops)
    band_structs = ",".join(
        "struct({b} AS band, concat_ws(',', {cs}) AS bsig)".format(
            b=b, cs=", ".join(f"cast(mh_{b * rows + r} AS string)"
                              for r in range(rows)))
        for b in range(bands))
    banded = sig.select(F.col(id_col),
                        F.expr(f"explode(array({band_structs}))").alias("bb")) \
                .select(id_col, "bb.band", "bb.bsig")
    banded = _cap_buckets(banded, ["band", "bsig"], max_bucket)
    a, b_ = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bsig") == F.col("b.bsig"))
               & (F.col(f"a.{qid(id_col)}") < F.col(f"b.{qid(id_col)}")))
        .select(F.col(f"a.{qid(id_col)}").alias("id_a"),
                F.col(f"b.{qid(id_col)}").alias("id_b"))
        .distinct()
    )
    sig_a = sig.selectExpr(f"{qid(id_col)} AS id_a",
                           *[f"{c} AS a_{c}" for c in mh_cols])
    sig_b = sig.selectExpr(f"{qid(id_col)} AS id_b",
                           *[f"{c} AS b_{c}" for c in mh_cols])
    # same left-assoc (0 + t0 + t1 + ...) integer chain the Column
    # form's Python sum() built
    matches = F.expr("(0 + " + " + ".join(
        f"CASE WHEN a_{c} = b_{c} THEN 1 ELSE 0 END" for c in mh_cols)
        + ")")
    return hold(
        pairs.join(sig_a, "id_a").join(sig_b, "id_b")
        .select("id_a", "id_b",
                (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold),
        sig)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            nbits: int = 32) -> DataFrame:
    """32-bit SimHash over word hashes: (id, simhash).

    MAP-ONLY: the token-hash array is projected once (one md5 per
    token), then ``nbits`` scalar ``aggregate`` folds accumulate the
    per-bit ±1 sums — no explode, no exchange, the signature is a
    projection of the document row. (The former shape exploded every
    token and hash-aggregated 32 sums per doc — a token-stream-sized
    shuffle. Integer sums are order-independent, so this is
    bitwise-identical.) Scalar folds, not one array-accumulator fold:
    a ``zip_with`` accumulator allocates two ``nbits`` arrays per
    token, which measured 2x SLOWER than the old shuffle at sf0.1;
    the scalar form is allocation-free per token."""
    harr = F.transform(_words(text_col), h32)
    sums = [
        F.expr(f"aggregate(__h, 0L, (acc, h) -> "
               f"acc + IF((shiftright(h, {i}) & 1) = 1, 1L, -1L))")
        .alias(f"s_{i}")
        for i in range(nbits)
    ]
    # null-text docs have NO signature (the old explode path dropped
    # them): unfiltered they'd all fold to simhash 0 and pair with each
    # other quadratically in simhash_pairs
    row = (_spread(docs).filter(F.col(text_col).isNotNull())
           .select(F.col(id_col), harr.alias("__h"))
           .select(F.col(id_col), *sums))
    # one parsed chain — same left-assoc (0 + t0 + ...) integer sum the
    # Column form's Python sum() built (r11 construction fix)
    sim = F.expr("(0 + " + " + ".join(
        f"CASE WHEN s_{i} > 0 THEN {2 ** i} ELSE 0 END"
        for i in range(nbits)) + ")")
    return row.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, nbits: int = 32,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs whose SimHashes differ by <= max_hamming bits.

    Candidates via 8-bit band equi-join (a pair within hamming<=3 of a
    32-bit hash must agree on at least one of the four bytes)."""
    # both sides of the band self-join read the simhash aggregation
    sh = persist(simhash(docs, text_col, id_col, nbits))
    nbands = nbits // 8
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("band"),
                     F.shiftright(F.col("simhash"), c * 8).bitwiseAND(F.lit(255))
                     .alias("chunk"))
            for c in range(nbands)
        ])).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    banded = _cap_buckets(banded, ["band", "chunk"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return hold(
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{qid(id_col)}") < F.col(f"b.{qid(id_col)}")))
        .select(F.col(f"a.{qid(id_col)}").alias("id_a"),
                F.col(f"b.{qid(id_col)}").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        # hamming is a pure function of the pair, so filtering BEFORE the
        # distinct is identical — and shrinks the dedup exchange to the
        # qualifying pairs instead of every band-collision candidate.
        .filter(F.col("hamming") <= max_hamming)
        .distinct(),
        sh)


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.6, max_df: int = 100) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing a shingle:
    (id_a, id_b, jaccard). Shingles occurring in > max_df docs are
    dropped first (stop-shingle skew control)."""
    # the raw shingle table feeds the df-filter AND the join; the
    # FILTERED table then feeds both join sides and the size table —
    # persist both stages or the explode+distinct (and the rare-join)
    # recompute once per consumer (plan audit showed the join subtree
    # repeated 3x when only the raw table was cached).
    sh0 = persist(shingles(docs, text_col, id_col, k))
    # drop stop shingles by broadcast ANTI-join against the small
    # above-threshold set; an equi-join against the rare (= almost all)
    # shingles would shuffle the whole corpus stream instead
    stop = (sh0.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df).select("shingle"))
    sh = persist(sh0.join(F.broadcast(stop), "shingle", "left_anti"))
    # sizes feeds BOTH scoring joins — unpersisted, the per-doc
    # aggregation over the cached shingle table executes once per
    # broadcast build (r12, guide §2.4; interleaved A/B ~16% on the
    # containment twin)
    sizes = persist(sh.groupBy(id_col).agg(F.count("*").alias("nsh")))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    )
    return hold(
        inter
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("nsh").alias("nsh_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("nsh").alias("nsh_b")), "id_b")
        .select("id_a", "id_b",
                (F.col("inter").cast("double")
                 / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        sh0, sh, sizes)


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): hash every word k-shingle, slide a ``window`` over
    consecutive shingle hashes and keep each window's minimum — a
    guaranteed-hit, position-robust subset ~2/(window+1) the size of
    the full shingle set. Two docs sharing any fingerprint share a
    k-shingle run, so the equi-join candidate space is much smaller
    than full shingle joins.

    Plan: posexplode (map-side) -> one per-doc window min (keyed
    window, rows frame) -> distinct. Output: (id, fp)."""
    sh = _shingle_arr(k)
    from pyspark.sql import Window as SqlWindow
    base = _spread(docs).select(F.col(id_col), _words(text_col).alias("__w"))
    exploded = (base.filter(F.size(F.col("__w")) >= k)
                .select(F.col(id_col), F.posexplode(sh).alias("pos", "shingle"))
                .withColumn("h", h28(F.col("shingle"))))
    win = (SqlWindow.partitionBy(id_col).orderBy("pos")
           .rowsBetween(0, window - 1))
    return (exploded
            .withColumn("fp", F.min("h").over(win))
            .select(id_col, "fp").distinct())


def winnow_pairs(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3, window: int = 4,
                 min_shared: int = 2) -> DataFrame:
    """Candidate near-dup pairs sharing >= ``min_shared`` winnowing
    fingerprints: (id_a, id_b, shared). Equi-join on the winnowed set
    (~2/(window+1) of all shingles), the standard plagiarism/near-dup
    candidate generator."""
    fps = persist(winnow_fingerprints(docs, text_col, id_col, k, window))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return hold(a.join(b, "fp")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b").agg(F.count("*").alias("shared"))
                .filter(F.col("shared") >= min_shared), fps)


def repeated_ngrams(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 5,
                    min_df: int = 2) -> DataFrame:
    """Word n-grams appearing in at least ``min_df`` DISTINCT documents:
    (shingle, df). The corpus-level repeated-span dictionary of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): spans shared across documents are memorization bait and
    near-dup evidence even when whole-document similarity is low.

    One corpus-scale exchange: the df aggregation over the map-side
    per-doc-distinct shingle stream (``shingles`` dedups with
    ``array_distinct`` before the explode, so df counts distinct
    documents without any dedup shuffle)."""
    sh = shingles(docs, text_col, id_col, k=n, distinct=True)
    return (sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") >= min_df))


def flag_repeated_spans(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 5,
                        min_df: int = 2) -> DataFrame:
    """Per-document coverage of corpus-repeated n-grams:
    (id, n_ngrams, n_repeated, repeated_frac). High ``repeated_frac``
    documents are built from spans that recur across the corpus
    (templates, mirrors, licence blocks) — the doc-level filter derived
    from the Lee et al. repeated-span signal.

    Plan: repeated-span dictionary (1 corpus exchange, see
    :func:`repeated_ngrams`) -> broadcast join of the shingle stream
    against it -> per-doc count of survivors (2nd exchange, shrunk by
    the selective join) -> broadcast reattachment onto map-side per-doc
    totals. The broadcast assumes the above-threshold dictionary is
    small relative to the corpus (boilerplate-bounded, the same posture
    as ``remove_repeated_lines``); raise ``min_df`` if it is not.

    The shingle stream feeds BOTH the dictionary aggregation and the
    hits probe, so it is persisted once (``persist``) — without it the
    corpus scan + explode re-runs per consumer."""
    sh = persist(shingles(docs, text_col, id_col, k=n, distinct=True))
    rep = F.broadcast(sh.groupBy("shingle").agg(F.count("*").alias("df"))
                      .filter(F.col("df") >= min_df).select("shingle"))
    hits = (sh.join(rep, "shingle")
            .groupBy(id_col).agg(F.count("*").alias("n_repeated")))
    grams = _shingle_arr(n)
    totals = (_spread(docs)
              .select(F.col(id_col), _words(text_col).alias("__w"))
              .select(
                  F.col(id_col),
                  F.when(F.size(F.col("__w")) >= n,
                         F.size(F.array_distinct(grams)))
                  .otherwise(F.lit(0)).alias("n_ngrams")))
    return hold(totals.join(F.broadcast(hits), id_col, "left")
                .select(
                    F.col(id_col), "n_ngrams",
                    F.coalesce(F.col("n_repeated"), F.lit(0)).alias("n_repeated"),
                    F.when(F.col("n_ngrams") > 0,
                           F.coalesce(F.col("n_repeated"), F.lit(0)).cast("double")
                           / F.col("n_ngrams").cast("double"))
                    .otherwise(F.lit(0.0)).alias("repeated_frac")), sh)


def remove_repeated_spans(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 5,
                          min_df: int = 2) -> DataFrame:
    """Excise corpus-repeated spans from every document — the REWRITE
    stage completing the Lee et al. 2022 pipeline whose dictionary is
    :func:`repeated_ngrams` and whose doc-level signal is
    :func:`flag_repeated_spans`: every WORD position covered by any
    word n-gram that occurs in >= ``min_df`` distinct documents is
    removed, and each document is rebuilt from its surviving words in
    original order. Output: (id, text, n_words_kept, n_words_removed).

    This is a word-level operator: the rebuilt text is the surviving
    words joined by single spaces (original line/space layout is not
    preserved — use :func:`~flint_spark.pipeline.text
    .remove_repeated_lines` for layout-preserving boilerplate
    removal). NULL text is the empty document. The word definition is
    the engine-wide shingle tokenization (plain single-space split,
    ``_words``/``_shingle_arr``) so the rewrite's positioned grams and
    the flag stage's dictionary see IDENTICAL spans by construction.

    Plan: the dictionary is the same aggregation as
    :func:`repeated_ngrams` (one exchange of the per-doc-distinct
    shingle stream), broadcast into a positioned-gram probe (map-side);
    hit grams expand map-side into covered word positions; the word
    stream anti-joins the covered set on (id, position) and the doc
    rebuilds via sorted struct collect. Both join inputs are
    repartitioned by id ALONE — hash partitioning on a key subset
    satisfies the (id, position) join's clustered distribution, and the
    per-doc rebuild then reuses that partitioning — so the whole
    rewrite costs TWO corpus exchanges (words, covered positions), the
    same budget as ``remove_repeated_lines``. The broadcast assumes the
    above-threshold dictionary is boilerplate-bounded; raise ``min_df``
    if it is not."""
    src = _spread(docs).withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit("")))
    base = persist(src.select(F.col(id_col), _words(text_col).alias("__w")))
    grams = base.filter(F.size("__w") >= n).select(
        F.col(id_col),
        F.posexplode(_shingle_arr(n)).alias("__j", "shingle"))
    rep = F.broadcast(repeated_ngrams(src, text_col, id_col, n=n,
                                      min_df=min_df).select("shingle"))
    covered = (grams.join(rep, "shingle")
               .select(F.col(id_col),
                       F.explode(F.sequence(
                           F.col("__j"), F.col("__j") + F.lit(n - 1)))
                       .alias("__i")))
    words = base.select(F.col(id_col),
                        F.posexplode("__w").alias("__i", "__word"))
    kept = (words.repartition(F.col(id_col))
            .join(covered.repartition(F.col(id_col)),
                  [id_col, "__i"], "left_anti"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("__i", "__word")))
                    .alias("__sw"),
                    F.count("*").alias("n_words_kept")))
    totals = base.select(F.col(id_col), F.size("__w").alias("__n_total"))
    return hold(totals.join(rebuilt, id_col, "left")
                .select(
                    F.col(id_col),
                    F.concat_ws(" ", F.transform(
                        F.coalesce(F.col("__sw"), F.array().cast(
                            "array<struct<__i:int,__word:string>>")),
                        lambda s: s["__word"])).alias(text_col),
                    F.coalesce(F.col("n_words_kept"), F.lit(0))
                    .alias("n_words_kept"),
                    (F.col("__n_total")
                     - F.coalesce(F.col("n_words_kept"), F.lit(0)))
                    .alias("n_words_removed")), base)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 30) -> DataFrame:
    """Resolve near-duplicate PAIRS into dedup CLUSTERS: (id, cluster)
    where cluster = the minimum id reachable through the pair graph —
    the canonical representative every member maps to.

    Distributed min-label propagation with POINTER JUMPING: each
    iteration takes the min over neighbor labels, then replaces every
    label by its label's label, halving chain depth — convergence in
    O(log diameter) iterations instead of O(diameter). Every iteration
    ``localCheckpoint``s the label table: without lineage truncation the
    self-referential plan doubles per iteration and Catalyst analysis
    goes exponential (measured 1.3s -> 149s by iteration 5 on a 308-node
    graph; with truncation the same graph converges in 6 sub-second
    iterations)."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("cluster", F.col("id")).localCheckpoint())
    for _ in range(max_iters):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .groupBy("src").agg(F.min("cluster").alias("ncluster")))
        upd = (labels.join(neigh, labels.id == neigh.src, "left")
               .select(labels.id,
                       F.least(F.col("cluster"),
                               F.coalesce(F.col("ncluster"),
                                          F.col("cluster")))
                       .alias("cluster")))
        # pointer jumping: cluster <- label(cluster)
        ptr = upd.select(F.col("id").alias("pid"),
                         F.col("cluster").alias("pcluster"))
        upd = (upd.join(ptr, upd.cluster == ptr.pid, "left")
               .select("id", F.coalesce("pcluster", "cluster")
                       .alias("cluster")))
        new_labels = upd.localCheckpoint()
        changed = (new_labels.alias("n").join(labels.alias("o"), "id")
                   .filter(F.col("n.cluster") != F.col("o.cluster"))
                   .count())
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in "
                       f"{max_iters} iterations")


def dedup_keep_canonical(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id", id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Filter the corpus to one representative per near-dup cluster:
    keep every document that is its own cluster minimum (including all
    documents in no pair at all). The end of the dedup pipeline:
    pairs (MinHash/SimHash/Jaccard) -> clusters -> filtered corpus."""
    clusters = connected_components(pairs, id_a, id_b)
    losers = (clusters.filter(F.col("cluster") != F.col("id"))
              .select(F.col("id").alias(id_col)))
    # no broadcast hint: the loser set scales with the duplicate rate
    # (often 10-50% of a crawl) — let AQE pick broadcast vs shuffle
    return docs.join(losers, id_col, "left_anti")


def dedup_corpus(docs: DataFrame, method: str = "minhash",
                 text_col: str = "text", id_col: str = "doc_id",
                 **kwargs) -> DataFrame:
    """One-call near-duplicate removal: candidate pairs by ``method``
    ('minhash' | 'simhash' | 'jaccard' | 'winnow' | 'exact'), pairs ->
    clusters (:func:`connected_components`), keep each cluster's
    min-id representative (:func:`dedup_keep_canonical`). ``kwargs``
    pass through to the pair finder (thresholds, band counts, skew
    caps). 'exact' skips the pair graph entirely — one hash-groupBy on
    the content digest decides the keeper."""
    if method == "exact":
        if kwargs:
            raise TypeError(f"dedup_corpus(method='exact') takes no "
                            f"tuning kwargs, got {sorted(kwargs)}")
        # NULL text (e.g. failed fetches) is MISSING, not equal: md5(NULL)
        # is NULL and groupBy would collapse every such doc into one
        # bogus duplicate cluster — keep them all
        with_text = docs.filter(F.col(text_col).isNotNull())
        keep_ids = (with_text.groupBy(F.md5(F.col(text_col)).alias("__d"))
                    .agg(F.min(id_col).alias(id_col)).drop("__d"))
        return (with_text.join(keep_ids, id_col, "left_semi")
                .unionByName(docs.filter(F.col(text_col).isNull())))
    finders = {"minhash": minhash_lsh_pairs, "simhash": simhash_pairs,
               "jaccard": ngram_jaccard_pairs, "winnow": winnow_pairs}
    if method not in finders:
        raise ValueError(f"unknown dedup method {method!r}; "
                         f"one of {sorted(finders)} or 'exact'")
    pairs = finders[method](docs, text_col, id_col, **kwargs)
    return dedup_keep_canonical(docs, pairs, id_col)


def ngram_containment_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            threshold: float = 0.8,
                            max_df: int = 100) -> DataFrame:
    """Asymmetric n-gram containment: for pairs sharing a rare shingle,
    ``containment_a = |A∩B| / |A|`` (the fraction of a's shingles that
    also occur in b) and symmetrically ``containment_b``; pairs kept
    when EITHER side reaches ``threshold``. Jaccard misses
    subset-shaped duplication — a short doc quoted wholesale inside a
    long one has tiny Jaccard but containment ~1 — which is exactly
    the quote/sub-document contamination shape; this is the
    pair-exact complement to ``decontam``'s one-sided screen.

    Plan shape is ``ngram_jaccard_pairs`` verbatim (distinct-shingle
    equi-join with the broadcast stop-shingle anti-join and the
    persisted two-stage cache policy); only the final scoring
    projection differs, so the 100 TB posture is identical — never
    all-pairs, skew-capped by ``max_df``."""
    sh0 = persist(shingles(docs, text_col, id_col, k))
    stop = (sh0.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df).select("shingle"))
    sh = persist(sh0.join(F.broadcast(stop), "shingle", "left_anti"))
    # sizes feeds BOTH scoring joins — persisted so the per-doc
    # aggregation over the cached shingle table runs once (r12,
    # guide §2.4; interleaved A/B 2.28 -> 1.92 s at sf0.1)
    sizes = persist(sh.groupBy(id_col).agg(F.count("*").alias("nsh")))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    )
    ca = F.col("inter").cast("double") / F.col("nsh_a")
    cb = F.col("inter").cast("double") / F.col("nsh_b")
    return hold(
        inter
        .join(sizes.select(F.col(id_col).alias("id_a"),
                           F.col("nsh").alias("nsh_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("nsh").alias("nsh_b")), "id_b")
        .select("id_a", "id_b", ca.alias("containment_a"),
                cb.alias("containment_b"))
        .filter((F.col("containment_a") >= threshold)
                | (F.col("containment_b") >= threshold)),
        sh0, sh, sizes)
