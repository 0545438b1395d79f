"""Text analysis: token counting, quality scoring, language-ID,
document fingerprinting, sessionization-grade expressions.

Everything compiles to built-in column expressions (codegen'd, no
Python), with md5-based hashing where hashing is needed so DuckDB
oracles match exactly.

``text_stats`` materializes the word array ONCE as a projected column
and derives every feature from it — repeated inline ``split`` calls
are invisible to codegen subexpression elimination when they sit
inside lambda functions, so the naive form re-split the text per
feature (measured ~40% of the whole query).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import hold, persist
from .hashing import P, h28

#: tiny per-language stopword sets for the heuristic language scorer.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no"],
}

FINGERPRINT_BASE = 131


def _words(text_col: str) -> Column:
    # the shared tokenizer is also the text family's ANSI chokepoint:
    # quality/ratio expressions assume null division and legacy
    # sizeOfNull (see session.require_ansi_off)
    from ..session import require_ansi_off

    require_ansi_off("text operators (_words)")
    return F.split(F.col(text_col), " ")


# ---------------------------------------------------------------------
# expression builders over an already-materialized word array `w`
# ---------------------------------------------------------------------

def _bpe_count(w: Column) -> Column:
    return F.aggregate(
        w, F.lit(0),
        lambda acc, x: acc + F.lit(1) + F.floor(F.length(x) / F.lit(4)).cast("int"),
    )


def _stopword_ratio(w: Column, lang: str) -> Column:
    sw = LANG_STOPWORDS[lang]
    hits = F.size(F.filter(w, lambda x: x.isin(sw)))
    return hits.cast("double") / F.size(w)


def _avg_word_length(text_len: Column, w: Column) -> Column:
    n = F.size(w)
    return (text_len - (n - 1)).cast("double") / n


def _quality(text_len: Column, w: Column) -> Column:
    n = F.size(w)
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n
    len_sat = F.least(n.cast("double") / F.lit(64.0), F.lit(1.0))
    awl = _avg_word_length(text_len, w)
    wl_ok = F.lit(1.0) - F.least(F.abs(awl - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
    return (F.lit(0.4) * len_sat + F.lit(0.4) * distinct_ratio
            + F.lit(0.2) * wl_ok)


def _language_id(w: Column) -> Column:
    entries = [
        F.struct(_stopword_ratio(w, lang).alias("s"),
                 F.lit(-i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(LANG_STOPWORDS)
    ]
    return F.array_max(F.array(*entries))["lang"]


#: characteristic character trigrams per language for the n-gram
#: language identifier (hand-curated, high-frequency and distinctive;
#: includes space-padded forms so word boundaries count)
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "ing", "and", " of", "ion", " to", "ent"],
    "de": ["der", "ein", "sch", "ich", "nde", "die", "und", "cht"],
    "fr": ["les", "ent", " de", "des", "que", "ait", "une", " la"],
    "es": [" de", "los", "ado", " la", "que", "ción", "nte", " el"],
}


def char_ngram_language_scores(text_col: str = "text") -> list[Column]:
    """Per-language character-trigram hit DENSITY: total occurrences of
    the language's profile trigrams divided by text length. Occurrence
    counting is the replace-and-measure identity
    (len(t) - len(replace(t, g, ''))) / len(g) — pure codegen, no
    split, identical in DuckDB."""
    t = F.col(text_col)
    cols = []
    for lang, grams in LANG_TRIGRAMS.items():
        total = None
        for g in grams:
            cnt = (F.length(t) - F.length(F.replace(t, F.lit(g)))) \
                / F.lit(float(len(g)))
            total = cnt if total is None else total + cnt
        cols.append((total / F.length(t).cast("double"))
                    .alias(f"tri_{lang}"))
    return cols


def char_ngram_language_id(text_col: str = "text") -> Column:
    """argmax language by trigram density; ties break toward the
    earlier profile (same fold rule as the stopword identifier)."""
    scores = char_ngram_language_scores(text_col)
    entries = [
        F.struct(scores[i].alias("s"), F.lit(-i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(LANG_TRIGRAMS)
    ]
    return F.array_max(F.array(*entries))["lang"]


def _fingerprint(w: Column) -> Column:
    return F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(FINGERPRINT_BASE) + h28(x)) % F.lit(P),
    )


# ---------------------------------------------------------------------
# public per-column API (reference-style expression factories)
# ---------------------------------------------------------------------

def token_count(text_col: str = "text") -> Column:
    return F.size(_words(text_col))


def stopword_ratio(text_col: str = "text", lang: str = "en") -> Column:
    return _stopword_ratio(_words(text_col), lang)


def quality_score(text_col: str = "text") -> Column:
    """Heuristic [0,1] document quality: length saturation + lexical
    diversity + reasonable word length (deterministic expression)."""
    return _quality(F.length(F.col(text_col)), _words(text_col))


def language_id(text_col: str = "text") -> Column:
    """argmax language by stopword hit ratio; deterministic tie-break on
    language-key order (earlier key wins ties).

    Implemented as array_max over (score, -index, lang) structs — each
    score expression appears exactly once. A when()-chain fold doubles
    the expression tree per language (2^n score evaluations: measured
    ~10x slowdown on text_stats before this form)."""
    return _language_id(_words(text_col))


def fingerprint(text_col: str = "text") -> Column:
    """Order-sensitive polynomial rolling hash over word hashes
    (mod P, base 131): two docs share a fingerprint iff same word
    sequence. All arithmetic stays below 2^60."""
    return _fingerprint(_words(text_col))


def repetition_ratio(text_col: str = "text", k: int = 3) -> Column:
    """Fraction of word k-grams that repeat an earlier k-gram within
    the SAME document — the Gopher-style intra-document repetition
    signal (high values mean boilerplate/listing spam). Pure codegen
    expressions: build the k-gram array, compare total vs distinct."""
    w = f"split({text_col}, ' ')"
    grams = F.expr(
        f"CASE WHEN size({w}) >= {k} THEN "
        f"transform(sequence(1, size({w}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({w}, i, {k}))) "
        f"ELSE array() END")
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0,
                  (total - distinct).cast("double") / total.cast("double")) \
            .otherwise(F.lit(0.0))


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    vocab_size: int | None = 100_000) -> DataFrame:
    """CCNet-style language-model quality proxy: per-document mean
    negative log probability of its tokens under the corpus unigram
    distribution — high values flag gibberish/rare-token spam, low
    values flag repetitive boilerplate. Output: (id, nll, n_tokens).

    The modeled vocabulary is capped to the ``vocab_size`` most
    frequent tokens (ties broken on the token, so the cut is
    deterministic); every out-of-vocabulary token scores the constant
    tail mass ``max(total - topk_mass, 1) / total`` — the aggregate
    probability of "some rare token". This is what CCNet's actual LM
    filter does, and it is what makes the operator safe at web-corpus
    scale: a 100 TB crawl's distinct whitespace-token table (URLs,
    typos, code, numbers) runs to billions of rows, so the modeled
    vocab must be bounded BY CONSTRUCTION, not by a Heaps'-law hope.
    It also denoises the NLL — hapax tokens no longer dominate the
    mean with their individual -ln(1/total) spikes.

    Plan: map-side token explosion -> vocabulary count aggregation ->
    distributed top-K (``TakeOrderedAndProject``: per-partition
    partial top-K, merge of K-row partials — never the full vocab in
    one place) -> K-row broadcast back onto the token stream ->
    per-doc aggregation. Two corpus-scale exchanges (vocab counts,
    per-doc mean); the broadcast side is <= ``vocab_size`` rows by
    construction. ``vocab_size=None`` keeps the exact full-vocab
    model with NO forced broadcast — AQE picks the join strategy —
    for callers who know their vocab is small."""
    tok = _token_stream(docs, text_col, id_col)
    counts, vocab, consts = _capped_vocab(tok, vocab_size)
    if vocab_size is None:
        nll = -F.log(F.col("cnt").cast("double") / F.col("total"))
        return hold(tok.join(counts, "w")
                    .crossJoin(F.broadcast(consts))
                    .groupBy(id_col)
                    .agg(F.avg(nll).alias("nll"),
                         F.count("*").alias("n_tokens")), counts)
    nll = -F.log(_p_uni("cnt") / F.col("total"))
    return hold(tok.join(F.broadcast(vocab), "w", "left")
                .crossJoin(F.broadcast(consts))
                .groupBy(id_col)
                .agg(F.avg(nll).alias("nll"),
                     F.count("*").alias("n_tokens")), counts)


def _capped_vocab(tok: DataFrame, vocab_size: int | None):
    """Shared capped-unigram model build (unigram_logprob /
    bigram_logprob): (counts, vocab-or-None, consts) from a token
    stream. ``total`` is derived from the counts aggregate — NOT a
    second corpus scan, and immune to ``F.size(NULL) = -1`` on
    null-text rows (the oracle computes tot from counts the same
    way). The counts table is persisted (operator-internal, ``_cache``
    policy): the vocab cut, total and vmass each launch their own
    broadcast-build job, and unpersisted they would each rescan the
    corpus (r12, guide §2.4)."""
    counts = persist(tok.groupBy("w").agg(F.count("*").alias("cnt")))
    total = counts.agg(F.sum("cnt").alias("total"))
    if vocab_size is None:
        return counts, None, total
    vocab = counts.orderBy(F.desc("cnt"), "w").limit(vocab_size)
    consts = total.crossJoin(vocab.agg(F.sum("cnt").alias("vmass")))
    return counts, vocab, consts


def _p_uni(cnt_col: str):
    """The capped model's token probability numerator: in-vocab count,
    or the constant OOV tail mass max(total - vmass, 1) — ONE
    definition shared by both LM operators."""
    return (F.when(F.col(cnt_col).isNotNull(), F.col(cnt_col))
            .otherwise(F.greatest(F.col("total") - F.col("vmass"),
                                  F.lit(1)))
            .cast("double"))


def tfidf_top_terms(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf (raw term frequency x
    ln(n_docs / doc_frequency)); rank ties break on the term. Output:
    (id, term, tf, tfidf, rank).

    Document frequencies come from a map-side ``array_distinct``
    explosion (no per-doc dedup shuffle, same trick as ``shingles``),
    so the plan is: tf aggregation + df aggregation + a tf<->df join
    on the term + one per-doc top-k window. The df table is
    vocabulary-sized and therefore UNBOUNDED at corpus scale, and it
    cannot be capped the way ``unigram_logprob``'s vocab can — the
    rare terms a cap would drop are exactly the high-idf terms the
    top-k selects — so the term join carries no broadcast hint: AQE
    broadcasts it when the measured size allows and falls back to a
    shuffle join when it does not. Only the 1-row ``n_docs`` aggregate
    is force-broadcast."""
    from pyspark.sql import Window

    tok = _token_stream(docs, text_col, id_col)
    tf = tok.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = (_spread_docs(docs)
             .select(F.explode(F.array_distinct(_words(text_col))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("df")))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tfidf = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    win = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (tf.join(dfreq, "w")
            .crossJoin(F.broadcast(n_docs))
            .select(F.col(id_col), F.col("w").alias("term"), "tf",
                    tfidf.alias("tfidf"))
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k))


#: conservative PII patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB): no backreferences, no lookaround
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}[-.]\d{3}[-.]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(docs: DataFrame, text_col: str = "text",
               patterns: dict[str, str] | None = None,
               token: str = "<PII>") -> DataFrame:
    """Regex PII scrubbing: replaces every match of each pattern with
    ``token`` and adds one ``n_<name>`` match-count column per pattern.
    Pure ``regexp_replace``/``regexp_extract_all`` expressions — zero
    shuffles, zero Python — using a conservative regex subset that
    evaluates identically under Java regex and RE2, so the DuckDB
    oracle compares redacted text and counts exactly."""
    patterns = PII_PATTERNS if patterns is None else patterns
    out = docs
    red = F.col(text_col)
    for name, pat in patterns.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))))
        red = F.regexp_replace(red, pat, token)
    return out.withColumn(f"{text_col}_redacted", red)


#: the Gopher "must contain 2 of" stop-word set (Rae et al. 2021,
#: "Scaling Language Models: ... Gopher", Appendix A quality rules)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]


#: ordered output metric names of :func:`gopher_rules` — the single
#: source of truth shared by the oracle gate, the streaming replay
#: gate and the hand-case pins (Rae et al. 2021 Table A1 order:
#: quality heuristics, then the repetition battery)
GOPHER_METRICS = (
    "n_words", "mean_word_len", "symbol_word_ratio",
    "alpha_word_ratio", "stop_hits", "bullet_line_ratio",
    "ellipsis_line_ratio", "dup_line_frac", "dup_para_frac",
    "dup_line_char_frac", "dup_para_char_frac",
    "top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac",
    "dup5gram_char_frac", "dup6gram_char_frac", "dup7gram_char_frac",
    "dup8gram_char_frac", "dup9gram_char_frac", "dup10gram_char_frac",
)


#: published Table-A1 thresholds
#: (metric name -> predicate on the metric value)
_GOPHER_RULES_PY = [
    ("n_words", lambda v: 50 <= v <= 100_000),
    ("mean_word_len", lambda v: 3.0 <= v <= 10.0),
    ("symbol_word_ratio", lambda v: v <= 0.1),
    ("bullet_line_ratio", lambda v: v <= 0.9),
    ("ellipsis_line_ratio", lambda v: v <= 0.3),
    ("alpha_word_ratio", lambda v: v >= 0.8),
    ("stop_hits", lambda v: v >= 2),
    ("dup_line_frac", lambda v: v < 0.30),
    ("dup_para_frac", lambda v: v < 0.30),
    ("dup_line_char_frac", lambda v: v < 0.20),
    ("dup_para_char_frac", lambda v: v < 0.20),
    ("top2gram_char_frac", lambda v: v < 0.20),
    ("top3gram_char_frac", lambda v: v < 0.18),
    ("top4gram_char_frac", lambda v: v < 0.16),
] + [
    (f"dup{k}gram_char_frac", (lambda thr: lambda v: v < thr)(thr))
    for k, thr in zip(range(5, 11),
                      (0.15, 0.14, 0.13, 0.12, 0.11, 0.10))
]


def _gopher_metrics_py(text: str | None) -> dict:
    """All 20 Table-A1 metrics for ONE document: every count is an
    exact integer, every ratio is ONE IEEE double division of exact
    ints, and Python ``len``/``str.split``/``str.count`` are code-point
    length, literal split and leftmost-nonoverlap counting — the same
    operations DuckDB's replay of the battery uses, so the two agree
    bitwise."""
    import re
    from collections import Counter

    t = text if text is not None else ""
    tl = max(len(t), 1)
    w = [x for x in t.split(" ") if x != ""]
    lines = t.split("\n")
    paras = t.split("\n\n")
    n = len(w)
    nl = len(lines)
    mean_wl = (sum(len(x) for x in w) / n) if n > 0 else 0.0
    symbols = t.count("#") + t.count("…") + t.count("...")
    alpha = sum(1 for x in w if re.search("[A-Za-z]", x))
    wset = set(w)
    m = {
        "n_words": n,
        "mean_word_len": mean_wl,
        "symbol_word_ratio": (symbols / n) if n > 0 else 0.0,
        "alpha_word_ratio": (alpha / n) if n > 0 else 0.0,
        "stop_hits": sum(1 for s in GOPHER_STOPWORDS if s in wset),
        "bullet_line_ratio": sum(
            1 for l in lines
            if l.startswith(("•", "- ", "* "))) / nl,
        "ellipsis_line_ratio": sum(
            1 for l in lines if l.endswith(("…", "..."))) / nl,
        "dup_line_frac": (nl - len(set(lines))) / nl,
        "dup_para_frac": (len(paras) - len(set(paras))) / len(paras),
    }
    for name, arr in (("dup_line_char_frac", lines),
                      ("dup_para_char_frac", paras)):
        m[name] = sum((c - 1) * len(s)
                      for s, c in Counter(arr).items()) / tl
    for k in (2, 3, 4):
        grams = [" ".join(w[i:i + k]) for i in range(n - k + 1)] \
            if n >= k else []
        m[f"top{k}gram_char_frac"] = max(
            (c * len(g) for g, c in Counter(grams).items()),
            default=0) / tl
    for k in range(5, 11):
        grams = [" ".join(w[i:i + k]) for i in range(n - k + 1)] \
            if n >= k else []
        m[f"dup{k}gram_char_frac"] = sum(
            (c - 1) * len(g)
            for g, c in Counter(grams).items()) / tl
    fails = [not pred(m[name]) for name, pred in _GOPHER_RULES_PY]
    m["gopher_pass"] = not any(fails)
    m["n_rules_failed"] = sum(fails)
    return m


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The published Gopher corpus-quality heuristics (Rae et al.
    2021, Appendix A) as ONE map-only stage: per-document rule metrics
    plus the conjunction flag ``gopher_pass``, computed by one Python
    kernel (:func:`_gopher_metrics_py`, ``Counter``/``str`` operations)
    in an Arrow-batched ``mapInPandas``. Zero corpus exchanges, so the
    operator is embarrassingly parallel at any corpus size and composes
    with the scoring/dedup/chunking pipeline for free.

    Metrics and published thresholds (``gopher_pass`` ANDs them):

    - ``n_words`` in [50, 100000]; ``mean_word_len`` in [3, 10]
    - ``symbol_word_ratio`` (of '#', '…', '...') <= 0.1
    - ``bullet_line_ratio`` (lines starting '•', '- ', '* ') <= 0.9;
      ``ellipsis_line_ratio`` (lines ending '…' or '...') <= 0.3
    - ``alpha_word_ratio`` (words with an alphabetic char) >= 0.8
    - ``stop_hits`` (of the 8-word Gopher stop set) >= 2
    - ``dup_line_frac`` < 0.30; ``dup_para_frac`` < 0.30 (count-based)
    - ``dup_line_char_frac`` < 0.20; ``dup_para_char_frac`` < 0.20
      (chars in duplicate line/paragraph COPIES / text length)
    - ``top2gram_char_frac`` < 0.20, ``top3gram_char_frac`` < 0.18,
      ``top4gram_char_frac`` < 0.16 (char span of the most frequent
      word n-gram / text length)
    - ``dup5gram_char_frac`` < 0.15 down to ``dup10gram_char_frac``
      < 0.10 (chars in duplicate word-n-gram COPIES / text length)

    — the full 20-rule repetition+quality battery of the paper's
    Table A1 (r9 advice: earlier rounds shipped the 12-rule subset).

    Tokenization is the engine's single-space split (consistent with
    every other text operator here — a word may span a newline), and
    char fractions use ``length(text)`` denominators; duplicate-copy
    char fractions count every occurrence AFTER the first, i.e.
    sum((count-1)·len) — one deterministic rendering applied uniformly
    to lines, paragraphs and n-grams (published reproductions differ
    here; greedy span-skipping variants are not order-free and cannot
    be oracle-checked bitwise). The POINT is a deterministic,
    oracle-checkable rendering of the published rules, not a
    reproduction of DeepMind's internal tokenizer. NULL text is
    treated as the empty document."""
    from pyspark.sql import types as T

    from .dedup import _spread

    out_names = set(GOPHER_METRICS) | {"gopher_pass", "n_rules_failed"}
    bad = [c for c in docs.columns
           if c.startswith("__") or c in out_names]
    if bad:
        raise ValueError(
            f"gopher_rules reserves '__'-prefixed scratch columns and "
            f"its metric output names (would silently overwrite "
            f"{sorted(bad)}); rename them — same contract as the "
            f"packing/sharding family")
    mtypes = {"n_words": T.IntegerType(),
              "stop_hits": T.IntegerType()}
    schema = T.StructType(
        list(docs.schema.fields)
        + [T.StructField(mn, mtypes.get(mn, T.DoubleType()))
           for mn in GOPHER_METRICS]
        + [T.StructField("gopher_pass", T.BooleanType()),
           T.StructField("n_rules_failed", T.IntegerType())])
    out_cols = [f.name for f in schema.fields]
    extra = (*GOPHER_METRICS, "gopher_pass", "n_rules_failed")

    def run(batches):
        for pdf in batches:
            rows = [_gopher_metrics_py(t) for t in pdf[text_col]]
            res = pdf.copy()
            for mn in extra:
                res[mn] = [r[mn] for r in rows]
            yield res[out_cols]

    return _spread(docs).mapInPandas(run, schema)


def remove_repeated_lines(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_line_df: int = 5,
                          sep: str = "\n") -> DataFrame:
    """CCNet/Gopher-style line-level boilerplate removal: drop every
    line that occurs in MORE than ``max_line_df`` distinct documents
    (headers, footers, cookie banners), rebuild each document from its
    surviving lines in original order. Output: (id, text, n_lines_kept,
    n_lines_dropped).

    Plan: posexplode lines (map-side) -> distinct-doc line frequency
    (``array_distinct`` per doc first, so the df aggregation sees each
    (doc, line) once without a dedup shuffle) -> broadcast the
    boilerplate set (only lines ABOVE the threshold — small by
    definition) -> anti-join -> per-doc rebuild via sorted struct
    collect. Two corpus-scale exchanges (line df, rebuild)."""
    from .dedup import _spread

    base = _spread(docs).select(
        F.col(id_col), F.split(F.col(text_col), sep).alias("__lines"))
    lines = base.select(
        F.col(id_col),
        F.posexplode(F.col("__lines")).alias("pos", "line"))
    dfreq = (base.select(F.explode(F.array_distinct(F.col("__lines")))
                         .alias("line"))
             .groupBy("line").agg(F.count("*").alias("line_df")))
    boiler = dfreq.filter(F.col("line_df") > max_line_df).select("line")
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
                    .alias("__sl"),
                    F.count("*").alias("n_lines_kept")))
    n_total = base.select(F.col(id_col),
                          F.size("__lines").alias("__n_total"))
    return (n_total.join(rebuilt, id_col, "left")
            .select(
                F.col(id_col),
                F.concat_ws(sep, F.transform(
                    F.coalesce(F.col("__sl"),
                               F.array().cast("array<struct<pos:int,line:string>>")),
                    lambda s: s["line"])).alias(text_col),
                F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
                (F.col("__n_total")
                 - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
                .alias("n_lines_dropped")))


def hashed_classifier_score(docs: DataFrame, text_col: str = "text",
                            n_buckets: int = 64,
                            seed: int = 17,
                            weights: list[float] | None = None) -> DataFrame:
    """fastText-style hashed linear document scorer: each token hashes
    into one of ``n_buckets`` feature slots (md5, engine-portable), the
    document score is sigmoid(mean of slot weights over its tokens).
    This is the serving path of the standard bag-of-hashed-ngrams
    quality classifier; pass ``weights`` (length ``n_buckets``) to
    serve a TRAINED model — the default is a deterministic placeholder
    of the same shape. The Spark-side shape is what matters at 100 TB:
    a PURE PROJECTION, zero shuffles, zero Python, weights inlined as a
    literal array into codegen (streaming-compatible as a corollary —
    see tests/test_streaming_oracle.py).

    Adds ``clf_raw`` (mean weight) and ``clf_score`` (sigmoid)."""
    from .hashing import linear_weights

    if weights is None:
        weights = linear_weights(n_buckets, seed)
    if len(weights) != n_buckets:
        raise ValueError(f"weights has {len(weights)} entries, "
                         f"expected n_buckets={n_buckets}")
    # one parse call instead of n_buckets py4j literal round-trips
    # (r11 construction fix — see similarity._lit_f64s)
    from .similarity import _lit_f64s
    w_lit = _lit_f64s(weights)
    tok_sum = F.aggregate(
        F.col("__w"), F.lit(0.0),
        lambda acc, x: acc + F.element_at(
            w_lit, (F.pmod(h28(x), F.lit(n_buckets)) + F.lit(1)).cast("int")))
    raw = tok_sum / F.size(F.col("__w")).cast("double")
    return (docs.withColumn("__w", _words(text_col))
            .withColumn("clf_raw", raw)
            .withColumn("clf_score",
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_raw"))))
            .drop("__w"))


def _spread_docs(docs: DataFrame) -> DataFrame:
    from .dedup import _spread
    return _spread(docs)


def _token_stream(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return _spread_docs(docs).select(F.col(id_col),
                                     F.explode(_words(text_col)).alias("w"))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per doc with the standard text-quality feature set.

    The word array is projected once (``__w``) and shared by every
    feature; small few-split corpus scans are spread across cores first
    (``dedup._spread`` — no-op on real multi-split inputs)."""
    from .dedup import _spread

    base = _spread(docs).withColumn("__w", _words(text_col))
    w = F.col("__w")
    tl = F.length(F.col(text_col))
    n = F.size(w)
    return base.withColumns({
        "n_tokens": n,
        "n_tokens_bpe": _bpe_count(w),
        "avg_word_len": _avg_word_length(tl, w),
        "distinct_ratio": F.size(F.array_distinct(w)).cast("double") / n,
        "stopword_ratio_en": _stopword_ratio(w, "en"),
        "quality": _quality(tl, w),
        "lang_pred": _language_id(w),
        "fingerprint": _fingerprint(w),
    }).drop("__w")


def train_logreg(df: DataFrame, feature_cols: Sequence[str],
                 label_col: str, iters: int = 8, lr: float = 0.5,
                 decimals: int = 9) -> list[float]:
    """Distributed logistic-regression training by full-batch gradient
    descent — the TRAINABLE complement to the fixed-weight
    :func:`hashed_classifier_score` (CCNet trains its quality
    classifier; the hashed scorer only applies one). Returns
    ``[w_intercept, w_1..w_k]``.

    Each iteration is ONE partial+final aggregate over the data
    (``sum((sigmoid(w·x) − y) · x_j)``, current weights inlined as
    literals — the ``ivf_assign`` trick), so per-iteration driver
    state is k+1 floats and nothing corpus-sized ever moves: the scan
    is the whole cost. At 100 TB, project + persist the feature
    columns once before calling (the ``iters`` scans then read the
    narrow cached projection, not the text). Weights and gradients
    are half-up quantized to ``decimals`` every iteration, so a SQL
    engine replaying the same arithmetic reproduces the weights
    bit-for-bit (the ``pca_components`` determinism recipe —
    sum-order FP noise sits ~1e-13 below the 0.5e-9 quantum)."""
    from .similarity import _q

    k = len(feature_cols)
    w = [0.0] * (k + 1)
    y = F.col(label_col).cast("double")
    n = None
    for _ in range(iters):
        z = F.lit(w[0])
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j + 1]) * F.col(c).cast("double")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        aggs = [F.count(F.lit(1)).alias("n"),
                F.sum(p - y).alias("g0")]
        aggs += [F.sum((p - y) * F.col(c).cast("double")).alias(f"g{j + 1}")
                 for j, c in enumerate(feature_cols)]
        row = df.agg(*aggs).first()
        n = row["n"]
        grads = [_q(row[f"g{j}"], decimals) for j in range(k + 1)]
        w = [_q(w[j] - lr * grads[j] / n, decimals) for j in range(k + 1)]
    return w


def logreg_score(df: DataFrame, feature_cols: Sequence[str],
                 weights: Sequence[float],
                 out_col: str = "quality") -> DataFrame:
    """Map-only scoring with trained :func:`train_logreg` weights:
    adds ``<out_col>`` (sigmoid probability) and ``<out_col>_pred``.
    Zero shuffles, zero Python — the weights ride as literals."""
    z = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c).cast("double")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (df.withColumn(out_col, p)
            .withColumn(f"{out_col}_pred", p >= F.lit(0.5)))


def chunk_documents(docs: DataFrame, max_tokens: int = 64,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window preparation step of a training pipeline (compose
    with ``sampling.pack_documents`` to pack the chunks into fixed
    sequence budgets).

    Chunk ``i`` covers whitespace tokens ``[i*stride, i*stride +
    max_tokens)`` with ``stride = max_tokens - overlap``; the number of
    chunks is ``max(1, ceil((n_tokens - overlap) / stride))``, so every
    token belongs to at least one chunk, consecutive chunks share
    ``overlap`` tokens, and an empty/short document still yields its
    single (possibly short) chunk. A NULL text also yields one chunk
    (null ``chunk_text``, 0 ``chunk_tokens``) — exploding a null
    sequence would silently drop the row and its metadata.

    Scale: pure expression — split once, explode a ``sequence()`` of
    chunk ids, ``slice`` + ``array_join`` per chunk. Zero shuffles,
    zero Python; output bytes ~= input bytes * (1 + overlap/stride).
    Beyond the reference surface (its corpus ops stop at the document
    level); deterministic and SQL-replayable like the rest of this
    module.
    """
    if overlap < 0 or max_tokens <= overlap:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    n = F.size(F.col("__w"))
    n_chunks = F.when(F.col("__w").isNull(), F.lit(1)).otherwise(
        F.greatest(
            F.lit(1),
            F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")))
    start = F.col("chunk_id") * F.lit(stride)  # 0-based token offset
    return (docs
            .withColumn("__w", _words(text_col))
            .withColumn("chunk_id",
                        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))))
            .withColumn("chunk_tokens",
                        F.when(F.col("__w").isNull(), F.lit(0)).otherwise(
                            F.least(F.lit(max_tokens),
                                    F.size("__w") - start)))
            .withColumn("chunk_text",
                        F.array_join(F.slice("__w", start + F.lit(1),
                                             F.lit(max_tokens)), " "))
            .drop("__w"))


def token_distribution_shift(ref_docs: DataFrame, new_docs: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             vocab_size: int = 10_000) -> DataFrame:
    """Distribution drift between two corpus snapshots — "did the new
    crawl shift the token distribution?" — the monitoring primitive a
    continuously-refreshed training corpus needs next to its quality
    filters.

    The modeled vocabulary is the REFERENCE side's top-``vocab_size``
    tokens (count desc, token asc — the deterministic
    ``unigram_logprob`` cut); everything else on either side pools
    into one ``__OOV__`` bucket, so the comparison is bounded BY
    CONSTRUCTION at web-corpus scale. Add-one smoothing over the
    K+1 buckets keeps every log finite even for vocab tokens absent
    from one side. Output: one row per bucket with
    ``(token, p_ref, p_new, kl_term, rev_kl_term, tv_term)`` —
    ``sum(kl_term)`` is KL(ref‖new), ``sum(rev_kl_term)`` KL(new‖ref),
    ``sum(tv_term)`` total variation; sorting by ``tv_term`` ranks the
    top movers.

    Plan: ONE corpus-scale aggregation for BOTH sides — r12 (guide
    §2.6, the dsir union-fuse precedent): the two per-side count
    tables used to be separate persisted aggregations, and the
    totals/top-K/joins downstream each launched their own K-row job
    (24 jobs at sf0.1, 8-core scaling ratio 0.38: pure job
    overhead). The sides now ride one tagged union whose aggregate is
    persisted; the per-side totals fuse into a single conditional
    aggregate, and the K-row ``invocab`` table is persisted so the
    bucket union and the mass aggregate share it. Everything
    downstream is K-row-bounded and the K+1-row output never
    materializes an unbounded vocab."""
    tagged = (_token_stream(ref_docs, text_col, id_col)
              .select("w", F.lit(0).alias("__side"))
              .unionByName(_token_stream(new_docs, text_col, id_col)
                           .select("w", F.lit(1).alias("__side"))))
    counts = persist(tagged.groupBy("__side", "w")
                     .agg(F.count(F.lit(1)).alias("cnt")))
    rc = counts.filter(F.col("__side") == 0).select("w", "cnt")
    nc = counts.filter(F.col("__side") == 1).select("w", "cnt")
    # the literal token "__OOV__" is excluded from the modeled vocab
    # (its occurrences pool into the OOV bucket on BOTH sides) so the
    # sentinel bucket can never collide with a real vocab row
    vocab = (rc.filter(F.col("w") != "__OOV__")
             .orderBy(F.desc("cnt"), "w").limit(vocab_size)
             .select("w", F.col("cnt").alias("rcnt")))
    invocab = persist(vocab.join(nc, "w", "left")
                      .select("w", "rcnt",
                              F.coalesce(F.col("cnt"), F.lit(0))
                              .alias("ncnt")))
    # bounded driver-free constants: totals, in-vocab masses, bucket
    # count — every frame here is <= K rows or 1 row. coalesce: an
    # EMPTY side must smooth to a proper distribution
    # (p = 1/(0 + kk + 1)), not propagate NULL through every term
    totals = counts.agg(
        F.coalesce(F.sum(F.when(F.col("__side") == 0, F.col("cnt"))),
                   F.lit(0)).alias("rtot"),
        F.coalesce(F.sum(F.when(F.col("__side") == 1, F.col("cnt"))),
                   F.lit(0)).alias("ntot"))
    consts = (totals
              .crossJoin(invocab.agg(
                  F.coalesce(F.sum("rcnt"), F.lit(0)).alias("rmass"),
                  F.coalesce(F.sum("ncnt"), F.lit(0)).alias("nmass"),
                  F.count(F.lit(1)).alias("kk"))))
    oov = (consts.select(
        F.lit("__OOV__").alias("w"),
        (F.col("rtot") - F.col("rmass")).alias("rcnt"),
        (F.col("ntot") - F.col("nmass")).alias("ncnt")))
    buckets = invocab.unionByName(oov)
    p_ref = ((F.col("rcnt") + F.lit(1)).cast("double")
             / (F.col("rtot") + F.col("kk") + F.lit(1)))
    p_new = ((F.col("ncnt") + F.lit(1)).cast("double")
             / (F.col("ntot") + F.col("kk") + F.lit(1)))
    return hold(buckets.crossJoin(F.broadcast(consts))
                .select("w",
                        p_ref.alias("p_ref"), p_new.alias("p_new"),
                        (p_ref * F.log(p_ref / p_new)).alias("kl_term"),
                        (p_new * F.log(p_new / p_ref)).alias("rev_kl_term"),
                        (F.abs(p_ref - p_new) / F.lit(2.0)).alias("tv_term")),
                counts, invocab)


def token_shift_reference(ref_docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          vocab_size: int = 10_000) -> DataFrame:
    """Materialize the REFERENCE side of a drift comparison as a
    bounded (K+1)-row frame: ``(w, rcnt, rtot, kk)`` for the top-K
    vocabulary plus the pooled ``__OOV__`` bucket — the static half
    that :func:`token_shift_finalize` (and the streaming monitor)
    joins against. One corpus scan (persisted counts, as in
    :func:`token_distribution_shift`)."""
    tok = _token_stream(ref_docs, text_col, id_col)
    rc = persist(tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    vocab = (rc.filter(F.col("w") != "__OOV__")
             .orderBy(F.desc("cnt"), "w").limit(vocab_size)
             .select("w", F.col("cnt").alias("rcnt")))
    consts = (rc.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("rtot"))
              .crossJoin(vocab.agg(
                  F.coalesce(F.sum("rcnt"), F.lit(0)).alias("rmass"),
                  F.count(F.lit(1)).alias("kk"))))
    oov = consts.select(F.lit("__OOV__").alias("w"),
                        (F.col("rtot") - F.col("rmass")).alias("rcnt"))
    return hold(vocab.unionByName(oov)
                .crossJoin(F.broadcast(consts.select("rtot", "kk"))), rc)


def token_shift_finalize(ref: DataFrame,
                         bucket_counts: DataFrame) -> DataFrame:
    """Combine a :func:`token_shift_reference` frame with observed
    ``(w, ncnt)`` bucket counts (batch table or a streaming sink) into
    the :func:`token_distribution_shift` output columns — identical
    smoothing/KL math, so batch and streaming paths cannot drift."""
    ntot = bucket_counts.agg(
        F.coalesce(F.sum("ncnt"), F.lit(0)).alias("ntot"))
    j = (ref.join(bucket_counts, "w", "left")
         .withColumn("ncnt", F.coalesce(F.col("ncnt"), F.lit(0)))
         .crossJoin(F.broadcast(ntot)))
    p_ref = ((F.col("rcnt") + F.lit(1)).cast("double")
             / (F.col("rtot") + F.col("kk") + F.lit(1)))
    p_new = ((F.col("ncnt") + F.lit(1)).cast("double")
             / (F.col("ntot") + F.col("kk") + F.lit(1)))
    return j.select("w",
                    p_ref.alias("p_ref"), p_new.alias("p_new"),
                    (p_ref * F.log(p_ref / p_new)).alias("kl_term"),
                    (p_new * F.log(p_new / p_ref)).alias("rev_kl_term"),
                    (F.abs(p_ref - p_new) / F.lit(2.0)).alias("tv_term"))


def bm25_topk(docs: DataFrame, query_terms: Sequence[str],
              k: int | None = 10, k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 retrieval: score every document against a literal query
    term set and keep the top-k (Robertson/Sparck Jones BM25 with the
    ``ln(1 + (N - df + .5)/(df + .5))`` non-negative idf).

    Scale design: the query terms are inlined as literals (the IVF
    inlined-centroid recipe), so scoring is a pure map-side
    projection — per-term tf is ``size(filter(words, = term))`` over
    the once-split word array, no posting-list shuffle exists at all.
    Corpus statistics (N, avgdl, one df per query term) are ONE 1-row
    aggregate, broadcast. The only distributed movement is the top-k
    itself, which ``orderBy().limit(k)`` plans as a
    TakeOrderedAndProject (per-partition heaps + driver merge of
    P*k rows — never a single-partition sort). ``k=None`` returns all
    matching docs unranked, in which case nothing moves at all.

    Per-doc cost is O(|query| * |words|); intended for the
    few-term interactive/filter query shape. A thousand-term query
    belongs to the tf-idf posting-join shape (``tfidf_top_terms``)
    instead — documented boundary, same stance as ``ewma_native``'s
    span guard.

    Scores sum per-term contributions in the literal query order on
    both engines, so the DuckDB oracle matches bitwise."""
    terms = list(dict.fromkeys(query_terms))  # de-dup, keep order
    if not terms:
        raise ValueError("query_terms must be non-empty")
    base = _spread_docs(docs).withColumn("__w", _words(text_col))
    w = F.col("__w")
    stats = base.agg(
        F.count("*").alias("__n"),
        # size(NULL) is -1 in Spark, but the null-skip avg is the
        # DuckDB/ANSI semantics (len(NULL) -> NULL) — guard it
        F.avg(F.when(w.isNotNull(), F.size(w))).alias("__avgdl"),
        *[F.sum(F.array_contains(w, t).cast("long")).alias(f"__df_{i}")
          for i, t in enumerate(terms)])
    score, n_matched = _bm25_score_exprs(
        w, terms, k1, b, F.col("__n"), F.col("__avgdl"),
        [F.col(f"__df_{i}") for i in range(len(terms))])
    scored = (base.crossJoin(F.broadcast(stats))
              .select(F.col(id_col), score.alias("bm25"),
                      n_matched.alias("n_terms"))
              .filter(F.col("n_terms") > 0))
    if k is None:
        return scored
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("bm25"), F.col(id_col)).limit(k)
    # rank over the k surviving rows only (bounded, post-limit)
    rw = Window.orderBy(F.desc("bm25"), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(rw))


def _bm25_score_exprs(w: Column, terms: Sequence[str], k1: float, b: float,
                      n, avgdl, dfs) -> tuple[Column, Column]:
    """(score, n_terms) column pair over a word-array column ``w`` —
    shared by the batch operator (stats columns from the broadcast
    1-row aggregate) and the streaming twin (stats inlined as
    literals). Contributions sum in literal query order, so both
    paths and the DuckDB oracle associate identically."""
    dl = F.size(w).cast("double")

    def _eq(term: str):
        # closure factory: a default arg would change the HOF lambda's
        # arity and make Spark pass the element INDEX into it
        return lambda x: x == F.lit(term)

    score = F.lit(0.0)
    n_matched = F.lit(0)
    for i, t in enumerate(terms):
        tf = F.size(F.filter(w, _eq(t))).cast("double")
        idf = F.log(F.lit(1.0) + (n - dfs[i] + F.lit(0.5))
                    / (dfs[i] + F.lit(0.5)))
        contrib = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
        score = score + F.when(tf > 0, contrib).otherwise(F.lit(0.0))
        n_matched = n_matched + (tf > 0).cast("int")
    return score, n_matched


def bm25_corpus_stats(docs: DataFrame, query_terms: Sequence[str],
                      text_col: str = "text") -> dict:
    """Collect the BM25 corpus statistics (N, avgdl, one df per term)
    as plain numbers — the batch half of the stream-static scoring
    split: compute once over the corpus, inline into the map-only
    streaming scorer. Driver state is 2 + |query| numbers."""
    terms = list(dict.fromkeys(query_terms))
    base = _spread_docs(docs).withColumn("__w", _words(text_col))
    w = F.col("__w")
    row = base.agg(
        F.count("*").alias("n"),
        # null-skip like the batch scorer: size(NULL) = -1 in Spark
        F.avg(F.when(w.isNotNull(), F.size(w))).alias("avgdl"),
        *[F.sum(F.array_contains(w, t).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(terms)]).collect()[0]
    # an empty corpus (or one whose every text is null) aggregates
    # avgdl to NULL — surface it as 0.0 so the first-day-of-ingestion
    # stream-static setup gets "no matches" instead of a TypeError
    avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
    return {"n": int(row["n"]), "avgdl": avgdl,
            "dfs": [int(row[f"df_{i}"] or 0) for i in range(len(terms))]}


def bm25_score_static(docs: DataFrame, query_terms: Sequence[str],
                      stats: dict, k1: float = 1.2, b: float = 0.75,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Map-only BM25 scoring against PRE-COMPUTED corpus statistics
    (``bm25_corpus_stats``): zero exchanges, works unchanged on a
    ``readStream`` (the streaming twin — score an incoming document
    stream against yesterday's corpus model). Emits matching rows
    only, like ``bm25_topk(k=None)``. The stats inline as float
    literals, so scores are bitwise-identical to the batch operator's
    (n/df enter the idf as doubles there too — a 1-row aggregate's
    long column cast by the division)."""
    terms = list(dict.fromkeys(query_terms))
    if stats["n"] == 0 or stats["avgdl"] <= 0.0:
        # degenerate corpus model (empty, or only empty/null texts):
        # BM25's length normalization is undefined, and no document
        # can meaningfully match — empty result, stable schema
        return (docs.select(F.col(id_col), F.lit(0.0).alias("bm25"),
                            F.lit(0).alias("n_terms"))
                .filter(F.lit(False)))
    w = _words(text_col)
    score, n_matched = _bm25_score_exprs(
        w, terms, k1, b, F.lit(float(stats["n"])),
        F.lit(float(stats["avgdl"])),
        [F.lit(float(d)) for d in stats["dfs"]])
    return (docs.select(F.col(id_col), score.alias("bm25"),
                        n_matched.alias("n_terms"))
            .filter(F.col("n_terms") > 0))


def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   vocab_size: int | None = 100_000,
                   bigram_size: int | None = 100_000,
                   lam: float = 0.7) -> DataFrame:
    """Interpolated bigram LM quality score — the order-2 upgrade of
    :func:`unigram_logprob`: per document, the mean negative log
    probability of its adjacent-token transitions under

        P(w2 | w1) = lam * c(w1 w2)/c(w1)  +  (1 - lam) * P_uni(w2)

    with BOTH model tables capped by construction (top ``bigram_size``
    bigrams / top ``vocab_size`` unigrams by count, ties on the
    tokens). An unmodeled bigram or out-of-vocab context contributes
    zero to the first term — interpolation IS the backoff — and
    ``P_uni`` carries the same constant OOV tail mass as the unigram
    operator. Catches what a unigram score cannot: shuffled-word salad
    has perfect unigram stats but improbable transitions.

    Output: (id, nll, n_pairs) for documents with >= 1 transition
    (single-token and empty docs have no order-2 evidence and are
    omitted — score those with the unigram operator).

    Plan: one map-side pair explosion feeding the model-count
    aggregation + the probe pass. r12 (guide §2.6, the dsir
    union-fuse precedent): the unigram and bigram model counts used
    to be SEPARATE aggregations, and the capped cuts/totals/masses
    re-derived the unigram one once per broadcast build — ~4 corpus
    scans for the model alone (12 jobs, 8-core scaling ratio 0.28:
    pure job overhead). Both counts now ride ONE tagged-union
    aggregation whose result is persisted (operator-internal,
    ``_cache`` policy), so the model costs one corpus-scale action
    and every cut/total/mass is a K-row job over the cached table.
    TWO corpus-scale exchanges total (model union, per-doc
    aggregation), broadcast sides bounded by the caps."""
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam={lam} outside (0, 1)")
    w = F.filter(_words(text_col), lambda x: x != "")
    n1 = F.greatest(F.size(w) - F.lit(1), F.lit(0))
    pair = F.zip_with(F.slice(w, 1, n1), F.slice(w, 2, n1),
                      lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    pairs = (_spread_docs(docs)
             .select(F.col(id_col), F.explode(pair).alias("p"))
             .select(id_col, "p.w1", "p.w2"))

    # the unigram model counts the SAME tokens that form pairs (empty
    # strings from repeated/trailing spaces are excluded — they would
    # occupy vocab slots and inflate total/vmass for every real token).
    # Tokens are non-empty strings, so a NULL w2 unambiguously tags the
    # unigram side of the fused aggregation.
    uni_rows = (_spread_docs(docs)
                .select(F.explode(w).alias("w1"),
                        F.lit(None).cast("string").alias("w2")))
    counts_all = persist(uni_rows.unionByName(pairs.select("w1", "w2"))
                         .groupBy("w1", "w2")
                         .agg(F.count(F.lit(1)).alias("cnt")))
    ucounts = (counts_all.filter(F.col("w2").isNull())
               .select(F.col("w1").alias("w"), "cnt"))
    total = ucounts.agg(F.sum("cnt").alias("total"))
    if vocab_size is not None:
        # the K-row vocab cut feeds THREE consumers (u1/u2 broadcasts,
        # vmass) — persist it so the TakeOrdered runs once
        uvocab = persist(ucounts.orderBy(F.desc("cnt"), "w")
                         .limit(vocab_size))
        consts = total.crossJoin(
            uvocab.agg(F.sum("cnt").alias("vmass")))
    else:
        uvocab, consts = ucounts, total

    def bounded(df, capped):
        # forced broadcast ONLY when bounded by construction; the
        # uncapped mode lets AQE pick (the unigram_logprob convention)
        return F.broadcast(df) if capped else df

    bcounts = (counts_all.filter(F.col("w2").isNotNull())
               .select("w1", "w2", F.col("cnt").alias("bcnt")))
    if bigram_size is not None:
        bvocab = bcounts.orderBy(F.desc("bcnt"), "w1", "w2") \
                        .limit(bigram_size)
    else:
        bvocab = bcounts

    one_minus = 1.0 - float(lam)  # same double on both engines
    p_uni_num = (F.when(F.col("u2.cnt").isNotNull(), F.col("u2.cnt"))
                 .otherwise(F.greatest(F.col("total") - F.col("vmass"),
                                       F.lit(1)))
                 .cast("double")) if vocab_size is not None else         F.col("u2.cnt").cast("double")
    p_uni = p_uni_num / F.col("total")
    p_big = F.when(
        F.col("bcnt").isNotNull() & F.col("u1.cnt").isNotNull(),
        F.col("bcnt").cast("double") / F.col("u1.cnt")).otherwise(0.0)
    nll = -F.log(F.lit(float(lam)) * p_big + F.lit(one_minus) * p_uni)
    u1 = uvocab.select(F.col("w").alias("w1"), F.col("cnt")).alias("u1")
    u2 = uvocab.select(F.col("w").alias("w2"), F.col("cnt")).alias("u2")
    capped_u = vocab_size is not None
    return hold(pairs
                .join(bounded(bvocab, bigram_size is not None),
                      ["w1", "w2"], "left")
                .join(bounded(u1, capped_u), "w1", "left")
                .join(bounded(u2, capped_u), "w2", "left")
                .crossJoin(F.broadcast(consts))
                .groupBy(id_col)
                .agg(F.avg(nll).alias("nll"),
                     F.count("*").alias("n_pairs")), counts_all, uvocab)
