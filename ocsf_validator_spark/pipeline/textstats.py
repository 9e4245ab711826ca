"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting.

Everything is a single pure-column projection (whole-stage codegen, no
shuffle, no UDF) — at 100 TB these run at scan speed and the only cost
is the parquet read of the ``text`` column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}
_LANG_ORDER = ("en", "de", "es", "fr")  # deterministic tie-break priority


def _tokens(text_col: str) -> str:
    return f"split({text_col}, ' ')"


def _stop_hits(text_col: str, words: tuple[str, ...]) -> str:
    cond = " or ".join(f"t = '{w}'" for w in words)
    return f"size(filter({_tokens(text_col)}, t -> {cond}))"


def _stop_hits_arr(arr: str, words: tuple[str, ...]) -> str:
    """_stop_hits over an already-projected token-array column — the
    staged form (see text_profile): higher-order filter() trees defeat
    codegen common-subexpression elimination, so a profile that spells
    the hit count inline once per OUTPUT column re-tokenizes and
    re-filters per column."""
    cond = " or ".join(f"t = '{w}'" for w in words)
    return f"size(filter({arr}, t -> {cond}))"


def token_count_col(text_col: str = "text", pattern: str = "[a-z]+") -> Column:
    """Regex token count (the BPE-ish pre-tokenizer count)."""
    return F.regexp_count(F.col(text_col), F.lit(pattern)).cast("bigint")


def quality_cols(text_col: str = "text") -> list[Column]:
    """Quality-scoring features: token count, avg token length, stopword
    ratio, and a composite quality score in [0, 1]."""
    tok = _tokens(text_col)
    n_tokens = F.expr(f"size({tok})").cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    avg_token_len = nonspace / n_tokens
    stop_ratio = F.expr(_stop_hits(text_col, STOPWORDS["en"])) / n_tokens
    quality = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (
        F.lit(1.0) - stop_ratio
    )
    return [
        n_tokens.alias("n_tokens"),
        F.round(avg_token_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    ]


def lang_id_col(text_col: str = "text") -> Column:
    """Stopword-vote language ID: argmax of per-language stopword hits,
    ties broken by _LANG_ORDER, zero hits → 'und'. Deterministic pure
    column expression."""
    scores = {l: F.expr(_stop_hits(text_col, STOPWORDS[l])) for l in _LANG_ORDER}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build reversed so earlier languages win ties
    for l in reversed(_LANG_ORDER):
        out = F.when((scores[l] == best) & (best > 0), F.lit(l)).otherwise(out)
    return out


def text_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One logical projection with every text-analysis feature — STAGED
    so each shared subexpression (the token array, the per-language
    stopword hit counts, the fingerprint gram array) is computed once
    per row instead of once per referencing output column: codegen's
    common-subexpression elimination does not reach inside higher-order
    filter/transform trees, so the inline spelling re-split and
    re-filtered the text ~3x per language (measured 2x wall on the
    two-column quality-logit shape). Every leaf expression is
    unchanged, so every output value is bit-identical."""
    k, stride = 16, 8
    fpg = (
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1), {stride}),"
        f" i -> cast(conv(substring(md5(substring({text_col}, i, {k})), 1, 8), 16, 10) as bigint))"
    )
    staged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.expr(_tokens(text_col)).alias("_tk"),
        F.expr(fpg).alias("_fpg"),
    )
    hits = {
        lang: F.expr(_stop_hits_arr("_tk", STOPWORDS[lang])).alias(
            f"_h_{lang}"
        )
        for lang in _LANG_ORDER
    }
    staged = staged.select(
        F.col(id_col),
        F.col(text_col),
        F.expr("size(_tk)").cast("bigint").alias("_nt"),
        *hits.values(),
        F.col("_fpg"),
    )
    n_tokens = F.col("_nt")
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    stop_ratio = F.col("_h_en") / n_tokens
    quality = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (
        F.lit(1.0) - stop_ratio
    )
    best = F.greatest(*[F.col(f"_h_{lang}") for lang in _LANG_ORDER])
    lang_pred = F.lit("und")
    for lang in reversed(_LANG_ORDER):
        lang_pred = F.when(
            (F.col(f"_h_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(lang_pred)
    return staged.select(
        F.col(id_col),
        token_count_col(text_col).alias("n_regex_tokens"),
        n_tokens.alias("n_tokens"),
        F.round(nonspace / n_tokens, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
        lang_pred.alias("lang_pred"),
        F.expr("array_min(_fpg)").alias("fp_min"),
        F.expr("array_max(_fpg)").alias("fp_max"),
    )


def _grams(text_col: str, n: int) -> str:
    """Word n-gram array (empty when the doc is shorter than n); token
    array bound once via decontam.bind1 (never re-split per gram)."""
    from ocsf_validator_spark.pipeline.decontam import bind1

    body = (
        f"case when size(tk) >= {n} then "
        f"transform(sequence(1, size(tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(tk, i, {n}))) "
        f"else array() end"
    )
    return bind1(body, _tokens(text_col), "tk")


def _mode_count(arr_expr: str) -> str:
    """Multiplicity of the most frequent element of a string array, as a
    single fold: sort (groups equal elements into contiguous runs),
    then one O(len) pass tracking the current and best run length.
    Map-side, no explode, no shuffle — the per-doc cost is the
    O(L log L) sort, bounded by document length. (The explode +
    groupBy(doc, gram) formulation is what the DuckDB oracle runs.)"""
    return (
        f"aggregate(array_sort({arr_expr}), "
        "named_struct('prev', cast(null as string), "
        "'run', cast(0 as bigint), 'best', cast(0 as bigint)), "
        "(a, g) -> named_struct('prev', g, "
        "'run', if(a.prev = g, a.run + 1, cast(1 as bigint)), "
        "'best', greatest(a.best, if(a.prev = g, a.run + 1, "
        "cast(1 as bigint)))), "
        "a -> a.best)"
    )


def repetition_cols(text_col: str = "text", n: int = 2) -> list[Column]:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    §A1.1 — "repetition removal"): the fraction of duplicate tokens,
    the fraction of duplicate word ``n``-grams, and the frequency share
    of the single most repeated n-gram. High values mark boilerplate /
    degenerate pages that dedup across documents cannot catch.

    Pure column algebra (whole-stage codegen, zero shuffle): duplicate
    fractions are ``1 - distinct/total`` via array_distinct; the mode
    share is a sort + linear fold per document. Short documents (no
    tokens / no n-grams) yield NULL fractions via try_divide.
    """
    toks = _tokens(text_col)
    n_tok = F.expr(f"size({toks})").cast("bigint")
    n_tok_dup = n_tok - F.expr(f"size(array_distinct({toks}))")
    grams = _grams(text_col, n)
    n_gram = F.expr(f"size({grams})").cast("bigint")
    n_gram_dup = n_gram - F.expr(f"size(array_distinct({grams}))")
    top = F.expr(_mode_count(grams))
    return [
        n_tok.alias("n_tokens"),
        F.round(F.try_divide(n_tok_dup.cast("double"), n_tok), 6).alias(
            "dup_token_frac"
        ),
        F.round(F.try_divide(n_gram_dup.cast("double"), n_gram), 6).alias(
            "dup_ngram_frac"
        ),
        F.round(F.try_divide(top.cast("double"), n_gram), 6).alias(
            "top_ngram_frac"
        ),
    ]


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-document repetition signals, zero shuffle.

    Unlike :func:`repetition_cols` (single-projection Columns for
    piggybacking on an existing scan), this binds the token array and
    the gram array as REAL columns in two stacked projections before
    the metric expressions consume them: expressions referenced from
    several metrics — and subexpressions free inside higher-order
    lambdas — are otherwise re-evaluated per reference / per element,
    which made the inline spelling O(tokens²) string work per document
    (measured 6.3s → 0.85s at sf0.1, 7.4×). Catalyst keeps the split
    because CollapseProject refuses to inline multi-referenced
    non-trivial aliases. Same values either way (the oracle replay is
    unchanged)."""
    toks = df.select(
        F.col(id_col), F.expr(_tokens(text_col)).alias("_tk")
    )
    grams = (
        f"case when size(_tk) >= {n} then "
        f"transform(sequence(1, size(_tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {n}))) "
        f"else array() end"
    )
    bound = toks.select(id_col, "_tk", F.expr(grams).alias("_gr"))
    n_tok = F.expr("size(_tk)").cast("bigint")
    n_tok_dup = n_tok - F.expr("size(array_distinct(_tk))")
    n_gram = F.expr("size(_gr)").cast("bigint")
    n_gram_dup = n_gram - F.expr("size(array_distinct(_gr))")
    top = F.expr(_mode_count("_gr"))
    return bound.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(F.try_divide(n_tok_dup.cast("double"), n_tok), 6).alias(
            "dup_token_frac"
        ),
        F.round(F.try_divide(n_gram_dup.cast("double"), n_gram), 6).alias(
            "dup_ngram_frac"
        ),
        F.round(F.try_divide(top.cast("double"), n_gram), 6).alias(
            "top_ngram_frac"
        ),
    )


def corpus_mix(
    df: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """Data-mixing dashboard: per-``by`` document/token counts, token
    share of the corpus, and the mix's Shannon entropy in bits (how
    evenly the token mass spreads across sources — the number a
    training-mix rebalance moves; log2(n_groups) = uniform).

    One partial-agg groupBy(by) over a 2-column pruned scan; the total
    and the entropy are broadcast 1-row frames (never a global window).
    The tiny grouped frame is localCheckpoint'd so its two consumers
    (share projection, entropy fold) cannot re-scan the source.
    Determinism (cross-engine value-hash): shares are ratios of exact
    BIGINTs rounded to 6 dp; entropy terms are computed FROM the
    rounded shares, rounded to 7 dp, and summed in decimal(21,7) —
    exact and order-independent, so libm log2 ULP and fold order can
    never flip the 6 dp output (the embedding_health pattern)."""
    tok = (
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.expr(f"size({_tokens(text_col)})"))
        .cast("bigint")
    )
    g = (
        df.groupBy(by)
        .agg(F.count(F.lit(1)).alias("docs"), F.sum(tok).alias("tokens"))
        .localCheckpoint(eager=False)
    )
    tot = g.agg(F.sum("tokens").cast("double").alias("_t"))
    s = g.crossJoin(F.broadcast(tot)).select(
        by,
        "docs",
        "tokens",
        F.round(F.col("tokens") / F.col("_t"), 6).alias("token_share"),
    )
    term = F.round(
        F.col("token_share") * F.log2("token_share"), 7
    ).cast("decimal(21,7)")
    ent = (
        s.filter(F.col("token_share") > 0)
        .agg(
            F.round(-F.sum(term).cast("double"), 6).alias("mix_entropy_bits")
        )
    )
    return s.crossJoin(F.broadcast(ent))


def lang_mismatch_audit(
    df: DataFrame,
    by: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Declared-language vs detected-language QA per (``by``, declared
    lang): the crawl-metadata audit — a source whose declared ``lang``
    tag disagrees with the stopword-vote detector (:func:`lang_id_col`)
    at a high rate has broken upstream labeling (wrong HTTP headers,
    template-page contamination), and a lang-stratified mix built on
    the declared tag inherits the error.

    One scan → partial-agg groupBy(by, lang, lang_pred) — the exchange
    carries at most ``|by| × |langs|²`` fixed-width rows, never text.
    The tiny grouped frame is localCheckpoint'd for its two consumers:
    per-(by, lang) totals + mismatch mass, and the most common wrong
    prediction via a row_number over the SAME bounded frame (count
    DESC, lang_pred ASC tie-break — deterministic cross-engine).
    ``IS DISTINCT FROM`` mismatch semantics so a NULL prediction or a
    NULL declared tag counts as a mismatch rather than vanishing;
    groups with zero mismatches carry NULL top_mispred. mismatch_rate
    is a ratio of exact BIGINTs rounded 6 dp (corpus_mix pattern)."""
    from pyspark.sql import Window

    g = (
        df.select(
            F.col(by),
            F.col(lang_col).alias("lang"),
            lang_id_col(text_col).alias("lang_pred"),
        )
        .groupBy(by, "lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    mismatch = F.expr("lang_pred is distinct from lang")
    tot = g.groupBy(by, "lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(mismatch, F.col("n")).otherwise(F.lit(0))).alias(
            "n_mismatch"
        ),
    )
    w = Window.partitionBy(by, "lang").orderBy(
        F.desc("n"), F.asc("lang_pred")
    )
    top = (
        g.filter(mismatch)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            by,
            "lang",
            F.col("lang_pred").alias("top_mispred"),
            F.col("n").alias("top_mispred_n"),
        )
    )
    # null-safe on lang: a NULL declared tag is a real group and must
    # keep its top-misprediction leg
    cond = (tot[by] == top[by]) & tot["lang"].eqNullSafe(top["lang"])
    return tot.join(top, cond, "left").select(
        tot[by],
        tot["lang"],
        "n_docs",
        "n_mismatch",
        F.round(F.col("n_mismatch") / F.col("n_docs"), 6).alias(
            "mismatch_rate"
        ),
        "top_mispred",
        "top_mispred_n",
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Rule-based document quality filter in the style of the public
    Gopher heuristics (Rae et al. 2021, "Scaling Language Models"
    appendix A1.1): hard per-document rules instead of X9's soft score,
    each emitted as its own flag so a curation run can report WHY mass
    was dropped (the reason ledger drives threshold tuning).

    Rules (all whitespace-token based, thresholds parameterized):
    word count in [min_words, max_words]; mean word length in
    [min_mean_word_len, max_mean_word_len]; symbol-token ratio
    (``#``/``...`` tokens) <= max_symbol_ratio; fraction of words
    containing an alphabetic character >= min_alpha_frac; at least
    min_stopword_hits English stopword occurrences. NULL text fails
    every rule.

    Pure single-projection column algebra over a 2-column pruned scan
    — whole-stage codegen, ZERO shuffle (plan-pinned), composes into
    any existing scan for free. Ratios compared as ``count <= ratio *
    n`` in double — both engines evaluate the identical expression on
    identical integers, and the OUTPUT is boolean, so no float ever
    reaches the value hash (the flags are ULP-robust unless a corpus
    value lands exactly on a threshold, which integer counts vs .0/.1
    literals cannot)."""
    tok = _tokens(text_col)
    n = F.expr(f"size({tok})").cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast(
        "bigint"
    )
    symbols = F.expr(
        f"size(filter({tok}, t -> t = '#' or t = '...'))"
    ).cast("bigint")
    alpha = F.expr(
        f"size(filter({tok}, t -> t rlike '[a-z]'))"
    ).cast("bigint")
    stops = F.expr(_stop_hits(text_col, STOPWORDS["en"])).cast("bigint")
    flags = {
        "ok_word_count": (n >= min_words) & (n <= max_words),
        "ok_mean_word_len": (
            nonspace >= F.lit(float(min_mean_word_len)) * n
        )
        & (nonspace <= F.lit(float(max_mean_word_len)) * n),
        "ok_symbol_ratio": symbols
        <= F.lit(float(max_symbol_ratio)) * n,
        "ok_alpha_frac": alpha >= F.lit(float(min_alpha_frac)) * n,
        "ok_stopwords": stops >= min_stopword_hits,
    }
    cols = [
        F.coalesce(expr, F.lit(False)).alias(name)
        for name, expr in flags.items()
    ]
    failed = sum(
        (F.when(~F.coalesce(expr, F.lit(False)), 1).otherwise(0)
         for expr in flags.values()),
        F.lit(0),
    )
    return df.select(
        F.col(id_col),
        *cols,
        failed.cast("int").alias("n_rules_failed"),
        (failed == 0).alias("keep"),
    )


def tokenizer_fertility(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility table per stratum: characters-per-token and
    bytes-per-token for BOTH tokenizations the engine uses (whitespace
    words and the regex pre-tokenizer) — the standard screen before
    committing a corpus mix to a tokenizer budget (a language whose
    bytes/token runs 2-3x the corpus mean pays that multiple in
    sequence length; Scao et al. 2022 'BLOOM' §3.1 tokenizer fertility
    analysis is the public shape of this table).

    One partial-agg scan: all six aggregates are sums of per-row ints,
    so the exchange carries |strata| tiny rows and the ratios are
    divisions of exact longs — bit-deterministic at any parallelism
    and SQL-replayable. NULL texts count as zero-token docs (they
    surface in n_docs but add nothing to the sums)."""
    n_ws = F.expr(f"size(filter({_tokens(text_col)}, t -> t <> ''))")
    n_re = token_count_col(text_col)
    aggs = (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.length(text_col), F.lit(0))).alias("chars"),
            F.sum(
                F.coalesce(F.octet_length(text_col), F.lit(0))
            ).alias("bytes"),
            F.sum(
                F.coalesce(n_ws, F.lit(0)).cast("bigint")
            ).alias("ws_tokens"),
            F.sum(F.coalesce(n_re, F.lit(0))).alias("re_tokens"),
        )
    )
    tok = F.col("ws_tokens")
    rtk = F.col("re_tokens")
    return aggs.select(
        *group_cols,
        "n_docs",
        "chars",
        "bytes",
        "ws_tokens",
        "re_tokens",
        F.when(tok > 0, F.round(F.col("chars") / tok, 6)).alias(
            "chars_per_ws_token"
        ),
        F.when(tok > 0, F.round(F.col("bytes") / tok, 6)).alias(
            "bytes_per_ws_token"
        ),
        F.when(rtk > 0, F.round(F.col("chars") / rtk, 6)).alias(
            "chars_per_re_token"
        ),
    )


# Frozen linear quality-filter weights (the fastText/CCNet quality
# classifier step with the model baked as literals — the engine
# contract here is the INFERENCE plumbing: feature extraction + scoring
# as one scan of pure column algebra; swap in trained weights without
# changing the query shape). Features, in weight order:
#   f0 = min(n_tokens, 400) / 400       (length, saturating)
#   f1 = avg_token_len / 10             (word-shape)
#   f2 = stopword_ratio                 (English-likeness)
#   f3 = nonalpha fraction              (symbol noise, negative signal)
QUALITY_W = (1.25, 0.8, 2.0, -3.0)
QUALITY_B = -1.1


def quality_logit_cols(text_col: str = "text") -> list[Column]:
    """Per-row linear quality score: ``logit = w . f + b`` over the
    four frozen features, plus ``keep = logit > 0``. Every feature is a
    ratio of exact integer counts and every term a fixed-order
    multiply-add of literals — bit-deterministic at any parallelism and
    SQL-replayable (no exp/log/sigmoid: the sigmoid is monotone, so
    thresholding the LOGIT is the same decision without the one
    libm-dependent op that could diverge across engines)."""
    tok = _tokens(text_col)
    n_tokens = F.expr(f"size({tok})").cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    n_alpha = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z ]", "")
    )
    f0 = F.least(n_tokens, F.lit(400)).cast("double") / F.lit(400.0)
    f1 = (nonspace.cast("double") / n_tokens) / F.lit(10.0)
    f2 = F.expr(_stop_hits(text_col, STOPWORDS["en"])).cast(
        "double"
    ) / n_tokens
    f3 = n_alpha.cast("double") / F.length(F.col(text_col))
    w0, w1, w2, w3 = QUALITY_W
    logit = (
        F.lit(w0) * f0
        + F.lit(w1) * f1
        + F.lit(w2) * f2
        + F.lit(w3) * f3
        + F.lit(QUALITY_B)
    )
    # empty text guard: f3 divides by length(text), and ANSI mode makes
    # that a job-killing DIVIDE_BY_ZERO — an empty doc is exactly the
    # junk this filter must tolerate. NULL logit, keep = false (a doc
    # with no content never keeps).
    nonempty = F.length(F.col(text_col)) > 0
    return [
        F.when(nonempty, F.round(logit, 6)).alias("quality_logit"),
        F.when(nonempty, logit > 0).otherwise(
            F.when(F.col(text_col).isNotNull(), F.lit(False))
        ).alias("keep"),
    ]


def quality_logit_select(
    df: DataFrame, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """The :func:`quality_logit_cols` outputs with the logit STAGED as a
    child-projection column: the two output columns each embedded their
    own copy of the whole feature tree (tokenize + two regexp_replace +
    the stopword filter), and codegen CSE does not reach inside the
    higher-order filter — measured 2x the per-row work. Here the
    (empty-guarded, unrounded) logit is computed once and both outputs
    derive from the attribute; every leaf expression and guard is
    unchanged, so the values are bit-identical."""
    staged = df.select(
        *id_cols, F.col(text_col), F.expr(_tokens(text_col)).alias("_tk")
    )
    n_tokens = F.expr("size(_tk)").cast("bigint")
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    n_alpha = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z ]", "")
    )
    f0 = F.least(n_tokens, F.lit(400)).cast("double") / F.lit(400.0)
    f1 = (nonspace.cast("double") / n_tokens) / F.lit(10.0)
    f2 = F.expr(_stop_hits_arr("_tk", STOPWORDS["en"])).cast(
        "double"
    ) / n_tokens
    f3 = n_alpha.cast("double") / F.length(F.col(text_col))
    w0, w1, w2, w3 = QUALITY_W
    logit = (
        F.lit(w0) * f0
        + F.lit(w1) * f1
        + F.lit(w2) * f2
        + F.lit(w3) * f3
        + F.lit(QUALITY_B)
    )
    nonempty = F.length(F.col(text_col)) > 0
    staged = staged.select(
        *id_cols,
        F.col(text_col),
        F.when(nonempty, logit).alias("_lg"),
    )
    return staged.select(
        *id_cols,
        F.round(F.col("_lg"), 6).alias("quality_logit"),
        F.when(nonempty, F.col("_lg") > 0)
        .otherwise(F.when(F.col(text_col).isNotNull(), F.lit(False)))
        .alias("keep"),
    )


def unicode_sanity_cols(text_col: str = "text") -> list[Column]:
    """Per-row mojibake/encoding-damage signals — the crawl-quality
    screens that run before any language or content filter:

    - ``n_control``    C0 control characters other than tab/newline/CR
                       (binary junk, broken extractors)
    - ``n_replacement`` U+FFFD replacement characters (the decoder
                       already lost bytes upstream)
    - ``n_zero_width`` zero-width space/joiner/non-joiner + BOM-as-text
                       (invisible text, SEO spam, copy-paste damage)
    - ``nonascii_ratio`` fraction of non-ASCII characters, 6 dp — not a
                       defect by itself (most languages are non-ASCII),
                       but a step change per source is an upstream
                       pipeline change

    Pure column algebra over fixed character classes (identical regex
    semantics in Spark and DuckDB — simple classes, no flags), one
    scan, zero shuffle; compose with Check/MetricBound for
    enforcement."""
    t = F.col(text_col)
    n_chars = F.length(t)
    ctl = F.regexp_count(
        t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    ).cast("bigint")
    # the character classes are built from python \u escapes so the
    # literal regex string is identical in Spark and any SQL replay
    rep = F.regexp_count(t, F.lit("\ufffd")).cast("bigint")
    zw = F.regexp_count(
        t, F.lit("[\u200b\u200c\u200d\ufeff]")
    ).cast("bigint")
    nonascii = n_chars - F.regexp_count(t, F.lit("[\\x00-\\x7F]")).cast(
        "bigint"
    )
    return [
        ctl.alias("n_control"),
        rep.alias("n_replacement"),
        zw.alias("n_zero_width"),
        F.when(
            n_chars > 0, F.round(nonascii.cast("double") / n_chars, 6)
        ).alias("nonascii_ratio"),
    ]
