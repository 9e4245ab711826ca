"""Corpus selection operators for training-data pipelines: corpus-wide
n-gram top-k, deterministic stratified sampling, and token-budget
selection without a global window.

These are the curation steps that sit between the text-analysis pass
(textstats.py) and the dedup pass (dedup.py) in a pretraining pipeline:
count what the corpus says, downsample over-represented strata, and cut
each language to a token budget by quality.

Scale discipline (the 100 TB design point):

- ``ngram_topk``: explode + partial-aggregating groupBy — map-side
  combine absorbs the n-gram explosion before the exchange; the final
  top-k is ``TakeOrderedAndProject`` (per-partition heaps), never a
  global sort.
- ``stratified_sample``: pure map-side filter on an md5-derived hash
  threshold — zero shuffle, deterministic across runs and engines (the
  md5-replay technique shared with dedup.py / similarity.py).
- ``token_budget_select``: the naive formulation is a cumulative-sum
  window partitioned by language — at 100 TB that is one reducer per
  language sorting ~everything (language cardinality is tiny, so the
  exchange is maximally skewed). Instead: a (stratum × quality-bin)
  histogram (one partial-agg scan, driver-side cutoff over a
  strata×bins grid), then a map-side filter keeps the full bins above
  the cutoff and ONLY the boundary bin — ~1/n_bins of one stratum —
  goes through the exact cumulative window. Results are identical to
  the naive window (quality bins are order-compatible with the global
  (quality DESC, id ASC) order), which is what the DuckDB oracle runs.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import empty_df, local_df

from ocsf_validator_spark.pipeline import textstats

# first 8 md5 hex chars as a non-negative bigint in [0, 2^32), shared
# with dedup so the derivation can never drift between the two modules;
# DuckDB replays it exactly: ('0x' || substr(md5(x), 1, 8))::BIGINT
from ocsf_validator_spark.pipeline.dedup import _MD5_HASH as _MD5_32

# 60-bit md5-prefix gram identity, shared with decontam.py so the two
# gram-hash derivations can never drift; DuckDB replays it exactly:
# ('0x' || substr(md5(x), 1, 15))::BIGINT
from ocsf_validator_spark.pipeline.decontam import _MD5_60


def ngram_topk(
    df: DataFrame,
    n: int = 2,
    k: int = 30,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` whitespace word ``n``-grams corpus-wide, with counts.

    Counts are keyed on a 60-bit md5-prefix HASH of each gram, never the
    gram string: an n-gram corpus has a heavy singleton tail that
    defeats map-side partial aggregation, so a groupBy on raw gram
    strings ships ~the whole token stream through the Exchange at scale.
    Hashing first means the count exchange carries fixed-width 8-byte
    ints (the decontam.py membership trick). The final top-k over
    (cnt DESC, hash ASC) is ``TakeOrderedAndProject`` — per-partition
    heaps, no global sort.

    The k winning STRINGS are recovered in a second bounded pass: per
    document, the DISTINCT (hash, gram) pairs are probed against the
    broadcast k-row winner set, and a partial-agg ``min(gram)`` per hash
    (collision-safe deterministic pick) collapses each partition to at
    most k rows before its exchange — gram strings cross only for the k
    winners, never corpus-wide. At 100 TB the corpus is scanned twice,
    which beats a corpus-sized string shuffle by orders of magnitude;
    production persists the tokenized projection between the passes.

    Tie-break note: the top-k SET is selected by (cnt DESC, hash ASC) —
    md5-replayable, so the DuckDB oracle mirrors it exactly — while the
    returned rows are presented (cnt DESC, ngram ASC).

    Documents with fewer than ``n`` tokens contribute nothing (guarded —
    Spark's ``sequence(1, 0)`` would otherwise count DOWN).
    """
    # bind the token array, then the gram array, as REAL columns in
    # stacked projections: subexpressions free inside higher-order
    # lambdas re-evaluate per ELEMENT, so the inline spelling re-split
    # the text O(grams) times per document and array_distinct'ed
    # (hash, string) STRUCTS instead of strings (measured 7.3s → 2.4s
    # at sf0.1; CollapseProject keeps multi-referenced non-trivial
    # aliases materialized). Values unchanged — the oracle replay is
    # identical.
    grams_expr = (
        f"case when size(_tk) >= {n} then "
        f"transform(sequence(1, size(_tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {n}))) "
        f"else array() end"
    )

    def _grams_frame(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.expr(f"split({text_col}, ' ')").alias("_tk")
        ).select(F.expr(grams_expr).alias("_gr"))

    gram_h = _MD5_60.format(x="x")
    counts = (
        _grams_frame(df)
        .select(
            F.explode(F.expr(f"transform(_gr, x -> {gram_h})")).alias("_g")
        )
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("_g").asc())
        .limit(k)
    )
    # recovery pass: per-doc DISTINCT pairs (a pathological document
    # repeating one winner a million times contributes one probe row);
    # distinct the STRINGS first, hash after — never struct-distinct.
    # The broadcast join bounds the probe exchange to winner rows
    # already (map-side join before the min-agg); a literal in-list
    # pre-filter variant was measured this round and REVERTED — it
    # added a job boundary for no exchange saving (+0.2 s same-session
    # A/B at sf0.1).
    pairs = (
        f"transform(array_distinct(_gr), "
        f"x -> struct({gram_h} as _g, x as ngram))"
    )
    probes = (
        _grams_frame(df)
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p._g", "p.ngram")
    )
    return (
        probes.join(F.broadcast(counts), "_g")
        .groupBy("_g", "cnt")
        .agg(F.min("ngram").alias("ngram"))
        .select("ngram", "cnt")
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    )


def stratified_sample(
    df: DataFrame,
    rates: Mapping[str, tuple[int, int]],
    default_rate: tuple[int, int] = (1, 8),
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat0",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    ``md5(stratum|id|salt) % den < num`` for the stratum's
    ``(num, den)`` rate.

    Pure map-side filter — no shuffle, no RNG state, reproducible on
    any engine that can replay md5 (the oracle does), and stable under
    retries/partial re-runs, which per-partition ``rand()`` sampling is
    not. Over-represented strata (the web-crawl English glut) get small
    rates; the map is a literal CASE chain, so Catalyst folds it into
    the scan filter.

    A NULL stratum takes ``default_rate`` (its hash key simply omits
    the stratum component — concat_ws skips NULLs) — the same outcome
    whether or not any named rates are present.
    """
    key = (
        f"concat_ws('|', {strata_col}, cast({id_col} as string), '{salt}')"
    )
    h = F.expr(_MD5_32.format(x=key))
    keep = None
    for stratum, (num, den) in sorted(rates.items()):
        cond = (F.col(strata_col) == stratum) & (h % den < num)
        keep = cond if keep is None else keep | cond
    dnum, dden = default_rate
    others = h % dden < dnum
    if rates:
        # isNull-aware: plain ~isin(...) is NULL for NULL strata, which
        # would silently drop them only when rates is non-empty
        unnamed = F.col(strata_col).isNull() | ~F.col(strata_col).isin(
            *sorted(rates)
        )
        others = unnamed & others
    keep = others if keep is None else keep | others
    return df.filter(keep)


def quality_scored(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Narrow (id, stratum, n_tokens, quality) projection reused by
    token_budget_select's two scans — at scale, persist THIS (a few
    dozen bytes/row) rather than re-reading ``text`` twice, and pass
    it back in with ``pre_scored=True``. Both columns come from
    textstats.quality_cols so there is exactly one tokenizer."""
    qc = textstats.quality_cols(text_col)
    return df.select(
        F.col(id_col),
        F.col(strata_col),
        qc[0],  # n_tokens
        qc[3],  # round(quality, 6)
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    n_bins: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "lang",
    pre_scored: bool = False,
) -> DataFrame:
    """Greedy quality-first token-budget cut per stratum, equal to the
    naive ``SUM(n_tokens) OVER (PARTITION BY stratum ORDER BY quality
    DESC, id ASC) <= budget`` prefix over the scored rows — WITHOUT the
    per-stratum global window. Rows whose text is NULL (no token
    count) are excluded up front; a NULL stratum forms its own
    budgeted partition, exactly as it does under the naive window.

    Stage A (one scan): (stratum, quality-bin) histogram of token
    sums — map-side partial agg, the exchange carries strata×n_bins
    rows. Stage B (driver, tiny): walk each stratum's bins from the top
    until the budget overflows; bins above the cutoff are kept whole,
    the remaining budget is what the cutoff bin may spend. Stage C (one
    scan): map-side filter keeps the full bins with NO shuffle; only
    the boundary bin's rows — ~1/n_bins of one stratum — are exchanged
    for the exact cumulative window. Because every quality in bin b+1
    exceeds every quality in bin b (floor is monotone), bin-prefix +
    exact-boundary-prefix IS the global prefix.

    The scored projection is read twice (stage A and stage C). In
    production — where ``text`` dominates the input — persist it once
    and hand it back in: ``s = quality_scored(df).persist()`` then
    ``token_budget_select(s, ..., pre_scored=True)``, unpersisting when
    the result is materialized. Keeping the persistence caller-side
    avoids leaking cached blocks this function could never safely
    release (its output is lazy).

    Boundary-bin sizing: the exact window sees ~1/n_bins of one
    stratum, all routed to that stratum's single reducer. If that is
    still too large at the deployment scale, raise ``n_bins`` (the
    histogram is strata x n_bins rows — driver-trivial up to ~10^5
    bins), or apply the same histogram cutoff recursively to the
    boundary bin: re-bin ONLY its rows on a finer quality grid and
    window the sub-boundary. quality has 6 decimal places, so
    recursion bottoms out at exact-quality ties ordered by id.
    """
    scored = (
        df if pre_scored else quality_scored(df, text_col, id_col, strata_col)
    )
    # NULL text scores NULL on both axes — no token count means no
    # place in a token budget (the naive window would thread NULL
    # n_tokens through its running sum with order-dependent results;
    # excluding them is the only coherent semantics)
    scored = scored.filter(F.col("n_tokens").isNotNull())
    binc = F.least(
        F.floor(F.col("quality") * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    scored = scored.select("*", binc.alias("_bin"))
    hist = (
        scored.groupBy(strata_col, "_bin")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    )
    per: dict = {}  # stratum (possibly None) -> {bin: token sum}
    for r in hist:
        per.setdefault(r[strata_col], {})[r["_bin"]] = r["toks"]
    keep_above: dict = {}   # bins STRICTLY above are kept whole
    remaining: dict = {}    # boundary bin's budget
    for stratum, bins in per.items():
        cum = 0
        cut = None
        for b in sorted(bins, reverse=True):
            if cum + bins[b] > budget:
                cut = b
                break
            cum += bins[b]
        if cut is None:
            keep_above[stratum] = -1            # everything fits
            remaining[stratum] = 0
        else:
            keep_above[stratum] = cut
            remaining[stratum] = budget - cum
    cut_expr = F.lit(None).cast("int")
    rem_expr = F.lit(0).cast("bigint")
    for stratum in sorted(keep_above, key=lambda s: (s is None, s or "")):
        # a NULL stratum is addressed by isNull — == never matches it
        cond = (
            F.col(strata_col).isNull()
            if stratum is None
            else F.col(strata_col) == stratum
        )
        cut_expr = F.when(cond, F.lit(keep_above[stratum])).otherwise(
            cut_expr
        )
        rem_expr = F.when(cond, F.lit(remaining[stratum])).otherwise(
            rem_expr
        )
    staged = scored.select("*", cut_expr.alias("_cut"), rem_expr.alias("_rem"))
    out_cols = [id_col, strata_col, "n_tokens", "quality"]
    whole = staged.filter(F.col("_bin") > F.col("_cut")).select(*out_cols)
    w = Window.partitionBy(strata_col).orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    boundary = (
        staged.filter(F.col("_bin") == F.col("_cut"))
        .select(*out_cols, F.col("_rem"))
        .select(
            *out_cols, "_rem",
            F.sum("n_tokens").over(w).alias("_cum"),
        )
        .filter(F.col("_cum") <= F.col("_rem"))
        .select(*out_cols)
    )
    return whole.unionByName(boundary)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ws0",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: ``k`` rows
    drawn with probability proportional to ``weight_col`` — the data-
    mixing selection step (sample a corpus slice by quality weight,
    upweight rare sources) where the stratified sampler's fixed
    per-stratum rates are too coarse.

    Efraimidis–Spirakis A-Res one-pass reservoir scheme: each row gets
    key ``-ln(u)/w`` (the exponential-draw spelling of ``u^(1/w)``,
    monotone-reversed and overflow-free), the ``k`` SMALLEST keys win.
    ``u`` is NOT an RNG draw — it is md5-derived from ``(id, salt)``
    like stratified_sample's threshold, so the draw is reproducible
    across runs, retries, partitionings, and engines (the DuckDB oracle
    replays it bit-for-bit). The key is rounded to 6 dp with ``id_col``
    as tie-break, so a sub-rounding libm ``ln`` ULP difference cannot
    flip ranks cross-engine (the tfidf trick); the rounding perturbs
    the ideal real-number draw only at the 1e-6 key margin, far below
    the sampling noise floor. The negated spelling is also what keeps
    the key strictly positive — a near-zero NEGATIVE key would round to
    ``-0.0`` on some engines and ``0.0`` on others, a representation
    mismatch that is invisible to the ordering but not to a value hash.

    At scale: one column-pruned scan, key math in the row path is one
    md5 + one ln, and the top-k is ``TakeOrderedAndProject`` —
    per-partition heaps merged on the driver, NO shuffle of the table.

    Rows with NULL ids or NULL/non-positive weights never win (weight 0
    must have probability 0; the guard also keeps ``ln(u)/w`` finite).
    Returns (id_col, weight, sample_key), the k winners.
    """
    h = _MD5_60.format(
        x=f"concat(cast(`{id_col}` as string), '|', '{salt}')"
    )
    # h+1 in [1, 2^60] over 2^60+1 -> u in (0, 1) exclusive both ends
    u = f"(({h}) + 1) / 1152921504606846977e0"
    w = F.col(weight_col).cast("double")
    return (
        df.filter(F.col(id_col).isNotNull() & w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            w.alias("weight"),
            F.round(-F.expr(f"ln({u})") / w, 6).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ws0",
) -> DataFrame:
    """Per-stratum deterministic weighted sampling: ``k`` winners per
    group (language, source) drawn with probability ∝ weight within
    each group — the data-mixing shape (sample each source's slice
    independently) :func:`weighted_sample_topk`'s single global draw
    cannot express. Same md5-derived Efraimidis–Spirakis keys, so the
    draw stays reproducible across runs, partitionings, and engines.

    The body is ``row_number() OVER (PARTITION BY group ORDER BY
    sample_key, id) <= k``. A bare window would funnel EVERY row of a
    hot group through one reducer (group cardinality is tiny, so the
    exchange is maximally skewed), but Catalyst plans the filtered
    window as ``WindowGroupLimit``: ``Partial`` keeps each input
    partition's k smallest keys per group before the exchange, so the
    shuffle carries at most k x partitions rows per group, and
    ``Final`` ranks that set after it. The session raises
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000,
    above which Spark drops the ``Partial`` stage) to the int maximum,
    so the bound holds at any k. NaN weights pass the ``w > 0`` guard
    (NaN sorts above every number) and their NaN keys rank last.
    Returns (group_col, id_col, weight, sample_key), the per-group
    winners.
    """
    h = _MD5_60.format(
        x=f"concat(cast(`{id_col}` as string), '|', '{salt}')"
    )
    u = f"(({h}) + 1) / 1152921504606846977e0"
    w = F.col(weight_col).cast("double")
    rank = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.col("sample_key").asc(), F.col(id_col).asc()
        )
    )
    return (
        df.filter(
            F.col(id_col).isNotNull()
            & F.col(group_col).isNotNull()
            & w.isNotNull()
            & (w > 0)
        )
        .select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col),
            w.alias("weight"),
            F.round(-F.expr(f"ln({u})") / w, 6).alias("sample_key"),
        )
        .withColumn("_rk", rank)
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def itemset_pairs(
    df: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: int = 2,
) -> DataFrame:
    """Frequent item PAIRS with support and lift — the market-basket
    first rung (which event types co-occur in the same user's history
    beyond what their solo frequencies predict; on transcripts, which
    tools co-fire in one conversation). Pairs only — the useful 90% of
    FP-growth at a fraction of its machinery, and the building block a
    higher-order miner would consume.

    Plan: ONE basket-keyed exchange — groupBy(basket) with map-side
    partial ``collect_set(item)`` (state bounded by the item-domain
    size, not the basket's event count) — then the X53 map-side sorted
    set expansion into ordered pairs (never a self-join of the event
    stream) and a partial agg on the tiny (item_a, item_b) key space.
    Per-item basket counts ride the same checkpointed sets frame; the
    lift denominator (total baskets) broadcasts as a 1-row frame.

    lift = support·N / (n_a·n_b) rounded 6 dp from the identical
    double expression tree both engines evaluate. NULL baskets/items
    excluded; pairs under ``min_support`` dropped.

    Returns (item_a, item_b, support, n_a, n_b, lift), item_a < item_b.
    """
    sets = (
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(F.col(basket_col).alias("_b"))
        .agg(F.array_sort(F.collect_set(item_col)).alias("_set"))
        .localCheckpoint(eager=False)
    )
    totals = sets.agg(F.count(F.lit(1)).cast("double").alias("_N"))
    items = (
        sets.select(F.explode("_set").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expand = (
        "flatten(transform(_set, (x, i) -> "
        "transform(slice(_set, i + 2, size(_set)), "
        "y -> named_struct('a', x, 'b', y))))"
    )
    pairs = (
        sets.select(F.explode(F.expr(expand)).alias("p"))
        .groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    na = items.select(F.col("item").alias("item_a"), F.col("n").alias("n_a"))
    nb = items.select(F.col("item").alias("item_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "support",
            "n_a",
            "n_b",
            F.round(
                F.expr(
                    "(cast(support as double) * _N) / "
                    "(cast(n_a as double) * cast(n_b as double))"
                ),
                6,
            ).alias("lift"),
        )
    )


def mix_to_weights(
    df: DataFrame,
    weights: Mapping[str, int],
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix0",
) -> DataFrame:
    """Corpus mixing to TARGET WEIGHTS (the Pile/ROOTS rebalancing
    shape): sample each named source so the kept corpus approximates
    ``budget_tokens`` total whitespace tokens split across sources in
    proportion to integer ``weights``. Sources not named are dropped —
    the target mix defines the corpus.

    Exactness contract: each source's keep rate is the RATIONAL
    ``(w_s * budget) / (W_total * avail_s)`` (capped at 1), applied as
    ``md5_32(group|id|salt) < floor(num * 2^32 / den)`` with the
    threshold computed in exact big-integer arithmetic — no float ever
    enters the keep decision, so the sample is bit-identical at any
    parallelism AND replayable by any engine with 128-bit integers
    (the DuckDB oracle uses HUGEINT). Same determinism rationale as
    stratified_sample's (num, den) rates; rates here are DERIVED from
    the declared mix instead of hand-picked.

    Scale shape: ONE partial-agg scan for per-source token counts
    (|sources| rows to the driver), then a pure map-side filter — no
    shuffle, no RNG state, stable under retries. Under-provisioned
    sources (avail < target share) keep everything; re-normalizing the
    shortfall across the rest is a driver-side policy loop the caller
    can run on the returned counts (documented, not hidden here).
    """
    if budget_tokens <= 0 or not weights:
        raise ValueError("budget_tokens must be > 0 and weights non-empty")
    w_total = sum(int(w) for w in weights.values())
    if w_total <= 0 or any(int(w) <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers")
    toks = F.expr(
        f"size(filter(split({text_col}, ' '), t -> t <> ''))"
    ).cast("bigint")
    avail = {
        r["g"]: int(r["toks"])
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(F.coalesce(toks, F.lit(0))).alias("toks"))
        .collect()
        if r["g"] in weights and r["toks"]
    }
    keep = None
    for s in sorted(weights):
        a = avail.get(s)
        if not a:
            continue  # absent/empty source: nothing to keep
        num = int(weights[s]) * int(budget_tokens)
        den = w_total * a
        # exact big-int threshold on the 32-bit md5 fraction; rate >= 1
        # keeps the whole source (threshold saturates past the hash max)
        t = (num * (1 << 32)) // den if num < den else (1 << 32)
        key = (
            f"concat_ws('|', {group_col}, cast({id_col} as string), "
            f"'{salt}')"
        )
        cond = (F.col(group_col) == s) & (
            F.expr(_MD5_32.format(x=key)) < F.lit(t)
        )
        keep = cond if keep is None else keep | cond
    if keep is None:
        return df.filter(F.lit(False))
    return df.filter(keep)
