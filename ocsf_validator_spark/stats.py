"""Single-pass bucketed column statistics.

The reference makes ≥10 full passes over the store, one per validator
(reference runner.py:281-353 each calling reader.apply). The headline
redesign (SURVEY.md §4) is ONE fused aggregation job that computes every
per-column statistic in a single scan:

    df.withColumn(bucket, pmod(xxhash64(conv_id), NB))
      .groupBy(bucket).agg(<all stats at once>)

The bucket is the verdict/checkpoint partition key (north star's
"conv_id-hash-bucket"). Because groupBy does map-side partial
aggregation, the shuffle carries NB rows per input partition regardless
of data volume — at 10^12 turns the shuffle stays tiny.

Per-conversation checks use a TWO-LEVEL salted aggregation
(groupBy(conv_id, salt) partial → groupBy(conv_id) final) so a single
pathological conversation with 10^8 turns cannot strand one reducer.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import local_df, one_task

DEFAULT_BUCKETS = 64


def bucket_col(conv_col: str = "conv_id", num_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(num_buckets)).cast("int")


def md5_bucket_col(conv_col: str = "conv_id", num_buckets: int = DEFAULT_BUCKETS):
    """Portable bucket function: pmod(int(md5[:8]), NB). Slower than
    xxhash64 but reproducible in any engine (DuckDB, Trino, ...) — used
    when verdicts must be cross-checked against an external oracle."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(conv_col).cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(num_buckets),
    ).cast("int")


def column_stats(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    conv_col: str = "conv_id",
    num_buckets: int = DEFAULT_BUCKETS,
    length_cols: Sequence[str] = ("text",),
    ts_cols: Sequence[str] = ("ts",),
    exact_distinct: bool = False,
) -> DataFrame:
    """One row per bucket, all per-column stats as columns:
    row count, per-column null count, approx distinct (HLL), min/max,
    and avg/min/max length for string columns. Everything is a partial-
    aggregatable expression → single shuffle of NB tiny rows.

    ``exact_distinct`` swaps HLL for exact count_distinct (columns named
    ``{c}__distinct``) — used when cross-checking against an external
    oracle; the HLL default is the at-scale path."""
    columns = list(columns or df.columns)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__approx_distinct"))
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    for c in length_cols:
        if c in columns:
            aggs.append(F.avg(F.length(c)).alias(f"{c}__len_avg"))
            aggs.append(F.min(F.length(c)).alias(f"{c}__len_min"))
            aggs.append(F.max(F.length(c)).alias(f"{c}__len_max"))
    return (
        df.withColumn("bucket", bucket_col(conv_col, num_buckets))
        .groupBy("bucket")
        .agg(*aggs)
    )


def bucketed_probe_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    num_buckets: int = DEFAULT_BUCKETS,
    max_aggs: dict | None = None,
    probe_floor: int | None = 1_000_000,
    merge_aggs: dict | None = None,
) -> DataFrame:
    """Per-bucket row counts + piggybacked flag observations + the SKEW
    PROBE, all in ONE scan of the input — a two-level aggregation:

      level 1: groupBy(conv_id) → per-conversation row count plus the
               caller's ``max_aggs`` (map-side combine, so the shuffle
               carries ~n_convs tiny rows, not n_rows);
      level 2: groupBy(bucket)  → sum the counts, re-max the flags, and
               collect the conversations whose count reaches
               ``probe_floor`` as (n, conv) structs.

    This replaces the runner's former THIRD full scan (a separate
    groupBy(conv).count() probe, 12-15% of every flagship run): the skew
    candidates now ride the stats job. ``probe_floor`` is a static lower
    bound for candidacy (the runner's final threshold is
    max(1_000_000, 4·n_rows/shuffle_partitions) ≥ 1_000_000, so a 1M
    floor collects a superset and the exact cut happens driver-side on
    the already-bounded list — at most n_rows/probe_floor structs total).
    ``probe_floor=None`` skips the probe column.

    ``max_aggs`` ({alias: aggregate Column}) MUST be max-mergeable
    scalars (level 2 re-aggregates each alias with ``max``): e.g. the
    runner's enum-coverage probes are one ``max(when(col == v, 1), 0)``
    int flag PER ENUM VALUE. Flag columns — never collect_set — because
    any object-typed aggregate (collect_set/collect_list) forces
    ObjectHashAggregateExec at level 1, which falls back to SORT-BASED
    aggregation past spark.sql.objectHashAggregate.sortBased.
    fallbackThreshold (default 128) groups: with millions of
    conversation groups that turns the stats scan into a full dataset
    sort (measured 25s → 175s on 64M rows at local[2]). The level-2
    probe collect_list is safe: level 2 sees one row per conversation
    (~n_rows/20), grouped into NB buckets.

    Output: (bucket int, n_rows long, <max_aggs aliases...>,
    _skew array<struct<n:long, conv>> sorted desc) — one row per bucket.

    Both levels run in the scan's task, without an exchange, when
    ``localframe.one_task(df)`` holds: they aggregate
    ``df.coalesce(1)``, whose ``SinglePartition`` satisfies both
    groupings, so the collect runs 1 job where the exchange route runs
    3 (level 1's exchange, level 2's, then the final aggregate).
    """
    max_aggs = max_aggs or {}
    # merge_aggs ({alias: (aggregate Column, merge)} with merge in
    # {"sum", "min", "max"}): piggybacked aggregates whose level-2
    # re-aggregation is NOT max — e.g. MetricBound's per-column null
    # counts (sum-merge) and extrema (min/max-merge) ride the same
    # two-level scan, so declared metric thresholds cost the flagship
    # run ZERO extra jobs. Same pure-codegen discipline as max_aggs.
    merge_aggs = merge_aggs or {}
    _MERGE = {"sum": F.sum, "min": F.min, "max": F.max}
    if one_task(df):
        df = df.coalesce(1)
    l1 = df.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[e.alias(a) for a, e in max_aggs.items()],
        *[e.alias(a) for a, (e, _) in merge_aggs.items()],
    )
    aggs = [F.sum("_n").alias("n_rows")]
    for a in max_aggs:
        aggs.append(F.max(a).alias(a))
    for a, (_, how) in merge_aggs.items():
        aggs.append(_MERGE[how](a).alias(a))
    if probe_floor is not None:
        aggs.append(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_n") >= F.lit(int(probe_floor)),
                        F.struct(
                            F.col("_n").alias("n"),
                            F.col(conv_col).alias("conv"),
                        ),
                    )
                ),
                asc=False,
            ).alias("_skew")
        )
    return (
        l1.withColumn("bucket", bucket_col(conv_col, num_buckets))
        .groupBy("bucket")
        .agg(*aggs)
    )


def overall_stats(df: DataFrame, **kw) -> DataFrame:
    """Same stats, one global row (bucket = -1)."""
    out = column_stats(df.withColumn("__one", F.lit(1)), conv_col="__one", num_buckets=1, **{k: v for k, v in kw.items() if k != "conv_col"})
    return out.withColumn("bucket", F.lit(-1))


def length_histogram(
    df: DataFrame, column: str = "text", bin_width: int = 16
) -> DataFrame:
    """Fixed-width length histogram: (bin int, bin_lo int, cnt long).
    Fixed bins (not percentile-based) so histograms from different
    samples/snapshots are directly comparable for PSI."""
    return (
        df.filter(F.col(column).isNotNull())
        .select(F.floor(F.length(column) / F.lit(bin_width)).cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("bin", (F.col("bin") * bin_width).alias("bin_lo"), "cnt")
    )


def column_topk_values(
    df: DataFrame, columns: Sequence[str], k: int = 5
) -> DataFrame:
    """Per-column top-k most frequent values — the Deequ
    Histogram / frequent-items profile and the mode-collapse signal (a
    categorical column whose top value's ``share`` approaches 1 is
    constant or collapsing; an enum column sprouting a new frequent
    value is upstream drift). Returns (col, rank, value, cnt, share),
    rank 1..k by (cnt DESC, hash ASC), share = cnt / column non-null
    count rounded 6 dp. Values compare as their ``cast(string)`` form;
    NULLs are excluded (the null_rate stat owns them).

    Scale shape (the ngram_topk/decontam discipline): melt to
    (col, value) map-side, count on (col, 60-bit md5-prefix hash) — the
    exchange carries 8-byte ints, never value strings, and partial agg
    collapses it to |distinct|. The ranking is ``row_number() OVER
    (PARTITION BY col ORDER BY cnt DESC, h ASC) <= k``, which Catalyst
    plans as ``WindowGroupLimit``: ``Partial`` keeps each counted
    partition's k best hashes per column before the exchange and
    ``Final`` ranks them after it, so no reducer sees a column's whole
    distinct set (the session raises
    ``spark.sql.optimizer.windowGroupLimitThreshold`` so this holds at
    any k). The per-column totals read the same counted exchange, which
    Spark reuses. The k winning STRINGS come back via a bounded second
    pass: a broadcast join of the ranked winners against the melted
    stream, min(value) per hash — value strings cross an exchange only
    for the k×|columns| winners. The md5-prefix hash (not
    xxhash64) because it is the tie-break in the output rank and must
    replay in a SQL oracle. Display capped at 256 chars AFTER counting,
    so long-text columns profile correctly but never put unbounded
    strings in the report."""
    from pyspark.sql import Window

    if not columns:
        return local_df(df.sparkSession, 
            [],
            "col string, rank int, value string, cnt bigint, share double",
        )
    melted = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(c).cast("string").alias("val"),
                        )
                        for c in columns
                    ]
                )
            ).alias("cv")
        )
        .select("cv.col", "cv.val")
        .filter(F.col("val").isNotNull())
        .withColumn(
            "h",
            F.expr("cast(conv(substring(md5(val), 1, 15), 16, 10) as bigint)"),
        )
    )
    counted = melted.groupBy("col", "h").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counted.groupBy("col").agg(F.sum("cnt").alias("total"))
    w = Window.partitionBy("col").orderBy(F.col("cnt").desc(), F.col("h").asc())
    tops = counted.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return (
        melted.join(F.broadcast(tops), ["col", "h"])
        .groupBy("col", "h", "rank", "cnt")
        .agg(F.min("val").alias("_value"))
        .join(totals, "col")
        .select(
            "col",
            "rank",
            F.substring(F.col("_value"), 1, 256).alias("value"),
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        )
    )


def conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    salt_buckets: int = 32,
) -> DataFrame:
    """Per-conversation summary via two-level SALTED aggregation — the
    scalable (no-window) formulation of the ordering checks: a
    conversation is dense-ordered iff
        n_turns == n_distinct_turns == max_idx - min_idx + 1 and min_idx == 0.

    Level 1 groups by (conv_id, salt) so a skewed conversation's rows
    spread over ``salt_buckets`` reducers; level 2 merges the partials
    per conversation. distinct-turn counting is made salt-safe by
    deriving the salt FROM turn_idx (identical turn_idx values land in
    the same salt bucket, so partial distinct counts add exactly)."""
    salt = F.pmod(F.xxhash64(F.col(idx_col)), F.lit(salt_buckets))
    partial = (
        df.select(conv_col, idx_col)
        .withColumn("_salt", salt)
        .groupBy(conv_col, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(F.col(idx_col)).alias("_nd"),
            F.min(idx_col).alias("_min"),
            F.max(idx_col).alias("_max"),
        )
    )
    return (
        partial.groupBy(conv_col)
        .agg(
            F.sum("_n").alias("n_turns"),
            F.sum("_nd").alias("n_distinct_turns"),
            F.min("_min").alias("min_idx"),
            F.max("_max").alias("max_idx"),
        )
        .withColumn(
            "dense_ordered",
            (F.col("min_idx") == 0)
            & (F.col("n_turns") == F.col("n_distinct_turns"))
            & (F.col("max_idx") - F.col("min_idx") + 1 == F.col("n_turns")),
        )
    )


def role_transitions(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Conversation-structure analytics: the corpus role→next-role
    transition matrix with counts and fractions — the agent-transcript
    health dashboard (assistant-after-assistant runs, tool calls
    without a following tool result, user→user double-sends all show
    up as off-diagonal mass).

    ``lead`` over the per-conversation turn order — deterministic
    because (conv_col, order_col) is unique in the transcript contract
    (the Uniqueness constraint validates exactly that upstream). The
    next-row probe leads ``order_col`` (never NULL mid-conversation),
    so transitions INTO a NULL role are kept as real rows while the
    end-of-conversation sentinel is not counted.

    At scale: ONE exchange keyed on conv_col (the engine's standard,
    skew-routable key) for the window, then a partial-agg groupBy on
    the tiny (role, next_role) key space; the total for the fraction is
    a broadcast 1-row frame (the drift.py pattern), never a global
    window. Returns (role, next_role, n, frac) with frac rounded to
    6 dp for cross-engine hash stability.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(conv_col).orderBy(order_col)
    pairs = df.select(
        F.col(role_col).alias("role"),
        F.lead(role_col).over(w).alias("next_role"),
        F.lead(order_col).over(w).alias("_nt"),
    ).filter(F.col("_nt").isNotNull())
    counts = pairs.groupBy("role", "next_role").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "role",
            "next_role",
            "n",
            F.round(F.col("n").cast("double") / F.col("_tot").cast("double"), 6).alias(
                "frac"
            ),
        )
        .orderBy("role", "next_role")
    )


def turn_echo(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation echo profile: how much each turn parrots the
    turn immediately before it — the transcript-QA signal for
    copy-through assistants and template loops (a conversation whose
    turns keep restating the previous message is degenerate training
    data even when every structural constraint passes).

    echo(turn) = |distinct tokens ∩ distinct tokens of the previous
    turn| / |distinct tokens of the turn| — set semantics, so repeating
    one copied word doesn't inflate the score; full_echo counts turns
    whose token SET is contained in the previous turn's (an exact
    integer comparison, no float threshold).

    Plan: ONE conv-keyed window exchange (lag of the text column — the
    same exchange every per-conversation check rides), then map-side
    set algebra per row and a partial-agg groupBy(conv). Determinism:
    per-turn fractions round to 6 dp and accumulate in decimal(21,6)
    (exact, order-independent — the X34 pattern) before the final
    6 dp mean; turns with NULL text or no previous turn are excluded
    from scoring but still counted in n_turns.

    Returns (conv_col, n_turns, turns_scored, avg_echo, max_echo,
    full_echo_turns); conversations with nothing scoreable carry NULL
    avg/max.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(conv_col).orderBy(order_col)
    cur = f"array_distinct(split({text_col}, ' '))"
    lagged = df.select(
        F.col(conv_col),
        F.col(text_col),
        F.lag(text_col).over(w).alias("_prev"),
    )
    inter = "size(array_intersect(_c, _p))"
    scored = lagged.select(
        conv_col,
        F.expr(cur).alias("_c"),
        F.expr("array_distinct(split(_prev, ' '))").alias("_p"),
        F.col(text_col).isNotNull().alias("_has_text"),
    ).select(
        conv_col,
        F.when(
            F.col("_has_text") & F.col("_p").isNotNull(),
            F.round(
                F.expr(inter).cast("double") / F.expr("size(_c)"), 6
            ),
        ).alias("_echo"),
        F.when(
            F.col("_has_text") & F.col("_p").isNotNull(),
            (F.expr(inter) == F.expr("size(_c)")).cast("int"),
        ).alias("_full"),
    )
    return scored.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count("_echo").alias("turns_scored"),
        F.round(
            F.sum(F.col("_echo").cast("decimal(21,6)")).cast("double")
            / F.count("_echo"),
            6,
        ).alias("avg_echo"),
        F.max("_echo").alias("max_echo"),
        F.coalesce(F.sum("_full"), F.lit(0)).cast("bigint").alias(
            "full_echo_turns"
        ),
    )


def loop_detector(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_repeats: int = 3,
) -> DataFrame:
    """Stuck-agent loop detection: a (role, text) turn content that
    recurs ``min_repeats``+ times WITHIN one conversation — the failure
    mode the neighbors miss (turn_echo scores only CONSECUTIVE
    parroting; conv_dedup compares whole conversations; an agent
    retrying the same tool call every third turn slips both). Returns
    one row per (conversation, looped content): ``(conv_id,
    turn_key, n_repeats, first_idx, last_idx, span)`` — ``span``
    (last−first) distinguishes a tight retry loop from a long-range
    template recurrence; ``turn_key`` is the md5 of role|text (the
    content itself stays out of the report and off the wire).

    Shape at scale: project to (conv, order, 128-bit content key)
    map-side — the single partial-agg exchange is keyed on
    (conv, key) and collapses to the conversation's DISTINCT turn
    contents; output is loop-proportional. NULL text never loops
    (a NULL key row is skipped, not grouped)."""
    # explicit NULL sentinel: concat_ws SKIPS nulls while SQL ||
    # propagates them — coalesce on both engines keeps the key identical
    key = F.md5(
        F.concat(
            F.coalesce(F.col(role_col).cast("string"), F.lit("<null>")),
            F.lit("|"),
            F.col(text_col),
        )
    )
    proj = df.filter(F.col(text_col).isNotNull()).select(
        F.col(conv_col),
        F.col(order_col).alias("_o"),
        key.alias("turn_key"),
    )
    return (
        proj.groupBy(conv_col, "turn_key")
        .agg(
            F.count(F.lit(1)).alias("n_repeats"),
            F.min("_o").alias("first_idx"),
            F.max("_o").alias("last_idx"),
        )
        .filter(F.col("n_repeats") >= int(min_repeats))
        .select(
            conv_col,
            "turn_key",
            "n_repeats",
            "first_idx",
            "last_idx",
            (F.col("last_idx") - F.col("first_idx")).alias("span"),
        )
    )
