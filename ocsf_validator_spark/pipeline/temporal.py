"""Temporal operators Spark's join surface lacks natively: as-of join,
interval (range) join, and a hypertable-style time rollup.

These are the time-series companions to the validation suite: align
each fact row with the most recent dimension state (as-of), attribute
facts to overlapping windows (range join), and maintain the
multi-granularity aggregates a hypertable would (rollup). The reference
engine has no temporal surface (it is a schema linter); these extend
the engine brief's pipeline operators the same way dedup/similarity do.

Scale discipline (the 100 TB design point):

- ``asof_join``: the naive formulation is a theta-join
  (``l.key = r.key AND r.ts <= l.ts`` + a per-left-row max) — Spark
  plans that as BroadcastNestedLoop or a sort-merge with a quadratic
  per-key tail. Instead both sides are UNIONED and a single
  ``last_value(payload, ignorenulls) OVER (PARTITION BY key ORDER BY
  ts, side)`` window carries the latest right payload forward to each
  left row: ONE exchange on the key, one per-partition sort, linear in
  rows. This is the standard distributed as-of formulation (Flink
  temporal join / kdb aj re-expressed as a Spark window).
- ``range_join``: a pure interval predicate is a cartesian in disguise
  — Spark will nested-loop it. Bucketize time: each interval explodes
  to the coarse buckets it covers (bounded by ``bucket_width``), each
  point lands in exactly ONE bucket, the bucket becomes an equi-join
  key (shuffle-hash/sort-merge, time-uniform so well balanced), and
  the exact predicate filters inside the bucket. Each qualifying pair
  is produced exactly once — no post-dedup — because the point side is
  never exploded.
- ``rollup_time``: GROUPING SETS in one pass — Catalyst expands the
  sets map-side and partial-aggregates BEFORE the exchange, so the
  shuffle carries one row per (set × group), never the input. The
  measure is summed in integer cents (deterministic across engines and
  partition orders, unlike a float sum).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import empty_df, local_df


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    tiebreak: str,
    tolerance_sec: int | None = None,
    hot_key_threshold: int | None = 1_000_000,
    hot_splits: int | None = None,
    hot_key_cap: int = 64,
) -> DataFrame:
    """Backward as-of join: for every left row, the single right row
    with the greatest ``right_ts`` <= ``left_ts`` among equal ``on``
    keys (left outer — unmatched left rows keep NULL payload).

    Ties (several right rows sharing the greatest ``right_ts``) are
    broken deterministically by the greatest ``tiebreak`` value, so the
    result is engine-exact and oracle-replayable:

        ROW_NUMBER() OVER (PARTITION BY left-row
                           ORDER BY r.ts DESC, r.tiebreak DESC) = 1

    ``tolerance_sec`` additionally requires
    ``left_ts - right_ts <= tolerance`` (a match older than the
    horizon is treated as no match), evaluated AFTER the as-of pick —
    kdb ``aj`` / pandas ``merge_asof(tolerance=...)`` semantics.

    Plan shape: union both sides tagged, one Exchange on ``on``, one
    per-partition sort on (ts, side, tiebreak), a single running
    ``last_value(ignorenulls)`` window, then the left filter. Right
    rows sort BEFORE left rows at an equal timestamp so ``<=`` is
    inclusive. NULL-key rows on either side never match (SQL equality
    semantics), enforced by nulling the right payload rather than a
    pre-filter so the one-pass shape survives.

    Scale caveats: select only the columns you need on the left BEFORE
    calling — the left row rides the exchange as a struct, so wide
    unused columns pay shuffle bytes (the same text-through-Exchange
    discipline as the fused suite).

    Hot keys are routed AUTOMATICALLY: a single hot key concentrates
    that key's full history in one window partition, so when any key
    carries >= ``hot_key_threshold`` unioned rows (one pruned-column
    probe that collects only the keys above the threshold), that
    key's rows are split into ``hot_splits`` time ranges, each split
    fills forward independently, and the cross-split carry (the latest
    right payload per boundary, one row per split) is a bounded
    driver fold broadcast back as a per-split
    seed. Result identity with the unrouted window is pinned by
    tests/test_temporal.py. ``hot_key_threshold=None`` disables the
    probe (single plan, oracle-friendly); at most ``hot_key_cap`` keys
    route (beyond that the keyspace isn't skewed, it's just big).
    """
    keys = list(on)
    if not keys:
        raise ValueError("asof_join requires at least one key column")

    rpay = F.struct(
        F.col(right_ts).alias("_rts"),
        *[F.col(c) for c in payload],
    )
    # NULL keys or a NULL right timestamp never match (SQL `=` / `<=`
    # semantics) — null the payload instead of pre-filtering so the
    # one-pass union shape survives
    key_ok = F.col(right_ts).isNotNull()
    for k in keys:
        key_ok = key_ok & F.col(k).isNotNull()
    r_side = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_is_left"),
        F.col(tiebreak).alias("_tie"),
        F.when(key_ok, rpay).alias("_rrow"),
        F.lit(None)
        .cast(left.select(F.struct(*left.columns)).schema[0].dataType)
        .alias("_lrow"),
    )
    l_side = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(r_side.schema["_tie"].dataType).alias("_tie"),
        F.lit(None).cast(r_side.schema["_rrow"].dataType).alias("_rrow"),
        F.struct(*left.columns).alias("_lrow"),
    )

    u = r_side.unionByName(l_side)

    def finish(frame: DataFrame, extra_part: Sequence[str] = ()) -> DataFrame:
        w = (
            Window.partitionBy(*keys, *extra_part)
            .orderBy(
                F.col("_ats").asc(), F.col("_is_left").asc(), F.col("_tie").asc()
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = F.last("_rrow", ignorenulls=True).over(w)
        if extra_part:
            # cross-split carry: an earlier split's latest right payload,
            # broadcast-joined per (key, split) as the fill seed
            matched = F.coalesce(matched, F.col("_seed"))
        if tolerance_sec is not None:
            matched = F.when(
                matched["_rts"]
                >= F.col("_ats")
                - F.expr(f"INTERVAL {int(tolerance_sec)} SECOND"),
                matched,
            )
        joined = frame.select(
            F.col("_is_left"), F.col("_lrow"), matched.alias("_m")
        ).filter(F.col("_is_left") == 1)
        return joined.select(
            *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
            *[F.col(f"_m.{c}").alias(c) for c in payload],
        )

    hot: list[tuple] = []
    if hot_key_threshold:
        # the hot-key probe: pruned-column groupBy with map-side
        # partial agg, only above-threshold keys collected — bounded
        # whatever the keyspace
        hot = [
            tuple(r[k] for k in keys)
            for r in u.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= int(hot_key_threshold))
            .orderBy(F.col("_n").desc())
            .limit(hot_key_cap)
            .collect()
            if all(r[k] is not None for k in keys)
        ]
    if not hot:
        return finish(u)
    return finish(
        u.join(
            F.broadcast(
                local_df(u.sparkSession, hot, u.select(*keys).schema)
            ),
            keys,
            "anti",
        )
    ).unionByName(_asof_hot_leg(u, keys, hot, finish, hot_splits))


def _asof_hot_leg(
    u: DataFrame,
    keys: list[str],
    hot: list[tuple],
    finish,
    hot_splits: int | None,
) -> DataFrame:
    """The skew route for :func:`asof_join`: each hot key's unioned rows
    are cut into time-range splits (map-side assignment from driver
    literals — no sampling job), each split fills forward independently
    under the SAME window logic, and the cross-split carry is a bounded
    Phase-A aggregate (one row per key × split: the split's last right
    row) folded on the driver and broadcast back as per-split seeds,
    the carry being just the latest right payload (the chunk carriers
    of violations.fused_group_violations apply the same idea to
    conversation windows). Output is row-identical to the unrouted
    window (pinned by test): a left row's match is the last right row
    at-or-before it in its own split, else the seeded carry."""
    from pyspark.sql import types as T

    spark = u.sparkSession
    key_schema = u.select(*keys).schema
    hu = u.join(
        F.broadcast(local_df(spark, hot, key_schema)), keys, "semi"
    )
    P = max(2, hot_splits or spark.sparkContext.defaultParallelism * 2)
    dt = u.schema["_ats"].dataType
    atsd = (
        F.col("_ats").cast("timestamp").cast("double")
        if isinstance(dt, (T.TimestampType, T.DateType))
        else F.col("_ats").cast("double")
    )
    hu = hu.withColumn("_atsd", atsd)
    spans = {
        tuple(r[k] for k in keys): (r["_lo"], r["_hi"])
        for r in hu.groupBy(*keys)
        .agg(F.min("_atsd").alias("_lo"), F.max("_atsd").alias("_hi"))
        .collect()
    }
    split_col = None
    for kvals, (lo, hi) in spans.items():
        cond = F.lit(True)
        for k, v in zip(keys, kvals):
            cond = cond & (F.col(k) == F.lit(v))
        if lo is not None and hi is not None and hi > lo:
            width = (hi - lo) / P
            s = F.least(
                F.lit(P - 1),
                F.floor((F.col("_atsd") - F.lit(lo)) / F.lit(width)),
            ).cast("int")
        else:
            s = F.lit(0)
        split_col = F.when(cond, s) if split_col is None else split_col.when(cond, s)
    hu = hu.withColumn("_split", F.coalesce(split_col, F.lit(0)))
    # Phase A: the last right row per (key, split) — lexicographic max
    # of (ts, tiebreak, payload); bounded output (<= hot_key_cap * P)
    bnd = (
        hu.filter(F.col("_rrow").isNotNull())
        .groupBy(*keys, "_split")
        .agg(
            F.max(
                F.struct(
                    F.col("_atsd").alias("a"),
                    F.col("_tie").alias("t"),
                    F.col("_rrow").alias("r"),
                )
            ).alias("_b")
        )
        .collect()
    )
    per: dict[tuple, dict[int, object]] = {}
    for r in bnd:
        per.setdefault(tuple(r[k] for k in keys), {})[r["_split"]] = r["_b"]
    seed_rows = []
    for kv, by_split in per.items():
        carry = None
        for s in range(P):
            if carry is not None:
                seed_rows.append((*kv, s, carry["r"]))
            if s in by_split:
                carry = by_split[s]  # splits are time-ordered per key
    seed_schema = T.StructType(
        [
            *key_schema.fields,
            T.StructField("_split", T.IntegerType()),
            T.StructField("_seed", u.schema["_rrow"].dataType),
        ]
    )
    seeded = hu.join(
        F.broadcast(local_df(spark, seed_rows, seed_schema)),
        [*keys, "_split"],
        "left",
    )
    return finish(seeded, extra_part=("_split",))


def range_join(
    points: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_width_sec: int = 3600,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Inner interval join: every (point, interval) pair with
    ``start <= ts < end`` (half-open), optionally also matching on
    ``extra_keys`` equality.

    A raw ``ON p.ts >= i.start AND p.ts < i.end`` predicate has no
    equi-key, so Spark plans BroadcastNestedLoopJoin — quadratic. Here
    each interval EXPLODES to the coarse time buckets it covers
    (``sequence(floor(start/w), floor(end/w))`` — at most
    ``len/w + 2`` rows) while each point maps to exactly ONE bucket,
    the bucket (plus ``extra_keys``) becomes the equi-join key, and
    the exact predicate filters within the bucket. Every qualifying
    pair appears exactly once (the point side is never duplicated).

    Pick ``bucket_width_sec`` near the typical interval length: too
    coarse and a bucket degenerates toward the cartesian it avoids,
    too fine and the interval explosion dominates. Buckets are
    time-uniform, so the exchange is balanced unless event time itself
    is bursty (then salt the hot buckets). Returns all point columns
    plus all interval columns.
    """
    # bucket ids from epoch SECONDS (unix_timestamp truncates
    # sub-second parts — safe: bucket boundaries are integer seconds,
    # so floor(trunc(x)/w) == floor(x/w); the exact predicate below
    # still compares full-precision timestamps)
    pt = points.withColumn(
        "_bk", F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_width_sec)
    )
    iv = intervals.withColumn(
        "_bk",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / bucket_width_sec),
                F.floor(F.unix_timestamp(F.col(end_col)) / bucket_width_sec),
            )
        ),
    )
    cond = [pt["_bk"] == iv["_bk"]]
    for k in extra_keys:
        cond.append(pt[k] == iv[k])
    pred = (pt[ts_col] >= iv[start_col]) & (pt[ts_col] < iv[end_col])
    out_cols = [pt[c] for c in points.columns] + [
        iv[c] for c in intervals.columns if c not in extra_keys
    ]
    joined = pt.join(iv, cond, "inner").filter(pred)
    return joined.select(*out_cols)


def cents(col: str | Column) -> Column:
    """A double measure as integer cents: ``round(x*100)`` per row then
    exact integer sums — deterministic across engines and partition
    orders, unlike a float sum. DuckDB replay:
    ``CAST(round(x * 100, 0) AS BIGINT)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("bigint")


def rollup_time(
    df: DataFrame,
    ts_col: str,
    dim_col: str,
    value_col: str,
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass computes
    the (dim × day), (day), (dim) and grand-total aggregates via
    GROUPING SETS, tagged by ``grouping_id`` so a serving layer can
    slice one materialization at every granularity.

    The day is emitted as a 'yyyy-MM-dd' string (engine-portable hash)
    and the measure as integer cents (see :func:`cents`). Catalyst
    expands the sets BEFORE the partial aggregate, so the exchange
    carries one row per (set × group) — at 100 TB the shuffle is the
    cardinality of the rollup, not the data.
    """
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day")
    dim = F.col(dim_col).alias("dim")
    return (
        df.select(dim, day, F.col(value_col).alias("_v"))
        .groupingSets(
            [["dim", "day"], ["dim"], ["day"], []],
            F.col("dim"),
            F.col("day"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("_v")).alias("value_cents"),
        )
    )




def _funnel_depths(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Per-user funnel depth (0..len(steps)): one user-keyed exchange
    with map-side partial collect_list, then a time-sorted linear fold
    advancing through the steps (strictly-after semantics). Split out
    so tests can pin the pre-checkpoint physical plan."""
    idx = F.lit(None).cast("int")
    for i, s in reversed(list(enumerate(steps))):
        idx = F.when(F.col(type_col) == s, F.lit(i)).otherwise(idx)
    ev = (
        df.filter(F.col(type_col).isin(list(steps)) & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("_u"),
            F.struct(
                F.col(ts_col).alias("ts"), idx.alias("idx")
            ).alias("_e"),
        )
    )
    return (
        ev.groupBy("_u")
        .agg(F.collect_list("_e").alias("_es"))
        .select(
            F.expr(
                """
                aggregate(
                  array_sort(_es),
                  named_struct('nxt', 0, 'last', cast(null as timestamp)),
                  (a, e) -> if(
                    e.idx = a.nxt and (a.nxt = 0 or e.ts > a.last),
                    named_struct('nxt', a.nxt + 1, 'last', e.ts),
                    a),
                  a -> a.nxt)
                """
            ).alias("_depth")
        )
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users reach each step of
    ``steps`` IN ORDER, each step strictly after the previous step's
    qualifying event — the product-analytics primitive (view → click →
    purchase) and, over transcripts, the tool-call → tool-result →
    answer completion funnel. Step k's qualifying time is the MINIMUM
    ts of a step-k event strictly later than step k-1's qualifying
    time (the standard funnel semantics), so a user who purchases
    before ever viewing does not count as converted.

    Plan: filter to the step types (map-side, pushed to the scan) →
    ONE user-keyed exchange with map-side partial ``collect_list`` of
    (ts, step_idx) structs (the X27 assembly pattern — no Window, no
    self-join per step) → per-user ``array_sort`` + one linear fold
    advancing through the steps (greedy first-qualifying == min-based
    semantics because the array is time-sorted) → the per-user depth
    aggregates on a ``len(steps)``-bounded frame; reached/conversion
    legs broadcast. Per-user state is bounded by that user's step-event
    count; a pathological hot user is routable by the X17 skew probe.

    Returns one row per step: (step_idx 1-based, step, users_reached,
    conv_from_prev, conv_from_first) with conversions as exact-count
    ratios rounded 6 dp; step 1's conv_from_prev is NULL; zero
    upstream users yield NULL conversions (try_divide).
    """
    steps = list(steps)
    if not steps or len(set(steps)) != len(steps):
        raise ValueError("steps must be non-empty and distinct")
    spark = df.sparkSession
    depth = (
        _funnel_depths(df, steps, user_col, ts_col, type_col)
        .groupBy("_depth")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )
    grid = local_df(
        spark,
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    reached = (
        depth.crossJoin(F.broadcast(grid))
        .filter(F.col("_depth") >= F.col("step_idx"))
        .groupBy("step_idx", "step")
        .agg(F.sum("_n").alias("users_reached"))
        .join(F.broadcast(grid), ["step_idx", "step"], "right")
        .select(
            "step_idx",
            "step",
            F.coalesce(F.col("users_reached"), F.lit(0)).alias(
                "users_reached"
            ),
        )
        .localCheckpoint(eager=False)
    )
    prev = reached.select(
        (F.col("step_idx") + 1).alias("step_idx"),
        F.col("users_reached").alias("_prev"),
    )
    first = reached.filter(F.col("step_idx") == 1).select(
        F.col("users_reached").alias("_first")
    )
    return (
        reached.join(F.broadcast(prev), "step_idx", "left")
        .crossJoin(F.broadcast(first))
        .select(
            "step_idx",
            "step",
            "users_reached",
            F.round(
                F.try_divide(
                    F.col("users_reached").cast("double"), F.col("_prev")
                ),
                6,
            ).alias("conv_from_prev"),
            F.round(
                F.try_divide(
                    F.col("users_reached").cast("double"), F.col("_first")
                ),
                6,
            ).alias("conv_from_first"),
        )
        .orderBy("step_idx")
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    origin: str = "2024-01-01",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST active
    period (cohort), counted in every later period they return —
    product analytics' second primitive next to :func:`funnel`, and
    over agent transcripts the "users still conversing k weeks after
    first contact" curve.

    Periods are ``(date - origin) div period_days`` with a FIXED origin
    literal (never ``min(ts)`` — a data-derived origin makes every
    period label depend on a global aggregate and is not stable under
    incremental appends). ``origin`` must not postdate the data: the
    integer division truncates toward zero, so negative day offsets
    would disagree with the oracle's floor division.

    Plan: ONE user-keyed exchange — groupBy(user) with map-side partial
    ``min(period)`` AND ``collect_set(period)`` together (per-user
    state bounded by the user's distinct active periods, NOT their
    event count) — then explode the set and partial-agg the tiny
    (cohort, offset) grid; cohort sizes are the offset-0 diagonal,
    joined back broadcast. No self-join of the event stream, no
    window. Retention = exact-count ratio rounded 6 dp; offset 0 is
    1.0 by construction.

    Returns (cohort_period, period_offset, users, retention_rate).
    """
    wk = F.expr(
        f"datediff(cast({ts_col} as date), date'{origin}') "
        f"div {int(period_days)}"
    ).cast("bigint")
    g = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("_u"), wk.alias("_wk"))
        .groupBy("_u")
        .agg(
            F.min("_wk").alias("_cw"),
            F.collect_set("_wk").alias("_wks"),
        )
    )
    grid = (
        g.select("_cw", F.explode("_wks").alias("_wk"))
        .groupBy(
            F.col("_cw").alias("cohort_period"),
            (F.col("_wk") - F.col("_cw")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("users"))
        .localCheckpoint(eager=False)
    )
    sizes = grid.filter(F.col("period_offset") == 0).select(
        F.col("cohort_period"), F.col("users").alias("_size")
    )
    return (
        grid.join(F.broadcast(sizes), "cohort_period")
        .select(
            "cohort_period",
            "period_offset",
            "users",
            F.round(
                F.col("users").cast("double") / F.col("_size"), 6
            ).alias("retention_rate"),
        )
    )


def sliding_stats(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding event-time window aggregates — the overlapping-window
    dashboard (each row contributes to window/slide consecutive
    windows) that :func:`rollup_time`'s tumbling grains can't express:
    a 1-hour metric refreshed every 15 minutes has 4× the windows and
    catches a spike up to 45 minutes earlier.

    Spark-first: ``F.window(ts, window, slide)`` assigns each row its
    covering windows MAP-SIDE (Catalyst expands to a windows/slide-way
    projection before the partial agg, so the exchange carries one row
    per (window, partition), never the input × overlap), then one
    partial-agg groupBy. The measure sums in integer CENTS (the X17
    rollup trick) — order-independent, engine-exact — and the mean is
    derived from the exact sum.

    Returns (win_start, win_end, n, sum_value, avg_value); rows with
    NULL ts or NULL value are excluded. win bounds are timestamps.
    """
    w = F.window(F.col(ts_col), window, slide)
    c = cents(value_col)
    return (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(w.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(c).alias("_cents"),
        )
        .select(
            F.col("_w.start").alias("win_start"),
            F.col("_w.end").alias("win_end"),
            "n",
            (F.col("_cents") / 100.0).alias("sum_value"),
            F.round(F.col("_cents") / 100.0 / F.col("n"), 6).alias(
                "avg_value"
            ),
        )
    )
