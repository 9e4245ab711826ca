"""Exact distributed quantiles without a global sort.

``percentile_approx`` is merge-order-dependent and approximate; a naive
exact quantile is ``orderBy(value)`` — a full shuffle + global sort of
the column at 100 TB. This module computes EXACT order statistics with
ONE kernel over a narrow ``(_g, v)`` projection: the grouped functions
group by their column, and a scalar call is the same kernel over one
constant group (``_g = ''``). Histogram narrowing:

1. one partial-agg scan for each group's (count, min, max) of the
   non-null values — when the caller persists the projection, this
   scan also MATERIALIZES it in the block-manager cache, so every later
   pass reads the cached narrow column instead of re-evaluating the
   upstream plan (a windowed latency frame would otherwise recompute
   per pass — the round-5 4–7-scan composition finding);
2. one partial-agg histogram scan over ``n_bins`` equi-width bins per
   group — the exchange carries at most ``n_partitions x groups x
   n_bins`` fixed-width rows; the driver walks each group's cumulative
   histogram to locate, for each requested quantile, its bin and rank
   WITHIN that bin;
3. one filtered pass over ONLY the boundary bins (~count/n_bins rows
   each, a handful of bins per group): a per-bin ``row_number`` window
   picks the within-bin order statistic.

The bin routing and the boundary rows are literal expressions built
from the bounded group table (a CASE over ``_g``, IN lists), never a
broadcast local frame: each broadcast of a literal frame is a job.

Small inputs short-circuit: a ``limit(_SMALL_N + 1)`` Arrow probe
collects the projection ONCE when it fits, and the order statistics are
picked driver-side per group — the identical rank over the identical
sorted values, with ONE job instead of the passes above. This is the
path the ~30-row volume-anomaly bucket series and the small-SF
correctness runs take; when the probe overflows, the big path pays one
early-terminated partial scan and proceeds unchanged.

The result is the exact order statistic — the float fuzz of the bin
boundaries cannot perturb it, because bins only ROUTE ranks; the
returned value is picked by ordering the VALUES themselves. Rank
convention: ``rank(q) = floor((n - 1) * q) + 1`` (1-based, lower
interpolation — the value at that position of the sorted column),
which the DuckDB oracle replays with an explicit ``row_number``.

NaN rule: the projection drops NULL and NaN values; ±infinity take
part. A median-absolute-deviation ``|v - med|`` is NaN where ``v`` and
``med`` are the same infinity: such deviations take part in the rank
and sort LAST, as SQL orders NaN. The driver sort uses the key
``(isnan(d), d)``; the distributed routing sends NaN to a sentinel bin
above the +inf bin.

Driver-side state is the histogram (<= groups x n_bins rows, or <=
_SMALL_N collected values on the small path) and the per-group (count,
min, max) — bounded collects, same budget class as the
token_budget_select cutoff grid. The public functions return LITERAL
frames (<= |groups| x |qs| rows — bounded by contract), so a
composition that collects the result pays no extra pass.

The median/MAD composition (:func:`mad_outliers`,
:func:`group_mad_outliers`, :func:`robust_scale`) shares one persisted
projection across both phases and DERIVES the deviation phase's
(count, range) from the value phase's stats — ``|v - med|`` has exactly
``n`` rows in ``[0, max(hi - med, med - lo)]`` whenever a group is
inf-free — because equi-width bins only need to CONTAIN the data, not
fit it snugly (the clamp routes edge values), deriving the range cannot
change which value a rank picks. Only groups that hold an infinity
recount their deviations.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ocsf_validator_spark.localframe import local_df

# <= this many non-null values: collect once (Arrow), rank driver-side.
# One million doubles is ~8 MB on the wire and a few tens of MB as a
# Python list — the same driver-state budget class as a wide
# (groups x n_bins) histogram collect — and it replaces two to three
# scheduled jobs (each ~0.5 s of fixed AQE/broadcast/window latency at
# any scale) with one columnar transfer. Above it, the histogram-
# narrowing path keeps driver state at O(groups x n_bins) regardless of n.
_SMALL_N = 1_000_000

_INF = float("inf")

Stats = dict[str, tuple[int, float | None, float | None, int]]


def _rank(n: int, q: float) -> int:
    return int(math.floor((n - 1) * q)) + 1


def _group_key(group_col: str | None):
    """The string-normalized group, or the constant '' for a scalar call."""
    return F.lit("") if group_col is None else F.col(group_col).cast("string")


def _values(
    df: DataFrame, value_col: str, group_col: str | None = None
) -> DataFrame:
    """The narrow (_g string, v double) projection: NULL groups and
    NULL/NaN values excluded (NaN has no place in a total order);
    ±infinity participate."""
    return df.select(
        _group_key(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull() & ~F.isnan("v") & F.col("_g").isNotNull())


def _probe_small(gvals: DataFrame) -> tuple[list, list] | None:
    """One-job small-input probe: collect up to _SMALL_N + 1 rows via
    Arrow. Returns the (groups, values) lists when the input fits (the
    limit returned everything there is), else None — the big path then
    pays its stats job knowing the probe read at most one
    early-terminated partial scan."""
    t = gvals.limit(_SMALL_N + 1).toArrow()
    if t.num_rows > _SMALL_N:
        return None
    return t.column("_g").to_pylist(), t.column("v").to_pylist()


def _rank_groups(
    gs: list, vs: list, qs: tuple[float, ...]
) -> dict[tuple[str, float], float]:
    """The driver-side small path: (group, q) -> order statistic of each
    group's values, sorted NaN last (the NaN rule)."""
    per_group: dict[str, list[float]] = {}
    for g, v in zip(gs, vs):
        per_group.setdefault(g, []).append(v)
    out = {}
    for g, xs in per_group.items():
        xs.sort(key=lambda x: (math.isnan(x), x))
        for q in qs:
            out[(g, q)] = xs[_rank(len(xs), q) - 1]
    return out


def _stats(gvals: DataFrame) -> Stats:
    """group -> (n, finite lo, finite hi, n non-finite) — one partial-agg
    job (and the job that materializes a persisted projection)."""
    finite = (F.col("v") > -_INF) & (F.col("v") < _INF)
    return {
        r["_g"]: (r["n"], r["lo"], r["hi"], r["n_inf"])
        for r in gvals.groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.when(finite, F.col("v"))).alias("lo"),
            F.max(F.when(finite, F.col("v"))).alias("hi"),
            F.count(F.when(~finite, F.lit(1))).alias("n_inf"),
        )
        .collect()
    }


def _lookup(key, table: dict[str, float]):
    """The (group -> value) table as one literal CASE over ``key``: the
    per-group state reaches the executors inside the plan (for the one
    constant group it folds to the bare literal)."""
    (g0, x0), *rest = table.items()
    expr = F.when(key == g0, F.lit(x0))
    for g, x in rest:
        expr = expr.when(key == g, F.lit(x))
    return expr


def _bin_expr(grid: dict[str, tuple[float, float]], n_bins: int):
    """Equi-width routing bin of ``v`` by its group's (lo, width):
    sentinel bins -1 / n_bins / n_bins + 1 for -inf / +inf / NaN (the
    NaN rule). The greatest/least clamp makes any CONTAINING range valid
    — bins only route ranks."""
    lo = _lookup(F.col("_g"), {g: lo for g, (lo, _w) in grid.items()})
    width = _lookup(F.col("_g"), {g: w for g, (_lo, w) in grid.items()})
    finite_bin = F.greatest(
        F.lit(0),
        F.least(
            F.floor((F.col("v") - lo) / width).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    return (
        F.when(F.isnan("v"), F.lit(n_bins + 1))
        .when(F.col("v") == -_INF, F.lit(-1))
        .when(F.col("v") == _INF, F.lit(n_bins))
        .otherwise(finite_bin)
    )


def _walk_hist(
    hist: dict[int, int], ranks: dict[float, int]
) -> dict[float, tuple[int, int]]:
    """Cumulative-histogram walk: global rank -> (bin, rank within bin)."""
    targets: dict[float, tuple[int, int]] = {}
    cum = 0
    it = iter(sorted(hist.items()))
    b, c = next(it)
    for q, r in sorted(ranks.items(), key=lambda kv: kv[1]):
        while cum + c < r:
            cum += c
            b, c = next(it)
        targets[q] = (b, r - cum)
    return targets


def _boundary_frame(
    binned: DataFrame, targets: set[tuple[str, int, int]]
) -> DataFrame:
    """The boundary-bin pass as a LAZY frame (_g, b, rn, v): filter to
    the target (group, bin)s, per-bin row_number over the VALUES, keep
    the target (group, bin, within-bin rank) rows — one pass no matter
    how many groups and quantiles, routed by literal IN lists. Kept as a
    separate builder so the no-global-sort plan contract stays
    pytest-pinnable."""

    def keys(rows):
        return [
            F.struct(*[F.lit(x).alias(c) for x, c in zip(r, ("_g", "b", "rn"))])
            for r in rows
        ]

    w = Window.partitionBy("_g", "b").orderBy(F.col("v").asc())
    return (
        binned.filter(
            F.struct("_g", "b").isin(keys({t[:2] for t in targets}))
        )
        .select("_g", "b", "v", F.row_number().over(w).alias("rn"))
        .filter(F.struct("_g", "b", "rn").isin(keys(targets)))
    )


def _quantile_map(
    gvals: DataFrame, stats: Stats, qs: tuple[float, ...], n_bins: int
) -> dict[tuple[str, float], float]:
    """(group, q) -> exact order statistic over ``gvals`` (persisted by
    the caller when its upstream is worth caching), given each group's
    ``stats`` — a DERIVED containing range is fine (the clamp routes edge
    values). Degenerate groups (all values equal, incl. single-row
    groups) resolve to driver literals; when the other groups' rows fit
    ``_SMALL_N`` they are collected once and ranked driver-side;
    otherwise the histogram and boundary passes run."""
    out: dict[tuple[str, float], float] = {}
    grid: dict[str, tuple[float, float]] = {}  # live group -> (lo, width)
    for g, (n, lo, hi, n_inf) in stats.items():
        if n_inf == 0 and lo == hi:
            out.update({(g, q): lo for q in qs})
            continue
        if lo is None:  # no finite value: the sentinels do all the routing
            lo = hi = 0.0
        grid[g] = (lo, (hi - lo) / n_bins or 1.0)
    if not grid:
        return out
    live = gvals.filter(F.col("_g").isin(list(grid)))
    if sum(stats[g][0] for g in grid) <= _SMALL_N:
        t = live.toArrow()
        out.update(
            _rank_groups(t.column("_g").to_pylist(), t.column("v").to_pylist(), qs)
        )
        return out
    binned = live.select("_g", "v", _bin_expr(grid, n_bins).alias("b"))
    hist: dict[str, dict[int, int]] = {}
    ht = binned.groupBy("_g", "b").agg(F.count(F.lit(1)).alias("c")).toArrow()
    for g, b, c in zip(
        ht.column("_g").to_pylist(),
        ht.column("b").to_pylist(),
        ht.column("c").to_pylist(),
    ):
        hist.setdefault(g, {})[b] = c
    routes = {}  # (group, q) -> (group, bin, within-bin rank)
    for g in grid:
        ranks = {q: _rank(stats[g][0], q) for q in qs}
        for q, (b, local) in _walk_hist(hist[g], ranks).items():
            routes[(g, q)] = (g, b, local)
    picked = {
        (r["_g"], r["b"], r["rn"]): r["v"]
        for r in _boundary_frame(binned, set(routes.values())).collect()
    }
    out.update({gq: picked[t] for gq, t in routes.items()})
    return out


def _quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...],
    n_bins: int,
    persist: bool,
    group_col: str | None = None,
) -> dict[tuple[str, float], float]:
    """(group, q) -> exact order statistic: the probe's driver-side rank,
    else the distributed passes (over a persisted projection when
    ``persist``)."""
    gvals = _values(df, value_col, group_col)
    probe = _probe_small(gvals)
    if probe is not None:
        return _rank_groups(*probe, qs)
    if persist:
        gvals.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _quantile_map(gvals, _stats(gvals), qs, n_bins)
    finally:
        if persist:
            gvals.unpersist()


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    n_bins: int = 4096,
    persist: bool = False,
) -> DataFrame:
    """Exact quantiles of ``value_col`` (module-head contract).

    Returns a DataFrame (q double, value double), one row per
    requested quantile, ordered by q — a literal frame: the passes run
    eagerly, so forcing or collecting the result costs no further
    scan. ``persist=True`` caches the narrow projection across the
    passes — worth it when the upstream plan is expensive (a window, a
    join); for a plain column-pruned scan the re-scan is cheaper than
    the cache build (measured), hence the default.
    """
    qmap = _quantiles(df, value_col, qs, n_bins, persist)
    return local_df(
        df.sparkSession,
        [(float(q), float(qmap[("", q)])) for q in sorted(qs)] if qmap else [],
        "q double, value double",
    )


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    n_bins: int = 1024,
) -> DataFrame:
    """Exact per-group quantiles of ``value_col`` — the per-stratum
    percentile table drift baselines want (per event type, language,
    source, ...).

    Same histogram-narrowing contract as :func:`exact_quantiles`, with
    every driver-side structure bounded by GROUP CARDINALITY x n_bins
    (the token_budget_select budget class). Designed for bounded group
    cardinality (types/languages/sources) — NOT for per-user groups;
    there the per-group rank table itself is the output size and a
    different operator applies. The upstream plan (a window, a join)
    is evaluated ONCE: the narrow (_g, v) projection persists across
    the stats/histogram/boundary passes and the result returns as a
    literal |groups| x |qs|-row frame.

    Returns (group_col, q, value) ordered by (group_col, q).
    """
    qmap = _quantiles(df, value_col, qs, n_bins, True, group_col)
    return local_df(
        df.sparkSession,
        sorted((g, float(q), float(v)) for (g, q), v in qmap.items()),
        f"{group_col} string, q double, value double",
    )


# ---------------------------------------------------------------------------
# median/MAD compositions
# ---------------------------------------------------------------------------


def _med_mad(
    df: DataFrame, value_col: str, n_bins: int, group_col: str | None = None
) -> dict[str, tuple[float, float]]:
    """group -> (median, MAD) of ``value_col`` — exact order statistics
    (module-head NaN rule: a NaN deviation ranks last) over ONE narrow
    projection. The small path ranks both phases driver-side over one
    probe; the big path persists the projection, and the deviation
    phase derives its stats from the value phase's for every inf-free
    group (see module head), so only groups that hold an infinity pay a
    recount. Empty when the column has no non-null non-NaN values."""
    gvals = _values(df, value_col, group_col)
    probe = _probe_small(gvals)
    if probe is not None:
        gs, vs = probe
        meds = _rank_groups(gs, vs, (0.5,))
        devs = [abs(v - meds[(g, 0.5)]) for g, v in zip(gs, vs)]
        mads = _rank_groups(gs, devs, (0.5,))
    else:
        gvals.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = _stats(gvals)
            meds = _quantile_map(gvals, stats, (0.5,), n_bins)
            if not meds:
                return {}
            med_of = {g: m for (g, _q), m in meds.items()}
            dev = gvals.select(
                "_g", F.abs(F.col("v") - _lookup(F.col("_g"), med_of)).alias("v")
            )
            dev_stats: Stats = {
                g: (n, 0.0, max(hi - med_of[g], med_of[g] - lo), 0)
                for g, (n, lo, hi, n_inf) in stats.items()
                if n_inf == 0
            }
            lossy = [g for g in stats if g not in dev_stats]
            if lossy:
                dev_stats.update(_stats(dev.filter(F.col("_g").isin(lossy))))
            mads = _quantile_map(dev, dev_stats, (0.5,), n_bins)
        finally:
            gvals.unpersist()
    return {g: (m, mads[(g, q)]) for (g, q), m in meds.items()}


def _mad_screen(
    df: DataFrame,
    group_col: str | None,
    value_col: str,
    id_cols: tuple[str, ...],
    k: int,
    n_bins: int,
) -> DataFrame:
    """The median/MAD outlier screen behind :func:`mad_outliers` and
    :func:`group_mad_outliers`: the fences land as literal CASEs over
    the group, so the flag pass is one filter over the base scan — no
    join, the big side never shuffles."""
    schema = ", ".join(
        ([f"`{group_col}` string"] if group_col else [])
        + [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["value double, median double, mad double, lo double, hi double"]
    )
    mm = _med_mad(df, value_col, n_bins, group_col)
    if not mm:
        return local_df(df.sparkSession, [], schema)
    g = _group_key(group_col)
    fences = {grp: (m, d, m - k * d, m + k * d) for grp, (m, d) in mm.items()}
    med, mad, lo, hi = (
        _lookup(g, {grp: f[i] for grp, f in fences.items()}) for i in range(4)
    )
    v = F.col(value_col).cast("double")
    return df.filter(v.isNotNull() & ~F.isnan(v) & ((v < lo) | (v > hi))).select(
        *([g.alias(group_col)] if group_col else []),
        *[F.col(c) for c in id_cols],
        v.alias("value"),
        med.alias("median"),
        mad.alias("mad"),
        lo.alias("lo"),
        hi.alias("hi"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    k: int = 3,
    n_bins: int = 4096,
) -> DataFrame:
    """Robust outlier screen: rows whose ``value_col`` falls outside
    ``median ± k * MAD`` (MAD = median absolute deviation, the classic
    breakdown-point-0.5 robust spread — unlike mean/stddev bounds, a
    contaminated tail cannot drag the fence toward itself).

    Median and MAD are exact histogram-narrowed order statistics from
    ONE shared persisted projection (:func:`_med_mad`) — two source
    scans total (one to build the projection, one for the flag pass),
    bounded driver state, no global sort. ``k`` is kept integral and
    the fences are computed as ``med - k * mad`` / ``med + k * mad``
    (one multiply + one add over exact data values, in that order) so
    any engine replays them to the ULP; callers wanting the Gaussian-
    consistency constant (1.4826) fold it into k upstream.

    NULL/NaN values are excluded (as in exact_quantiles). Returns
    ``(*id_cols, value, median, mad, lo, hi)`` — empty when the column
    is empty or the spread degenerates to mad == 0 with nothing outside
    the point fence.
    """
    return _mad_screen(df, None, value_col, id_cols, k, n_bins)


def group_mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    k: int = 3,
    n_bins: int = 1024,
) -> DataFrame:
    """Per-stratum robust outlier screen: rows outside their OWN group's
    ``median ± k * MAD`` — the realistic shape of the data-derived Range
    constraint, since each event type / language / source has its own
    scale (a value ordinary for one type is a gross outlier for
    another; one global fence sees neither).

    The same median/MAD composition as :func:`mad_outliers`, per group:
    both phases run over ONE (_g, v) projection — two source scans
    total (projection build + flag pass). Driver state is two
    group-cardinality-sized median tables; the fences land as literal
    per-group CASEs, so the flag pass is one filter over the base scan —
    the big side never shuffles. Same bounded-group-cardinality contract
    as exact_group_quantiles (types/languages, not per-user). Fences are
    ``med - k*mad`` / ``med + k*mad`` on exact data values in a fixed
    order (ULP-replayable cross-engine, as in :func:`mad_outliers`).

    NULL/NaN values and NULL groups are excluded. Returns
    ``(group_col, *id_cols, value, median, mad, lo, hi)``; groups whose
    spread degenerates to mad == 0 keep the point fence (off-median
    rows flag, as in the global screen).
    """
    return _mad_screen(df, group_col, value_col, id_cols, k, n_bins)


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    id_cols: tuple[str, ...] = ("event_id",),
    n_bins: int = 4096,
) -> DataFrame:
    """Winsorization: clip ``value_col`` to its exact [lo_q, hi_q]
    order-statistic fences — the robust preprocessing step before a
    scale-sensitive consumer (embedding norms into ANN, reward scores
    into a mix weight) where :func:`mad_outliers` would DROP rows this
    op instead retains at the fence.

    Fences come from :func:`exact_quantiles` (histogram-narrowed exact
    order statistics, no global sort) and are applied as LITERALS — the
    clip pass is a scan-speed projection the optimizer can fold into
    any downstream plan, and because the fences are actual data values
    picked by rank (never interpolated), the clipped output is
    engine-replayable bit-for-bit. NULL/NaN values pass through
    unclipped (flagged NULL) — dropping is the caller's policy.

    Returns (*id_cols, value_col, clipped, was_clipped) where
    ``was_clipped`` is NULL for NULL/NaN inputs.
    """
    if not (0.0 <= lo_q < hi_q <= 1.0):
        raise ValueError("need 0 <= lo_q < hi_q <= 1")
    fences = {
        r["q"]: r["value"]
        for r in exact_quantiles(
            df, value_col, qs=(lo_q, hi_q), n_bins=n_bins
        ).collect()
    }
    if not fences:
        return df.select(
            *id_cols,
            F.col(value_col),
            F.col(value_col).cast("double").alias("clipped"),
            F.lit(None).cast("boolean").alias("was_clipped"),
        )
    lo, hi = fences[lo_q], fences[hi_q]
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v)
    clipped = F.when(ok, F.least(F.greatest(v, F.lit(lo)), F.lit(hi))).otherwise(v)
    return df.select(
        *id_cols,
        F.col(value_col),
        clipped.alias("clipped"),
        F.when(ok, (v < F.lit(lo)) | (v > F.lit(hi))).alias("was_clipped"),
    )


def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    id_cols: tuple[str, ...] = ("event_id",),
    hist_bins: int = 4096,
) -> DataFrame:
    """Quantile discretization: assign each row the equal-FREQUENCY
    bucket of ``value_col`` (decile/percentile binning — the ML
    preprocessing staple that histogram-equalizes a skewed feature
    before bucketed models or stratified sampling; an equal-WIDTH
    binning puts 99% of a heavy-tailed feature in one bucket).

    Internal fences are the exact order statistics at q = j/n_bins
    (j = 1..n_bins-1) from :func:`exact_quantiles` (histogram-narrowed,
    no global sort), applied as LITERALS in one scan-speed CASE chain —
    bucket j holds values in (fence_{j-1}, fence_j], the SQL-replayable
    right-closed convention, so ties at a fence all land in the lower
    bucket and buckets are only approximately equal-count under heavy
    ties (exactly the standard NTILE caveat, but rank-free and
    engine-exact). NULL/NaN rows carry NULL bucket.

    Returns (*id_cols, value_col, bucket int in [1, n_bins])."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    qs = tuple(j / n_bins for j in range(1, n_bins))
    fences = [
        r["value"]
        for r in exact_quantiles(df, value_col, qs=qs, n_bins=hist_bins).collect()
    ]
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v)
    bucket = F.lit(n_bins)
    for j in range(len(fences) - 1, -1, -1):
        bucket = F.when(v <= F.lit(fences[j]), F.lit(j + 1)).otherwise(
            bucket
        )
    return df.select(
        *id_cols,
        F.col(value_col),
        F.when(ok, bucket).cast("int").alias("bucket"),
    )


def robust_scale(
    df: DataFrame,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    n_bins: int = 4096,
) -> DataFrame:
    """Robust standardization: ``scaled = (v - median) / mad`` — the
    outlier-immune alternative to z-scoring (a contaminated tail drags
    a mean/stddev scaler; median/MAD have breakdown point 0.5), the
    transform companion to :func:`mad_outliers`' screen and
    :func:`winsorize`'s clip. Callers wanting the Gaussian-consistency
    constant divide by 1.4826 downstream — the raw MAD unit keeps the
    output an exact function of two data values.

    median and MAD are exact order statistics over one shared persisted
    projection (:func:`_med_mad`) applied as LITERALS, so the scale
    pass is one scan-speed projection and every scaled value is one
    subtract + one divide over exact data values, rounded 6 dp —
    engine-replayable. NULL/NaN inputs and a degenerate mad == 0 yield
    NULL scaled (try_divide); the median/mad columns ride along so a
    consumer can invert the transform.

    Returns (*id_cols, value_col, scaled, median, mad).
    """
    mm = _med_mad(df, value_col, n_bins).get("")
    if mm is None:
        schema = ", ".join(
            [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
            + [
                f"`{value_col}` {df.schema[value_col].dataType.simpleString()}",
                "scaled double, median double, mad double",
            ]
        )
        return local_df(df.sparkSession, [], schema)
    med, mad = mm
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v)
    return df.select(
        *id_cols,
        F.col(value_col),
        F.when(
            ok, F.round(F.try_divide(v - F.lit(med), F.lit(mad)), 6)
        ).alias("scaled"),
        F.lit(med).alias("median"),
        F.lit(mad).alias("mad"),
    )
