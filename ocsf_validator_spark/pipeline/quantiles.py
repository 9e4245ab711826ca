"""Exact distributed quantiles without a global sort.

``percentile_approx`` is merge-order-dependent and approximate; a naive
exact quantile is ``orderBy(value)`` — a full shuffle + global sort of
the column at 100 TB. This operator computes EXACT order statistics
with histogram narrowing:

1. one partial-agg scan for (count, min, max) of the non-null values —
   this scan also MATERIALIZES the narrow ``(value)`` projection into
   the block-manager cache, so every later pass reads the cached
   8-byte column instead of re-evaluating the upstream plan (a windowed
   latency frame or a broadcast-join deviation frame would otherwise
   recompute per pass — the round-5 4–7-scan composition finding);
2. one partial-agg histogram scan over ``n_bins`` equi-width bins —
   the exchange carries at most ``n_partitions x n_bins`` fixed-width
   rows; the driver walks the (<= n_bins)-row cumulative histogram to
   locate, for each requested quantile, its bin and rank WITHIN that
   bin;
3. one filtered pass over ONLY the boundary bins (~count/n_bins rows
   each, a handful of bins total): a per-bin ``row_number`` window
   picks the within-bin order statistic.

Small inputs short-circuit: a ``limit(_SMALL_N + 1)`` Arrow probe
collects the values ONCE when they fit, and the order statistics are
picked driver-side — the identical rank over the identical sorted
values (Python's float sort and SQL ``ASC`` agree on every finite
double and ±inf; NaN is excluded before either sees it), with ONE job
instead of three and no window/join. This is the path the ~30-row
volume-anomaly bucket series and the small-SF correctness runs take;
when the probe overflows, the big path pays one early-terminated
partial scan and proceeds unchanged.

The result is the exact global order statistic — the float fuzz of the
bin boundaries cannot perturb it, because bins only ROUTE ranks; the
returned value is picked by ordering the VALUES themselves. Rank
convention: ``rank(q) = floor((n - 1) * q) + 1`` (1-based, lower
interpolation — the value at that position of the sorted column),
which the DuckDB oracle replays with an explicit ``row_number``.

Driver-side state is the histogram (<= n_bins rows, or <= _SMALL_N
collected doubles on the small path) and the scalar (count, min, max)
— bounded collects, same budget class as the token_budget_select
cutoff grid. The public functions return LITERAL frames (<= |qs| or
|groups| x |qs| rows — bounded by contract), so a composition that
collects the result pays no extra pass.

MAD compositions (:func:`mad_outliers`, :func:`group_mad_outliers`,
:func:`robust_scale`) share one persisted projection across both
phases and DERIVE the deviation phase's (count, range) from the value
phase's stats — ``|v - med|`` has exactly ``n`` rows in
``[0, max(hi - med, med - lo)]`` whenever the values are inf-free —
because equi-width bins only need to CONTAIN the data, not fit it
snugly (the clamp routes edge values), deriving the range cannot
change which value a rank picks. That removes one full aggregation
pass per composition on top of the shared-projection savings.
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
# narrowing path keeps driver state at O(n_bins) regardless of n.
_SMALL_N = 1_000_000

_INF = float("inf")


def _rank(n: int, q: float) -> int:
    return int(math.floor((n - 1) * q)) + 1


def _probe_small(vals: DataFrame):
    """One-job small-input probe: collect up to _SMALL_N + 1 values via
    Arrow. Returns the full value list when the input fits (the limit
    returned everything there is), else None — the big path then pays
    its stats job knowing the probe read at most one early-terminated
    partial scan."""
    t = vals.limit(_SMALL_N + 1).toArrow()
    if t.num_rows > _SMALL_N:
        return None
    return t


def _values_frame(df: DataFrame, value_col: str) -> DataFrame:
    """The narrow (v double) projection: NULL and NaN excluded (NaN has
    no place in a total order); ±infinity participate."""
    return df.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )


def _stats_of(vals: DataFrame) -> tuple[int, float | None, float | None, int]:
    """(n, finite lo, finite hi, n_inf) of the ``v`` column — one
    partial-agg job (and the job that materializes a persisted vals)."""
    finite = (F.col("v") > -_INF) & (F.col("v") < _INF)
    r = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(finite, F.col("v"))).alias("lo"),
        F.max(F.when(finite, F.col("v"))).alias("hi"),
        F.count(F.when(~finite, F.lit(1))).alias("n_inf"),
    ).collect()[0]
    return r["n"], r["lo"], r["hi"], r["n_inf"]


def _bin_expr(lo: float | None, hi: float | None, n_bins: int):
    """Equi-width routing bin of ``v``: sentinel bins -1 / n_bins for
    ±inf; a degenerate finite range (all-inf, or one distinct finite
    value alongside infs) parks every finite row in bin 0 so a zero
    width never reaches the arithmetic. The greatest/least clamp makes
    any CONTAINING range valid — bins only route ranks."""
    if lo is None or lo == hi:
        finite_bin = F.lit(0)
    else:
        width = (hi - lo) / n_bins
        finite_bin = F.greatest(
            F.lit(0),
            F.least(
                F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(n_bins - 1),
            ),
        )
    return (
        F.when(F.col("v") == -_INF, F.lit(-1))
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
    vals: DataFrame, bin_expr, targets: dict[float, tuple[int, int]]
) -> DataFrame:
    """The boundary-bin pass as a LAZY frame (q, value): filter to the
    target bins, per-bin row_number over the VALUES, broadcast-join the
    (q -> bin, within-bin rank) routing table — one pass no matter how
    many quantiles, several quantiles sharing one (bin, rank) each get
    their own row. Kept as a separate builder so the no-global-sort
    plan contract stays pytest-pinnable."""
    spark = vals.sparkSession
    need_bins = sorted({b for b, _ in targets.values()})
    w = Window.partitionBy("b").orderBy(F.col("v").asc())
    boundary = (
        vals.select("v", bin_expr.alias("b"))
        .filter(F.col("b").isin(need_bins))
        .select("v", "b", F.row_number().over(w).alias("rn"))
    )
    targets_df = local_df(
        spark,
        [(float(q), b, local) for q, (b, local) in targets.items()],
        "q double, b int, rn int",
    )
    return boundary.join(F.broadcast(targets_df), ["b", "rn"]).select(
        "q", F.col("v").alias("value")
    )


def _quantile_map(
    vals: DataFrame,
    qs: tuple[float, ...],
    n_bins: int,
    stats: tuple[int, float | None, float | None, int] | None = None,
) -> tuple[dict[float, float], tuple[int, float | None, float | None, int]]:
    """q -> exact order-statistic value over ``vals`` (a ``v`` column,
    ideally persisted by the caller) by histogram narrowing; callers
    reach it only once ``_probe_small`` found more than ``_SMALL_N``
    rows. ``stats`` skips the stats job when the caller already knows
    (n, lo, hi, n_inf) — a DERIVED containing range is fine (the clamp
    routes edge values)."""
    if stats is None:
        stats = _stats_of(vals)
    n, lo, hi, n_inf = stats
    if n == 0:
        return {}, stats
    ranks = {q: _rank(n, q) for q in qs}
    if n_inf == 0 and lo == hi:
        return {q: lo for q in qs}, stats
    be = _bin_expr(lo, hi, n_bins)
    ht = (
        vals.select(be.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .toArrow()
    )
    hist = dict(zip(ht.column("b").to_pylist(), ht.column("c").to_pylist()))
    targets = _walk_hist(hist, ranks)
    out = {
        r["q"]: r["value"]
        for r in _boundary_frame(vals, be, targets).collect()
    }
    return out, stats


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
    spark = df.sparkSession
    vals = _values_frame(df, value_col)
    probe = _probe_small(vals)
    if probe is not None:
        vs = sorted(probe.column("v").to_pylist())
        if not vs:
            return local_df(spark, [], "q double, value double")
        qmap = {q: vs[_rank(len(vs), q) - 1] for q in qs}
    else:
        if persist:
            vals.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            qmap, _ = _quantile_map(vals, qs, n_bins)
        finally:
            if persist:
                vals.unpersist()
        if not qmap:
            return local_df(spark, [], "q double, value double")
    return local_df(
        spark,
        [(float(q), float(qmap[q])) for q in sorted(qs)],
        "q double, value double",
    )


# ---------------------------------------------------------------------------
# grouped variant
# ---------------------------------------------------------------------------


def _group_values(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(_g string, v double): string-normalized group (so broadcast
    grid/routing frames join without an implicit cast on the big side),
    NULL groups and NULL/NaN values excluded."""
    return df.select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull() & ~F.isnan("v") & F.col("_g").isNotNull())


def _group_stats(
    gvals: DataFrame,
) -> dict[str, tuple[int, float | None, float | None, int]]:
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


def _group_quantile_map(
    gvals: DataFrame,
    stats: dict[str, tuple[int, float | None, float | None, int]],
    qs: tuple[float, ...],
    n_bins: int,
) -> dict[tuple[str, float], float]:
    """(group, q) -> exact order-statistic value. Degenerate groups
    (all values equal, incl. single-row groups) resolve to driver
    literals; a small TOTAL row count collects the projection once and
    ranks driver-side; otherwise the grid-join histogram + boundary
    passes run over ``gvals`` (persisted by the caller)."""
    spark = gvals.sparkSession
    out: dict[tuple[str, float], float] = {}
    live = {}  # group -> (lo, width, {q: global rank})
    for g, (n, lo, hi, n_inf) in stats.items():
        ranks = {q: _rank(n, q) for q in qs}
        if n_inf == 0 and lo == hi:
            for q in qs:
                out[(g, q)] = lo
        elif lo is None or lo == hi:
            # all-inf group, or one distinct finite value among infs:
            # finite rows park in bin 0, the inf sentinels do the rest
            live[g] = (0.0, 1.0, ranks)
        else:
            live[g] = (lo, (hi - lo) / n_bins, ranks)
    if not live:
        return out
    total_live = sum(stats[g][0] for g in live)
    if total_live <= _SMALL_N:
        per_group: dict[str, list[float]] = {g: [] for g in live}
        live_set = set(live)
        gt = gvals.toArrow()
        for g, v in zip(
            gt.column("_g").to_pylist(), gt.column("v").to_pylist()
        ):
            if g in live_set:
                per_group[g].append(v)
        for g, vs in per_group.items():
            vs.sort()
            for q, rk in live[g][2].items():
                out[(g, q)] = vs[rk - 1]
        return out

    grid = local_df(
        spark,
        [(g, lo, w) for g, (lo, w, _) in live.items()],
        "_g string, _lo double, _w double",
    )
    binned = gvals.join(F.broadcast(grid), "_g").select(
        "_g",
        "v",
        F.when(F.col("v") == -_INF, F.lit(-1))
        .when(F.col("v") == _INF, F.lit(n_bins))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor(
                        (F.col("v") - F.col("_lo")) / F.col("_w")
                    ).cast("int"),
                    F.lit(n_bins - 1),
                ),
            )
        )
        .alias("b"),
    )
    hist: dict[str, dict[int, int]] = {}
    ht = binned.groupBy("_g", "b").agg(F.count(F.lit(1)).alias("c")).toArrow()
    for g, b, c in zip(
        ht.column("_g").to_pylist(),
        ht.column("b").to_pylist(),
        ht.column("c").to_pylist(),
    ):
        hist.setdefault(g, {})[b] = c

    routing = []  # (group, bin, within-bin rank, q)
    for g, (_lo, _w, ranks) in live.items():
        for q, (b, local) in _walk_hist(hist[g], ranks).items():
            routing.append((g, b, local, float(q)))
    routes = local_df(
        spark,
        routing, "_g string, b int, rn int, q double"
    )
    w = Window.partitionBy("_g", "b").orderBy(F.col("v").asc())
    picked = (
        binned.join(
            F.broadcast(routes.select("_g", "b").distinct()), ["_g", "b"]
        )
        .select("_g", "b", "v", F.row_number().over(w).alias("rn"))
        .join(F.broadcast(routes), ["_g", "b", "rn"])
        .select("_g", "q", "v")
    )
    for r in picked.collect():
        out[(r["_g"], r["q"])] = r["v"]
    return out


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
    spark = df.sparkSession
    schema = f"{group_col} string, q double, value double"
    gvals = _group_values(df, group_col, value_col)
    probe = _probe_small(gvals)
    if probe is not None:
        per_group: dict[str, list[float]] = {}
        for g, v in zip(
            probe.column("_g").to_pylist(), probe.column("v").to_pylist()
        ):
            per_group.setdefault(g, []).append(v)
        qmap = {}
        for g, vs in per_group.items():
            vs.sort()
            for q in qs:
                qmap[(g, q)] = vs[_rank(len(vs), q) - 1]
    else:
        gvals.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = _group_stats(gvals)
            if not stats:
                return local_df(spark, [], schema)
            qmap = _group_quantile_map(gvals, stats, qs, n_bins)
        finally:
            gvals.unpersist()
    rows = sorted(
        ((g, float(q), float(v)) for (g, q), v in qmap.items()),
        key=lambda t: (t[0], t[1]),
    )
    return local_df(spark, rows, schema)


# ---------------------------------------------------------------------------
# median/MAD compositions
# ---------------------------------------------------------------------------


def _med_mad(
    df: DataFrame, value_col: str, n_bins: int
) -> tuple[float, float] | None:
    """(median, MAD) of ``value_col`` — exact order statistics over ONE
    persisted narrow projection; the deviation phase derives its stats
    from the value phase's whenever the column is inf-free (see module
    head), so the big-n path is stats + 2x(histogram + boundary) = five
    jobs over one cached column, and the small-n path is two jobs.
    None when the column has no non-null non-NaN values."""
    vals = _values_frame(df, value_col)
    probe = _probe_small(vals)
    if probe is not None:
        vs = sorted(probe.column("v").to_pylist())
        if not vs:
            return None
        med = vs[_rank(len(vs), 0.5) - 1]
        devs = sorted(
            d for d in (abs(v - med) for v in vs) if not math.isnan(d)
        )
        if not devs:
            raise ValueError(
                "MAD undefined: every |v - median| is NaN "
                "(inf-dominated column)"
            )
        return med, devs[_rank(len(devs), 0.5) - 1]
    vals.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        stats = _stats_of(vals)
        n, lo, hi, n_inf = stats
        if n == 0:
            return None
        if n_inf == 0 and lo == hi:
            return lo, 0.0
        med_map, _ = _quantile_map(vals, (0.5,), n_bins, stats=stats)
        med = med_map[0.5]
        dev = vals.select(F.abs(F.col("v") - F.lit(med)).alias("v"))
        if n_inf == 0 and math.isfinite(med):
            # derived: |v - med| has exactly n rows in [0, hi_dev]
            hi_dev = max(hi - med, med - lo)
            dev_stats = (n, 0.0, hi_dev, 0)
        else:
            dev_stats = None  # infs make |v - med| lossy: recount
        mad_map, _ = _quantile_map(dev, (0.5,), n_bins, stats=dev_stats)
        return med, mad_map[0.5]
    finally:
        vals.unpersist()


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
    spark = df.sparkSession
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["value double, median double, mad double, lo double, hi double"]
    )
    mm = _med_mad(df, value_col, n_bins)
    if mm is None:
        return local_df(spark, [], schema)
    med, mad = mm
    lo, hi = med - k * mad, med + k * mad
    v = F.col(value_col).cast("double")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v) & ((v < F.lit(lo)) | (v > F.lit(hi))))
        .select(
            *[F.col(c) for c in id_cols],
            v.alias("value"),
            F.lit(med).alias("median"),
            F.lit(mad).alias("mad"),
            F.lit(lo).alias("lo"),
            F.lit(hi).alias("hi"),
        )
    )


def _group_mad_flag_pass(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: tuple[str, ...],
    k: int,
    meds: dict[str, float],
    mads: dict[str, float],
) -> DataFrame:
    """The shared flag pass: fences land as a BROADCAST (group, lo, hi)
    frame, so this is one broadcast-join + filter over the base scan —
    the big side never shuffles."""
    spark = df.sparkSession
    fences = local_df(
        spark,
        [
            (grp, med, mads[grp], med - k * mads[grp], med + k * mads[grp])
            for grp, med in meds.items()
        ],
        "_g string, _med double, _mad double, _lo double, _hi double",
    )
    g = F.col(group_col).cast("string")
    v = F.col(value_col).cast("double")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v) & g.isNotNull())
        .join(F.broadcast(fences), g == F.col("_g"))
        .filter((v < F.col("_lo")) | (v > F.col("_hi")))
        .select(
            F.col("_g").alias(group_col),
            *[F.col(c) for c in id_cols],
            v.alias("value"),
            F.col("_med").alias("median"),
            F.col("_mad").alias("mad"),
            F.col("_lo").alias("lo"),
            F.col("_hi").alias("hi"),
        )
    )


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

    Both phases (per-group median of the values, then per-group median
    of ``|v - median_g|``) run over ONE persisted (_g, v) projection —
    two source scans total (projection build + flag pass) instead of
    the former 4–7. The deviation phase derives each inf-free group's
    (count, range) from the value phase's stats (module-head
    derivation), so its stats job only ever runs for inf-bearing
    groups. Driver state is two group-cardinality-sized median tables;
    the fences land as a BROADCAST (group, lo, hi) frame, so the flag
    pass is one broadcast-join + filter over the base scan — the big
    side never shuffles. Same bounded-group-cardinality contract as
    exact_group_quantiles (types/languages, not per-user). Fences are
    ``med - k*mad`` / ``med + k*mad`` on exact data values in a fixed
    order (ULP-replayable cross-engine, as in :func:`mad_outliers`).

    NULL/NaN values and NULL groups are excluded. Returns
    ``(group_col, *id_cols, value, median, mad, lo, hi)``; groups whose
    spread degenerates to mad == 0 keep the point fence (off-median
    rows flag, as in the global screen).
    """
    spark = df.sparkSession
    schema = ", ".join(
        [f"`{group_col}` string"]
        + [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["value double, median double, mad double, lo double, hi double"]
    )
    gvals = _group_values(df, group_col, value_col)
    # one-job small path: both phases (per-group median, then median of
    # |v - med_g|) fold driver-side over one Arrow probe. Restricted to
    # all-finite values so the rare inf-bearing input keeps the exact
    # behavior of the distributed route below.
    probe = _probe_small(gvals)
    if probe is not None:
        pvs = probe.column("v").to_pylist()
        if all(math.isfinite(v) for v in pvs):
            per_group: dict[str, list[float]] = {}
            for g, v in zip(probe.column("_g").to_pylist(), pvs):
                per_group.setdefault(g, []).append(v)
            if not per_group:
                return local_df(spark, [], schema)
            meds, mads = {}, {}
            for g, vs in per_group.items():
                vs.sort()
                med = vs[_rank(len(vs), 0.5) - 1]
                devs = sorted(abs(v - med) for v in vs)
                meds[g] = med
                mads[g] = devs[_rank(len(devs), 0.5) - 1]
            return _group_mad_flag_pass(
                df, group_col, value_col, id_cols, k, meds, mads
            )
    gvals.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        stats = _group_stats(gvals)
        if not stats:
            return local_df(spark, [], schema)
        meds = {
            g: v
            for (g, _q), v in _group_quantile_map(
                gvals, stats, (0.5,), n_bins
            ).items()
        }
        med_df = local_df(
        spark,
            list(meds.items()), "_g string, _med double"
        )
        dev = gvals.join(F.broadcast(med_df), "_g").select(
            "_g", F.abs(F.col("v") - F.col("_med")).alias("v")
        )
        dev_stats: dict[str, tuple[int, float | None, float | None, int]] = {}
        lossy = []  # inf-bearing groups: |v - med| is lossy, recount
        for g, (n, lo, hi, n_inf) in stats.items():
            med = meds[g]
            if n_inf == 0 and math.isfinite(med):
                dev_stats[g] = (n, 0.0, max(hi - med, med - lo), 0)
            else:
                lossy.append(g)
        if lossy:
            recount = _group_stats(dev.filter(F.col("_g").isin(lossy)))
            dev_stats.update(recount)
        mads = {
            g: v
            for (g, _q), v in _group_quantile_map(
                dev, dev_stats, (0.5,), n_bins
            ).items()
        }
    finally:
        gvals.unpersist()
    return _group_mad_flag_pass(
        df, group_col, value_col, id_cols, k, meds, mads
    )


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
        for r in exact_quantiles(df, value_col, qs=qs, n_bins=hist_bins)
        .orderBy("q")
        .collect()
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
    spark = df.sparkSession
    mm = _med_mad(df, value_col, n_bins)
    if mm is None:
        schema = ", ".join(
            [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols]
            + [
                f"`{value_col}` {df.schema[value_col].dataType.simpleString()}",
                "scaled double, median double, mad double",
            ]
        )
        return local_df(spark, [], schema)
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
