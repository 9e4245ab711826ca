"""Exact distributed quantiles (pipeline/quantiles.py).

The load-bearing property: the histogram-narrowing path returns
EXACTLY the order statistic a naive global sort would, for adversarial
shapes — ties straddling bin edges, heavy skew into one bin, tiny n,
n_bins >> n — plus the plan contract that no global sort appears.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from ocsf_validator_spark.pipeline.quantiles import exact_quantiles

QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def naive(values, qs=QS):
    vs = sorted(v for v in values if v is not None)
    n = len(vs)
    return {q: vs[int(math.floor((n - 1) * q))] for q in qs}


def check(spark, values, n_bins=64):
    df = spark.createDataFrame([(v,) for v in values], "value double")
    got = {
        r["q"]: r["value"]
        for r in exact_quantiles(df, "value", qs=QS, n_bins=n_bins).collect()
    }
    assert got == naive(values), (got, naive(values))


def test_uniform_and_seeded_random(spark):
    rng = random.Random(42)
    check(spark, [rng.uniform(-100, 100) for _ in range(997)])


def test_heavy_ties_across_bins(spark):
    # 70% of mass is one repeated value -> its bin holds several ranks
    vals = [5.0] * 700 + [float(i) for i in range(300)]
    check(spark, vals, n_bins=16)


def test_skew_into_last_bin_and_max_clamp(spark):
    # all but one value equal to the max: the least() clamp must route
    # the max into bin n_bins-1, not one past the end
    vals = [1.0] + [9.0] * 99
    check(spark, vals, n_bins=8)


def test_tiny_n_smaller_than_bins(spark):
    check(spark, [3.0, 1.0, 2.0], n_bins=4096)


def test_nulls_excluded_and_degenerate(spark):
    df = spark.createDataFrame(
        [(None,), (2.0,), (None,), (2.0,)], "value double"
    )
    out = {r["q"]: r["value"] for r in exact_quantiles(df, "value", qs=QS).collect()}
    assert set(out.values()) == {2.0} and len(out) == len(QS)
    empty = spark.createDataFrame([(None,)], "value double")
    assert exact_quantiles(empty, "value").count() == 0


def test_no_global_sort_in_plan(spark):
    # the big-n path's boundary pass is the only place a sort could
    # sneak in: pin that the VALUE column only ever sees the per-bin
    # LOCAL sort behind the hashpartitioning-on-bin exchange, never a
    # global (range-partitioned) sort. (The public functions run
    # eagerly and return literal frames, so the pin targets the one
    # boundary-pass builder every big path executes.)
    from ocsf_validator_spark.pipeline.quantiles import (
        _bin_expr,
        _boundary_frame,
        _values,
    )

    rng = random.Random(7)
    df = spark.createDataFrame(
        [(rng.uniform(0, 1),) for _ in range(500)], "value double"
    )
    binned = _values(df, "value").select(
        "_g", "v", _bin_expr({"": (0.0, 1 / 32)}, 32).alias("b")
    )
    frame = _boundary_frame(binned, {("", 16, 3)})
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning" in plan.lower(), plan


from ocsf_validator_spark.pipeline.quantiles import exact_group_quantiles


def naive_grouped(rows, qs=QS):
    groups: dict[str, list[float]] = {}
    for g, v in rows:
        if v is not None and g is not None:
            groups.setdefault(g, []).append(v)
    out = {}
    for g, vs in groups.items():
        vs.sort()
        for q in qs:
            out[(g, q)] = vs[int(math.floor((len(vs) - 1) * q))]
    return out


def test_grouped_matches_naive_with_degenerates(spark):
    rng = random.Random(11)
    rows = []
    for i in range(600):
        rows.append((f"t{i % 3}", rng.uniform(0, 50)))
    rows += [("const", 4.0)] * 10     # degenerate group (lo == hi)
    rows += [("single", 8.25)]        # single-row group
    rows += [(None, 1.0), ("t0", None)]  # excluded
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        (r["event_type"], r["q"]): r["value"]
        for r in exact_group_quantiles(
            df, "event_type", "value", qs=QS, n_bins=32
        ).collect()
    }
    assert got == naive_grouped(rows)


def test_grouped_empty_input(spark):
    df = spark.createDataFrame([], "event_type string, value double")
    assert exact_group_quantiles(df, "event_type", "value").count() == 0


def test_nonfinite_values(spark):
    """NaN excluded; ±inf participate as extreme order statistics and
    never poison the finite binning arithmetic."""
    inf = float("inf")
    vals = [-inf, -inf] + [float(i) for i in range(20)] + [inf]
    rows = [(v,) for v in vals] + [(float("nan"),), (None,)]
    df = spark.createDataFrame(rows, "value double")
    got = {
        r["q"]: r["value"]
        for r in exact_quantiles(df, "value", qs=(0.0, 0.1, 0.5, 1.0), n_bins=8).collect()
    }
    clean = sorted(vals)
    want = {q: clean[int(math.floor((len(clean) - 1) * q))] for q in (0.0, 0.1, 0.5, 1.0)}
    assert got == want
    assert got[0.0] == -inf and got[1.0] == inf


def test_all_inf_and_single_finite_with_inf(spark):
    inf = float("inf")
    df = spark.createDataFrame(
        [(-inf,), (inf,), (inf,)], "value double"
    )
    got = {r["q"]: r["value"] for r in exact_quantiles(df, "value", qs=(0.0, 1.0)).collect()}
    assert got == {0.0: -inf, 1.0: inf}
    df2 = spark.createDataFrame([(5.0,), (5.0,), (inf,)], "value double")
    got2 = {r["q"]: r["value"] for r in exact_quantiles(df2, "value", qs=(0.0, 1.0)).collect()}
    assert got2 == {0.0: 5.0, 1.0: inf}


def test_grouped_nonfinite(spark):
    inf = float("inf")
    rows = (
        [("a", float(i)) for i in range(10)]
        + [("a", inf), ("a", float("nan"))]
        + [("b", -inf), ("b", -inf)]          # all-inf group
        + [("c", 3.0), ("c", 3.0), ("c", inf)]  # one finite value + inf
    )
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        (r["event_type"], r["q"]): r["value"]
        for r in exact_group_quantiles(
            df, "event_type", "value", qs=(0.0, 0.5, 1.0), n_bins=4
        ).collect()
    }
    assert got[("a", 1.0)] == inf and got[("a", 0.0)] == 0.0
    assert got[("a", 0.5)] == 5.0
    assert got[("b", 0.0)] == -inf and got[("b", 1.0)] == -inf
    assert got[("c", 0.0)] == 3.0 and got[("c", 1.0)] == inf


# ---------------------------------------------------------------------------
# mad_outliers
# ---------------------------------------------------------------------------

from ocsf_validator_spark.pipeline.quantiles import mad_outliers


def naive_med_mad(vs):
    """(median, MAD) by the oracle's rule: rank over all n rows, NaN
    sorting last as SQL orders it (|inf - inf| is NaN)."""
    svs = sorted(vs, key=lambda x: (math.isnan(x), x))
    med = svs[(len(svs) - 1) // 2]
    devs = sorted((abs(v - med) for v in svs), key=lambda x: (math.isnan(x), x))
    return med, devs[(len(devs) - 1) // 2]


def outside(v, lo, hi):
    # SQL comparison: NaN is the greatest value, so v < NaN holds
    return math.isnan(lo) or v < lo or v > hi


def naive_mad(values, k=3):
    med, mad = naive_med_mad(
        [v for v in values if v is not None and not math.isnan(v)]
    )
    lo, hi = med - k * mad, med + k * mad
    return {
        (i, v): (v, med, mad, lo, hi)
        for i, v in enumerate(values)
        if v is not None and not math.isnan(v) and outside(v, lo, hi)
    }


def run_mad(spark, values, k=3, n_bins=32):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, value double"
    )
    return {
        (r.id, r.value): (r.value, r.median, r.mad, r.lo, r.hi)
        for r in mad_outliers(df, "value", id_cols=("id",), k=k, n_bins=n_bins).collect()
    }


def test_mad_matches_naive_skewed_tail(spark):
    rng = random.Random(7)
    # bulk near 10, a contaminated heavy tail the fences must NOT chase
    values = [rng.uniform(8, 12) for _ in range(400)] + [
        rng.uniform(500, 1000) for _ in range(25)
    ]
    got = run_mad(spark, values)
    assert got == naive_mad(values)
    assert len(got) == 25  # every tail point flagged, no bulk point


def test_mad_with_nulls_nans_and_ties(spark):
    values = [1.0] * 50 + [2.0] * 50 + [None, float("nan"), 100.0, -100.0]
    got = run_mad(spark, values)
    exp = naive_mad(values)
    assert got == exp and len(exp) == 2  # only ±100 flagged


def test_mad_degenerate_spread(spark):
    # mad == 0: the fence collapses to the point median; off-median
    # values are the outliers
    values = [5.0] * 99 + [6.0]
    got = run_mad(spark, values)
    assert got == naive_mad(values) and len(got) == 1


def test_mad_empty_and_all_null(spark):
    assert run_mad(spark, []) == {}
    assert run_mad(spark, [None, None]) == {}


# ---------------------------------------------------------------------------
# group_mad_outliers
# ---------------------------------------------------------------------------

from ocsf_validator_spark.pipeline.quantiles import group_mad_outliers


def naive_group_mad(rows, k=3):
    """rows: (group, value). Mirrors naive_mad per group."""
    by_g = {}
    for g, v in rows:
        if g is not None and v is not None and not math.isnan(v):
            by_g.setdefault(g, []).append(v)
    out = {}
    for g, vs in by_g.items():
        med, mad = naive_med_mad(vs)
        lo, hi = med - k * mad, med + k * mad
        for i, (gg, v) in enumerate(rows):
            if gg == g and v is not None and not math.isnan(v) and outside(v, lo, hi):
                out[(g, i)] = (v, med, mad, lo, hi)
    return out


def run_group_mad(spark, rows, k=3, n_bins=32):
    df = spark.createDataFrame(
        [(g, i, v) for i, (g, v) in enumerate(rows)],
        "g string, id int, value double",
    )
    return {
        (r.g, r.id): (r.value, r.median, r.mad, r.lo, r.hi)
        for r in group_mad_outliers(
            df, "g", "value", id_cols=("id",), k=k, n_bins=n_bins
        ).collect()
    }


def test_group_mad_per_group_scales(spark):
    # group a lives near 10, group b near 1000: 60 is unremarkable
    # globally-pooled (inside the pooled fence) but a gross outlier
    # within a — the per-stratum screen must flag it and the global
    # screen (same k) must NOT
    rng = random.Random(11)
    rows = [("a", rng.uniform(8, 12)) for _ in range(200)] + [
        ("b", rng.uniform(990, 1010)) for _ in range(200)
    ]
    rows.append(("a", 60.0))
    got = run_group_mad(spark, rows)
    exp = naive_group_mad(rows)
    assert got == exp
    assert ("a", 400) in got and len(got) == len(exp)
    pooled = naive_mad([v for _, v in rows])
    assert not any(v == 60.0 for (_, v) in pooled)


def test_group_mad_nulls_and_degenerate_group(spark):
    rows = (
        [("a", 5.0)] * 40
        + [("a", 6.0)]          # degenerate spread in a: mad == 0
        + [("b", float(i)) for i in range(21)]
        + [("b", 500.0), (None, 1e9), ("c", None), ("c", float("nan"))]
    )
    got = run_group_mad(spark, rows)
    exp = naive_group_mad(rows)
    assert got == exp
    flagged_vals = sorted(v for (v, *_rest) in got.values())
    assert flagged_vals == [6.0, 500.0]  # NULL-group row never flags


def test_group_mad_empty(spark):
    assert run_group_mad(spark, []) == {}
    assert run_group_mad(spark, [("a", None), (None, 1.0)]) == {}


INF = float("inf")


@pytest.mark.parametrize("cap", ["real", "forced"])
@pytest.mark.parametrize("values", [
    [1.0, 2.0, INF, INF, INF],
    [INF, INF, INF],
    [-INF, INF],
    [1.0, 2.0, 3.0, 4.0, INF],
    [-INF, 1.0, 2.0, 3.0, INF, INF],
])
def test_mad_infinite_values(spark, monkeypatch, values, cap):
    """The NaN rule on both paths: a deviation |inf - inf| is NaN, takes
    part in the MAD rank and sorts last, as the oracle's SQL orders it
    — for a scalar call and a one-group call alike. The forced cap
    sends these few rows down the distributed passes."""
    from ocsf_validator_spark.pipeline import quantiles as Q

    if cap == "forced":
        monkeypatch.setattr(Q, "_SMALL_N", 1)

    def nan_safe(d):
        return {k: repr(t) for k, t in d.items()}

    want = repr(naive_med_mad(values))
    df = spark.createDataFrame([("a", v) for v in values], "g string, value double")
    assert repr(Q._med_mad(df, "value", 32)[""]) == want
    assert repr(Q._med_mad(df, "value", 32, "g")["a"]) == want
    assert nan_safe(run_mad(spark, values)) == nan_safe(naive_mad(values))
    rows = [("a", v) for v in values]
    assert nan_safe(run_group_mad(spark, rows)) == nan_safe(naive_group_mad(rows))


def test_winsorize_clips_at_exact_fences(spark):
    """winsorize: fences are exact order statistics, tails clip AT the
    fence values, NULLs pass through with NULL flags, degenerate and
    empty inputs behave, bad quantile args raise."""
    import math

    import pytest as _pytest

    from ocsf_validator_spark.pipeline.quantiles import winsorize

    vals = list(range(1, 101))  # 1..100
    rows = [(i, float(v)) for i, v in enumerate(vals)] + [(999, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    # p10/p90 of 1..100: rank floor(99*q)+1 -> values 10.0 and 90.0
    out = {r.event_id: r for r in winsorize(df, "value", 0.1, 0.9).collect()}
    assert out[0].clipped == 10.0 and out[0].was_clipped is True
    assert out[99].clipped == 90.0 and out[99].was_clipped is True
    assert out[49].clipped == 50.0 and out[49].was_clipped is False
    # fence values themselves are NOT flagged (closed interval)
    assert out[9].clipped == 10.0 and out[9].was_clipped is False
    assert out[999].clipped is None and out[999].was_clipped is None
    # degenerate: all-equal column clips nothing
    same = spark.createDataFrame([(i, 5.0) for i in range(10)], "event_id long, value double")
    got = winsorize(same, "value", 0.01, 0.99).collect()
    assert all(r.clipped == 5.0 and r.was_clipped is False for r in got)
    # all-NULL column: empty fences -> passthrough
    nul = spark.createDataFrame([(1, None)], "event_id long, value double")
    r = winsorize(nul, "value").collect()[0]
    assert r.clipped is None and r.was_clipped is None
    with _pytest.raises(ValueError):
        winsorize(df, "value", 0.9, 0.1)


def test_quantile_bin_equal_frequency_and_edges(spark):
    """quantile_bin: deciles of 1..100 land 10 per bucket with the
    right-closed fence convention; ties pile into the lower bucket;
    NULLs carry NULL; n_bins < 2 raises."""
    import pytest as _pytest

    from ocsf_validator_spark.pipeline.quantiles import quantile_bin

    rows = [(i, float(v)) for i, v in enumerate(range(1, 101))] + [(999, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    got = {r.event_id: r.bucket for r in quantile_bin(df, "value", 10).collect()}
    from collections import Counter

    counts = Counter(b for k, b in got.items() if k != 999)
    assert counts == {b: 10 for b in range(1, 11)}
    assert got[0] == 1 and got[99] == 10 and got[999] is None
    # monotone: bucket never decreases with value
    order = [got[i] for i in range(100)]
    assert order == sorted(order)
    # heavy ties at one fence all land in the SAME (lower) bucket
    tied = spark.createDataFrame(
        [(i, 5.0) for i in range(50)] + [(i + 50, 9.0) for i in range(50)],
        "event_id long, value double",
    )
    tb = {r.event_id: r.bucket for r in quantile_bin(tied, "value", 4).collect()}
    assert len({tb[i] for i in range(50)}) == 1
    assert len({tb[i + 50] for i in range(50)}) == 1
    with _pytest.raises(ValueError):
        quantile_bin(df, "value", 1)


def test_robust_scale_median_mad_semantics(spark):
    """robust_scale: median row scales to 0, units are MADs, a gross
    outlier can't move the scale (robustness), degenerate mad==0 and
    NULLs yield NULL scaled, empty input yields empty frame."""
    from ocsf_validator_spark.pipeline.quantiles import robust_scale

    vals = [float(v) for v in range(1, 12)]  # 1..11, median 6, MAD 3
    rows = [(i, v) for i, v in enumerate(vals)] + [(99, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    got = {r.event_id: r for r in robust_scale(df, "value").collect()}
    assert got[5].scaled == 0.0 and got[5].median == 6.0 and got[5].mad == 3.0
    assert got[0].scaled == round((1 - 6) / 3, 6)
    assert got[10].scaled == round((11 - 6) / 3, 6)
    assert got[99].scaled is None
    # robustness: replace the max with a monster; median/mad barely move
    rows2 = [(i, v) for i, v in enumerate(vals[:-1] + [1e12])]
    g2 = robust_scale(
        spark.createDataFrame(rows2, "event_id long, value double"), "value"
    ).collect()[0]
    assert g2.median == 6.0 and g2.mad == 3.0
    # degenerate: constant column -> mad 0 -> NULL scaled
    const = spark.createDataFrame([(i, 7.0) for i in range(5)], "event_id long, value double")
    assert all(r.scaled is None for r in robust_scale(const, "value").collect())
    empty = spark.createDataFrame([], "event_id long, value double")
    assert robust_scale(empty, "value").count() == 0
