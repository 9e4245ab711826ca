"""Distributed big-path equivalence under forced (patched) caps.

The round-6 optimizations gave the exact-quantile family, the MAD
compositions, connected_components, and vocab_coverage bounded-size
driver fast paths; every realistic unit-test input now fits those, so
WITHOUT these tests the distributed routes (histogram narrowing,
grid-join group histogram, min-label propagation, the two-phase
prefix) would only ever execute at driver scale. Each test here
shrinks the module cap and pins the distributed result against the
naive reference — the same exactness contract the small path pins.
"""

from __future__ import annotations

import math
import random

import pytest

from ocsf_validator_spark.pipeline import quantiles as Q

QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


@pytest.fixture()
def small_cap(monkeypatch):
    # 50-value cap: any few-hundred-row input takes the big path
    monkeypatch.setattr(Q, "_SMALL_N", 50)


def naive(values, qs=QS):
    vs = sorted(v for v in values if v is not None)
    return {q: vs[int(math.floor((len(vs) - 1) * q))] for q in qs}


def test_big_path_exact_quantiles(spark, small_cap):
    rng = random.Random(42)
    values = [rng.uniform(-100, 100) for _ in range(997)]
    df = spark.createDataFrame([(v,) for v in values], "value double")
    for n_bins in (16, 64):
        got = {
            r["q"]: r["value"]
            for r in Q.exact_quantiles(
                df, "value", qs=QS, n_bins=n_bins
            ).collect()
        }
        assert got == naive(values)
    # heavy ties straddling bins + persist flag on the big path
    ties = [5.0] * 700 + [float(i) for i in range(300)]
    tdf = spark.createDataFrame([(v,) for v in ties], "value double")
    got = {
        r["q"]: r["value"]
        for r in Q.exact_quantiles(
            tdf, "value", qs=QS, n_bins=16, persist=True
        ).collect()
    }
    assert got == naive(ties)


def test_big_path_group_quantiles(spark, small_cap):
    rng = random.Random(11)
    rows = [(f"t{i % 3}", rng.uniform(0, 50)) for i in range(600)]
    rows += [("const", 4.0)] * 10 + [("single", 8.25)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        (r["event_type"], r["q"]): r["value"]
        for r in Q.exact_group_quantiles(
            df, "event_type", "value", qs=QS, n_bins=32
        ).collect()
    }
    groups: dict[str, list[float]] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    want = {
        (g, q): sorted(vs)[int(math.floor((len(vs) - 1) * q))]
        for g, vs in groups.items()
        for q in QS
    }
    assert got == want


def test_big_path_mad_and_group_mad(spark, small_cap):
    rng = random.Random(7)
    values = [rng.uniform(8, 12) for _ in range(400)] + [
        rng.uniform(500, 1000) for _ in range(25)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, value double"
    )
    vs = sorted(values)
    med = vs[(len(vs) - 1) // 2]
    devs = sorted(abs(v - med) for v in vs)
    mad = devs[(len(devs) - 1) // 2]
    lo, hi = med - 3 * mad, med + 3 * mad
    got = {
        r.id for r in Q.mad_outliers(df, "value", id_cols=("id",), k=3).collect()
    }
    want = {i for i, v in enumerate(values) if v < lo or v > hi}
    assert got == want and len(want) == 25

    gdf = spark.createDataFrame(
        [(f"g{i % 2}", i, v) for i, v in enumerate(values)],
        "grp string, id int, value double",
    )
    ggot = {
        (r.grp, r.id)
        for r in Q.group_mad_outliers(
            gdf, "grp", "value", id_cols=("id",), k=3
        ).collect()
    }
    gwant = set()
    for gk in ("g0", "g1"):
        gvs = sorted(v for i, v in enumerate(values) if f"g{i % 2}" == gk)
        gmed = gvs[(len(gvs) - 1) // 2]
        gdevs = sorted(abs(v - gmed) for v in gvs)
        gmad = gdevs[(len(gdevs) - 1) // 2]
        glo, ghi = gmed - 3 * gmad, gmed + 3 * gmad
        gwant |= {
            (gk, i)
            for i, v in enumerate(values)
            if f"g{i % 2}" == gk and (v < glo or v > ghi)
        }
    assert ggot == gwant


def test_big_path_vocab_coverage(spark, monkeypatch):
    from ocsf_validator_spark.pipeline import keywords as K

    rng = random.Random(3)
    # Zipf-ish corpus: term t_i with frequency ~ 1/i
    docs = []
    for d in range(60):
        toks = [f"t{min(int(1 / max(rng.random(), 1e-6)), 40)}" for _ in range(50)]
        docs.append((" ".join(toks),))
    df = spark.createDataFrame(docs, "text string")
    fast = {
        (r.coverage_pct): (
            r.needed_tokens, r.vocab_size, r.cutoff_cnt, r.covered_tokens
        )
        for r in K.vocab_coverage(df).collect()
    }
    monkeypatch.setattr(K, "_HIST_CAP", 0)  # force the two-phase prefix
    dist = {
        (r.coverage_pct): (
            r.needed_tokens, r.vocab_size, r.cutoff_cnt, r.covered_tokens
        )
        for r in K.vocab_coverage(df).collect()
    }
    assert fast == dist and len(fast) == 3


# Spark jobs per public call on the 997-row input (3 groups, n_bins 16,
# result collected): (within the cap, past the 50-value cap). The bin
# routing and boundary rows are literal expressions, so no local frame
# is broadcast, and a literal result frame collects without a job.
JOBS = {
    "exact_quantiles": (1, 7),
    "exact_quantiles_persist": (1, 8),
    "exact_group_quantiles": (1, 8),
    "mad_outliers": (2, 13),
    "group_mad_outliers": (2, 13),
    "winsorize": (2, 8),
    "robust_scale": (2, 13),
    "quantile_bin": (2, 8),
}


@pytest.mark.parametrize("big", [False, True], ids=["small", "big"])
def test_quantile_job_counts(spark, monkeypatch, jobs_of, big):
    if big:
        monkeypatch.setattr(Q, "_SMALL_N", 50)
    rng = random.Random(42)
    df = spark.createDataFrame(
        [(i, f"g{i % 3}", rng.uniform(-100, 100)) for i in range(997)],
        "event_id int, g string, value double",
    )
    calls = {
        "exact_quantiles": lambda: Q.exact_quantiles(df, "value", n_bins=16),
        "exact_quantiles_persist": lambda: Q.exact_quantiles(
            df, "value", n_bins=16, persist=True
        ),
        "exact_group_quantiles": lambda: Q.exact_group_quantiles(
            df, "g", "value", n_bins=16
        ),
        "mad_outliers": lambda: Q.mad_outliers(df, "value", n_bins=16),
        "group_mad_outliers": lambda: Q.group_mad_outliers(
            df, "g", "value", n_bins=16
        ),
        "winsorize": lambda: Q.winsorize(df, "value", n_bins=16),
        "robust_scale": lambda: Q.robust_scale(df, "value", n_bins=16),
        "quantile_bin": lambda: Q.quantile_bin(df, "value", hist_bins=16),
    }
    got = {
        name: jobs_of(lambda: call().collect())[1]
        for name, call in calls.items()
    }
    assert got == {name: n[big] for name, n in JOBS.items()}
