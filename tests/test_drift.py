"""KS/PSI drift tests — FIXTURES.md scenario 13: a sample with ts
shifted +30d and text lengths doubled must trip both checks; the clean
sample must not."""

from __future__ import annotations

import math

import pytest

from ocsf_validator_spark.drift import (
    histogram,
    ks_by_bucket,
    ks_distance,
    psi,
)
from ocsf_validator_spark.synth import (
    synth_drifted,
    synth_reference_sample,
)


def _psi_of_counts(pairs, epsilon=1e-6):
    """Plain-Python PSI oracle over [(cur_cnt, ref_cnt)] per bin: shares
    floored at epsilon only inside the log, NaN on an empty side."""
    ct = float(sum(c for c, _ in pairs))
    rt = float(sum(r for _, r in pairs))
    if ct == 0 or rt == 0:
        return float("nan")
    out = 0.0
    for c, r in pairs:
        p, q = c / ct, r / rt
        out += (p - q) * (
            math.log(max(p, epsilon)) - math.log(max(q, epsilon))
        )
    return out


def _emd_of_counts(rows):
    """Plain-Python EMD oracle (Wasserstein-1, bin units) over
    [(bin, cur_cnt, ref_cnt)]: big-int CDF fold, gaps between occupied
    bins by multiplier, one cast-then-divide, NaN on an empty side."""
    rows = sorted(rows)
    nc = sum(c for _, c, _ in rows)
    nr = sum(r for _, _, r in rows)
    if nc == 0 or nr == 0:
        return float("nan")
    total = 0
    cum_c = cum_r = 0
    for i, (b, c, r) in enumerate(rows[:-1]):
        cum_c += c
        cum_r += r
        total += abs(cum_c * nr - cum_r * nc) * (rows[i + 1][0] - b)
    return float(total) / float(nc * nr)


@pytest.fixture(scope="module")
def samples(spark):
    ref = synth_reference_sample(spark, n=4000, seed=7).cache()
    same = synth_reference_sample(spark, n=4000, seed=11).cache()
    drifted = synth_drifted(spark, n=4000, seed=13).cache()
    yield ref, same, drifted
    for d in (ref, same, drifted):
        d.unpersist()


def test_psi_no_drift(samples):
    ref, same, _ = samples
    v = psi(same, ref, "length(text)", "floor(_v / 16)")
    assert v < 0.05


def test_psi_detects_length_doubling(samples):
    ref, _, drifted = samples
    v = psi(drifted, ref, "length(text)", "floor(_v / 16)")
    assert v > 0.2


def test_psi_detects_ts_shift(samples):
    ref, _, drifted = samples
    v = psi(drifted, ref, "unix_timestamp(ts)", "floor(_v / 86400)")
    assert v > 0.2


def test_ks_distance_exact(spark):
    # hand-checkable: a={1,2,3,4}, b={3,4,5,6} → D = 0.5 at v=2
    a = spark.createDataFrame([(float(x),) for x in (1, 2, 3, 4)], "v double")
    b = spark.createDataFrame([(float(x),) for x in (3, 4, 5, 6)], "v double")
    d = ks_distance(a, b, "v")
    assert abs(d - 0.5) < 1e-9


def test_ks_distance_identical_is_zero(spark):
    a = spark.createDataFrame([(float(x),) for x in range(50)], "v double")
    assert ks_distance(a, a, "v") < 1e-9


def test_ks_by_bucket_arrow(samples):
    ref, same, drifted = samples
    ref_sample = [r.v for r in ref.selectExpr("length(text) as v").collect()]
    clean = ks_by_bucket(same, ref_sample, "length(text)", num_buckets=4).collect()
    assert all(not r.drifted for r in clean)
    bad = ks_by_bucket(drifted, ref_sample, "length(text)", num_buckets=4).collect()
    assert all(r.drifted for r in bad)
    assert all(r.ks > r.threshold for r in bad)


def test_histogram_counts(samples):
    ref, _, _ = samples
    h = histogram(ref, "length(text)", "floor(_v / 16)")
    assert sum(r.cnt for r in h.collect()) == ref.count()


def test_psi_split_matches_two_df_psi(spark):
    """psi_split (ONE scan: groupBy(bin) with conditional counts) must
    equal psi() over the two filtered halves of the same table."""
    from ocsf_validator_spark.drift import psi_split
    from pyspark.sql import functions as F

    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 7 * 3 + F.col("id") % 13).alias("v")
    )
    two_scan = psi(
        df.filter(F.col("id") % 2 == 0),
        df.filter(F.col("id") % 2 == 1),
        "v",
        "floor(_v / 4)",
    )
    one_scan = psi_split(df, "id % 2 = 0", "v", "floor(_v / 4)")
    assert math.isclose(two_scan, one_scan, rel_tol=1e-12)
    # explicit ref_pred: rows matching neither predicate are ignored
    part = psi_split(df, "id % 3 = 0", "v", "floor(_v / 4)", ref_pred="id % 3 = 1")
    assert not math.isnan(part)


def test_psi_split_single_scan_plan(spark):
    """The one-scan contract: a single source appears in the plan."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("v"))
    staged = (
        df.select(
            F.expr("v").alias("_v"),
            F.expr("id % 2 = 0").alias("_is_cur"),
            F.expr("NOT (id % 2 = 0)").alias("_is_ref"),
        )
        .filter(F.col("_v").isNotNull() & (F.col("_is_cur") | F.col("_is_ref")))
        .select("_is_cur", "_is_ref", F.expr("floor(_v / 2)").cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.col("_is_cur").cast("long")).alias("c_cnt"),
            F.sum(F.col("_is_ref").cast("long")).alias("r_cnt"),
        )
    )
    plan = staged._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("Range (0, 100") == 1, plan


def test_psi_split_by_bucket_matches_per_bucket_psi(spark):
    """Each bucket's PSI from the one-scan partitioned formulation must
    equal psi_split run on that bucket's rows alone."""
    from ocsf_validator_spark.drift import psi_split, psi_split_by_bucket
    from pyspark.sql import functions as F

    df = spark.range(0, 30000).select(
        F.col("id"),
        ((F.col("id") % 7) % 4).cast("int").alias("bucket_src"),
        ((F.col("id") * 7) % 23).alias("v"),
    )
    out = {
        r.bucket: r.psi
        for r in psi_split_by_bucket(
            df,
            "id % 2 = 0",
            "v",
            "floor(_v / 3)",
            bucket_expr=F.col("bucket_src"),
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    for b in range(4):
        solo = psi_split(
            df.filter(F.col("bucket_src") == b), "id % 2 = 0", "v", "floor(_v / 3)"
        )
        assert math.isclose(out[b], solo, rel_tol=1e-9), (b, out[b], solo)
    # a bucket with an empty side degrades to NULL psi + drifted=True,
    # never an ANSI divide-by-zero job failure
    rows = psi_split_by_bucket(
        df, "id % 2 = 0", "v", "floor(_v / 3)",
        bucket_expr=(F.col("id") % 2).cast("int"),  # bucket == side
    ).collect()
    assert all(r.psi is None and r.drifted for r in rows)


def test_volume_anomaly_flags_outage_and_double_load(spark):
    """12 stable days (100±2 rows), one outage day (8 rows), one
    double-load day (210): exactly those two flag; median/MAD fences
    are exact data values."""
    import datetime as dt

    from ocsf_validator_spark import drift

    rows = []
    day0 = dt.datetime(2026, 1, 1)
    sizes = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100, 100, 101]
    for d, n in enumerate(sizes):
        rows += [(day0 + dt.timedelta(days=d, seconds=s),) for s in range(n)]
    rows += [(day0 + dt.timedelta(days=12, seconds=s),) for s in range(8)]
    rows += [(day0 + dt.timedelta(days=13, seconds=s),) for s in range(210)]
    rows.append((None,))  # NULL ts excluded
    df = spark.createDataFrame(rows, "ts timestamp")
    out = drift.volume_anomaly(df, k=3).collect()
    assert len(out) == 14
    flagged = {r.bucket.day: r.cnt for r in out if r.anomaly}
    assert flagged == {13: 8, 14: 210}
    r0 = out[0]
    assert r0.median == 100.0 and r0.mad == 1.0
    assert r0.lo == 97.0 and r0.hi == 103.0


def test_volume_anomaly_empty_and_degenerate(spark):
    import datetime as dt

    from ocsf_validator_spark import drift

    empty = spark.createDataFrame([], "ts timestamp")
    assert drift.volume_anomaly(empty).count() == 0
    # constant series: mad=0, point fence, nothing anomalous
    day0 = dt.datetime(2026, 1, 1)
    const = spark.createDataFrame(
        [(day0 + dt.timedelta(days=d, seconds=s),) for d in range(5) for s in range(10)],
        "ts timestamp",
    )
    out = drift.volume_anomaly(const).collect()
    assert len(out) == 5 and not any(r.anomaly for r in out)


def test_emd_known_answers(spark):
    from ocsf_validator_spark import drift

    # point masses 5 bins apart, equal weight: EMD = 5 exactly —
    # including the empty-bin gap contribution
    df = spark.createDataFrame(
        [(0, True)] * 4 + [(5, False)] * 4, "v long, cur boolean"
    )
    got = drift.emd_split(df, "cur", "v", "_v")
    assert got == 5.0
    # identical slices: 0; PSI needs epsilon floors here, EMD does not
    same = spark.createDataFrame(
        [(i % 3, i % 2 == 0) for i in range(12)], "v long, cur boolean"
    )
    assert drift.emd_split(same, "cur", "v", "_v") == 0.0
    # asymmetric masses: cur = {0:1, 1:1}, ref = {0:2} ->
    # |1*2-2*2|/(2*2) * 1 = 0.5
    df3 = spark.createDataFrame(
        [(0, True), (1, True), (0, False), (0, False)],
        "v long, cur boolean",
    )
    assert drift.emd_split(df3, "cur", "v", "_v") == 0.5
    # empty side -> nan
    import math as m

    one_sided = spark.createDataFrame([(1, True)], "v long, cur boolean")
    assert m.isnan(drift.emd_split(one_sided, "cur", "v", "_v"))


def test_emd_from_histograms_matches_split(spark):
    from pyspark.sql import functions as F

    from ocsf_validator_spark import drift

    rows = [(i % 7 + (3 if i % 2 == 0 else 0),) for i in range(200)]
    df = spark.createDataFrame(rows, "v long").withColumn(
        "cur", (F.col("v") % 2 == 0)
    )
    a = drift.histogram(df.filter("cur"), "v", "_v")
    b = drift.histogram(df.filter("NOT cur"), "v", "_v")
    assert drift.emd_from_histograms(a, b) == drift.emd_split(
        df, "cur", "v", "_v"
    )


def test_drift_paths_match_python_oracles(spark, jobs_of):
    """Every drift path folds the same binned histogram through one
    kernel: psi_split, psi_from_histograms, each psi_split_by_bucket
    bucket and the DriftGate legs equal the plain-Python folds (PSI to
    1e-12, EMD exactly), on data with a NULL value, a bin on one side
    only and an empty side. Job counts: psi_split / emd_split 2,
    psi_from_histograms 3, psi_split_by_bucket 2, a DriftGate leg 2."""
    from collections import Counter

    from pyspark.sql import functions as F

    from ocsf_validator_spark import drift
    from ocsf_validator_spark.spec import ConstraintSet, DriftGate
    from ocsf_validator_spark.violations import dataset_findings

    # v is NULL on every 97th id; v = 100 (bin 33) only on even
    # (current) ids; bucket 3 holds current rows only
    df = spark.range(0, 3000).select(
        F.col("id"),
        F.when(F.col("id") % 97 == 0, None)
        .when(F.col("id") % 50 == 0, F.lit(100))
        .otherwise(F.col("id") % 23)
        .alias("v"),
        F.when(F.col("id") % 10 == 4, 3)
        .otherwise(F.col("id") % 3)
        .cast("int")
        .alias("b"),
    )
    raw = [r for r in df.collect() if r.v is not None]

    def counts(bucket=None):
        side = [Counter(), Counter()]  # [reference, current] per bin
        for r in raw:
            if bucket in (None, r.b):
                side[r.id % 2 == 0][r.v // 3] += 1
        ref, cur = side
        return [(b, cur[b], ref[b]) for b in sorted(set(cur) | set(ref))]

    whole = counts()
    assert any(c and not r for _, c, r in whole)  # a one-sided bin
    want_psi = _psi_of_counts([(c, r) for _, c, r in whole])
    want_emd = _emd_of_counts(whole)
    bin_expr = "floor(_v / 3)"

    split = ("id % 2 = 0", "v", bin_expr)
    got, jobs = jobs_of(lambda: drift.psi_split(df, *split))
    assert math.isclose(got, want_psi, rel_tol=1e-12) and jobs == 2
    got, jobs = jobs_of(lambda: drift.emd_split(df, *split))
    assert got == want_emd and jobs == 2
    halves = [
        drift.histogram(df.filter(f"id % 2 = {k}"), "v", bin_expr)
        for k in (0, 1)
    ]
    got, jobs = jobs_of(lambda: drift.psi_from_histograms(*halves))
    assert math.isclose(got, want_psi, rel_tol=1e-12) and jobs == 3
    assert drift.emd_from_histograms(*halves) == want_emd
    assert math.isnan(drift.psi_split(df, "false", "v", bin_expr))
    assert math.isnan(drift.emd_split(df, "false", "v", bin_expr))

    rows, jobs = jobs_of(
        lambda: drift.psi_split_by_bucket(
            df, *split, bucket_expr=F.col("b")
        ).collect()
    )
    assert jobs == 2
    assert sorted(r.bucket for r in rows) == [0, 1, 2, 3]
    for r in rows:
        pairs = [(c, ref) for _, c, ref in counts(r.bucket)]
        assert (r.n_cur, r.n_ref) == tuple(map(sum, zip(*pairs)))
        want = _psi_of_counts(pairs)
        if r.bucket == 3:  # no reference rows
            assert math.isnan(want) and r.psi is None and r.drifted
        else:
            assert math.isclose(r.psi, want, rel_tol=1e-12), r

    # the DriftGate leg: current rows vs the reference slice recorded
    # as a baseline; a threshold at the oracle's value fires, one just
    # past it does not
    cur = df.filter("id % 2 = 0")
    baseline = {str(b): r for b, _, r in whole if r}

    def gates(psi_thr, emd_thr):
        suite = ConstraintSet(
            name="g",
            constraints=[
                DriftGate(column="v", bin_expr=bin_expr, baseline=baseline,
                          metric="psi", threshold=psi_thr),
                DriftGate(column="v", bin_expr=bin_expr, baseline=baseline,
                          metric="emd", threshold=emd_thr),
            ],
        )
        return [r.reason for r in dataset_findings(cur, suite).collect()]

    reasons, jobs = jobs_of(
        lambda: gates(want_psi * (1 - 1e-12), want_emd)
    )
    assert reasons == [
        f"psi(v) = {want_psi:.4f} above threshold {want_psi * (1 - 1e-12)} "
        "vs recorded baseline",
        f"emd(v) = {want_emd:.6f} above threshold {want_emd} "
        "vs recorded baseline",
    ]
    assert jobs == 4  # 2 per leg
    assert gates(
        want_psi * (1 + 1e-12), math.nextafter(want_emd, math.inf)
    ) == []
