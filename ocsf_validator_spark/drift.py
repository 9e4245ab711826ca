"""Distribution-drift checks — PSI, EMD and KS (north-star additions;
the reference has no statistical checks, SURVEY.md §2.10).

PSI and EMD are each defined once, over one binned histogram:

- **One staging.** ``binned_counts`` maps rows to ``(bucket, bin,
  c_cnt, r_cnt)``: one groupBy(bucket, bin) with conditional counts of
  the current and the reference slice, NULL values dropped. The scalar
  paths (``psi_split``, ``emd_split``) use a constant bucket;
  ``psi_split_by_bucket`` defaults to ``stats.bucket_col``.
  ``psi_from_histograms`` / ``emd_from_histograms`` (and with them
  ``psi`` and the DriftGate leg of ``violations.dataset_findings``,
  whose baseline is a ``local_df``) union two one-sided ``(bin, cnt)``
  histograms into the same shape.
- **One table kernel per metric.** ``psi_table`` / ``emd_table`` fold
  that histogram through ``coalesce(1)`` (no exchange: it holds at
  most buckets × bins rows, and the scalar paths collect all of it
  anyway), per-bucket total windows and the term builders, to one row
  per bucket. The scalar APIs collect that row (NaN on an empty side).
  The streaming legs (``streaming.streaming_psi`` /
  ``streaming_emd``) call the same builders over their per-bin
  columns.

PSI sums ``psi_term`` = ``(p - q) * (ln max(p, eps) - ln max(q, eps))``
over bins, with p and q shares of the binned rows: the floor applies
only inside the log, so a bin present on one side only contributes a
finite term. EMD (Wasserstein-1, bin units) sums ``emd_term`` =
``|cum_c·n_r − cum_r·n_c| · gap`` in decimal(38,0) and ``emd_value``
divides once, cast-then-divide, so a SQL replay's
``::DOUBLE / ::DOUBLE`` matches it bit for bit.

KS (two-sample, exact) — two implementations:

1. ``ks_distance`` — SQL-expressible: union both samples with
   indicator columns, cumulative counts over a RANGE window ordered by
   value (RANGE so ties are handled exactly), D = max |ECDF_a - ECDF_b|.
   The global ordered window means one reducer touches the union — use
   it on bounded samples/buckets (it doubles as the DuckDB oracle
   formulation).
2. ``ks_by_bucket`` — the scale path: grouped ``applyInPandas``
   (Arrow-vectorized, per BASELINE.json input_hint "no per-row
   Python"): each conv-hash bucket computes its KS statistic against a
   broadcast reference sample with numpy. 10^12 turns → NB independent
   group tasks, no global sort. (A RANGE window with the reference
   replicated per bucket gives the same rows in 2 jobs, but took
   5.1–7.5 s against 2.1–3.0 s for this path on 4 M rows, m = 5000,
   ``local[4]``.)

Thresholds: PSI ≥ 0.2 is the conventional "significant shift"; KS uses
the large-sample critical value c(α)·sqrt((n+m)/(n·m)), c(0.05)=1.358.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import local_df
from ocsf_validator_spark.stats import bucket_col

PSI_SIGNIFICANT = 0.2
KS_C_ALPHA_05 = 1.358
_DEC = "decimal(38,0)"  # exact EMD cross-products


def histogram(df: DataFrame, value_expr: str, bin_expr: str) -> DataFrame:
    """(bin bigint, cnt long) histogram of a SQL expression.
    ``bin_expr`` maps value column ``_v`` to an integer bin, e.g.
    ``floor(_v / 16)`` for text length or ``floor(_v / 86400)`` for
    epoch-seconds → days. Fixed bins keep snapshots comparable."""
    return (
        df.select(F.expr(value_expr).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .select(F.expr(bin_expr).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def binned_counts(
    df: DataFrame,
    value_expr: str,
    bin_expr: str,
    cur_pred: str,
    ref_pred: str | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    """The one drift staging: ``(bucket int, bin bigint, c_cnt long,
    r_cnt long)`` counts, per bucket and bin, of the rows matching
    ``cur_pred`` and ``ref_pred`` (default NOT cur_pred) whose
    ``value_expr`` is not NULL. One scan and one groupBy: rows matching
    neither predicate are ignored, a row matching both counts on both
    sides. ``bucket`` defaults to the constant 0 of the scalar paths."""
    rp = f"NOT ({cur_pred})" if ref_pred is None else ref_pred
    staged = df.select(
        (F.lit(0) if bucket is None else bucket).cast("int").alias("bucket"),
        F.expr(value_expr).alias("_v"),
        F.expr(cur_pred).alias("_is_cur"),
        F.expr(rp).alias("_is_ref"),
    ).filter(F.col("_v").isNotNull() & (F.col("_is_cur") | F.col("_is_ref")))
    return staged.groupBy(
        "bucket", F.expr(bin_expr).cast("bigint").alias("bin")
    ).agg(
        F.count_if(F.col("_is_cur")).alias("c_cnt"),
        F.count_if(F.col("_is_ref")).alias("r_cnt"),
    )


def _paired(cur: DataFrame, ref: DataFrame) -> DataFrame:
    """Two (bin, cnt) histograms as one constant-bucket binned_counts
    histogram; a bin on both sides repeats, and the kernel merges it."""
    zero = F.lit(0).cast("long")
    return cur.select(
        F.lit(0).alias("bucket"), "bin", F.col("cnt").alias("c_cnt"),
        zero.alias("r_cnt"),
    ).unionByName(
        ref.select(
            F.lit(0).alias("bucket"), "bin", zero.alias("c_cnt"),
            F.col("cnt").alias("r_cnt"),
        )
    )


def _in_one_task(hist: DataFrame) -> DataFrame:
    """The histogram in one task with one row per (bucket, bin).
    ``coalesce(1)`` adds no exchange, and its single partition satisfies
    every later group and window, so the kernel adds none either."""
    return hist.coalesce(1).groupBy("bucket", "bin").agg(
        F.sum("c_cnt").alias("c_cnt"), F.sum("r_cnt").alias("r_cnt")
    )


def psi_term(
    c: Column, r: Column, ct: Column, rt: Column, epsilon: float
) -> Column:
    """One bin's PSI term from its counts and the side totals. The
    shares are floored at ``epsilon`` only inside the log; a zero total
    makes the term NULL (try_divide, never an ANSI divide-by-zero)."""
    p, q = F.try_divide(c, ct), F.try_divide(r, rt)
    eps = F.lit(epsilon)
    return (p - q) * (F.log(F.greatest(p, eps)) - F.log(F.greatest(q, eps)))


def emd_term(
    cum_c: Column, cum_r: Column, nc: Column, nr: Column, gap: Column
) -> Column:
    """One CDF step of the EMD fold, exact in decimal(38,0):
    ``|cum_c·nr − cum_r·nc| · gap``, gap = bins to the next step."""
    cum_c, cum_r, nc, nr, gap = (
        x.cast(_DEC) for x in (cum_c, cum_r, nc, nr, gap)
    )
    return F.abs(cum_c * nr - cum_r * nc) * gap


def emd_value(total: Column, nc: Column, nr: Column) -> Column:
    """EMD from the summed emd_terms: one cast-then-divide by
    ``nc·nr``; NULL when a side is empty."""
    return F.when(
        (nc > 0) & (nr > 0),
        total.cast("double") / (nc.cast(_DEC) * nr.cast(_DEC)).cast("double"),
    )


def psi_table(hist: DataFrame, epsilon: float = 1e-6) -> DataFrame:
    """The PSI kernel: (bucket, n_cur, n_ref, psi) from a binned_counts
    histogram; psi is NULL for a bucket with an empty side."""
    w = Window.partitionBy("bucket")
    terms = _in_one_task(hist).select(
        "bucket",
        "c_cnt",
        "r_cnt",
        psi_term(
            F.col("c_cnt"), F.col("r_cnt"),
            F.sum("c_cnt").over(w), F.sum("r_cnt").over(w), epsilon,
        ).alias("_t"),
    )
    return terms.groupBy("bucket").agg(
        F.sum("c_cnt").alias("n_cur"),
        F.sum("r_cnt").alias("n_ref"),
        F.sum("_t").alias("psi"),
    )


def emd_table(hist: DataFrame) -> DataFrame:
    """The EMD kernel: (bucket, n_cur, n_ref, emd) from a binned_counts
    histogram. The empty bins between occupied ones count through the
    gap to the next bin, not by materializing them; emd is NULL for a
    bucket with an empty side."""
    w = Window.partitionBy("bucket")
    wo = w.orderBy("bin")
    steps = _in_one_task(hist).select(
        "bucket",
        "c_cnt",
        "r_cnt",
        emd_term(
            F.sum("c_cnt").over(wo), F.sum("r_cnt").over(wo),
            F.sum("c_cnt").over(w), F.sum("r_cnt").over(w),
            F.lead("bin").over(wo) - F.col("bin"),
        ).alias("_t"),
    )
    return steps.groupBy("bucket").agg(
        F.sum("c_cnt").alias("n_cur"),
        F.sum("r_cnt").alias("n_ref"),
        F.coalesce(F.sum("_t"), F.lit(0).cast(_DEC)).alias("_total"),
    ).select(
        "bucket",
        "n_cur",
        "n_ref",
        emd_value(*map(F.col, ("_total", "n_cur", "n_ref"))).alias("emd"),
    )


def _scalar(table: DataFrame, metric: str) -> float:
    """The metric of a constant-bucket table: NaN on an empty side."""
    rows = table.collect()
    v = rows[0][metric] if rows else None
    return float("nan") if v is None else float(v)


def psi_from_histograms(
    cur: DataFrame, ref: DataFrame, epsilon: float = 1e-6
) -> float:
    """PSI between two (bin, cnt) histograms. One collect: the two
    histograms are unioned and folded in one task."""
    return _scalar(psi_table(_paired(cur, ref), epsilon), "psi")


def psi(
    cur_df: DataFrame,
    ref_df: DataFrame,
    value_expr: str,
    bin_expr: str,
) -> float:
    return psi_from_histograms(
        histogram(cur_df, value_expr, bin_expr),
        histogram(ref_df, value_expr, bin_expr),
    )


def psi_split(
    df: DataFrame,
    cur_pred: str,
    value_expr: str,
    bin_expr: str,
    ref_pred: str | None = None,
    epsilon: float = 1e-6,
) -> float:
    """PSI between two slices of the SAME table in ONE scan: both
    histograms come out of binned_counts' single groupBy, so the collect
    runs the scan's map stage and one task over ≤ n_bins rows. Use this
    (not ``psi(df.filter(a), df.filter(b), ...)``, which scans the
    source twice) whenever current and reference are partitions of one
    table — the common snapshot-vs-snapshot drift shape. ``ref_pred``
    defaults to NOT cur_pred; rows matching neither predicate are
    ignored."""
    hist = binned_counts(df, value_expr, bin_expr, cur_pred, ref_pred)
    return _scalar(psi_table(hist, epsilon), "psi")


def psi_split_by_bucket(
    df: DataFrame,
    cur_pred: str,
    value_expr: str,
    bin_expr: str,
    bucket_expr=None,
    conv_col: str = "conv_id",
    num_buckets: int = 64,
    ref_pred: str | None = None,
    epsilon: float = 1e-6,
    psi_threshold: float = PSI_SIGNIFICANT,
) -> DataFrame:
    """Per-bucket PSI between two slices of the same table — the
    PARTITIONED drift path (north star: per-partition checks). One
    scan and one exchange: binned_counts with the bucket
    (``stats.bucket_col`` by default), then psi_table in one task —
    the histogram is already tiny after the first map-side combine.

    Returns (bucket int, n_cur long, n_ref long, psi double,
    drifted boolean); a bucket with an empty side has psi NULL and is
    drifted."""
    if bucket_expr is None:
        bucket_expr = bucket_col(conv_col, num_buckets)
    hist = binned_counts(
        df, value_expr, bin_expr, cur_pred, ref_pred, bucket=bucket_expr
    )
    return psi_table(hist, epsilon).withColumn(
        "drifted",
        F.coalesce(F.col("psi") >= F.lit(psi_threshold), F.lit(True)),
    )


def ks_distance(a: DataFrame, b: DataFrame, value_expr: str) -> float:
    """Exact two-sample KS D via a RANGE-framed cumulative window —
    the SQL-expressible formulation (usable 1:1 as the DuckDB oracle).
    Single ordered partition → bounded-sample use only."""
    ua = a.select(F.expr(value_expr).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    ub = b.select(F.expr(value_expr).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    u = ua.select("v", F.lit(1).alias("ia"), F.lit(0).alias("ib")).unionAll(
        ub.select("v", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    w = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, 0)
    cum = u.select(
        F.sum("ia").over(w).alias("ca"), F.sum("ib").over(w).alias("cb")
    )
    row = (
        cum.crossJoin(
            u.agg(F.sum("ia").alias("na"), F.sum("ib").alias("nb"))
        )
        .select(
            F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")).alias("d")
        )
        .agg(F.max("d").alias("ks"))
        .collect()[0]
    )
    return float(row.ks if row.ks is not None else float("nan"))


def ks_by_bucket(
    df: DataFrame,
    ref_sample: Sequence[float],
    value_expr: str,
    conv_col: str = "conv_id",
    num_buckets: int = 64,
    bucket_expr=None,
) -> DataFrame:
    """Per-bucket KS vs a broadcast reference sample — the 10^12-turn
    path. Grouped applyInPandas (Arrow batches, vectorized numpy ECDF);
    each bucket is an independent task, so skew is bounded by the hash
    bucketing and there is no global sort.

    Returns (bucket int, n long, ks double, threshold double,
    drifted boolean)."""
    import numpy as np
    import pandas as pd

    ref = np.sort(np.asarray(list(ref_sample), dtype="float64"))
    m = len(ref)
    if m == 0:
        raise ValueError("reference sample is empty")
    bref = df.sparkSession.sparkContext.broadcast(ref)

    def _ks(pdf: pd.DataFrame) -> pd.DataFrame:
        r = bref.value
        x = np.sort(pdf["_v"].to_numpy(dtype="float64"))
        n = len(x)
        if n == 0:
            return pd.DataFrame(
                {"bucket": pdf["bucket"].iloc[:1], "n": [0], "ks": [np.nan],
                 "threshold": [np.nan], "drifted": [False]}
            )
        allv = np.concatenate([x, r])
        cdf_x = np.searchsorted(x, allv, side="right") / n
        cdf_r = np.searchsorted(r, allv, side="right") / len(r)
        d = float(np.max(np.abs(cdf_x - cdf_r)))
        thr = KS_C_ALPHA_05 * math.sqrt((n + len(r)) / (n * len(r)))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n": [n],
                "ks": [d],
                "threshold": [thr],
                "drifted": [d > thr],
            }
        )

    if bucket_expr is None:
        bucket_expr = bucket_col(conv_col, num_buckets)
    staged = df.select(
        bucket_expr.alias("bucket"),
        F.expr(value_expr).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    return staged.groupBy("bucket").applyInPandas(
        _ks, "bucket int, n long, ks double, threshold double, drifted boolean"
    )


def volume_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    granularity: str = "day",
    k: int = 3,
) -> DataFrame:
    """Per-time-bucket row-count anomaly gate — the volume/completeness
    monitor next to the distribution monitors (PSI/KS): a day whose row
    count falls outside ``median ± k * MAD`` of the bucket-count series
    is a missed ingest, a duplicated load, or an upstream outage, none
    of which a distribution check sees (PSI normalizes counts away).

    Shape at scale: ONE partial-agg exchange over the table (groupBy
    date_trunc bucket — map-side combine collapses to |buckets| per
    partition), then the count SERIES is eagerly checkpointed so the
    fence passes (quantiles._med_mad, the kernel's median of counts and
    median of |cnt - median|) run over |buckets| rows, never re-scanning
    the source. Fences are exact order statistics of integer counts —
    engine-replayable to the bit (no mean/stddev, no float sums whose
    rounding depends on partitioning) — with the robust breakdown point
    a mean-based gate lacks (one outage day cannot drag the fence).

    Returns the full series, not only outliers (a volume report that
    hides the normal days can't be eyeballed): ``(bucket, cnt, median,
    mad, lo, hi, anomaly)`` ordered by bucket. NULL timestamps are
    excluded. Empty input returns an empty frame."""
    from ocsf_validator_spark.pipeline.quantiles import _med_mad

    # date_trunc with an unknown unit returns NULL for EVERY row — the
    # series collapses to one NULL bucket that can never be anomalous,
    # so a granularity typo would pass clean forever. A config typo is
    # an error, never a silent keep (the repo-wide rule).
    allowed = (
        "year", "quarter", "month", "week", "day",
        "hour", "minute", "second",
    )
    if granularity.lower() not in allowed:
        raise ValueError(
            f"volume_anomaly: unknown granularity {granularity!r} "
            f"(one of {allowed})"
        )
    spark = df.sparkSession
    schema = (
        "bucket timestamp, cnt bigint, median double, mad double, "
        "lo double, hi double, anomaly boolean"
    )
    counts = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc(granularity, F.col(ts_col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # one shared-projection median/MAD composition: the tiny bucket
    # series takes the small-n collect path (two jobs, no window/join)
    mm = _med_mad(counts, "cnt", 4096).get("")
    if mm is None:
        return local_df(spark, [], schema)
    med, mad = mm
    lo, hi = med - k * mad, med + k * mad
    c = F.col("cnt").cast("double")
    return counts.select(
        "bucket",
        "cnt",
        F.lit(med).alias("median"),
        F.lit(mad).alias("mad"),
        F.lit(lo).alias("lo"),
        F.lit(hi).alias("hi"),
        ((c < F.lit(lo)) | (c > F.lit(hi))).alias("anomaly"),
    ).orderBy("bucket")


def emd_from_histograms(cur: DataFrame, ref: DataFrame) -> float:
    """EMD between two (bin, cnt) histograms (one collect, like
    psi_from_histograms)."""
    return _scalar(emd_table(_paired(cur, ref)), "emd")


def emd_split(
    df: DataFrame,
    cur_pred: str,
    value_expr: str,
    bin_expr: str,
    ref_pred: str | None = None,
) -> float:
    """EMD between two slices of the SAME table in ONE scan (the
    psi_split shape). EMD complements PSI/KS in the drift triad: PSI is
    support-sensitive but unordered (shifting mass one bin vs fifty
    bins scores the same per-bin term), KS sees only the max CDF gap;
    EMD integrates the ordered CDF gap, so it scales with HOW FAR the
    distribution moved — the right gate for "text lengths drifted
    longer" magnitude questions. Unlike PSI it needs no epsilon floor:
    it is finite for disjoint supports."""
    hist = binned_counts(df, value_expr, bin_expr, cur_pred, ref_pred)
    return _scalar(emd_table(hist), "emd")
