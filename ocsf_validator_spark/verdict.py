"""Per-partition pass/fail verdicts — the engine's analogue of the
reference runner's per-label PASSED/FAILED summary and exit code
(reference runner.py:207-241, 359-385).

Verdict shape (FIXTURES.md §3):

    verdicts(bucket int, constraint_id string, severity string,
             violation_count long, pass boolean)

A (bucket, constraint) passes when it has no violation at or above the
threshold severity (ERROR by default; WARNING under --strict — mirror of
reference runner.py:135-139). Constraints with zero violations still get
a pass row for every bucket observed in the data, so the verdict table
is a complete per-partition scorecard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import empty_df, local_df

from ocsf_validator_spark.spec import ConstraintSet, Severity
from ocsf_validator_spark.stats import DEFAULT_BUCKETS, bucket_col

SEV_RANK = "CASE severity WHEN 'FATAL' THEN 4 WHEN 'ERROR' THEN 3 WHEN 'WARNING' THEN 2 WHEN 'INFO' THEN 1 ELSE 0 END"


def verdicts(
    df: DataFrame,
    violations: DataFrame,
    suite: ConstraintSet,
    conv_col: str = "conv_id",
    num_buckets: int = DEFAULT_BUCKETS,
    threshold: Severity = Severity.ERROR,
    bucket_expr=None,
    observed_buckets: list[int] | None = None,
) -> DataFrame:
    """Build the complete per-(bucket, constraint) scorecard.

    Dataset-level findings (NULL conv_id) land in bucket -1 and fail
    EVERY bucket's verdict only for FATAL schema findings — mirroring the
    reference where a FATAL aborts the whole run (runner.py:233-234).

    ``bucket_expr`` overrides the default xxhash64 bucket (e.g.
    stats.md5_bucket_col for oracle-reproducible bucketing).
    ``observed_buckets`` (usually already in hand from the stats pass)
    skips the full-table distinct scan the default path needs."""
    spark = df.sparkSession
    if bucket_expr is None:
        bucket_expr = bucket_col(conv_col, num_buckets)
    if observed_buckets is not None:
        buckets = local_df(
            spark, [(int(b),) for b in observed_buckets], "bucket int"
        )
    else:
        buckets = df.select(bucket_expr.alias("bucket")).distinct()
    cons = local_df(
        spark,
        [(c.constraint_id, c.severity.name) for c in suite.constraints],
        "constraint_id string, constraint_severity string",
    )
    grid = buckets.crossJoin(F.broadcast(cons))

    vcounts = (
        violations.withColumn(
            "bucket",
            F.when(F.col(conv_col).isNotNull(), bucket_expr).otherwise(F.lit(-1)),
        )
        .groupBy("bucket", "constraint_id")
        .agg(
            F.count(F.lit(1)).alias("violation_count"),
            F.max(F.expr(SEV_RANK)).alias("_max_sev"),
        )
    )
    out = (
        grid.join(vcounts, ["bucket", "constraint_id"], "left_outer")
        .select(
            "bucket",
            "constraint_id",
            F.col("constraint_severity").alias("severity"),
            F.coalesce(F.col("violation_count"), F.lit(0)).alias("violation_count"),
            (
                F.coalesce(F.col("_max_sev"), F.lit(0)) < F.lit(int(threshold))
            ).alias("pass"),
        )
    )
    # dataset-level findings (bucket -1) kept as their own verdict rows
    ds = vcounts.filter(F.col("bucket") == -1).select(
        "bucket",
        "constraint_id",
        F.expr(
            "CASE _max_sev WHEN 4 THEN 'FATAL' WHEN 3 THEN 'ERROR' WHEN 2 THEN 'WARNING' WHEN 1 THEN 'INFO' ELSE 'IGNORE' END"
        ).alias("severity"),
        "violation_count",
        (F.col("_max_sev") < F.lit(int(threshold))).alias("pass"),
    )
    return out.unionByName(ds)


# ---------------------------------------------------------------------------
# Report and exit code over the COLLECTED verdict rows. The verdict table
# is tiny (buckets x constraints); the runner collects it once and
# derives the report and exit code without two more Spark jobs.
# ---------------------------------------------------------------------------


def summarize_rows(verdict_rows) -> list[dict]:
    """Per-constraint rollup across buckets → the console report rows
    (reference runner.py:359-385's per-label PASSED/FAILED lines), over
    already-collected verdict rows, sorted by constraint_id."""
    agg: dict[tuple, dict] = {}
    for r in verdict_rows:
        k = (r.constraint_id, r.severity)
        s = agg.setdefault(
            k,
            {
                "constraint_id": r.constraint_id,
                "severity": r.severity,
                "violation_count": 0,
                "pass": True,
                "n_buckets": 0,
                "n_failed_buckets": 0,
            },
        )
        s["violation_count"] += int(r.violation_count)
        s["n_buckets"] += 1
        if not r["pass"]:
            s["pass"] = False
            s["n_failed_buckets"] += 1
    return sorted(agg.values(), key=lambda s: s["constraint_id"])


def exit_code_rows(verdict_rows) -> int:
    """0 = all pass; 1 = any constraint failed; 2 = any FATAL violated
    (mirror of reference runner exit semantics, runner.py:233-234,
    377-385), over already-collected verdict rows."""
    code = 0
    for r in verdict_rows:
        if r.severity == "FATAL" and int(r.violation_count) > 0:
            return 2
        if not r["pass"]:
            code = 1
    return code


def verdict_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Run-over-run verdict regression report — the CI diff surface for
    two per-(bucket, constraint) scorecards (yesterday's snapshot vs
    today's, pre-fix vs post-fix, increment N vs N+1). Null-safe full
    outer join on (bucket, constraint_id); emits ONLY rows where
    something is wrong or changed:

    - ``regressed``      pass -> fail (the page-someone row)
    - ``fixed``          fail -> pass
    - ``new_fail``       bucket/constraint absent before, failing now
    - ``gone_fail``      was failing, bucket absent now (data vanished
                         before the defect was resolved)
    - ``still_failing``  fail -> fail (count_delta shows magnitude)
    - ``count_changed``  pass -> pass but the violation count moved
                         (WARNING-class churn below the fail threshold)

    Pass-and-unchanged rows — the overwhelming majority at 10^12 scale
    — are NOT emitted, so the report is change-proportional. Both
    inputs are verdict-shaped tiny frames (buckets × constraints); the
    join is a broadcast in practice."""
    b = before.select(
        "bucket",
        "constraint_id",
        F.col("pass").alias("_pb"),
        F.col("violation_count").alias("count_before"),
    )
    a = after.select(
        "bucket",
        "constraint_id",
        F.col("pass").alias("_pa"),
        F.col("violation_count").alias("count_after"),
    )
    j = b.join(a, ["bucket", "constraint_id"], "full_outer")
    pb, pa = F.col("_pb"), F.col("_pa")
    status = (
        F.when(pb.isNull() & ~pa, F.lit("new_fail"))
        .when(pa.isNull() & ~pb, F.lit("gone_fail"))
        .when(pb & ~pa, F.lit("regressed"))
        .when(~pb & pa, F.lit("fixed"))
        .when(~pb & ~pa, F.lit("still_failing"))
        .when(
            pb & pa
            & (F.col("count_before") != F.col("count_after")),
            F.lit("count_changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "bucket",
            "constraint_id",
            "status",
            F.col("_pb").alias("pass_before"),
            F.col("_pa").alias("pass_after"),
            "count_before",
            "count_after",
            (
                F.coalesce(F.col("count_after"), F.lit(0))
                - F.coalesce(F.col("count_before"), F.lit(0))
            ).alias("count_delta"),
        )
    )
