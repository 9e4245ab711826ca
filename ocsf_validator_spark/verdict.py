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

from ocsf_validator_spark.localframe import local_df, one_task
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
    row_counts: bool = False,
) -> DataFrame:
    """Build the complete per-(bucket, constraint) scorecard.

    Dataset-level findings (NULL conv_id) land in bucket -1 and fail
    EVERY bucket's verdict only for FATAL schema findings — mirroring the
    reference where a FATAL aborts the whole run (runner.py:233-234).

    ``bucket_expr`` overrides the default xxhash64 bucket (e.g.
    stats.md5_bucket_col for oracle-reproducible bucketing).
    ``observed_buckets`` (usually already in hand from the stats pass)
    is the bucket grid; without it the grid is a per-bucket count of
    ``df``, gathered into one task when ``localframe.one_task(df)``
    holds, with every constraint attached by exploding a literal array.
    ``row_counts`` adds that count as a sixth column, ``n_rows``: a grid
    bucket's input rows (None on bucket -1 and on an
    ``observed_buckets`` grid), so a caller reads the buckets and their
    rows from the verdict's own collect. A suite that repeats a
    constraint id raises ``ValueError``. The aggregate runs in one task,
    1 job instead of 2, when ``localframe.one_task(violations)``
    holds."""
    spark = df.sparkSession
    if bucket_expr is None:
        bucket_expr = bucket_col(conv_col, num_buckets)
    suite.by_id()  # a repeated id would fold two constraints into one row
    cons = [(c.constraint_id, c.severity.name) for c in suite.constraints]
    if observed_buckets is not None:
        grid = local_df(
            spark,
            [(int(b), cid, sev) for b in observed_buckets for cid, sev in cons],
            "bucket int, constraint_id string, constraint_severity string",
        ).select("*", F.lit(None).cast("long").alias("_rows"))
    else:
        src = df.coalesce(1) if one_task(df) else df
        grid = (
            src.groupBy(bucket_expr.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("_rows"))
            .select(
                "bucket",
                F.inline(F.array(*[
                    F.struct(
                        F.lit(cid).alias("constraint_id"),
                        F.lit(sev).alias("constraint_severity"),
                    )
                    for cid, sev in cons
                ]).cast(
                    "array<struct<constraint_id:string,"
                    "constraint_severity:string>>"
                )),
                "_rows",
            )
        )
    # ONE aggregate over grid cells and violations: grid rows carry the
    # severity and a NULL _n (count(_n) counts violations only, 0 on a
    # clean cell); a violation's group survives only inside the grid
    # (non-NULL severity) or as a dataset-level finding (bucket -1)
    hits = violations.select(
        F.when(F.col(conv_col).isNotNull(), bucket_expr)
        .otherwise(F.lit(-1))
        .alias("bucket"),
        "constraint_id",
        F.lit(None).cast("string").alias("constraint_severity"),
        F.lit(None).cast("long").alias("_rows"),
        F.lit(1).alias("_n"),
        F.expr(SEV_RANK).alias("_sev"),
    )
    cells = grid.select(
        "*", F.lit(None).cast("int").alias("_n"), F.lit(0).alias("_sev")
    ).unionByName(hits)
    if one_task(violations):
        cells = cells.coalesce(1)
    return (
        cells.groupBy("bucket", "constraint_id")
        .agg(
            F.max("constraint_severity").alias("_grid_sev"),
            F.count("_n").alias("violation_count"),
            F.max("_sev").alias("_max_sev"),
            F.max("_rows").alias("n_rows"),
        )
        .filter(F.col("_grid_sev").isNotNull() | (F.col("bucket") == -1))
        .select(
            "bucket",
            "constraint_id",
            F.coalesce(
                "_grid_sev",
                F.expr(
                    "CASE _max_sev WHEN 4 THEN 'FATAL' WHEN 3 THEN 'ERROR' WHEN 2 THEN 'WARNING' WHEN 1 THEN 'INFO' ELSE 'IGNORE' END"
                ),
            ).alias("severity"),
            "violation_count",
            (F.col("_max_sev") < F.lit(int(threshold))).alias("pass"),
            *(["n_rows"] if row_counts else []),
        )
    )


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
    - ``fixed``          fail -> pass, or a dataset-level finding
                         (bucket -1) that has no row now
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
        # bucket -1 (dataset-level findings) has rows only where a
        # finding is: no row after means the finding cleared
        .when(pa.isNull() & ~pb & (F.col("bucket") == -1), F.lit("fixed"))
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
