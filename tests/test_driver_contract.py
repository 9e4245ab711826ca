"""Driver-contract consistency: every queries() entry must build a
plan against real testdata (catches broken imports / bad column
references WITHOUT executing the heavy queries), carry an oracle_sql
entry, and entry() must return the flagship frame. Value parity itself
is check_oracle / the driver's CORRECTNESS gate; this file pins the
contract SHAPE so a refactor can't silently drop a query or leave a
dangling oracle key.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle_and_vice_versa():
    qs, sqls = e.queries(), e.oracle_sql()
    assert set(qs) == set(sqls), (
        sorted(set(qs) - set(sqls)),
        sorted(set(sqls) - set(qs)),
    )


def test_every_query_builds_a_plan(spark):
    """Analysis (schema resolution) must succeed for every entry —
    explain-level only, no execution."""
    for name, fn in e.queries().items():
        df = fn(spark, SF)
        assert df.schema.fields, name
        # column names must be driver-comparable: non-empty, no dots
        for f in df.schema.fields:
            assert f.name and "." not in f.name, (name, f.name)


def test_entry_runs(spark):
    out = e.entry(spark)
    assert out.count() >= 0
    assert [f.name for f in out.schema.fields][:2] == [
        "constraint_id",
        "conv_id",
    ]


def test_verdict_diff_fused_stats_match_naive_scans(spark, monkeypatch):
    """verdict_diff's one fused per-(bucket, half) observation collect
    must give EXACTLY what two naive runs compute on their own, each
    with the lazy observed-bucket grid and the lazy coverage leg over
    its own frame. The events suite gains a second EnumCoverage column
    (``tool``, NULL throughout the view), so the fold covers more than
    the role column alone."""
    from ocsf_validator_spark.spec import ConstraintSet, EnumCoverage
    from ocsf_validator_spark.stats import md5_bucket_col
    from ocsf_validator_spark.verdict import verdict_diff, verdicts
    from ocsf_validator_spark.violations import all_violations

    base = e._events_suite()
    suite = ConstraintSet(
        name=base.name,
        constraints=[
            *base.constraints,
            EnumCoverage(column="tool", values=("search", "none")),
        ],
    )
    monkeypatch.setattr(e, "_events_suite", lambda: suite)
    t = e._transcripts(spark, SF)

    def naive(pred):
        tt = t.filter(pred) if pred else t
        return verdicts(
            tt,
            all_violations(tt, suite),
            suite,
            num_buckets=8,
            bucket_expr=md5_bucket_col("conv_id", 8),
        )

    want = verdict_diff(
        naive("CAST(conv_id AS BIGINT) % 2 = 0"), naive(None)
    ).orderBy("bucket", "constraint_id", "status")
    got = e.q_verdict_diff(spark, SF).collect()
    assert got and got == want.collect()


def test_verdict_diff_rejects_a_second_coverage_column(spark, monkeypatch):
    """A second EnumCoverage column is judged per run from the fused
    observation collect, never dropped for want of a role-only scan:
    covering one odd conversation id of ``conv_id`` at ERROR, the even
    half (which never sees it) rejects the column and the full run
    observes it, so the diff reports that dataset-level finding fixed:
    a cleared bucket -1 finding has no row after."""
    from ocsf_validator_spark.spec import (
        ConstraintSet,
        EnumCoverage,
        Severity,
    )

    odd = (
        e._transcripts(spark, SF)
        .filter("CAST(conv_id AS BIGINT) % 2 = 1")
        .select("conv_id")
        .first()["conv_id"]
    )
    base = e._events_suite()
    suite = ConstraintSet(
        name=base.name,
        constraints=[
            *base.constraints,
            EnumCoverage(
                column="conv_id", values=(odd,), severity=Severity.ERROR
            ),
        ],
    )
    monkeypatch.setattr(e, "_events_suite", lambda: suite)
    rows = [
        r
        for r in e.q_verdict_diff(spark, SF).collect()
        if r["constraint_id"] == "coverage.conv_id"
    ]
    assert [
        (r["bucket"], r["status"], r["pass_before"], r["count_before"],
         r["count_after"])
        for r in rows
    ] == [(-1, "fixed", False, 1, None)]


@pytest.mark.parametrize("name,jobs", [("suite_verdicts", 5),
                                       ("verdict_diff", 7),
                                       ("suite_violations", 3),
                                       ("worst_conversations", 2),
                                       ("pmi_collocations", 5)])
def test_verdict_query_exec_jobs(spark, jobs_of, name, jobs):
    """Jobs of executing a query's built plan at sf0.001, pinned at the
    measured count so a change that adds a job shows here. For the
    verdict queries the scorecard is one aggregate over the grid and
    the violations (suite_verdicts ran 10 jobs and verdict_diff 16 when
    the grid was a left join plus a second aggregate for the
    dataset-level rows, and suite_verdicts 6 while its lazy grid
    broadcast the constraints into a cross join instead of exploding a
    literal array). The transcript view numbers turns in a window
    partitioned by conv_id, whose exchange the suite's conversation
    window reuses (one job more each when it was partitioned by
    user_id)."""
    df = e.queries()[name](spark, SF)
    _, n = jobs_of(df.collect)
    assert n == jobs


def test_reader_memo_is_per_session(spark, tmp_path):
    """A newSession() sibling shares its parent's applicationId; the
    reader-plan memo must still hand it a frame bound to itself, not
    the parent's, while each session reuses its own plan."""
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/events.parquet")
    s2 = spark.newSession()
    a, b = e._t(spark, d, "events"), e._t(s2, d, "events")
    assert a.sparkSession is spark and b.sparkSession is s2
    assert e._t(s2, d, "events")._jdf.equals(b._jdf)
    assert b.count() == 3


def test_entry_import_turns_call_site_capture_off(spark, monkeypatch):
    """Importing the entry module turns PySpark's call-site capture off
    even after it was cached on (the conf is static, so a running
    session cannot change it), and still sets the session's runtime
    confs; a PySpark that renames the module-global cache fails here
    instead of silently keeping the capture."""
    import importlib

    import pyspark.errors.utils as eu

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    monkeypatch.setattr(eu, "_enable_debugging_cache", True)
    spark.conf.set(key, "1000")
    try:
        importlib.reload(e)
        assert eu.is_debugging_enabled() is False
        assert spark.conf.get(key) == "2147483647"
    finally:
        spark.conf.set(key, "2147483647")
