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


def test_verdict_diff_fused_stats_match_naive_scans(spark):
    """verdict_diff's single fused stats scan must reproduce EXACTLY
    what the two runs' separate probe scans used to compute: the
    observed-bucket list and the enum-coverage observation set, per
    half (even-conversation run vs full run). Pinned against the naive
    per-half formulations so the fusion can never drift from the
    per-run semantics it replaced."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.stats import md5_bucket_col

    ev = e._t(spark, SF, "events")
    suite = e._events_suite()
    cov = [c for c in suite.constraints if type(c).__name__ == "EnumCoverage"]
    assert cov, "events suite is expected to declare EnumCoverage(role)"
    cov_vals = [v for c in cov for v in c.values]

    obs_buckets, obs_enums = e._vd_observed_stats(ev, cov_vals)

    base = ev.select(F.col("user_id").cast("string").alias("conv_id"),
                     F.col("event_type").alias("role"))
    pred = "CAST(conv_id AS BIGINT) % 2 = 0"
    for half, frame in ((True, base.filter(pred)), (False, base)):
        naive_buckets = sorted(
            int(r[0])
            for r in frame.select(md5_bucket_col("conv_id", 8).alias("b"))
            .distinct()
            .collect()
        )
        assert obs_buckets[half] == naive_buckets, half
        naive_obs = {
            x
            for r in frame.agg(
                F.collect_set(
                    F.when(F.col("role").isin(*cov_vals), F.col("role"))
                ).alias("o")
            ).collect()
            for x in (r["o"] or [])
        }
        assert obs_enums[half]["role"] == naive_obs, half


@pytest.mark.parametrize("name,jobs", [("suite_verdicts", 7),
                                       ("verdict_diff", 8),
                                       ("suite_violations", 4),
                                       ("worst_conversations", 3),
                                       ("pmi_collocations", 5)])
def test_verdict_query_exec_jobs(spark, jobs_of, name, jobs):
    """Jobs of executing a query's built plan at sf0.001, pinned at the
    measured count so a change that adds a job shows here. For the
    verdict queries the scorecard is one aggregate over the grid and
    the violations (suite_verdicts ran 10 jobs and verdict_diff 16 when
    the grid was a left join plus a second aggregate for the
    dataset-level rows)."""
    df = e.queries()[name](spark, SF)
    _, n = jobs_of(df.collect)
    assert n == jobs


def test_verdict_diff_rejects_a_second_coverage_column(spark, monkeypatch):
    """The fused stats scan observes enum coverage only under 'role'.
    An events suite with EnumCoverage on another column must fail at
    construction with a clear error, not judge that column against an
    empty observed set."""
    from ocsf_validator_spark.spec import ConstraintSet, EnumCoverage

    base = e._events_suite()
    monkeypatch.setattr(
        e,
        "_events_suite",
        lambda: ConstraintSet(
            name=base.name,
            constraints=[
                *base.constraints,
                EnumCoverage(column="tool", values=("search",)),
            ],
        ),
    )
    with pytest.raises(ValueError, match=r"\['tool'\]"):
        e.q_verdict_diff(spark, SF)


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
