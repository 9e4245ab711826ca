"""spec.Check (generic row-level SQL predicate, SQL CHECK semantics)
and spec.MetricBound (dataset-level metric thresholds, the
Deequ/Great-Expectations expectation shape). Check fuses into the
single-scan row projection; all MetricBounds share ONE narrow
aggregation job; reasons are integer arithmetic so verdicts are
bit-deterministic at any parallelism."""

from __future__ import annotations

import re

import pytest

from ocsf_validator_spark.spec import (
    Check,
    ConstraintSet,
    MetricBound,
    NotNull,
    Severity,
)
from ocsf_validator_spark.violations import all_violations, dataset_findings

SCHEMA = "conv_id string, turn_idx int, role string, text string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_check_sql_semantics(spark):
    """Violates only when the predicate is FALSE: NULL operands pass
    (NotNull owns missing values) — no double report."""
    df = _df(
        spark,
        [
            ("c1", 0, "view", "short"),
            ("c1", 1, "view", "averylongpayload"),
            ("c2", 0, "view", None),
            ("c2", 1, "tool", "averylongpayload"),
        ],
    )
    suite = ConstraintSet(
        name="t",
        constraints=[
            NotNull(column="text"),
            Check(
                column="text",
                predicate="NOT (role = 'view' AND length(text) > 8)",
            ),
        ],
    )
    got = {
        (r.constraint_id, r.conv_id, r.turn_idx)
        for r in all_violations(df, suite, include_coverage=False).collect()
    }
    assert got == {
        ("check.text", "c1", 1),
        ("required.text", "c2", 0),
    }


def test_check_where_scoping_and_fusion(spark):
    """`where` scopes the predicate like every row leg, and the leg
    rides the fused projection (no extra scan: a row-only suite plans
    zero Exchange)."""
    df = _df(spark, [("c1", 0, "view", "x"), ("c1", 1, "tool", "x")])
    suite = ConstraintSet(
        name="t",
        constraints=[
            Check(
                column="text",
                predicate="length(text) > 1",
                where="role = 'view'",
            )
        ],
    )
    out = all_violations(df, suite, include_coverage=False)
    got = {(r.conv_id, r.turn_idx) for r in out.collect()}
    assert got == {("c1", 0)}  # the tool row is out of scope
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_check_empty_predicate_raises(spark):
    df = _df(spark, [("c1", 0, "view", "x")])
    suite = ConstraintSet(name="t", constraints=[Check(column="text")])
    with pytest.raises(ValueError, match="no predicate"):
        all_violations(df, suite, include_coverage=False).collect()


def test_metric_bounds_fire_and_pass(spark):
    df = _df(
        spark,
        [
            ("c1", 0, "view", "a"),
            ("c1", 1, None, "b"),
            ("c2", 0, "view", "c"),
        ],
    )
    suite = ConstraintSet(
        name="m",
        constraints=[
            MetricBound(column="turn_idx", metric="min", lo=1),  # fires
            MetricBound(column="turn_idx", metric="max", hi=5),  # passes
            MetricBound(column="conv_id", metric="distinct_count", hi=1),
            MetricBound(
                column="role",
                metric="null_rate",
                hi=0.25,
                severity=Severity.WARNING,
            ),  # 1/3 > 0.25 -> fires at WARNING
            MetricBound(column="text", metric="row_count", lo=10),  # fires
        ],
    )
    got = {
        (r.constraint_id, r.reason, r.severity)
        for r in dataset_findings(df, suite).collect()
    }
    assert got == {
        ("metric.min.turn_idx", "min(turn_idx) = 0 below min 1", "ERROR"),
        (
            "metric.distinct_count.conv_id",
            "distinct_count(conv_id) = 2 above max 1",
            "ERROR",
        ),
        (
            "metric.null_rate.role",
            "null_rate(role) = 1/3 above max 0.25",
            "WARNING",
        ),
        (
            "metric.row_count.text",
            "row_count(text) = 3 below min 10",
            "ERROR",
        ),
    }
    # findings carry NULL row keys (dataset scope)
    rows = dataset_findings(df, suite).collect()
    assert all(r.conv_id is None and r.turn_idx is None for r in rows)


def test_metric_bounds_edge_cases(spark):
    df = _df(spark, [("c1", 0, None, "x")])
    # extrema of an all-NULL column: nothing to bound, no finding
    suite = ConstraintSet(
        name="m", constraints=[MetricBound(column="role", metric="min", lo=0)]
    )
    assert dataset_findings(df, suite).count() == 0
    # a missing column is a reported defect, never a silent skip
    suite2 = ConstraintSet(
        name="m",
        constraints=[MetricBound(column="nope", metric="max", hi=1)],
    )
    rows = dataset_findings(df, suite2).collect()
    assert len(rows) == 1 and "do not resolve" in rows[0].reason
    # unknown metric is a config error, rejected at construction
    with pytest.raises(ValueError, match="unknown metric"):
        MetricBound(column="role", metric="mean", hi=1)


def test_metric_bounds_share_one_job(spark):
    """All MetricBound aggregates land in ONE aggregation: a single
    plan with every _m alias, not one job per constraint."""
    df = _df(spark, [("c1", 0, "view", "x")])
    mb = [
        MetricBound(column="turn_idx", metric="min", lo=0),
        MetricBound(column="role", metric="null_rate", hi=0.5),
        MetricBound(column="text", metric="distinct_count", lo=0),
    ]
    import pyspark.sql.functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    # mirrors the dataset_findings build: assert the combined agg plans
    # as one aggregate over the scan
    agg_df = df.agg(
        aggs[0],
        F.sum(F.col("role").isNull().cast("long")).alias("_m1"),
        F.min("turn_idx").alias("_m0"),
        F.count_distinct("text").alias("_m2"),
    )
    plan = agg_df._jdf.queryExecution().executedPlan().toString()
    # one scan feeding the aggregate (count_distinct plans via expand,
    # still a single job)
    assert plan.count("Scan ExistingRDD") <= 1
    # and the engine path returns no findings (all bounds satisfied)
    suite = ConstraintSet(name="m", constraints=mb)
    assert dataset_findings(df, suite).count() == 0


def test_metric_bounds_in_verdicts(spark):
    """MetricBound findings flow into the suite verdict like every
    dataset finding: a breached ERROR bound fails the run."""
    from ocsf_validator_spark.verdict import exit_code_rows, verdicts

    df = _df(spark, [("c1", 0, "view", "x")])
    suite = ConstraintSet(
        name="m",
        constraints=[MetricBound(column="text", metric="row_count", lo=10)],
    )
    v = all_violations(df, suite)
    vd = verdicts(df, v, suite)
    assert exit_code_rows(vd.collect()) == 1


def test_runner_cli_check_and_metric_bound(spark, capsys):
    """--check/--metric-bound extend the suite from the CLI; malformed
    specs are FATAL (exit 2), never silently dropped. The --check label
    is NOT a column of the transcripts table — the constraint must be
    EVALUATED under its label (it used to be silently skipped and
    reported as an unresolvable-column finding instead)."""
    from ocsf_validator_spark.runner import main

    rc = main(
        [
            "--synth", "20000", "--buckets", "4",
            "--check", "no_none_tool=NOT (role = 'tool' AND tool = 'none')",
            "--metric-bound", "conv_id:distinct_count,min=1",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 1  # the base transcript suite fires on synth data
    assert "check.no_none_tool" in out  # evaluated under its label
    assert "do not resolve" not in out  # never the unresolvable path
    assert main(["--synth", "10", "--check", "nopredicate"]) == 2
    assert main(["--synth", "10", "--metric-bound", "role:null_rate"]) == 2
    assert main(["--synth", "10", "--metric-bound", "role,max=1"]) == 2
    # unknown metric name: clean parse-time FATAL, not a mid-run trace
    assert main(["--synth", "10", "--metric-bound", "role:bogus,max=1"]) == 2


@pytest.mark.parametrize(
    "flag, spec",
    [
        ("--quantile-bound", "turn_idx:0.5,max=1,foo=1"),
        ("--group-metric", "tool:distinct_count:conv_id,max=1,foo=1"),
    ],
)
def test_bound_flags_reject_unknown_key(spark, flag, spec):
    """The shared ``,min=X,max=Y`` tail parser: an unknown key is a
    FATAL config error (exit 2) on every bound flag."""
    from ocsf_validator_spark.runner import main

    assert main(["--synth", "10", flag, spec]) == 2


def test_check_label_need_not_be_a_column(spark):
    """Check's `column` is only a label: a cross-column predicate under
    a non-column label must really evaluate and fire on violating
    rows."""
    df = _df(
        spark,
        [
            ("c1", 0, "view", "xx"),
            ("c1", 1, "tool", "none"),
        ],
    )
    suite = ConstraintSet(
        name="t",
        constraints=[
            Check(
                column="pairing",
                predicate="NOT (role = 'tool' AND text = 'none')",
            )
        ],
    )
    rows = all_violations(df, suite, include_coverage=False).collect()
    assert [r.constraint_id for r in rows] == ["check.pairing"]
    assert rows[0].turn_idx == 1
    # and no bogus unresolvable-column dataset finding
    assert not [r for r in rows if "do not resolve" in r.reason]


def test_dataset_kind_config_guards():
    """Config errors are never silent keeps: empty by/determinants and
    `where` on dataset-level and group-level kinds raise at
    construction (neither the fused window nor unique_violations reads
    it)."""
    from ocsf_validator_spark.spec import (
        AllowedColumns,
        Alternation,
        DriftGate,
        EnumCoverage,
        FunctionalDependency,
        GroupMetricBound,
        Monotonic,
        OpeningRole,
        Precedence,
        QuantileBound,
        TurnOrdering,
        Unique,
        VolumeGate,
    )

    with pytest.raises(ValueError):
        FunctionalDependency(column="lang", determinants=())
    with pytest.raises(ValueError):
        GroupMetricBound(column="lang", by=(), metric="null_rate", hi=1)
    for bad in (
        MetricBound(column="x", metric="min", lo=0, where=None),
        QuantileBound(column="x", q=0.5, lo=0),
        VolumeGate(column="ts"),
        DriftGate(column="x"),
    ):
        # construction without `where` is fine...
        assert bad.where is None
    for cls, kw in (
        (MetricBound, dict(metric="min", lo=0)),
        (QuantileBound, dict(q=0.5, lo=0)),
        (VolumeGate, dict()),
        (DriftGate, dict()),
        (EnumCoverage, dict(values=("a",))),
        (AllowedColumns, dict(allowed=("x",))),
    ):
        with pytest.raises(ValueError, match="dataset-level"):
            cls(column="x", where="role = 'tool'", **kw)
    for cls, kw in (
        (Unique, dict(keys=("conv_id", "turn_idx"))),
        (TurnOrdering, dict()),
        (Monotonic, dict()),
        (Precedence, dict(trigger="tool", prereq=("user",))),
        (OpeningRole, dict(allowed=("user",))),
        (Alternation, dict(scope=("user", "assistant"))),
    ):
        assert cls(column="x", **kw).where is None
        with pytest.raises(ValueError, match="group-level"):
            cls(column="x", where="role = 'tool'", **kw)


def test_observed_metrics_short_circuits_aggregation(spark):
    """dataset_findings with piggybacked metrics (the runner's
    zero-extra-scan path) must use the PROVIDED values — prove it by
    handing values that contradict the data and asserting the provided
    ones win (no aggregation ran)."""
    df = _df(spark, [("c1", 0, "view", "x")])  # true min(turn_idx)=0
    suite = ConstraintSet(
        name="m",
        constraints=[
            MetricBound(column="turn_idx", metric="min", lo=1),
            MetricBound(column="text", metric="row_count", lo=10),
        ],
    )
    om = {
        "__n_rows": 50,               # contradicts count(*)=1
        "metric.min.turn_idx": 7,     # contradicts true min 0
        "metric.row_count.text": 50,
    }
    got = {
        r.reason
        for r in dataset_findings(df, suite, observed_metrics=om).collect()
    }
    # min bound satisfied per the provided 7 (true data would fire);
    # row_count uses the provided 50 (true data would fire at 1)
    assert got == set()
    # and with honest values the findings match the direct path
    direct = {
        r.reason for r in dataset_findings(df, suite).collect()
    }
    honest = {
        r.reason
        for r in dataset_findings(
            df,
            suite,
            observed_metrics={
                "__n_rows": 1,
                "metric.min.turn_idx": 0,
                "metric.row_count.text": 1,
            },
        ).collect()
    }
    assert honest == direct and direct == {
        "min(turn_idx) = 0 below min 1",
        "row_count(text) = 1 below min 10",
    }


def test_runner_piggybacks_metric_bounds(spark):
    """End-to-end: metric bounds through the runner produce the same
    verdict rows as the direct path (the piggybacked fold is exact)."""
    from ocsf_validator_spark.runner import main

    assert main(
        [
            "--synth", "20000", "--buckets", "4",
            "--metric-bound", "turn_idx:min,min=1",
            "--metric-bound", "role:null_rate,max=0.00001",
            "--metric-bound", "conv_id:distinct_count,min=999999",
        ]
    ) == 1


def test_quantile_bounds_fire_pass_and_share_one_pass(spark):
    from ocsf_validator_spark.spec import ConstraintSet, QuantileBound

    # values 0..9: median = 4.0 (rank floor(9*0.5)+1 = 5), p90 = 8.0
    df = spark.createDataFrame(
        [("c", i, float(i)) for i in range(10)],
        "conv_id string, turn_idx int, v double",
    )
    suite = ConstraintSet("q").add(
        QuantileBound(column="v", q=0.5, hi=3),     # 4.0 > 3: fires
        QuantileBound(column="v", q=0.9, lo=8),     # 8.0 >= 8: passes
        QuantileBound(column="v", q=0.9, hi=7.5,    # 8.0 > 7.5: fires
                      id_override="quantile.p90cap"),
    )
    rows = {r.constraint_id: r.reason for r in dataset_findings(df, suite).collect()}
    assert rows["quantile.0.5.v"] == (
        "quantile(0.5, v) = 4.000000 above max 3"
    )
    assert rows["quantile.p90cap"] == (
        "quantile(0.9, v) = 8.000000 above max 7.5"
    )
    assert "quantile.0.9.v" not in rows


def test_quantile_bounds_null_column_and_unresolvable(spark):
    from ocsf_validator_spark.spec import ConstraintSet, QuantileBound

    df = spark.createDataFrame(
        [("c", 0, None)], "conv_id string, turn_idx int, v double"
    )
    suite = ConstraintSet("q").add(
        QuantileBound(column="v", q=0.5, hi=3),      # all-NULL: skipped
        QuantileBound(column="nope", q=0.5, hi=3),   # reported
    )
    rows = dataset_findings(df, suite).collect()
    assert len(rows) == 1
    assert rows[0].constraint_id == "quantile.0.5.nope"
    assert "do not resolve" in rows[0].reason


def test_quantile_bound_registry_round_trip(spark):
    from ocsf_validator_spark.inherit import resolve
    from ocsf_validator_spark.spec import (
        ConstraintSet,
        QuantileBound,
        suite_to_registry,
    )

    suite = ConstraintSet("qs").add(QuantileBound(column="v", q=0.99, hi=10))
    reg = suite_to_registry(suite)
    spec = reg["qs"]["constraints"]["quantile.0.99.v"]
    assert spec == {"kind": "quantile", "column": "v", "severity": "ERROR",
                    "q": 0.99, "hi": 10}
    rebuilt = resolve(reg, "qs").constraints[0]
    assert rebuilt == suite.constraints[0].__class__(
        column="v", q=0.99, hi=10, id_override="quantile.0.99.v"
    )


def test_volume_gate_flags_outage_day(spark):
    import datetime as dt

    from ocsf_validator_spark.spec import ConstraintSet, VolumeGate

    day0 = dt.datetime(2026, 1, 1)
    rows = []
    for d in range(8):
        n = 3 if d == 5 else 50  # day 5 is the outage
        rows += [
            ("c", i, day0 + dt.timedelta(days=d, seconds=i))
            for i in range(n)
        ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    suite = ConstraintSet("v").add(
        VolumeGate(column="ts", granularity="day", k=3)
    )
    out = dataset_findings(df, suite).collect()
    assert len(out) == 1
    r = out[0]
    assert r.constraint_id == "volume.day.ts" and r.severity == "WARNING"
    assert "2026-01-06 00:00:00 = 3 outside" in r.reason
    # WARNING by default: the run does not fail unless --strict/remap
    from ocsf_validator_spark.verdict import exit_code_rows, verdicts

    vd = verdicts(df, dataset_findings(df, suite), suite)
    assert exit_code_rows(vd.collect()) == 0
    # unresolvable column reported, never silent
    bad = ConstraintSet("v2").add(VolumeGate(column="nope"))
    miss = dataset_findings(df, bad).collect()
    assert len(miss) == 1 and "do not resolve" in miss[0].reason


def test_drift_gate_psi_and_emd_semantics(spark):
    from ocsf_validator_spark.spec import ConstraintSet, DriftGate

    # data all in bin 1 (floor(1.0)); baseline at bin 3 -> EMD = 2.0
    df = spark.createDataFrame(
        [("c", i, 1.0) for i in range(10)],
        "conv_id string, turn_idx int, v double",
    )
    suite = ConstraintSet("d").add(
        DriftGate(column="v", bin_expr="floor(_v)", baseline={"3": 5},
                  metric="emd", threshold=1.5),
        DriftGate(column="v", bin_expr="floor(_v)", baseline={"1": 5},
                  metric="emd", threshold=2.0,
                  id_override="drift.emd.same"),   # EMD 0: passes
        DriftGate(column="v", bin_expr="floor(_v)", baseline={"1": 5},
                  metric="psi", threshold=0.2,
                  id_override="drift.psi.same"),   # identical: psi 0
    )
    rows = {r.constraint_id: r.reason for r in dataset_findings(df, suite).collect()}
    assert rows == {
        "drift.emd.v": "emd(v) = 2.000000 above threshold 1.5 "
        "vs recorded baseline"
    }
    # psi fires on a genuinely shifted distribution
    suite2 = ConstraintSet("d2").add(
        DriftGate(column="v", bin_expr="floor(_v)", baseline={"9": 100},
                  metric="psi", threshold=0.2)
    )
    fired = dataset_findings(df, suite2).collect()
    assert len(fired) == 1 and fired[0].reason.startswith("psi(v) = ")
    # unknown metric raises at construction
    with pytest.raises(ValueError, match="unknown metric"):
        DriftGate(column="v", baseline={"0": 1}, metric="chi2")


def test_drift_gate_registry_round_trip(spark):
    from ocsf_validator_spark.inherit import resolve
    from ocsf_validator_spark.spec import (
        ConstraintSet,
        DriftGate,
        suite_to_registry,
    )

    c = DriftGate(column="v", bin_expr="floor(_v / 16)",
                  baseline={"0": 10, "1": 20}, metric="emd", threshold=1.5)
    reg = suite_to_registry(ConstraintSet("ds").add(c))
    spec = reg["ds"]["constraints"]["drift.emd.v"]
    assert spec["baseline"] == {"0": 10, "1": 20}
    assert spec["kind"] == "drift" and spec["metric"] == "emd"
    rebuilt = resolve(reg, "ds").constraints[0]
    assert rebuilt.baseline == c.baseline and rebuilt.threshold == 1.5


def test_group_metric_bound_semantics(spark):
    from ocsf_validator_spark.spec import ConstraintSet, GroupMetricBound
    from ocsf_validator_spark.violations import fd_violations

    df = spark.createDataFrame(
        [
            ("c1", 0, "web", "en"),
            ("c1", 1, "web", None),   # web null_rate 1/3
            ("c2", 0, "web", "fr"),
            ("c2", 1, "wiki", "de"),  # wiki null_rate 0/1
            ("c3", 0, None, None),    # NULL group: null_rate 1/1
        ],
        "conv_id string, turn_idx int, source string, lang string",
    )
    suite = ConstraintSet("g").add(
        GroupMetricBound(column="lang", by=("source",),
                         metric="null_rate", hi=0.25),
        GroupMetricBound(column="lang", by=("source",),
                         metric="distinct_count", hi=1,
                         id_override="gm.dc"),
        GroupMetricBound(column="turn_idx", by=("source",),
                         metric="max", hi=0,
                         id_override="gm.max"),
    )
    got = sorted(
        (r.constraint_id, r.reason)
        for r in fd_violations(df, suite).collect()
    )
    assert got == [
        ("gm.dc", "distinct_count(lang) by (source=(web)) = 2 above max 1"),
        ("gm.max", "max(turn_idx) by (source=(web)) = 1 above max 0"),
        ("gm.max", "max(turn_idx) by (source=(wiki)) = 1 above max 0"),
        ("group_metric.null_rate.lang.by.source",
         "null_rate(lang) by (source=(<null>)) = 1/1 above max 0.25"),
        ("group_metric.null_rate.lang.by.source",
         "null_rate(lang) by (source=(web)) = 1/3 above max 0.25"),
    ]
    # all-NULL group extrema: nothing to bound
    allnull = ConstraintSet("g2").add(
        GroupMetricBound(column="lang", by=("source",), metric="min",
                         lo="zz")
    )
    df2 = spark.createDataFrame(
        [("c", 0, "s", None)],
        "conv_id string, turn_idx int, source string, lang string",
    )
    assert fd_violations(df2, allnull).count() == 0
    # unresolvable column reported via dataset findings
    bad = ConstraintSet("g3").add(
        GroupMetricBound(column="nope", by=("source",), metric="min", lo=0)
    )
    out = all_violations(df, bad).collect()
    assert len(out) == 1 and "do not resolve" in out[0].reason


def test_group_metric_float_render_and_round_trip(spark):
    from ocsf_validator_spark.inherit import resolve
    from ocsf_validator_spark.spec import (
        ConstraintSet,
        GroupMetricBound,
        suite_to_registry,
    )
    from ocsf_validator_spark.violations import fd_violations

    df = spark.createDataFrame(
        [("c", 0, "s", 1.25), ("c", 1, "s", 9.5)],
        "conv_id string, turn_idx int, source string, v double",
    )
    c = GroupMetricBound(column="v", by=("source",), metric="max", hi=5)
    rows = fd_violations(df, ConstraintSet("g").add(c)).collect()
    assert rows[0].reason == "max(v) by (source=(s)) = 9.500000 above max 5"
    reg = suite_to_registry(ConstraintSet("g").add(c))
    spec = reg["g"]["constraints"][c.constraint_id]
    assert spec["kind"] == "group_metric" and spec["by"] == ["source"]
    assert resolve(reg, "g").constraints[0].hi == 5


def test_volume_gate_granularity_typo_is_an_error(spark):
    """date_trunc with an unknown unit NULLs every bucket — the series
    collapses and the gate passes forever; a config typo must raise."""
    import datetime as dt

    import pytest as _pytest

    from ocsf_validator_spark import drift

    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1),)], "ts timestamp"
    )
    with _pytest.raises(ValueError, match="granularity"):
        drift.volume_anomaly(df, granularity="dya")


def test_drift_gate_from_baseline_file_end_to_end(spark, tmp_path):
    """Record a baseline with the make_psi_baseline format, load it as a
    DriftGate: identical data passes, a shifted distribution fires —
    the recorder's binning and the gate's binning are the same by
    construction (value expr = recorded bin expr, identity binning)."""
    import json

    from ocsf_validator_spark.spec import (
        ConstraintSet,
        drift_gate_from_baseline,
    )
    from pyspark.sql import functions as F

    ref = spark.createDataFrame(
        [("c", 0, "x" * (10 * (i % 4)),) for i in range(40)],
        "conv_id string, turn_idx int, text string",
    )
    bin_expr = "cast(length(text) / 10 as long)"
    hist = {
        str(r["_b"]): r["count"]
        for r in ref.select(F.expr(bin_expr).alias("_b"))
        .groupBy("_b").count().collect()
    }
    path = str(tmp_path / "baseline.json")
    with open(path, "w") as f:
        json.dump({"hist": hist, "bin_expr": bin_expr, "threshold": 0.2}, f)
    gate = drift_gate_from_baseline(path, metric="emd", threshold=1.5)
    assert gate.column == bin_expr and gate.bin_expr == "_v"
    suite = ConstraintSet("d").add(gate)
    # same distribution: passes
    assert dataset_findings(ref, suite).count() == 0
    # all docs 5 bins longer: EMD = 5 >= 1.5, fires
    shifted = ref.withColumn("text", F.concat(F.col("text"), F.lit("y" * 50)))
    rows = dataset_findings(shifted, suite).collect()
    assert len(rows) == 1 and "= 5.000000 above threshold 1.5" in rows[0].reason
