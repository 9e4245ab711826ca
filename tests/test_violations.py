"""Violation-engine unit tests — mirrors reference tests/test_validators.py
scenario-for-scenario (see FIXTURES.md §4 for the mapping)."""

from __future__ import annotations

import pandas as pd
import pytest

from ocsf_validator_spark.spec import (
    Alternation,
    ConstraintSet,
    DriftGate,
    EnumCoverage,
    FunctionalDependency,
    MetricBound,
    Monotonic,
    NotNull,
    PandasCheck,
    Precedence,
    QuantileBound,
    TurnOrdering,
    Unique,
    VolumeGate,
    transcript_suite,
)
from ocsf_validator_spark.violations import (
    _window_groups,
    all_violations,
    dataset_findings,
    fused_group_violations,
    row_violations,
    window_route,
)

KEYS = ("conv_id", "turn_idx")

SUITE = transcript_suite()


def _by_id(viol_rows):
    out = {}
    for r in viol_rows:
        out.setdefault(r.constraint_id, []).append(r)
    return out


def test_row_violations(transcripts):
    rows = row_violations(transcripts, SUITE).collect()
    got = _by_id(rows)

    # scenario 1: missing required key (reference test_validators.py:25-42)
    assert [(r.conv_id, r.turn_idx) for r in got["required.role"]] == [("c001", 3)]
    assert "required but null" in got["required.role"][0].reason

    # scenario 3: undefined attribute / referential (test_validators.py:93-117)
    assert [(r.conv_id, r.turn_idx) for r in got["ref.role"]] == [("c002", 1)]
    assert "'supervisor'" in got["ref.role"][0].reason
    assert [(r.conv_id, r.turn_idx) for r in got["ref.tool"]] == [("c003", 1)]

    # scenario 9: max_len conformance (test_validators.py:353-417 analogue)
    assert [(r.conv_id, r.turn_idx) for r in got["max_len.text"]] == [("c005", 0)]
    assert "exceeds max_len 65536" in got["max_len.text"][0].reason

    # scenario 10: deprecated value usage (reference types.py:27-29,80)
    dep = got["deprecated.role"]
    assert [(r.conv_id, r.turn_idx) for r in dep] == [("c006", 0)]
    assert "since 0.9" in dep[0].reason
    assert dep[0].severity == "WARNING"

    # conditional requirement: tool must be set when role='tool'
    assert [(r.conv_id, r.turn_idx) for r in got["required.tool_when_tool_role"]] == [
        ("c009", 0)
    ]


def test_group_violations(transcripts):
    rows = all_violations(transcripts, SUITE).collect()
    got = _by_id(rows)

    # scenario 5: uniqueness — fires on 2nd+ occurrence, keeps first-seen
    # (reference validators.py:255-260)
    uniq = got["unique.conv_turn"]
    assert [(r.conv_id, r.turn_idx) for r in uniq] == [("c004", 1)]
    assert "occurrence 2" in uniq[0].reason and "dup A" in uniq[0].reason

    # scenario 12: turn_idx gap under stable ordering
    order = got["order.turn_idx"]
    assert ("c007", 3) in [(r.conv_id, r.turn_idx) for r in order]
    gap = [r for r in order if r.conv_id == "c007"][0]
    assert "expected 2 got 3" in gap.reason
    # the duplicate key also shows up as a duplicate turn_idx
    assert ("c004", 1) in [(r.conv_id, r.turn_idx) for r in order]

    # monotonic ts violation at the row that goes backwards
    mono = got["monotonic.ts"]
    assert [(r.conv_id, r.turn_idx) for r in mono] == [("c008", 1)]


def test_fused_null_idx_duplicate_keeps_peer_string(spark):
    """Regression for the defect-proportional first-seen guard: a
    duplicate group keyed by a NULL turn_idx (required.turn_idx fires
    alongside unique.conv_turn) must still display its first-seen peer —
    the neighbor-equality guard uses eqNullSafe, so NULL == NULL counts
    as 'same group' and the peer string is built, not silently NULL."""
    from pyspark.sql import functions as F

    rows = [
        ("c1", None, "user", "first null", None, "2026-01-01 00:00:00"),
        ("c1", None, "user", "second null", None, "2026-01-01 00:00:01"),
        ("c1", 0, "user", "ok", None, "2026-01-01 00:00:02"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cs, ties = _window_groups(SUITE, KEYS, df)[0][KEYS]
    out = fused_group_violations(
        df, cs, ties, KEYS, row_cs=SUITE.row_level()
    ).collect()
    uniq = [r for r in out if r.constraint_id == "unique.conv_turn"]
    assert len(uniq) == 1
    assert uniq[0].reason is not None
    assert "occurrence 2" in uniq[0].reason
    assert "first null" in uniq[0].reason  # the kept peer's text tie


def test_window_key_uniques_rank_by_their_own_order(spark):
    """Two Unique(conv_id, turn_idx) with different first_seen_order
    each rank one duplicate group by their own order and name their own
    first-seen peer: the first sets the conversation window's ties, the
    second runs as a key-level leg. Both group a NULL turn_idx."""
    df = spark.createDataFrame(
        [("c1", 0, "b", 1), ("c1", 0, "a", 2), ("c1", 1, "x", 3),
         ("c2", None, "d", 4), ("c2", None, "c", 5)],
        "conv_id string, turn_idx int, role string, n int",
    )
    by_n = Unique(column="by_n", keys=KEYS, first_seen_order=("n",))
    by_role = Unique(column="by_role", keys=KEYS, first_seen_order=("role",))
    suite = ConstraintSet(name="u", constraints=[by_n, by_role])
    got = {
        (r.constraint_id, r.conv_id, r.turn_idx, r.reason)
        for r in all_violations(df, suite, include_coverage=False).collect()
    }
    assert got == {
        ("unique.by_n", "c1", 0, "duplicate key (c1,0) occurrence 2; first seen 1"),
        ("unique.by_role", "c1", 0, "duplicate key (c1,0) occurrence 2; first seen a"),
        ("unique.by_n", "c2", None, "duplicate key (c2) occurrence 2; first seen 4"),
        ("unique.by_role", "c2", None, "duplicate key (c2) occurrence 2; first seen c"),
    }
    # no first_seen_order: any occurrence may rank first
    bare = ConstraintSet(name="b", constraints=[Unique(column="k", keys=KEYS)])
    got = {
        (r.conv_id, r.turn_idx, r.reason)
        for r in all_violations(df, bare, include_coverage=False).collect()
    }
    assert got == {
        ("c1", 0, "duplicate key (c1,0) occurrence 2; first seen "),
        ("c2", None, "duplicate key (c2) occurrence 2; first seen "),
    }


def test_dataset_findings(transcripts):
    rows = dataset_findings(transcripts, SUITE).collect()
    got = _by_id(rows)
    # scenario 4: enum value never observed (reference validators.py:169-198)
    cov_tool = [r.reason for r in got.get("coverage.tool", [])]
    assert any("'none' never observed" in r for r in cov_tool)
    assert any("'python'" in r for r in cov_tool)  # python also unused in fixture
    # all transcript columns known/present → no schema.columns finding
    assert "schema.columns" not in got


def test_schema_audit_unknown_column(transcripts):
    from pyspark.sql import functions as F

    bad = transcripts.withColumn("extra", F.lit(1))
    rows = dataset_findings(bad, SUITE).collect()
    got = _by_id(rows)
    assert any("unknown column extra" in r.reason for r in got["schema.columns"])
    assert got["schema.columns"][0].severity == "FATAL"


def test_all_violations_severities(transcripts):
    rows = all_violations(transcripts, SUITE).collect()
    sevs = {r.severity for r in rows}
    assert sevs <= {"FATAL", "ERROR", "WARNING", "INFO"}
    assert len(rows) >= 10


def test_fused_plan_shape_one_exchange_one_sort(spark, transcripts):
    """The single-scan contract, asserted on the physical plan: the
    whole fused suite (row legs + unique + ordering + monotonic) plans
    as ONE exchange and ONE sort — the (conv,turn) occurrence window
    reuses the conv exchange because hash(conv) already satisfies
    ClusteredDistribution((conv,turn)) and the sort keys are shared."""
    suite = transcript_suite()
    cs, ties = _window_groups(suite, KEYS, transcripts)[0][KEYS]
    fused = fused_group_violations(
        transcripts, cs, ties, KEYS, row_cs=suite.row_level()
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        plan = fused._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    n_sort = plan.count(" Sort ")
    n_window = plan.count(" Window ") + plan.count("WindowExec")
    assert n_exchange == 1, plan
    assert n_sort == 1, plan
    assert n_window == 2, plan
    # Shuffle-width contract: the map-side Project (BELOW the exchange in
    # the tree, i.e. after the Exchange line in root-first explain text)
    # computes both the bounded tie columns and the row-leg violation
    # array — so full text payloads and row-only columns never cross.
    below = plan.split("Exchange", 1)[1]
    assert "substring(text" in below, plan
    assert "_rv" in below, plan
    # and nothing ABOVE the exchange re-computes row legs
    above = plan.split("Exchange", 1)[0]
    assert "substring(text" not in above, plan


def test_cap_violations_deterministic(spark):
    """The two-stage sink cap must equal the naive single-stage
    row_number window (the formulation it replaces for scale): for each
    constraint, exactly the globally smallest min(cap, total) rows by
    (conv_id, turn_idx, reason), reproducible across partitionings."""
    from collections import Counter

    from ocsf_validator_spark.spec import transcript_suite
    from ocsf_validator_spark.synth import synth_transcripts
    from ocsf_validator_spark.violations import all_violations, cap_violations

    df = synth_transcripts(spark, n_turns=5000, seed=42)
    viol = all_violations(df, transcript_suite()).cache()
    try:
        cap = 5
        got = cap_violations(viol, cap).collect()
        counts = Counter(r.constraint_id for r in got)
        full = Counter(r.constraint_id for r in viol.collect())
        assert any(n > cap for n in full.values()), "fixture too clean"
        for cid, n in full.items():
            assert counts[cid] == min(n, cap), cid
        # exact agreement with the naive global window
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        rank = F.row_number().over(
            Window.partitionBy("constraint_id").orderBy(
                F.col("conv_id").asc_nulls_first(),
                F.col("turn_idx").asc_nulls_first(),
                F.col("reason").asc_nulls_first(),
            )
        )
        ref = (
            viol.withColumn("_rk", rank)
            .filter(F.col("_rk") <= cap)
            .drop("_rk")
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
        # repartitioning the input must not change the kept set
        again = cap_violations(viol.repartition(13), cap).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, got))
        # a cap above the totals is the identity
        assert cap_violations(viol, 10**9).count() == viol.count()
    finally:
        viol.unpersist()


def test_cap_violations_nan_and_null_keys_match_window(spark):
    """A double key holding NaN and NULL: the cap keeps exactly the
    naive asc_nulls_first window's rows at every cap, with NaN ranked
    above every number (Spark's order) and returned as NaN, not NULL."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocsf_validator_spark.violations import cap_violations

    nan = float("nan")
    rows = [
        (cid, conv, score, reason)
        for cid in ("a", "b")
        for conv, score, reason in [
            ("c1", nan, "r1"),
            ("c1", None, "r2"),
            ("c1", 1.5, "r3"),
            ("c1", -2.0, "r4"),
            ("c1", nan, "r0"),
            ("c0", nan, "r5"),
            (None, 3.0, "r6"),
        ]
    ]
    viol = spark.createDataFrame(
        rows, "constraint_id string, conv_id string, score double, reason string"
    ).repartition(3)
    keys = ("conv_id", "score")
    rank = F.row_number().over(
        Window.partitionBy("constraint_id").orderBy(
            *[F.col(c).asc_nulls_first() for c in (*keys, "reason")]
        )
    )
    for cap in (1, 2, 3, 4):
        got = cap_violations(viol, cap, keys=keys).collect()
        want = (
            viol.withColumn("_rk", rank)
            .filter(F.col("_rk") <= cap)
            .drop("_rk")
            .collect()
        )
        # nan != nan, so compare rows by repr
        assert sorted(map(repr, got)) == sorted(map(repr, want)), cap
        if cap >= 2:
            assert any(
                r.conv_id == "c0" and math.isnan(r.score) for r in got
            ), cap


def test_cap_violations_plan_and_jobs(spark, jobs_of):
    """A cap far above Spark's default windowGroupLimitThreshold (1000)
    still plans the WindowGroupLimit Partial stage before the exchange,
    with no Python map stage, and the collect runs no more jobs than
    the pandas top-k it replaced (3 on this input)."""
    from ocsf_validator_spark.violations import cap_violations

    viol = spark.createDataFrame(
        [(f"c{i % 3}", f"k{i % 7}", i, f"r{i}") for i in range(100)],
        "constraint_id string, conv_id string, turn_idx int, reason string",
    ).repartition(4)
    capped = cap_violations(viol, 10_000)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    limits = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any(ln.rstrip().endswith("Partial") for ln in limits), plan
    assert any(ln.rstrip().endswith("Final") for ln in limits), plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan
    rows, jobs = jobs_of(cap_violations(viol, 3).collect)
    assert len(rows) == 9
    assert jobs <= 3


def test_fused_suite_zero_exchange_on_bucketed_table(spark, tmp_path):
    """The 100 TB deployment shape: when the transcript table is
    BUCKETED by conv_id (Iceberg/warehouse tables routinely are), the
    fused suite's HashPartitioning(conv_id) requirement is satisfied by
    the scan itself — Catalyst plans the whole row+window suite with
    ZERO Exchange: scan → sort-within-bucket → two windows. The one
    shuffle the flat-file plan pays disappears with the right layout."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.spec import transcript_suite

    rows = [
        (f"c{i % 7}", j, "user", f"t{i}-{j}", None)
        for i in range(21)
        for j in range(5)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    tbl = "bucketed_transcripts_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        df.write.bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(tbl)
    )
    try:
        t = spark.table(tbl)
        suite = transcript_suite()
        cs, ties = _window_groups(suite, KEYS, t)[0][KEYS]
        fused = fused_group_violations(
            t, cs, ties, ("conv_id", "turn_idx"), row_cs=suite.row_level()
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            jvm = spark._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
            plan = fused._jdf.queryExecution().explainString(mode)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert "Exchange" not in plan, plan
        assert plan.count(" Window ") + plan.count("WindowExec") == 2, plan
        # and it still computes the same thing as the flat-file plan
        flat = fused_group_violations(
            df, cs, ties, ("conv_id", "turn_idx"), row_cs=suite.row_level()
        )
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, flat.collect())
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_tie_display_truncation_all_paths(spark):
    """Duplicate-key peer display is capped at TIE_DISPLAY_LEN in the
    fused, standalone, and skew (ordered.py) paths identically — the
    bounded-shuffle semantics that keeps transcript text out of the
    conversation exchange."""
    from ocsf_validator_spark.ordered import scalable_group_violations
    from ocsf_validator_spark.spec import ConstraintSet, Unique
    from ocsf_validator_spark.violations import (
        TIE_DISPLAY_LEN,
        unique_violations,
    )

    long_a = "x" * 280 + "AAA"  # equal 256-prefix, differ past the cap
    long_b = "x" * 280 + "BBB"
    df = spark.createDataFrame(
        [
            ("c1", 0, "u", long_a, None),
            ("c1", 0, "u", long_b, None),
            ("c1", 1, "u", "short", None),
        ],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    uniq = Unique(
        column="conv_turn",
        keys=("conv_id", "turn_idx"),
        first_seen_order=("ts", "role", "text"),
    )
    suite = ConstraintSet(name="u", constraints=[uniq])
    cs, ties = _window_groups(suite, KEYS, df)[0][KEYS]

    def reasons(out):
        return sorted(
            r.reason
            for r in out.collect()
            if r.constraint_id == "unique.conv_turn"
        )

    fused = reasons(fused_group_violations(df, cs, ties, ("conv_id", "turn_idx")))
    alone = reasons(unique_violations(df, uniq))
    skew = reasons(scalable_group_violations(df, cs, ties, num_partitions=3))
    assert fused == alone == skew
    assert len(fused) == 1
    # peer text in the reason is the capped prefix, not the 283-char body
    assert "x" * 10 in fused[0] and "AAA" not in fused[0] and "BBB" not in fused[0]
    assert len(fused[0]) < TIE_DISPLAY_LEN + 100


def test_glob_constraint(spark):
    """F2: glob -> LIKE compilation with wildcard and escape semantics
    (reference GlobMatcher, matchers.py:56-62)."""
    from ocsf_validator_spark.spec import ConstraintSet, Glob
    from ocsf_validator_spark.violations import row_violations

    df = spark.createDataFrame(
        [
            ("c1", 0, "user_a"),
            ("c1", 1, "user_b"),
            ("c1", 2, "admin_x"),     # violates user_*
            ("c1", 3, "user"),        # violates user_? (needs 6 chars)
            ("c1", 4, "100%"),        # literal % must not be a wildcard
        ],
        "conv_id string, turn_idx int, role string",
    )
    suite = ConstraintSet(
        name="g", constraints=[Glob(column="role", glob="user*")]
    )
    bad = {r.turn_idx for r in row_violations(df, suite).collect()}
    assert bad == {2, 4}
    suite_q = ConstraintSet(
        name="g2", constraints=[Glob(column="role", glob="user_?")]
    )
    bad_q = {r.turn_idx for r in row_violations(df, suite_q).collect()}
    assert bad_q == {2, 3, 4}
    # literal % in the DATA never matches a glob without wildcards
    suite_pct = ConstraintSet(
        name="g3", constraints=[Glob(column="role", glob="100%")]
    )
    ok_pct = {r.turn_idx for r in row_violations(df, suite_pct).collect()}
    assert 4 not in ok_pct  # "100%" satisfies glob "100%" (escaped LIKE)
    # patterns the LIKE translation cannot honor are rejected, not
    # silently evaluated with non-pathlib verdicts (advisor, round 3)
    import pytest

    from ocsf_validator_spark.compile import glob_to_like

    with pytest.raises(ValueError, match="character classes"):
        glob_to_like("user[0-9]")
    with pytest.raises(ValueError, match="component matching"):
        glob_to_like("logs/*.json")
    assert glob_to_like("a/b") == "a/b"  # literal '/' stays fine


def test_split_quarantine_partitions_input_by_verdict(spark, transcripts):
    """Quarantine routing: clean + quarantined must partition the input
    exactly; a duplicated (conv_id, turn_idx) key sends EVERY copy to
    quarantine; dataset-level findings (NULL keys) quarantine nothing;
    threshold WARNING additionally pulls in deprecation-only rows."""
    from ocsf_validator_spark.spec import Severity
    from ocsf_validator_spark.violations import all_violations, split_quarantine

    viol = all_violations(transcripts, SUITE).cache()
    try:
        clean, quarantined = split_quarantine(transcripts, viol)
        n_clean, n_quar = clean.count(), quarantined.count()
        assert n_clean + n_quar == transcripts.count()
        qkeys = {(r.conv_id, r.turn_idx) for r in quarantined.collect()}
        ckeys = {(r.conv_id, r.turn_idx) for r in clean.collect()}
        assert not qkeys & ckeys
        # both copies of the duplicated (c004, 1) key are quarantined
        assert (
            quarantined.filter(
                "conv_id = 'c004' and turn_idx = 1"
            ).count()
            == 2
        )
        assert ("c004", 0) in ckeys  # the undisputed first turn stays
        # ERROR threshold: deprecated.role (WARNING) alone doesn't
        # quarantine c006; strict (WARNING) threshold does
        assert ("c006", 0) in ckeys
        _, strict_q = split_quarantine(
            transcripts, viol, threshold=Severity.WARNING
        )
        strict_keys = {(r.conv_id, r.turn_idx) for r in strict_q.collect()}
        assert ("c006", 0) in strict_keys
        assert qkeys <= strict_keys
    finally:
        viol.unpersist()


def test_runner_quarantine_out(spark, transcripts, tmp_path):
    """--quarantine-out writes the violating input rows (full original
    schema) alongside the violations sink."""
    from ocsf_validator_spark.runner import run_validation

    qdir = str(tmp_path / "quarantine")
    vdir = str(tmp_path / "violations")
    res = run_validation(
        spark,
        transcripts,
        quiet=True,
        violations_out=vdir,
        quarantine_out=qdir,
    )
    assert res.exit_code == 1
    out = spark.read.parquet(qdir)
    assert set(out.columns) == set(transcripts.columns)
    assert 0 < out.count() < transcripts.count()


def test_top_offending_groups_rank_and_ties(spark):
    from ocsf_validator_spark.violations import top_offending_groups

    viol = spark.createDataFrame(
        [
            ("x", "a", 0), ("x", "a", 1), ("x", "b", 2),   # 3 viols, 2 cons
            ("y", "a", 0), ("y", "a", 1), ("y", "a", 2),   # 3 viols, 1 con
            ("z", "a", 0),                                  # 1 viol
            (None, "schema", None),                         # dataset: excluded
        ],
        "conv_id string, constraint_id string, turn_idx int",
    )
    rows = top_offending_groups(viol, "conv_id", k=2).collect()
    # tie on 3 violations breaks by conv_id ascending: x before y
    assert [(r.conv_id, r.n_violations, r.n_constraints) for r in rows] == [
        ("x", 3, 2),
        ("y", 3, 1),
    ]


def test_coverage_leg_skips_empty_enum(spark, transcripts):
    """An EnumCoverage with no declared values has nothing to miss: the
    lazy coverage leg skips it instead of building an aggregate with no
    expressions, and a real coverage constraint beside it still reports."""
    from ocsf_validator_spark.spec import ConstraintSet, EnumCoverage
    from ocsf_validator_spark.violations import dataset_findings

    empty = EnumCoverage(column="role", values=())
    only = ConstraintSet(name="e", constraints=[empty])
    assert dataset_findings(transcripts, only).count() == 0
    real = EnumCoverage(column="tool", values=("search", "nope"))
    both = ConstraintSet(name="m", constraints=[empty, real])
    rows = dataset_findings(transcripts, both).collect()
    assert [r.reason for r in rows] == ["enum value 'nope' never observed in tool"]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_runs_in_place_on_a_one_task_input(spark, tmp_path, jobs_of):
    """One single-partition transcripts file, validated on both routes:
    in place (below openCostInBytes and the AQE advisory size) the
    suite plans no exchange and a write is one job; with the advisory
    size forced to one byte the window takes its exchange, a job of its
    own. Both routes emit the same violation rows. Three small files,
    which Spark scans as three partitions, are below openCostInBytes,
    so they too run in place in one job, with the same rows."""
    from collections import Counter

    from ocsf_validator_spark.localframe import conf_bytes, size_estimate
    from ocsf_validator_spark.synth import synth_transcripts

    path, multi = str(tmp_path / "one"), str(tmp_path / "three")
    synth = synth_transcripts(spark, n_turns=2000, seed=42)
    synth.coalesce(1).write.parquet(path)
    synth.repartition(3).write.parquet(multi)
    df = spark.read.parquet(multi)
    assert df.rdd.getNumPartitions() == 3
    open_cost = conf_bytes(spark, "spark.sql.files.openCostInBytes")
    assert size_estimate(df) <= open_cost
    viol = all_violations(df, SUITE, include_coverage=False)
    _, jobs = jobs_of(lambda: viol.write.format("noop").mode("overwrite").save())
    assert (window_route(df), jobs) == ("in_place", 1)
    assert "Exchange" not in _executed_plan(viol)
    from_three = viol.collect()
    df = spark.read.parquet(path)

    def run():
        viol = all_violations(df, SUITE, include_coverage=False)
        _, jobs = jobs_of(
            lambda: viol.write.format("noop").mode("overwrite").save()
        )
        return window_route(df), _executed_plan(viol), jobs, viol.collect()

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    route, plan, jobs, in_place = run()
    assert (route, jobs) == ("in_place", 1)
    assert "Exchange" not in plan, plan
    prev = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        route, plan, jobs, exchanged = run()
    finally:
        spark.conf.set(key, prev)
    assert (route, jobs) == ("exchange", 2)
    assert "Exchange" in plan, plan
    assert in_place and Counter(in_place) == Counter(exchanged)
    assert Counter(from_three) == Counter(in_place)


def test_window_route_keeps_the_exchange_of_an_exchange_input(spark, jobs_of):
    """An input whose plan already has an exchange keeps the exchange
    route, and deciding so runs no job (building the RDD of an
    adaptive plan would run its shuffle stages). Two such inputs: a
    repartition, and a ``row_number()`` over ``conv_id``, whose
    exchange only the adaptive plan's initial planning inserts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocsf_validator_spark.synth import synth_transcripts

    scan = synth_transcripts(spark, n_turns=500, seed=3)
    numbered = scan.withColumn(
        "_n", F.row_number().over(Window.partitionBy("conv_id").orderBy("ts"))
    )
    for df in (scan.repartition(1), numbered):
        out, jobs = jobs_of(
            lambda: (window_route(df), all_violations(df, SUITE))
        )
        assert jobs == 0
        assert out[0] == "exchange"
        assert "Coalesce 1" not in _executed_plan(out[1])



NOT_EVALUATED = "constraint not evaluated"


def _meta_frame(spark):
    """Two conversations with a struct column ``meta``; c1's width
    drops 9 -> 3 and c2 skips turn 1."""
    from pyspark.sql import functions as F

    rows = [
        ("c1", 0, "user", "a", "search", "2026-01-01 00:00:00", (9, "x")),
        ("c1", 1, "assistant", "b", None, "2026-01-01 00:00:01", (3, "y")),
        ("c2", 0, "user", "c", None, "2026-01-01 00:01:00", (1, "x")),
        ("c2", 2, "assistant", "d", None, "2026-01-01 00:01:01", (2, "x")),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string, meta struct<width:int,kind:string>",
    ).withColumn("ts", F.to_timestamp("ts"))


def _never(pdf):
    return pd.Series(False, index=pdf.index), None


_NE = NOT_EVALUATED
EVALUABILITY_CASES = [
    # (a) a struct path is bounded, as NotNull("meta.width") is
    pytest.param(
        (), [MetricBound(column="meta.width", metric="max", hi=5)],
        {"metric.max.meta.width": "max(meta.width) = 9 above max 5"},
        id="a-metric-struct-path",
    ),
    # (b) coverage is reported on a missing column and evaluated on a
    # struct path
    pytest.param(
        ("tool",), [EnumCoverage(column="tool", values=("search",))],
        {"coverage.tool": _NE}, id="b-coverage-missing",
    ),
    pytest.param(
        (), [EnumCoverage(column="meta.kind", values=("x", "zzz"))],
        {"coverage.meta.kind": "enum value 'zzz' never observed in meta.kind"},
        id="b-coverage-struct-path",
    ),
    # (c) a window kind needs a top-level name
    pytest.param(
        (), [Monotonic(column="meta.width")],
        {"monotonic.meta.width": _NE}, id="c-window-struct-path",
    ),
    # (d) the rest of the suite still runs, fused
    pytest.param(
        ("ts",), SUITE.constraints,
        {
            "unique.conv_turn": _NE,
            "monotonic.ts": _NE,
            "required.ts": _NE,
            "order.turn_idx": "turn_idx gap: expected 1 got 2",
        },
        id="d-suite-without-ts",
    ),
    # a missing top-level column at every level
    pytest.param(
        (), [NotNull(column="ghost")], {"required.ghost": _NE}, id="row",
    ),
    pytest.param(
        (),
        [
            Precedence(column="ghost", trigger="tool", prereq=("user",)),
            Alternation(column="role", order_by="ghost"),
        ],
        {"precedence.ghost.tool": _NE, "alternation.role": _NE},
        id="window",
    ),
    pytest.param(
        (), [FunctionalDependency(column="ghost", determinants=("conv_id",))],
        {"fd.conv_id->ghost": _NE}, id="key",
    ),
    pytest.param(
        (),
        [PandasCheck(column="ghost", columns=("ghost",), check=_never,
                     check_id="ghost")],
        {"residual.ghost": _NE}, id="residual",
    ),
    pytest.param(
        (),
        [
            EnumCoverage(column="ghost", values=("a",)),
            MetricBound(column="ghost", metric="null_rate", hi=0.5),
            QuantileBound(column="ghost", q=0.5, hi=1),
            DriftGate(column="ghost", baseline={"0": 1}),
            VolumeGate(column="ghost"),
        ],
        {
            "coverage.ghost": _NE,
            "metric.null_rate.ghost": _NE,
            "quantile.0.5.ghost": _NE,
            "drift.psi.ghost": _NE,
            "volume.day.ghost": _NE,
        },
        id="dataset",
    ),
    # a keyed kind needs the keys its rows carry; a dataset-level one
    # (NULL keys) does not
    pytest.param(
        ("turn_idx",),
        [
            NotNull(column="tool"),
            FunctionalDependency(column="tool", determinants=("conv_id",)),
            PandasCheck(column="tool", columns=("tool",), check=_never,
                        check_id="tool"),
            MetricBound(column="tool", metric="null_rate", hi=0.5),
        ],
        {
            "required.tool": _NE,
            "fd.conv_id->tool": _NE,
            "residual.tool": _NE,
            "metric.null_rate.tool": "null_rate(tool) = 3/4 above max 0.5",
        },
        id="missing-key",
    ),
]


@pytest.mark.parametrize("drop,constraints,want", EVALUABILITY_CASES)
def test_each_constraint_is_evaluated_or_reported(spark, drop, constraints, want):
    """One evaluability rule: each constraint shows up either as its
    violations or as exactly one "not evaluated" row, never both and
    never neither. Window kinds need top-level names; every other kind
    also takes a struct path."""
    df = _meta_frame(spark).drop(*drop)
    got = _by_id(all_violations(df, ConstraintSet("s", list(constraints))).collect())
    for cid, reason in want.items():
        reasons = [r.reason for r in got.get(cid, [])]
        skipped = [x for x in reasons if x.endswith(NOT_EVALUATED)]
        if reason == NOT_EVALUATED:
            assert len(reasons) == len(skipped) == 1, (cid, reasons)
        else:
            assert not skipped and reason in reasons, (cid, reasons)


def test_a_missing_key_or_a_dotted_name_is_reported(spark):
    """With a row key missing, a keyed constraint is reported "not
    evaluated" by all_violations and dataset_findings alike, where it
    used to vanish from both. A top-level column whose name holds a dot
    is read by F.col as a struct path, so a constraint on it is
    reported too rather than failing at analysis; the struct path
    itself is evaluated."""
    df = spark.createDataFrame(
        [("c", 0, None)], "conv_id string, turn_idx int, role string"
    )

    def reasons(frame, column):
        suite = ConstraintSet("s", [NotNull(column=column)])
        return [
            [(r.turn_idx, r.reason) for r in out.collect()]
            for out in (all_violations(frame, suite),
                        dataset_findings(frame, suite))
        ]

    gone = "do not resolve in schema; constraint not evaluated"
    assert reasons(df.drop("turn_idx"), "role") == [
        [(None, f"column(s) turn_idx {gone}")]
    ] * 2
    assert reasons(df.withColumnRenamed("role", "a.b"), "a.b") == [
        [(None, f"column(s) a.b {gone}")]
    ] * 2
    nested = df.selectExpr("conv_id", "turn_idx", "named_struct('b', role) a")
    assert reasons(nested, "a.b") == [[(0, "a.b is required but null")], []]


def test_a_window_constraint_that_cannot_run_keeps_the_fused_pass(
    spark, no_one_task
):
    """A window constraint on a struct path is reported and left out of
    the fused pass, so the rest of the window family still plans one
    conversation exchange rather than one leg per constraint."""
    suite = ConstraintSet(
        "s",
        [
            Unique(column="conv_turn", keys=("conv_id", "turn_idx"),
                   first_seen_order=("ts",)),
            TurnOrdering(column="turn_idx"),
            Monotonic(column="ts"),
            Monotonic(column="meta.width"),
        ],
    )
    viol = no_one_task(
        lambda: all_violations(_meta_frame(spark), suite, include_coverage=False)
    )
    plan = _executed_plan(viol)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert sorted(r.constraint_id for r in viol.collect()) == [
        "monotonic.meta.width", "order.turn_idx",
    ]
