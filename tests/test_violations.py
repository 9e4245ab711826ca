"""Violation-engine unit tests — mirrors reference tests/test_validators.py
scenario-for-scenario (see FIXTURES.md §4 for the mapping)."""

from __future__ import annotations

from ocsf_validator_spark.spec import transcript_suite
from ocsf_validator_spark.violations import (
    all_violations,
    dataset_findings,
    group_violations,
    row_violations,
)

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
    rows = group_violations(transcripts, SUITE).collect()
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

    from ocsf_validator_spark.violations import _fusable, fused_group_violations

    rows = [
        ("c1", None, "user", "first null", None, "2026-01-01 00:00:00"),
        ("c1", None, "user", "second null", None, "2026-01-01 00:00:01"),
        ("c1", 0, "user", "ok", None, "2026-01-01 00:00:02"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cs, ties = _fusable(SUITE, df, ("conv_id", "turn_idx"))
    out = fused_group_violations(
        df, cs, ties, ("conv_id", "turn_idx"), row_cs=SUITE.row_level()
    ).collect()
    uniq = [r for r in out if r.constraint_id == "unique.conv_turn"]
    assert len(uniq) == 1
    assert uniq[0].reason is not None
    assert "occurrence 2" in uniq[0].reason
    assert "first null" in uniq[0].reason  # the kept peer's text tie


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
    from ocsf_validator_spark.spec import transcript_suite
    from ocsf_validator_spark.violations import _fusable, fused_group_violations

    suite = transcript_suite()
    cs, ties = _fusable(suite, transcripts, ("conv_id", "turn_idx"))
    fused = fused_group_violations(
        transcripts, cs, ties, ("conv_id", "turn_idx"), row_cs=suite.row_level()
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


def test_fused_suite_zero_exchange_on_bucketed_table(spark, tmp_path):
    """The 100 TB deployment shape: when the transcript table is
    BUCKETED by conv_id (Iceberg/warehouse tables routinely are), the
    fused suite's HashPartitioning(conv_id) requirement is satisfied by
    the scan itself — Catalyst plans the whole row+window suite with
    ZERO Exchange: scan → sort-within-bucket → two windows. The one
    shuffle the flat-file plan pays disappears with the right layout."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.spec import transcript_suite
    from ocsf_validator_spark.violations import _fusable, fused_group_violations

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
        cs, ties = _fusable(suite, t, ("conv_id", "turn_idx"))
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
        _fusable,
        fused_group_violations,
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
    cs, ties = _fusable(suite, df, ("conv_id", "turn_idx"))

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
