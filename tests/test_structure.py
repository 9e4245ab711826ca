"""Sequential-structure constraints (spec.Precedence / spec.OpeningRole):
a trigger value needs a prereq value strictly earlier in the same
conversation; the first turn of a conversation must carry an allowed
value. Both ride the fused single-scan window pass (plan pinned), match
the skew-immune ordered path row-for-row, and carry per-conversation
'prereq seen' state across incremental runs (two-increment run ==
fresh full run).
"""

from __future__ import annotations

import random
import re

from ocsf_validator_spark import convstate
from ocsf_validator_spark.ordered import scalable_group_violations
from ocsf_validator_spark.spec import (
    ConstraintSet,
    OpeningRole,
    Precedence,
    TurnOrdering,
    Unique,
)
from ocsf_validator_spark.violations import all_violations

PREC = Precedence(column="role", trigger="purchase", prereq=("view", "click"))
OPEN = OpeningRole(column="role", allowed=("view", "click", "signup"))


def _naive(rows, cs):
    """The rows ``cs`` (Precedence, OpeningRole, Alternation over
    ``role``) must report on ``rows``, by a plain per-conversation rule:
    each conversation's turns in turn_idx order (distinct here), each
    constraint read off that list."""
    convs: dict = {}
    for conv, t, role in rows:
        convs.setdefault(conv, []).append((t, role))
    out = set()
    for conv, turns in convs.items():
        turns.sort()
        for i, (t, role) in enumerate(turns):
            for c in cs:
                if isinstance(c, Precedence):
                    bad = role == c.trigger and not any(
                        r in c.prereq for _, r in turns[:i]
                    )
                    reason = (
                        f"role '{c.trigger}' with no prior {'|'.join(c.prereq)}"
                    )
                elif isinstance(c, OpeningRole):
                    bad = i == 0 and role not in c.allowed
                    reason = f"conversation opens with {role or 'NULL'}"
                else:
                    bad = (
                        i > 0
                        and role is not None
                        and role == turns[i - 1][1]
                        and (not c.scope or role in c.scope)
                    )
                    reason = f"consecutive role '{role}'"
                if bad:
                    out.add((c.constraint_id, conv, t, reason, c.severity.name))
    return out


def _cs():
    return [
        Unique(
            column="conv_turn",
            keys=("conv_id", "turn_idx"),
            first_seen_order=("role",),
            id_override="unique.conv_turn",
        ),
        TurnOrdering(column="turn_idx"),
        PREC,
        OPEN,
    ]


def _suite():
    return ConstraintSet(name="structure", constraints=_cs())


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string"
    )


def test_fused_semantics(spark):
    df = _rows(
        spark,
        [
            ("c1", 0, "view"), ("c1", 1, "purchase"), ("c1", 2, "purchase"),
            ("c2", 0, "purchase"), ("c2", 1, "view"), ("c2", 2, "purchase"),
            ("c3", 0, "click"), ("c3", 1, "view"),
            ("c4", 0, None), ("c4", 1, "purchase"),
        ],
    )
    got = {
        (r.constraint_id, r.conv_id, r.turn_idx)
        for r in all_violations(df, _suite(), include_coverage=False).collect()
    }
    assert got == {
        # c2 opens with the trigger: both checks fire on turn 0 only —
        # its second purchase has the turn-1 view as prereq
        ("precedence.role.purchase", "c2", 0),
        ("opening.role", "c2", 0),
        # NULL opener violates opening; NULL is never a prereq
        ("opening.role", "c4", 0),
        ("precedence.role.purchase", "c4", 1),
    }


def test_fused_matches_naive_rule(spark):
    random.seed(11)
    roles = ["view", "click", "purchase", "signup", "error", None]
    rows = []
    for c in range(60):
        for t in range(random.randint(1, 12)):
            rows.append((f"c{c:02d}", t, random.choice(roles)))
    df = _rows(spark, rows)
    fused = {
        tuple(r)
        for r in all_violations(df, _suite(), include_coverage=False).collect()
        if r.constraint_id.startswith(("precedence.", "opening."))
    }
    assert fused == _naive(rows, [PREC, OPEN]) and fused


def test_ordered_skew_path_matches_fused(spark):
    """A conversation spanning many range partitions must produce the
    identical rows on the skew-immune path — the prereq-seen prefix
    carry across partition boundaries is the part a naive per-partition
    check gets wrong."""
    random.seed(7)
    roles = ["view", "click", "purchase", "signup", "error"]
    rows = [("big", t, random.choice(roles)) for t in range(5000)]
    for c in range(30):
        for t in range(random.randint(1, 8)):
            rows.append((f"c{c:02d}", t, random.choice(roles)))
    df = _rows(spark, rows)
    cs = _cs()
    fused = sorted(
        map(tuple, all_violations(df, _suite(), include_coverage=False).collect())
    )
    ordered = sorted(
        map(
            tuple,
            scalable_group_violations(
                df, cs, ["role"], num_partitions=16
            ).collect(),
        )
    )
    assert fused == ordered
    # the skewed conversation actually straddled partitions (else the
    # prefix-carry path wasn't exercised)
    assert df.count() > 5000


def test_plan_single_exchange_with_all_kinds(spark):
    """Precedence's running prereq sum and OpeningRole's row_number ride
    the SAME conversation window as Unique/TurnOrdering: still exactly
    one Exchange and one Sort in the fused plan."""
    df = _rows(spark, [("c1", 0, "view")])
    plan = (
        all_violations(df, _suite(), include_coverage=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_incremental_carry_matches_full_run(spark):
    inc1 = [
        ("a", 0, "view"), ("a", 1, "click"),   # prereq seen in inc1
        ("b", 0, "signup"), ("b", 1, "error"),  # no prereq in inc1
        ("c", 0, "purchase"),                   # trigger fires in inc1
    ]
    inc2 = [
        ("a", 2, "purchase"),                  # carried prereq -> clean
        ("b", 2, "purchase"),                  # no prereq ever -> fires
        ("c", 1, "view"), ("c", 2, "purchase"),  # prereq inside inc2
        ("d", 0, "purchase"),                  # fresh conv: both fire
    ]
    d1, d2 = _rows(spark, inc1), _rows(spark, inc2)
    cs, suite, ties = _cs(), _suite(), ["role"]
    v1 = sorted(
        map(tuple, all_violations(d1, suite, include_coverage=False).collect())
    )
    state = convstate.merge_state(None, convstate.boundary_state(d1, cs, ties))
    v2 = sorted(
        map(
            tuple,
            all_violations(
                d2, suite, include_coverage=False, carry=state
            ).collect(),
        )
    )
    vf = sorted(
        map(
            tuple,
            all_violations(
                d1.unionByName(d2), suite, include_coverage=False
            ).collect(),
        )
    )
    assert sorted(v1 + v2) == vf
    # the pivotal cases, by name:
    keys2 = {(r[0], r[1], r[2]) for r in v2}
    assert ("precedence.role.purchase", "a", 2) not in keys2  # carried prereq
    assert ("precedence.role.purchase", "b", 2) in keys2
    assert ("precedence.role.purchase", "d", 0) in keys2
    assert ("opening.role", "d", 0) in keys2
    # carried conversations never re-fire opening in increment 2
    assert not [k for k in keys2 if k[0] == "opening.role" and k[1] != "d"]


def test_seen_bit_merges_monotone(spark):
    """Once an increment sees a prereq, a later increment whose own
    boundary wins the merge cannot unsee it."""
    cs, ties = _cs(), ["role"]
    s1 = convstate.boundary_state(
        _rows(spark, [("a", 0, "view")]), cs, ties
    )
    s2 = convstate.boundary_state(
        _rows(spark, [("a", 1, "error"), ("a", 2, "signup")]), cs, ties
    )
    merged = convstate.merge_state(s1, s2)
    row = merged.collect()[0]
    col = convstate.carry_seen_col(PREC)
    assert row[col] == 1  # greatest(1, 0), though inc2's boundary won
    assert row[convstate.CARRY_PREV_IDX] == 2


def test_empty_and_all_clean(spark):
    df = _rows(spark, [("a", 0, "view"), ("a", 1, "purchase")])
    assert (
        all_violations(df, _suite(), include_coverage=False).count() == 0
    )
    assert (
        all_violations(
            df.limit(0), _suite(), include_coverage=False
        ).count()
        == 0
    )


def test_runner_cli_flags(spark, tmp_path):
    """--precedence/--opening extend the suite from the CLI, flow into
    verdicts AND carry across --incremental runs (the seen bit persists
    in the convstate snapshot); malformed specs are FATAL (exit 2)."""
    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "in")
    ver1 = str(tmp_path / "v1")
    rows1 = [("a", 0, "view", "t", None, "2026-01-01 00:00:00"),
             ("b", 0, "signup", "t", None, "2026-01-01 00:00:00")]
    rows2 = [("a", 1, "purchase", "t", None, "2026-01-01 00:00:01"),
             ("b", 1, "purchase", "t", None, "2026-01-01 00:00:01")]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")
    df1 = spark.createDataFrame(rows1, schema)
    df1.withColumn("ts", df1.ts.cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(root)
    flags = ["--precedence", "role:purchase=view,click",
             "--opening", "role=view,click,signup"]
    manifest = str(tmp_path / "m")
    base = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", *flags]
    assert main([*base, "--verdicts-out", ver1]) in (0, 1)
    # increment 2: a's purchase has a CARRIED prereq (view@0); b's does not
    viol2 = str(tmp_path / "viol2")
    df2 = spark.createDataFrame(rows2, schema)
    df2.withColumn("ts", df2.ts.cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(root)
    assert main([*base, "--violations-out", viol2]) == 1
    got = {(r.constraint_id, r.conv_id, r.turn_idx)
           for r in spark.read.parquet(viol2).filter(
               "conv_id is not null").collect()}
    assert ("precedence.role.purchase", "b", 1) in got
    assert ("precedence.role.purchase", "a", 1) not in got
    # malformed specs are config errors, never silently dropped
    assert main(["--synth", "10", "--precedence", "nonsense"]) == 2
    assert main(["--synth", "10", "--opening", "role="]) == 2


# ---------------------------------------------------------------------------
# Alternation (consecutive-repeat check)
# ---------------------------------------------------------------------------

from ocsf_validator_spark.spec import Alternation

ALT = Alternation(column="role", scope=("view", "purchase"))


def _alt_cs():
    return [
        Unique(
            column="conv_turn",
            keys=("conv_id", "turn_idx"),
            first_seen_order=("role",),
            id_override="unique.conv_turn",
        ),
        TurnOrdering(column="turn_idx"),
        PREC,
        OPEN,
        ALT,
    ]


def _alt_suite():
    return ConstraintSet(name="structure_alt", constraints=_alt_cs())


def test_alternation_fused_semantics(spark):
    df = _rows(
        spark,
        [
            # scoped repeat fires; out-of-scope repeat (signup) does not
            ("c1", 0, "view"), ("c1", 1, "view"), ("c1", 2, "click"),
            ("c2", 0, "signup"), ("c2", 1, "signup"),
            # NULL never matches, in either position
            ("c3", 0, None), ("c3", 1, None), ("c3", 2, "view"),
            # repeat across an intervening turn is NOT consecutive
            ("c4", 0, "view"), ("c4", 1, "click"), ("c4", 2, "view"),
        ],
    )
    suite = ConstraintSet(name="alt_only", constraints=[ALT])
    got = {
        (r.constraint_id, r.conv_id, r.turn_idx, r.reason)
        for r in all_violations(df, suite, include_coverage=False).collect()
    }
    assert got == {
        ("alternation.role", "c1", 1, "consecutive role 'view'"),
    }
    # unscoped: every consecutive repeat fires
    suite_all = ConstraintSet(
        name="alt_all", constraints=[Alternation(column="role")]
    )
    got_all = {
        (r.conv_id, r.turn_idx)
        for r in all_violations(
            df, suite_all, include_coverage=False
        ).collect()
    }
    assert got_all == {("c1", 1), ("c2", 1)}


def test_alternation_fused_matches_naive_rule(spark):
    random.seed(13)
    roles = ["view", "click", "purchase", "signup", None]
    rows = []
    for c in range(60):
        for t in range(random.randint(1, 12)):
            rows.append((f"c{c:02d}", t, random.choice(roles)))
    df = _rows(spark, rows)
    fused = {
        tuple(r)
        for r in all_violations(
            df, _alt_suite(), include_coverage=False
        ).collect()
        if r.constraint_id.startswith("alternation.")
    }
    assert fused == _naive(rows, [ALT]) and fused


def test_alternation_skew_path_matches_fused(spark):
    """A conversation spanning many range partitions: the repeat check
    at each partition's first row lags against the carried previous
    value, not NULL."""
    random.seed(17)
    roles = ["view", "click", "purchase", "signup"]
    rows = [("big", t, random.choice(roles)) for t in range(5000)]
    for c in range(30):
        for t in range(random.randint(1, 8)):
            rows.append((f"c{c:02d}", t, random.choice(roles)))
    df = _rows(spark, rows)
    cs = _alt_cs()
    fused = sorted(
        map(
            tuple,
            all_violations(df, _alt_suite(), include_coverage=False).collect(),
        )
    )
    ordered = sorted(
        map(
            tuple,
            scalable_group_violations(
                df, cs, ["role"], num_partitions=16
            ).collect(),
        )
    )
    assert fused == ordered
    assert any(r[0] == "alternation.role" for r in fused)


def test_alternation_plan_single_exchange(spark):
    """The alternation lag rides the SAME conversation window as every
    other group leg: still exactly one Exchange and one Sort."""
    df = _rows(spark, [("c1", 0, "view")])
    plan = (
        all_violations(df, _alt_suite(), include_coverage=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_alternation_incremental_boundary_repeat(spark):
    """A repeat straddling the increment boundary fires exactly as in a
    fresh full run: the carried last value is the lag for increment 2's
    first row."""
    inc1 = [
        ("x", 0, "click"), ("x", 1, "view"),   # inc2 repeats 'view'
        ("y", 0, "view"), ("y", 1, "purchase"),  # inc2 continues clean
    ]
    inc2 = [
        ("x", 2, "view"),       # boundary-straddling repeat -> fires
        ("y", 2, "view"),       # purchase -> view: clean
        ("z", 0, "view"), ("z", 1, "view"),  # fresh conv, inside inc2
    ]
    d1, d2 = _rows(spark, inc1), _rows(spark, inc2)
    cs, suite, ties = _alt_cs(), _alt_suite(), ["role"]
    v1 = sorted(
        map(tuple, all_violations(d1, suite, include_coverage=False).collect())
    )
    state = convstate.merge_state(None, convstate.boundary_state(d1, cs, ties))
    v2 = sorted(
        map(
            tuple,
            all_violations(
                d2, suite, include_coverage=False, carry=state
            ).collect(),
        )
    )
    vf = sorted(
        map(
            tuple,
            all_violations(
                d1.unionByName(d2), suite, include_coverage=False
            ).collect(),
        )
    )
    assert sorted(v1 + v2) == vf
    keys2 = {(r[0], r[1], r[2]) for r in v2}
    assert ("alternation.role", "x", 2) in keys2
    assert ("alternation.role", "z", 1) in keys2
    assert not [k for k in keys2 if k[0] == "alternation.role" and k[1] == "y"]


def test_alternation_runner_cli_flag(spark, tmp_path):
    """--alternation extends the suite from the CLI; scoped and
    unscoped spellings both parse; the carried last value crosses
    --incremental runs."""
    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "in_alt")
    rows1 = [("a", 0, "user", "t", None, "2026-01-01 00:00:00"),
             ("a", 1, "assistant", "t", None, "2026-01-01 00:00:01")]
    rows2 = [("a", 2, "assistant", "t", None, "2026-01-01 00:00:02")]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")
    df1 = spark.createDataFrame(rows1, schema)
    df1.withColumn("ts", df1.ts.cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(root)
    manifest = str(tmp_path / "m_alt")
    base = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--alternation", "role=user,assistant"]
    assert main(base) in (0, 1)
    df2 = spark.createDataFrame(rows2, schema)
    df2.withColumn("ts", df2.ts.cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(root)
    viol2 = str(tmp_path / "viol2_alt")
    assert main([*base, "--violations-out", viol2]) == 1
    got = {(r.constraint_id, r.conv_id, r.turn_idx)
           for r in spark.read.parquet(viol2).filter(
               "conv_id is not null").collect()}
    assert ("alternation.role", "a", 2) in got
    # malformed: empty column is a config error
    assert main(["--synth", "10", "--alternation", "=x"]) == 2
