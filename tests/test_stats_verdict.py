from __future__ import annotations

from pyspark.sql import functions as F

from ocsf_validator_spark.spec import Severity, transcript_suite
from ocsf_validator_spark.stats import (
    column_stats,
    conversation_stats,
    length_histogram,
    overall_stats,
)
from ocsf_validator_spark.verdict import (
    exit_code_rows,
    summarize_rows,
    verdicts,
)
from ocsf_validator_spark.violations import all_violations

SUITE = transcript_suite()


def test_column_stats_single_pass(transcripts):
    stats = column_stats(transcripts, num_buckets=8)
    rows = stats.collect()
    assert sum(r.n_rows for r in rows) == transcripts.count()
    total_null_roles = sum(r.role__nulls for r in rows)
    assert total_null_roles == 1  # (c001, 3)
    # single aggregation: exactly one Aggregate pair in the plan (partial+final)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2


def test_overall_stats(transcripts):
    row = overall_stats(transcripts).collect()[0]
    assert row.n_rows == transcripts.count()
    assert row.text__len_max == 70000


def test_length_histogram(transcripts):
    hist = length_histogram(transcripts, "text", bin_width=16).collect()
    assert sum(r.cnt for r in hist) == transcripts.count()
    big = [r for r in hist if r.bin == 70000 // 16]
    assert big and big[0].cnt == 1


def test_conversation_stats_salted(transcripts):
    cs = {r.conv_id: r for r in conversation_stats(transcripts).collect()}
    assert cs["c001"].dense_ordered
    assert not cs["c004"].dense_ordered  # duplicate turn 1
    assert not cs["c007"].dense_ordered  # gap
    assert cs["c004"].n_turns == 3 and cs["c004"].n_distinct_turns == 2


def test_verdicts_and_exit_code(transcripts):
    v = all_violations(transcripts, SUITE)
    vd = verdicts(transcripts, v, SUITE, num_buckets=8).cache()
    counts = {
        (r.bucket, r.constraint_id): r
        for r in vd.collect()
    }
    # every (observed bucket, constraint) pair has a verdict row
    n_buckets = (
        transcripts.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("b")
        )
        .distinct()
        .count()
    )
    per_constraint = {}
    for (b, cid), r in counts.items():
        if b >= 0:
            per_constraint.setdefault(cid, 0)
            per_constraint[cid] += 1
    assert all(n == n_buckets for n in per_constraint.values())
    # deprecated.role has violations but severity WARNING → still passes
    dep = [r for (b, cid), r in counts.items() if cid == "deprecated.role" and r.violation_count > 0]
    assert dep and all(r.pass_ if hasattr(r, "pass_") else r["pass"] for r in dep)
    # required.role fails in its bucket
    req = [r for (b, cid), r in counts.items() if cid == "required.role" and r.violation_count > 0]
    assert req and not any(r["pass"] for r in req)
    vd_rows = vd.collect()
    assert exit_code_rows(vd_rows) == 1
    summary = {s["constraint_id"]: s for s in summarize_rows(vd_rows)}
    assert not summary["required.role"]["pass"]
    assert summary["deprecated.role"]["pass"]
    vd.unpersist()


def test_strict_threshold(transcripts):
    v = all_violations(transcripts, SUITE)
    vd = verdicts(transcripts, v, SUITE, num_buckets=8, threshold=Severity.WARNING)
    summary = {s["constraint_id"]: s for s in summarize_rows(vd.collect())}
    # under --strict, WARNING-level deprecation now fails (reference
    # runner.py:135-139 strict mode)
    assert not summary["deprecated.role"]["pass"]


def test_bucketed_probe_stats_fused(spark):
    """Direct contract of the fused stats+probe aggregation: per-bucket
    counts sum to the table, max-merged flags observe exactly the
    present values, and the probe collects exactly the conversations at
    or above the floor with their exact counts."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.stats import bucket_col, bucketed_probe_stats

    rows = (
        [("big", "click") for _ in range(500)]
        + [("mid", "view") for _ in range(90)]
        + [("s1", "click"), ("s2", "purchase"), ("s3", "click")]
    )
    df = spark.createDataFrame(rows, "conv_id string, role string")
    flags = {
        f"_f{j}": F.max(
            F.when(F.col("role") == F.lit(v), F.lit(1)).otherwise(F.lit(0))
        )
        for j, v in enumerate(("click", "view", "purchase", "refund"))
    }
    out = bucketed_probe_stats(
        df, num_buckets=4, max_aggs=flags, probe_floor=90
    ).collect()
    assert sum(r.n_rows for r in out) == len(rows)
    seen = {
        v
        for j, v in enumerate(("click", "view", "purchase", "refund"))
        if any(r[f"_f{j}"] == 1 for r in out)
    }
    assert seen == {"click", "view", "purchase"}
    heavy = {s.conv: s.n for r in out for s in (r._skew or [])}
    assert heavy == {"big": 500, "mid": 90}
    # plan contract: the only object-typed aggregation (the probe's
    # collect_list) is keyed by BUCKET — level 1 (conversation-keyed,
    # millions of groups) must stay pure codegen HashAggregate, because
    # a conv-keyed ObjectHashAggregate falls back to sort-based
    # aggregation past 128 groups (the round-3 175s regression)
    plan = (
        bucketed_probe_stats(df, num_buckets=4, max_aggs=flags, probe_floor=90)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, plan
    import re

    for m in re.finditer(r"ObjectHashAggregate\(keys=\[(\w+)", plan):
        assert m.group(1) == "bucket", plan
    assert "ObjectHashAggregate" in plan  # the probe leg exists


def test_role_transitions_matrix(spark):
    from ocsf_validator_spark.stats import role_transitions

    rows = [
        # conv a: user -> assistant -> NULL -> assistant
        ("a", 0, "user"), ("a", 1, "assistant"), ("a", 2, None),
        ("a", 3, "assistant"),
        # conv b: a single turn contributes no transition
        ("b", 0, "user"),
        # conv c: user -> user double-send
        ("c", 0, "user"), ("c", 1, "user"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = {
        (r.role, r.next_role): (r.n, r.frac)
        for r in role_transitions(df).collect()
    }
    # 4 transitions total: NULL roles are real matrix entries on both
    # sides; the end-of-conversation lead sentinel is NOT a transition
    assert got == {
        ("user", "assistant"): (1, 0.25),
        ("assistant", None): (1, 0.25),
        (None, "assistant"): (1, 0.25),
        ("user", "user"): (1, 0.25),
    }


def test_turn_echo_set_semantics_and_edges(spark):
    """turn_echo: set overlap (in-turn repeats don't inflate), full-echo
    is exact containment, first/NULL turns excluded from scoring but
    counted, unscoreable conversations carry NULL avg/max."""
    from ocsf_validator_spark.stats import turn_echo

    rows = [
        # c1: t0 'a b c'; t1 repeats a word of t0 many times -> echo 1.0
        # (set containment) and full; t2 vs ITS prev t1 {'a'} -> 0.0
        ("c1", 0, "a b c"), ("c1", 1, "a a a"), ("c1", 2, "b d"),
        # c2: single turn -> nothing scoreable
        ("c2", 0, "x y"),
        # c3: NULL text mid-conversation: t1 unscored; t2's prev is the
        # NULL turn -> unscored too (prev token set is NULL)
        ("c3", 0, "p q"), ("c3", 1, None), ("c3", 2, "p q"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.conv_id: r for r in turn_echo(df).collect()}
    c1 = got["c1"]
    assert (c1.n_turns, c1.turns_scored, c1.full_echo_turns) == (3, 2, 1)
    assert c1.avg_echo == 0.5 and c1.max_echo == 1.0
    c2 = got["c2"]
    assert (c2.n_turns, c2.turns_scored, c2.avg_echo, c2.max_echo,
            c2.full_echo_turns) == (1, 0, None, None, 0)
    c3 = got["c3"]
    assert (c3.n_turns, c3.turns_scored) == (3, 0)


def test_column_topk_values_semantics(spark):
    from ocsf_validator_spark.stats import column_topk_values

    df = spark.createDataFrame(
        [
            ("a", "x"), ("a", "x"), ("a", "y"), ("a", None),
            ("b", "x"), ("b", "y"), ("c", "z"),
        ],
        "cat string, sub string",
    )
    rows = column_topk_values(df, ["cat", "sub"], k=2).collect()
    got = {(r.col, r.rank): r for r in rows}
    # cat: a=4, b=2 (c=1 cut by k=2); NULL sub excluded from sub counts
    assert (got[("cat", 1)].value, got[("cat", 1)].cnt) == ("a", 4)
    assert (got[("cat", 2)].value, got[("cat", 2)].cnt) == ("b", 2)
    # share = cnt / non-null count of THAT column (7 cats, 6 subs)
    assert got[("cat", 1)].share == round(4 / 7, 6)
    assert got[("sub", 1)].cnt == 3 and got[("sub", 1)].value == "x"
    assert got[("sub", 1)].share == 0.5
    assert len(rows) == 4


def test_column_topk_tie_break_is_hash_deterministic(spark):
    """Equal counts rank by the 60-bit md5-prefix hash ascending — the
    same total order at any partitioning and in the SQL oracle."""
    import hashlib

    from ocsf_validator_spark.stats import column_topk_values

    df = spark.createDataFrame(
        [("p",), ("q",), ("r",)], "v string"
    )
    h = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    expect = sorted(["p", "q", "r"], key=h)
    got = [
        r.value
        for r in column_topk_values(df, ["v"], k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect
    got4 = [
        r.value
        for r in column_topk_values(df.repartition(4), ["v"], k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got4 == expect


def test_column_topk_long_values_capped_after_counting(spark):
    from ocsf_validator_spark.stats import column_topk_values

    long_a = "a" * 300
    long_b = "a" * 256 + "b" * 44  # same 256-prefix, different value
    df = spark.createDataFrame(
        [(long_a,), (long_a,), (long_b,)], "v string"
    )
    rows = column_topk_values(df, ["v"], k=2).orderBy("rank").collect()
    # counted as DISTINCT values (2 vs 1), displayed capped at 256
    assert [r.cnt for r in rows] == [2, 1]
    assert all(len(r.value) == 256 for r in rows)


def test_column_topk_plan_hash_keyed_count_and_broadcast_recovery(spark):
    from ocsf_validator_spark.stats import column_topk_values

    df = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("v"),
        F.lit("wide body").alias("text"),
    )
    plan = (
        column_topk_values(df, ["v"], k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the count exchange is keyed on (col, h) — never the value string
    count_parts = [
        ln for ln in plan.splitlines()
        if "hashpartitioning" in ln and "h#" in ln
    ]
    assert count_parts, plan
    assert not any("val#" in ln for ln in count_parts)
    # winner-string recovery rides a broadcast, not a shuffled join
    assert "BroadcastExchange" in plan


def test_verdict_diff_all_statuses_and_silence(spark):
    from ocsf_validator_spark.verdict import verdict_diff

    schema = (
        "bucket int, constraint_id string, severity string, "
        "violation_count long, pass boolean"
    )
    before = spark.createDataFrame(
        [
            (0, "a", "ERROR", 0, True),    # -> fail: regressed
            (0, "b", "ERROR", 5, False),   # -> pass: fixed
            (0, "c", "ERROR", 3, False),   # -> fail: still_failing
            (0, "d", "WARNING", 2, True),  # count moves: count_changed
            (0, "e", "ERROR", 0, True),    # unchanged pass: SILENT
            (1, "a", "ERROR", 9, False),   # bucket gone: gone_fail
            (1, "e", "ERROR", 0, True),    # bucket gone, was pass: SILENT
        ],
        schema,
    )
    after = spark.createDataFrame(
        [
            (0, "a", "ERROR", 4, False),
            (0, "b", "ERROR", 0, True),
            (0, "c", "ERROR", 7, False),
            (0, "d", "WARNING", 6, True),
            (0, "e", "ERROR", 0, True),
            (2, "a", "ERROR", 1, False),   # new bucket failing: new_fail
            (2, "e", "ERROR", 0, True),    # new bucket passing: SILENT
        ],
        schema,
    )
    rows = verdict_diff(before, after).collect()
    got = {(r.bucket, r.constraint_id): r for r in rows}
    assert got[(0, "a")].status == "regressed"
    assert got[(0, "b")].status == "fixed"
    assert (got[(0, "c")].status, got[(0, "c")].count_delta) == (
        "still_failing",
        4,
    )
    assert got[(0, "d")].status == "count_changed"
    assert got[(1, "a")].status == "gone_fail"
    assert got[(2, "a")].status == "new_fail"
    # pass-and-unchanged rows (0,e), (1,e), (2,e) are not emitted
    assert set(got) == {(0, "a"), (0, "b"), (0, "c"), (0, "d"),
                        (1, "a"), (2, "a")}


def test_column_topk_empty_columns_returns_empty(spark):
    from ocsf_validator_spark.stats import column_topk_values

    out = column_topk_values(spark.range(5), [], k=3)
    assert out.count() == 0
    assert out.columns == ["col", "rank", "value", "cnt", "share"]


def test_loop_detector_semantics(spark):
    from ocsf_validator_spark.stats import loop_detector

    rows = [
        # c1: "retry search" loops 3x non-consecutively (turn_echo-blind)
        ("c1", 0, "assistant", "retry search"),
        ("c1", 1, "tool", "err"),
        ("c1", 2, "assistant", "retry search"),
        ("c1", 3, "tool", "err"),
        ("c1", 4, "assistant", "retry search"),
        # c2: same text twice but DIFFERENT roles: two keys, no loop at k=3
        ("c2", 0, "user", "hi"),
        ("c2", 1, "assistant", "hi"),
        # c3: NULL text never loops
        ("c3", 0, "user", None),
        ("c3", 1, "user", None),
        ("c3", 2, "user", None),
        # c4: NULL role with repeated text still keys consistently
        ("c4", 0, None, "ping"),
        ("c4", 1, None, "ping"),
        ("c4", 2, None, "ping"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {r.conv_id: r for r in loop_detector(df, min_repeats=3).collect()}
    assert set(got) == {"c1", "c4"}
    c1 = got["c1"]
    assert (c1.n_repeats, c1.first_idx, c1.last_idx, c1.span) == (3, 0, 4, 4)
    assert got["c4"].n_repeats == 3
    # min_repeats=2 picks up the cross-role c2 pair? no — roles differ
    ids2 = {r.conv_id for r in loop_detector(df, min_repeats=2).collect()}
    assert ids2 == {"c1", "c4"}
