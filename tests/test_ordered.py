"""Equivalence of the skew route (conversations split into turn_idx
chunks of the fused window, each chunk seeded by a carrier row) with the
whole-conversation window (violations.fused_group_violations) —
row-for-row, plus job-count and plan pins for the routed plan."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark.sql import functions as F

from ocsf_validator_spark import convstate
from ocsf_validator_spark.ordered import scalable_group_violations
from ocsf_validator_spark.spec import (
    Alternation,
    ConstraintSet,
    Monotonic,
    OpeningRole,
    Precedence,
    TurnOrdering,
    Unique,
    transcript_suite,
)
from ocsf_validator_spark.synth import synth_transcripts
from ocsf_validator_spark.violations import (
    _fusable,
    all_violations,
    fused_group_violations,
)

KEYS = ("conv_id", "turn_idx")


def _with_defects(spark, n=20_000):
    """Synth data + duplicate keys (triplicates!) + gaps so every group
    constraint fires, including multi-occurrence dup groups."""
    df = synth_transcripts(spark, n_turns=n, seed=42)
    dups = df.filter(F.xxhash64("conv_id", "turn_idx") % 53 == 0)
    d2 = dups.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    d3 = dups.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
    gaps = df.filter(F.xxhash64("conv_id", "turn_idx") % 47 == 0)
    return (
        df.join(gaps.select(*KEYS), list(KEYS), "left_anti")
        .unionByName(d2)
        .unionByName(d3)
    )


def _diff(a, b):
    return a.exceptAll(b).count() + b.exceptAll(a).count()


@pytest.mark.parametrize("partitions", [4, 97])
def test_scalable_matches_window(spark, partitions):
    df = _with_defects(spark)
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=partitions)
    assert want.count() > 100
    assert _diff(got, want) == 0


def test_scalable_straddling_groups(spark):
    """A single giant duplicate group + one giant conversation forced
    across MANY partitions: occurrence numbers and first-seen must carry
    over every boundary (and tiny Arrow batches exercise the
    within-partition batch-state carry too)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        base = synth_transcripts(spark, n_turns=4000, seed=11)
        # 500 copies of ONE key, distinct ts values for deterministic ranks
        giant = (
            spark.range(500)
            .select(
                F.lit("c_giant").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.lit("dup text").alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1767225600) + F.col("id")).alias("ts"),
            )
        )
        df = base.unionByName(giant)
        suite = transcript_suite()
        cs, ties = _fusable(suite, df, KEYS)
        want = fused_group_violations(df, cs, ties, KEYS)
        got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=64)
        assert _diff(got, want) == 0
        # the giant group must yield occurrences 2..500 exactly once each
        uniq = got.filter(
            (F.col("constraint_id") == "unique.conv_turn")
            & (F.col("conv_id") == "c_giant")
        )
        assert uniq.count() == 499
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_scalable_null_ties(spark):
    """Rows with NULL tie columns (concat_ws skips nulls) still match."""
    df = _with_defects(spark, n=5000).withColumn(
        "role",
        F.when(F.xxhash64("conv_id", "turn_idx", "ts") % 7 == 0, None).otherwise(
            F.col("role")
        ),
    )
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=13)
    assert _diff(got, want) == 0


def test_scalable_null_ts_in_dup_group(spark):
    """NULL ts inside duplicate groups (NaT tie values): the per-row
    tie-string fallback must drop NaN (strftime of NaT), not crash the
    mapInPandas job — exactly the dirty data NotNull(ts) exists to flag."""
    df = _with_defects(spark, n=5000).withColumn(
        "ts",
        F.when(F.xxhash64("conv_id", "turn_idx", "text") % 5 == 0, None).otherwise(
            F.col("ts")
        ),
    )
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=7)
    assert _diff(got, want) == 0


def test_scalable_null_tie_straddles_boundary(spark):
    """A giant duplicate group whose LAST tie column is NULL on many rows,
    forced across many partitions: the range partitioner must use the
    same nulls-last tie ordering as the sort, or occurrence ranks and
    first-seen peers diverge from the window formulation."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        base = synth_transcripts(spark, n_turns=2000, seed=13)
        giant = (
            spark.range(400)
            .select(
                F.lit("c_nulltie").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                # half the copies have NULL text (the tie column)
                F.when(F.col("id") % 2 == 0, F.lit("t")).alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1767225600) + F.col("id")).alias("ts"),
            )
        )
        df = base.unionByName(giant)
        suite = transcript_suite()
        cs, ties = _fusable(suite, df, KEYS)
        want = fused_group_violations(df, cs, ties, KEYS)
        got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=32)
        assert _diff(got, want) == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_scalable_date_columns(spark):
    """DATE-typed tie + monotonic columns: reasons render dates the way
    CAST(d AS STRING) does (no time part), and a chunk carrier keeps a
    boundary-crossing date as a DATE."""
    df = (
        synth_transcripts(spark, n_turns=3000, seed=17)
        .withColumn("d", F.to_date(F.col("ts") + F.expr("INTERVAL 1 DAY") * F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(400))))
        .drop("ts")
    )
    # duplicates so the Unique leg exercises date tie strings
    dups = df.filter(F.xxhash64("conv_id", "turn_idx") % 31 == 0)
    df = df.unionByName(
        dups.withColumn("d", F.date_add(F.col("d"), 1))
    )
    cs = [
        Unique(column="conv_turn", keys=KEYS, first_seen_order=("d", "role")),
        TurnOrdering(column="turn_idx"),
        Monotonic(column="d"),
    ]
    ties = ["d", "role"]
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=29)
    assert want.filter(F.col("constraint_id") == "monotonic.d").count() > 0
    assert _diff(got, want) == 0


def test_scalable_row_legs_ride_staged(spark):
    """row_cs: the row-level family evaluated over the staged sort must
    equal the plain row_violations projection over the same input."""
    from ocsf_validator_spark.violations import row_violations

    df = _with_defects(spark, n=8000)
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    row_cs = suite.row_level()
    want = fused_group_violations(df, cs, ties, KEYS).unionByName(
        row_violations(df, suite, KEYS)
    )
    got = scalable_group_violations(
        df, cs, ties, KEYS, num_partitions=11, row_cs=row_cs
    )
    assert want.count() > got.filter(F.col("constraint_id").startswith("unique")).count()
    assert _diff(got, want) == 0


def test_all_violations_routed_matches_unrouted(spark):
    """all_violations with skewed_convs (chunked windows) returns exactly
    the rows of the run that keeps every conversation whole."""
    df = synth_transcripts(spark, n_turns=6000, seed=7)
    suite = transcript_suite()
    skewed = [
        r.conv_id
        for r in df.groupBy("conv_id").count().filter(F.col("count") > 200).collect()
    ]
    assert skewed, "fixture must contain a skewed conversation"
    routed = all_violations(
        df, suite, skewed_convs=skewed, observed_metrics={"__n_rows": 600}
    )
    assert _diff(routed, all_violations(df, suite)) == 0


# ---- the chunked kernel, case by case -------------------------------------

ROLES = ["view", "click", "purchase", "signup", "other"]
TIES = ["ts", "role"]
ALL_KINDS = [
    Unique(column="conv_turn", keys=KEYS, first_seen_order=("ts", "role")),
    TurnOrdering(column="turn_idx"),
    Monotonic(column="ts"),
    Precedence(column="role", trigger="purchase", prereq=("view",)),
    OpeningRole(column="role", allowed=("view", "signup")),
    Alternation(column="role", scope=("click",)),
]


def _events(spark, rows):
    """(conv_id, turn_idx, role, ts as epoch seconds) rows, plus a few
    small conversations that are never chunked."""
    rnd = random.Random(5)
    rows = list(rows) + [
        (f"c{c}", t, rnd.choice(ROLES), 1000 * c + t)
        for c in range(6)
        for t in range(rnd.randint(1, 6))
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, s long"
    ).select(
        "conv_id", "turn_idx", "role", F.timestamp_seconds("s").alias("ts")
    )


def _chunked(df, chunk_rows, convs=("big",), cs=ALL_KINDS, ties=TIES):
    """(whole-conversation window, chunked window) over df."""
    want = fused_group_violations(df, cs, ties, KEYS)
    got = fused_group_violations(
        df, cs, ties, KEYS, chunk_rows=chunk_rows,
        chunk_convs=list(convs) if convs is not None else None,
    )
    return want, got


def _has(out, cid_prefix, conv, turn):
    return out.filter(
        F.col("constraint_id").startswith(cid_prefix)
        & (F.col("conv_id") == conv)
        & F.col("turn_idx").eqNullSafe(turn)
    ).count() > 0


def test_chunked_null_and_negative_turn_idx(spark):
    """NULL turn_idx rows sort first in the conversation: they form the
    first chunk, and the chunk after them lags the last NULL row."""
    rnd = random.Random(1)
    rows = [("big", t, rnd.choice(ROLES), 100 + t) for t in range(-6, 30)]
    rows += [("big", None, "view", 5), ("big", None, "click", None),
             ("big", None, "click", 7)]
    want, got = _chunked(_events(spark, rows), chunk_rows=4)
    assert _has(want, "unique", "big", None)
    assert _diff(got, want) == 0


def test_chunked_gaps_leave_empty_chunks(spark):
    """turn_idx gaps wider than the chunk leave empty chunks; each chunk
    is seeded from the last NON-empty one before it."""
    turns = [*range(0, 10), *range(30, 35), *range(100, 104)]
    rnd = random.Random(2)
    rows = [("big", t, rnd.choice(ROLES), t // 10 if t in (30, 100) else t)
            for t in turns]
    want, got = _chunked(_events(spark, rows), chunk_rows=4)
    assert _has(want, "order", "big", 100)
    assert _has(want, "monotonic", "big", 30)
    assert _has(want, "monotonic", "big", 100)
    assert _diff(got, want) == 0


def test_chunked_giant_duplicate_group(spark):
    """500 copies of one key stay in one chunk: occurrences 2..500."""
    rows = [("big", t, "view", t) for t in range(21) if t != 7]
    rows += [("big", 7, "view", 10_000 + i) for i in range(500)]
    want, got = _chunked(_events(spark, rows), chunk_rows=3)
    assert _diff(got, want) == 0
    uniq = got.filter(
        F.col("constraint_id").startswith("unique") & (F.col("conv_id") == "big")
    )
    assert uniq.count() == 499


def test_chunked_precedence_prereq_chunks_earlier(spark):
    """A prereq in chunk 0 satisfies a trigger eight chunks later; with
    no prereq anywhere the trigger fires."""
    rows = [("big", 0, "view", 0), ("big2", 0, "signup", 0)]
    for conv in ("big", "big2"):
        rows += [(conv, t, "purchase" if t == 33 else "other", t)
                 for t in range(1, 40)]
    want, got = _chunked(_events(spark, rows), chunk_rows=4,
                         convs=("big", "big2"))
    assert _has(want, "precedence", "big2", 33)
    assert not _has(want, "precedence", "big", 33)
    assert _diff(got, want) == 0


def test_chunked_breaks_at_chunk_boundary(spark):
    """A Monotonic break and an Alternation repeat on the first row of a
    chunk lag against the carrier, not NULL."""
    rows = [("big", t, "click" if t in (9, 10) else ROLES[t % 2 * 3], 10 * t)
            for t in range(20)]
    rows[5] = ("big", 5, "signup", 1)
    want, got = _chunked(_events(spark, rows), chunk_rows=5)
    assert _has(want, "monotonic", "big", 5)
    assert _has(want, "alternation", "big", 10)
    assert _diff(got, want) == 0


def test_chunked_date_monotonic(spark):
    """A DATE monotonic column carried across a chunk boundary."""
    rows = [("big", t, "view", t * 86_400) for t in range(24)]
    rows[8] = ("big", 8, "view", 0)
    df = _events(spark, rows).withColumn("d", F.to_date("ts")).drop("ts")
    cs = [
        Unique(column="conv_turn", keys=KEYS, first_seen_order=("d", "role")),
        TurnOrdering(column="turn_idx"),
        Monotonic(column="d"),
    ]
    want, got = _chunked(df, chunk_rows=4, cs=cs, ties=["d", "role"])
    assert _has(want, "monotonic", "big", 8)
    assert _diff(got, want) == 0


@pytest.mark.parametrize("chunk_rows", [1, 3])
def test_chunked_every_conversation_mixed_defects(spark, chunk_rows):
    """Every conversation chunked (W = 1 makes every turn a chunk) over
    random duplicates, gaps, NULL roles and NULL timestamps."""
    rnd = random.Random(chunk_rows)
    rows = []
    for c in range(12):
        t = 0
        for _ in range(rnd.randint(5, 40)):
            t += rnd.choice([0, 1, 1, 1, 2, 5])
            role = rnd.choice(ROLES + [None])
            rows.append((f"b{c}", t, role, rnd.choice([t, t - 3, None])))
    want, got = _chunked(_events(spark, rows), chunk_rows, convs=None)
    assert want.count() > 20
    assert _diff(got, want) == 0


def test_routed_conversation_under_increment_carry(spark):
    """With an increment carry, a routed conversation reports what the
    unrouted carried run reports: the boundary-key re-append and the
    ts regression across the increment boundary."""
    suite = ConstraintSet(name="kinds", constraints=ALL_KINDS)
    inc1 = _events(spark, [("big", t, "view", t) for t in range(40)])
    inc2 = _events(
        spark,
        [("big", 39, "view", 500)]
        + [("big", t, "other", 1 if t == 40 else t) for t in range(40, 80)],
    ).filter(F.col("conv_id") == "big")
    state = convstate.merge_state(
        None, convstate.boundary_state(inc1, ALL_KINDS, TIES)
    )
    want = all_violations(inc2, suite, carry=state, include_coverage=False)
    got = all_violations(
        inc2, suite, carry=state, skewed_convs=["big"],
        observed_metrics={"__n_rows": 41}, include_coverage=False,
    )
    assert _has(got, "unique", "big", 39)
    assert _has(got, "monotonic", "big", 40)
    assert _diff(got, want) == 0


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_routed_plan_builds_without_jobs_or_python(spark):
    """Building the routed plan runs no job, and the plan has no Python
    stage: the skew route is JVM windows end to end."""
    df = synth_transcripts(spark, n_turns=3000, seed=7)
    out, jobs = _jobs(
        spark,
        lambda: all_violations(
            df, transcript_suite(), skewed_convs=["c00000000"],
            observed_metrics={"__n_rows": 3000},
        ),
    )
    assert jobs == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_chunk" in plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan
