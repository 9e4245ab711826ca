"""Cross-increment conversation state (convstate.py): an incremental
run — or a stream micro-batch with ``stateful_ordering=True`` — seeded
with the earlier slivers' per-conversation boundary summaries must
reproduce the FRESH FULL RUN's violations row-for-row for in-order
appends — duplicates, gaps, and ts regressions that straddle the
boundary are caught, and conversations that merely continue in order
stop producing the old false "gap: expected 0" reports. Out-of-order
appends follow the conservative contract (convstate module
docstring)."""

from __future__ import annotations

import os

import pytest

from ocsf_validator_spark import checkpoint as ckpt
from ocsf_validator_spark import convstate
from ocsf_validator_spark.runner import main
from ocsf_validator_spark.streaming import (
    TRANSCRIPT_DDL,
    read_violations,
    validate_stream,
)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts string"
)


def _df(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return df.withColumn("ts", df.ts.cast("timestamp"))


# conversations a-d and f append IN ORDER across the boundary (the
# row-for-row contract); e is the documented out-of-order exception
INC1 = [
    # a: clean, continues cleanly in inc2
    ("a", 0, "user", "a0", None, "2026-01-01 00:00:00"),
    ("a", 1, "assistant", "a1", None, "2026-01-01 00:00:01"),
    ("a", 2, "user", "a2", None, "2026-01-01 00:00:02"),
    # b: inc2 opens with a TRUE gap (expected 2, got 3)
    ("b", 0, "user", "b0", None, "2026-01-01 00:01:00"),
    ("b", 1, "assistant", "b1", None, "2026-01-01 00:01:01"),
    # c: inc2 re-appends the boundary key (c,1)
    ("c", 0, "user", "c0", None, "2026-01-01 00:02:00"),
    ("c", 1, "assistant", "c1", None, "2026-01-01 00:02:01"),
    # d: inc2's ts regresses below inc1's last row
    ("d", 0, "user", "d0", None, "2026-01-01 00:03:00"),
    ("d", 1, "assistant", "d1", None, "2026-01-01 00:03:05"),
    # e: inc2 appends BELOW the boundary (out-of-order contract)
    ("e", 0, "user", "e0", None, "2026-01-01 00:04:00"),
    ("e", 1, "assistant", "e1", None, "2026-01-01 00:04:01"),
    ("e", 2, "user", "e2", None, "2026-01-01 00:04:02"),
    ("e", 3, "assistant", "e3", None, "2026-01-01 00:04:03"),
    # f: boundary key (f,1) already duplicated WITHIN inc1 (occ 2 fires
    # in run 1); inc2's third copy must rank occurrence 3 with the
    # first-seen string from inc1's FIRST copy
    ("f", 0, "user", "f0", None, "2026-01-01 00:05:00"),
    ("f", 1, "assistant", "f1 first", None, "2026-01-01 00:05:01"),
    ("f", 1, "assistant", "f1 second", None, "2026-01-01 00:05:02"),
]

INC2 = [
    ("a", 3, "assistant", "a3", None, "2026-01-01 00:00:03"),
    ("a", 4, "user", "a4", None, "2026-01-01 00:00:04"),
    ("b", 3, "user", "b3 after gap", None, "2026-01-01 00:01:03"),
    ("c", 1, "assistant", "c1 again", None, "2026-01-01 00:02:09"),
    ("d", 2, "user", "d2 ts regressed", None, "2026-01-01 00:03:01"),
    ("f", 1, "assistant", "f1 third", None, "2026-01-01 00:05:09"),
]

INC2_OOO = [
    ("e", 2, "user", "e2 redelivered", None, "2026-01-01 00:04:09"),
]


def _drain(spark, root, out, **kw):
    """Drain ``root`` one file per micro-batch with the carried state;
    returns the batch ids run."""
    seen = []
    sdf = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    q = validate_stream(
        sdf, out + "/viol", out + "/ckpt", stateful_ordering=True,
        on_batch=lambda bid, *_: seen.append(bid), **kw,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    return seen


def _run_two_increments(spark, tmp_path, inc2_rows, via="increments",
                        land_files=None):
    root = str(tmp_path / "landing")
    if via == "stream":
        # the two increments land as two files, one micro-batch each
        land_files(root, [_df(spark, INC1), _df(spark, inc2_rows)])
        out = str(tmp_path / "stream")
        assert _drain(spark, root, out) == [0, 1]
        rows = (
            read_violations(spark, out + "/viol")
            .filter("conv_id is not null")
            .collect()
        )
        return root, out + "/ckpt", {
            (r.constraint_id, r.conv_id, r.turn_idx, r.reason, r.severity)
            for r in rows
        }
    manifest = str(tmp_path / "manifest")
    viol = str(tmp_path / "viol_inc")
    _df(spark, INC1).coalesce(1).write.mode("append").parquet(root)
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--violations-out", viol]
    assert main(argv) in (0, 1)
    _df(spark, inc2_rows).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) in (0, 1)
    rows = (
        spark.read.parquet(viol)
        .filter("conv_id is not null")  # dataset findings are per-run
        .collect()
    )
    return root, manifest, {
        (r.constraint_id, r.conv_id, r.turn_idx, r.reason, r.severity)
        for r in rows
    }


def _full_run(spark, tmp_path, root):
    viol = str(tmp_path / "viol_full")
    assert main(["--input", root, "--buckets", "4",
                 "--violations-out", viol]) in (0, 1)
    rows = (
        spark.read.parquet(viol).filter("conv_id is not null").collect()
    )
    return {
        (r.constraint_id, r.conv_id, r.turn_idx, r.reason, r.severity)
        for r in rows
    }


@pytest.mark.parametrize("via", ["increments", "stream"])
def test_in_order_increments_match_fresh_full_run(
    spark, tmp_path, land_files, via
):
    root, manifest, inc_set = _run_two_increments(
        spark, tmp_path, INC2, via, land_files
    )
    full_set = _full_run(spark, tmp_path, root)
    assert inc_set == full_set
    # and the specific cross-boundary defects actually fired:
    reasons = {r for (_, conv, _, r, _) in inc_set if conv == "b"}
    assert any("gap: expected 2 got 3" in r for r in reasons)
    c_dupes = {r for (cid, conv, _, r, _) in inc_set
               if conv == "c" and cid == "unique.conv_turn"}
    assert any("occurrence 2" in r for r in c_dupes)
    d_mono = {r for (cid, conv, _, r, _) in inc_set
              if conv == "d" and cid == "monotonic.ts"}
    assert d_mono, "cross-boundary ts regression must fire"
    # a continues in order: NO violations at all (the old per-increment
    # contract false-reported 'gap: expected 0 got 3' here)
    assert not [v for v in inc_set if v[1] == "a"]
    # f's third copy ranks occurrence 3 and names inc1's first copy
    f3 = [r for (cid, conv, _, r, _) in inc_set
          if conv == "f" and "occurrence 3" in r]
    assert f3 and "f1 first" in f3[0]


@pytest.mark.parametrize("via", ["increments", "stream"])
def test_out_of_order_append_is_conservatively_reported(
    spark, tmp_path, land_files, via
):
    _, _, inc_set = _run_two_increments(
        spark, tmp_path, INC2_OOO, via, land_files
    )
    e2 = {(cid, r) for (cid, conv, t, r, _) in inc_set
          if conv == "e" and t == 2}
    # exactly the conservative out-of-order report, and no false
    # 'gap: expected 0' / dup noise from the wrong lag context
    assert ("order.turn_idx", "out-of-order turn_idx 2: already past 3") in e2
    assert not any("gap" in r or "duplicate" in r for _, r in e2)


def test_stream_replay_rewrites_its_own_batch(spark, tmp_path, land_files):
    """A carried stream whose last batch Spark runs again (its commit
    lost after the batch wrote its sink partition and its state) reads
    the state its first attempt read and rewrites its own: the sink
    rows and the state equal those of the uninterrupted drain."""
    root, out = str(tmp_path / "landing"), str(tmp_path / "stream")
    land_files(root, [_df(spark, INC1), _df(spark, INC2)])

    def drained():
        sink = sorted(
            (r.batch_id, r.constraint_id, r.conv_id, r.turn_idx, r.reason)
            for r in spark.read.parquet(out + "/viol").collect()
        )
        state = convstate.read_state(spark, out + "/ckpt/carry")
        return sink, sorted(tuple(r) for r in state.collect())

    assert _drain(spark, root, out) == [0, 1]
    first = drained()
    commits = os.path.join(out, "ckpt", "commits")
    assert sorted(os.listdir(commits)) == [".0.crc", ".1.crc", "0", "1"]
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(commits, name))
    assert _drain(spark, root, out) == [1]  # Spark ran batch 1 again
    assert drained() == first


def test_carried_runs_refuse_what_the_carry_cannot_serve(spark, tmp_path):
    """A window off (conv_id, turn_idx), or a Unique on other keys, is
    not served by the carried state: a carried stream raises before a
    query starts, a commit before it writes, a carried all_violations
    before it plans. (The runner's refusal is a case of
    test_malformed_suite_source_is_fatal_before_spark.)"""
    from ocsf_validator_spark.spec import (
        ConstraintSet,
        Monotonic,
        Unique,
        transcript_suite,
    )
    from ocsf_validator_spark.violations import all_violations

    df = _df(spark, INC1)
    cs = transcript_suite().group_level()
    state = convstate.boundary_state(df, cs, ["ts", "role", "text"])
    active = len(spark.streams.active)
    os.makedirs(tmp_path / "none")
    for suite in (
        transcript_suite().add(
            Monotonic(column="ts", order_by="ts", id_override="mono.by_ts")
        ),
        ConstraintSet("u", [Unique(column="rt", keys=("role", "turn_idx"))]),
    ):
        with pytest.raises(ValueError, match="not carried"):
            _drain(spark, str(tmp_path / "none"), str(tmp_path / "out"),
                   suite=suite)
        with pytest.raises(ValueError, match="not carried"):
            convstate.commit(df, suite, str(tmp_path / "ck"), 0)
        with pytest.raises(ValueError, match="not carried"):
            all_violations(df, suite, carry=state)
    assert len(spark.streams.active) == active
    assert not os.path.exists(tmp_path / "out")
    assert not os.path.exists(tmp_path / "ck")


def test_state_is_committed_with_the_ledger(spark, tmp_path):
    root, manifest, _ = _run_two_increments(spark, tmp_path, INC2)
    state = convstate.read_state(spark, manifest)
    assert state is not None
    by_conv = {r.conv_id: r for r in state.collect()}
    assert by_conv["a"][convstate.CARRY_PREV_IDX] == 4  # advanced by inc2
    assert by_conv["e"][convstate.CARRY_PREV_IDX] == 3
    # f's boundary key (f,1) accumulated three copies across increments
    assert by_conv["f"][convstate.CARRY_COUNT] == 3
    assert "f1 first" in by_conv["f"][convstate.CARRY_FIRST]
    # the ledger's file set is unaffected by the trailing state pointer
    assert len(ckpt.seen_files(manifest)) == 2
    # a third no-op invocation must not disturb the committed state
    assert main(["--input", root, "--incremental", "--checkpoint",
                 manifest, "--buckets", "4"]) == 0
    assert convstate.read_state(spark, manifest).count() == state.count()


def test_merge_state_unit(spark):
    prior = spark.createDataFrame(
        [("x", 5, "2026-01-01 00:00:05", 2, "first-x"),
         ("y", 1, "2026-01-01 00:01:01", 1, "first-y")],
        f"conv_id string, {convstate.CARRY_PREV_IDX} int, _c_prev_ts string, "
        f"{convstate.CARRY_COUNT} long, {convstate.CARRY_FIRST} string",
    )
    new = spark.createDataFrame(
        [("x", 5, "2026-01-01 00:00:09", 1, "late-x"),   # same boundary
         ("y", 0, "2026-01-01 00:01:00", 1, "early-y"),  # below: prior stands
         ("z", 2, "2026-01-01 00:02:02", 1, "first-z")],  # fresh conv
        prior.schema,
    )
    got = {r.conv_id: r for r in convstate.merge_state(prior, new).collect()}
    x = got["x"]
    assert (x[convstate.CARRY_PREV_IDX], x[convstate.CARRY_COUNT]) == (5, 3)
    assert x[convstate.CARRY_FIRST] == "first-x"  # earliest occurrence wins
    assert x["_c_prev_ts"] == "2026-01-01 00:00:09"  # later rows win mono
    y = got["y"]
    assert (y[convstate.CARRY_PREV_IDX], y[convstate.CARRY_COUNT],
            y[convstate.CARRY_FIRST]) == (1, 1, "first-y")
    z = got["z"]
    assert (z[convstate.CARRY_PREV_IDX], z[convstate.CARRY_FIRST]) == (2, "first-z")
    assert convstate.merge_state(None, new) is new


# --- FunctionalDependency cross-increment carry -----------------------

# fd: a conversation uses ONE tool. g is consistent per increment but
# DISAGREES across them (the blind spot the carry closes); h is
# consistent throughout; i is inconsistent WITHIN increment 2 (new
# group — must keep the batch-run reason verbatim).
FD_INC1 = [
    ("g", 0, "assistant", "g0", "search", "2026-01-01 00:00:00"),
    ("g", 1, "assistant", "g1", "search", "2026-01-01 00:00:01"),
    ("h", 0, "assistant", "h0", "calc", "2026-01-01 00:01:00"),
]
FD_INC2 = [
    ("g", 2, "assistant", "g2", "browser", "2026-01-01 00:00:02"),
    ("h", 1, "assistant", "h1", "calc", "2026-01-01 00:01:01"),
    ("i", 0, "assistant", "i0", "aaa", "2026-01-01 00:02:00"),
    ("i", 1, "assistant", "i1", "bbb", "2026-01-01 00:02:01"),
]

FD_REGISTRY = {
    "transcripts": {
        "constraints": {
            "fd.conv_id->tool": {
                "kind": "fd",
                "column": "tool",
                "determinants": ["conv_id"],
            }
        }
    }
}


def test_fd_state_carries_across_increments(spark, tmp_path):
    import json as _json

    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    viol = str(tmp_path / "viol_inc")
    sj = str(tmp_path / "fd_suite.json")
    with open(sj, "w") as f:
        _json.dump(FD_REGISTRY, f)
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--violations-out", viol, "--suite-json", sj]
    _df(spark, FD_INC1).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) == 0  # increment 1 is internally consistent
    _df(spark, FD_INC2).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) == 1
    got = {
        (r.conv_id, r.turn_idx): r.reason
        for r in spark.read.parquet(viol)
        .filter("conv_id is not null")
        .collect()
    }
    # g2 disagrees with the CARRIED canonical from increment 1 — the
    # per-increment contract silently passed this before the carry
    assert got[("g", 2)] == (
        "fd (conv_id=(g)) -> tool: found browser; expected search"
        "; cross-increment"
    )
    # h continues consistently: nothing fires
    assert not any(k[0] == "h" for k in got)
    # i is NEW to increment 2: batch-run reason verbatim
    assert got[("i", 1)] == (
        "fd (conv_id=(i)) -> tool: found bbb; expected aaa; 2 values"
    )
    assert set(got) == {("g", 2), ("i", 1)}
    # the committed fd state reflects the merged groups with the STICKY
    # canonical (g keeps 'search' even though 'browser' arrived later)
    states = convstate.read_fd_states(spark, manifest)
    st = {r._d0: (r._canon, r._null)
          for r in states["fd.conv_id->tool"].collect()}
    assert st == {"g": ("search", 0), "h": ("calc", 0),
                  "i": ("aaa", 0)}


def test_merge_fd_state_unit(spark):
    from ocsf_validator_spark.violations import merge_fd_state

    prior = spark.createDataFrame(
        [("w", "en", 0), ("x", None, 1), ("y", "de", 0)],
        "_d0 string, _canon string, _null int",
    )
    new = spark.createDataFrame(
        [("w", "aa", 1),   # sticky: prior canon wins; null upgrades
         ("x", "pt", 0),   # all-NULL group upgrades to first non-null
         ("z", "fr", 0)],  # fresh group
        prior.schema,
    )
    got = {r._d0: (r._canon, r._null)
           for r in merge_fd_state(prior, new).collect()}
    assert got == {"w": ("en", 1), "x": ("pt", 1), "y": ("de", 0),
                   "z": ("fr", 0)}
    # no prior -> the new state verbatim
    assert merge_fd_state(None, new) is new


def test_fd_all_null_group_upgrade_across_increments(spark, tmp_path):
    """Increment 1's group is all-NULL (no violation); increment 2
    establishes a canonical — its own rows validate against it, and a
    further disagreeing increment fires."""
    import json as _json

    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    viol = str(tmp_path / "viol_inc")
    sj = str(tmp_path / "fd_suite.json")
    with open(sj, "w") as f:
        _json.dump(FD_REGISTRY, f)
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--violations-out", viol, "--suite-json", sj]
    _df(spark, [("n", 0, "assistant", "n0", None, "2026-01-01 00:00:00")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) == 0
    _df(spark, [("n", 1, "assistant", "n1", "calc", "2026-01-01 00:00:01")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) == 0  # upgrade, no violation (prior NULLs passed)
    _df(spark, [("n", 2, "assistant", "n2", "other", "2026-01-01 00:00:02")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert main(argv) == 1
    rows = spark.read.parquet(viol).filter("conv_id is not null").collect()
    assert [(r.conv_id, r.turn_idx) for r in rows] == [("n", 2)]
    assert "expected calc; cross-increment" in rows[0].reason


def test_schema_drift_reported_between_increments(spark, tmp_path, capsys):
    """Increment 2 arrives with a retyped column and an extra one: the
    runner names the upstream change before any constraint sees it."""
    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4"]
    _df(spark, [("a", 0, "user", "t", None, "2026-01-01 00:00:00")]
        ).coalesce(1).write.mode("append").parquet(f"{root}/inc1")
    assert main(argv + ["--input", f"{root}/inc1"]) in (0, 1)
    df2 = _df(spark, [("b", 0, "user", "t", None, "2026-01-01 00:01:00")])
    (df2.withColumn("turn_idx", df2.turn_idx.cast("long"))
        .withColumn("extra", df2.conv_id)
        .coalesce(1).write.mode("append").parquet(f"{root}/inc1"))
    capsys.readouterr()
    # the unknown column also trips the suite's FATAL schema audit —
    # exit 2, with the drift report naming the upstream change first
    assert main(argv + ["--input", f"{root}/inc1"]) == 2
    out = capsys.readouterr().out
    assert "[SCHEMA DRIFT] added column extra (string)" in out
    assert "retyped column turn_idx: int -> bigint" in out
    assert "[FATAL] schema.columns: unknown column extra" in out


def test_fd_state_survives_partial_suite_runs(spark, tmp_path):
    """A run with only a SUBSET of the fd constraints commits only that
    subset's state pointers; the ledger reader merges per key, so the
    other constraint's carried state survives and still fires later."""
    import json as _json

    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    viol = str(tmp_path / "viol")

    def reg(ids):
        cons = {}
        if "tool" in ids:
            cons["fd.conv_id->tool"] = {
                "kind": "fd", "column": "tool",
                "determinants": ["conv_id"],
            }
        if "role" in ids:
            cons["fd.conv_id->role"] = {
                "kind": "fd", "column": "role",
                "determinants": ["conv_id"],
            }
        p = str(tmp_path / f"suite_{'_'.join(ids)}.json")
        with open(p, "w") as f:
            _json.dump({"transcripts": {"constraints": cons}}, f)
        return p

    def run(suite_path):
        return main(["--input", root, "--incremental", "--checkpoint",
                     manifest, "--buckets", "4", "--violations-out",
                     viol, "--suite-json", suite_path])

    # increment 1: both constraints establish state
    _df(spark, [("g", 0, "assistant", "t", "search",
                 "2026-01-01 00:00:00")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert run(reg(["tool", "role"])) == 0
    # increment 2: only the ROLE fd runs (tool temporarily dropped)
    _df(spark, [("g", 1, "assistant", "t", "search",
                 "2026-01-01 00:00:01")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert run(reg(["role"])) == 0
    # increment 3: tool fd re-added; its increment-1 canonical must
    # still be carried -> the disagreement fires
    _df(spark, [("g", 2, "assistant", "t", "browser",
                 "2026-01-01 00:00:02")]
        ).coalesce(1).write.mode("append").parquet(root)
    assert run(reg(["tool", "role"])) == 1
    rows = spark.read.parquet(viol).filter("conv_id is not null").collect()
    assert [(r.conv_id, r.turn_idx) for r in rows] == [("g", 2)]
    assert "expected search; cross-increment" in rows[0].reason
