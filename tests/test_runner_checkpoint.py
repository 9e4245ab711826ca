from __future__ import annotations

import json
import os

import pytest

from ocsf_validator_spark import checkpoint as ckpt
from ocsf_validator_spark.runner import run_validation
from ocsf_validator_spark.spec import transcript_suite
from ocsf_validator_spark.synth import synth_transcripts


def test_run_validation_end_to_end(spark, transcripts, tmp_path):
    res = run_validation(
        spark,
        transcripts,
        num_buckets=8,
        quiet=True,
        violations_out=str(tmp_path / "viol"),
    )
    assert res.exit_code == 1  # fixture has ERROR-level defects
    assert res.n_rows == transcripts.count()
    assert res.n_violations > 5
    written = spark.read.parquet(str(tmp_path / "viol"))
    assert written.count() > 5


def test_fatal_schema_aborts(spark, transcripts):
    bad = transcripts.drop("conv_id")  # required column missing → FATAL
    res = run_validation(spark, bad, num_buckets=8, quiet=True)
    assert res.exit_code == 2
    assert res.n_rows == 0  # aborted before any data pass


def test_checkpoint_resume(spark, tmp_path):
    manifest = str(tmp_path / "manifest")
    df = synth_transcripts(spark, n_turns=5000, seed=42)
    r1 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="snapA",
    )
    assert r1.exit_code in (0, 1)
    assert r1.manifest_entries, "first run must write manifest entries"
    n_buckets_done = len(
        ckpt.completed_buckets(manifest, transcript_suite().version(), "snapA")
    )
    assert n_buckets_done == len(r1.manifest_entries)

    # second run with same snapshot + suite: everything skipped
    r2 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="snapA",
    )
    assert r2.skipped_buckets == n_buckets_done
    assert r2.n_rows == 0  # nothing pending

    # different snapshot → full re-run (stale lineage never matches)
    r3 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="snapB",
    )
    assert r3.skipped_buckets == 0
    assert r3.n_rows == 5000


def test_checkpoint_partial_resume(spark, tmp_path):
    """Simulate a crashed run: manifest covers only some buckets; the
    resumed run must process exactly the pending rows."""
    manifest = str(tmp_path / "m2")
    df = synth_transcripts(spark, n_turns=5000, seed=42)
    suite = transcript_suite()
    r1 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="s",
    )
    # drop half the manifest files to fake a partial run
    files = sorted(
        f for f in os.listdir(manifest) if f.endswith(".jsonl")
    )
    entries = ckpt.read_entries(manifest)
    keep = {e.bucket for e in entries[: len(entries) // 2]}
    for f in files:
        os.remove(os.path.join(manifest, f))
    ckpt.write_entries(manifest, [e for e in entries if e.bucket in keep])

    done = ckpt.completed_buckets(manifest, suite.version(), "s")
    assert done == keep
    pending_rows = 5000 - sum(e.n_rows for e in entries if e.bucket in keep)
    r2 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="s",
    )
    assert r2.n_rows == pending_rows
    # after resume, all buckets are complete
    assert len(ckpt.completed_buckets(manifest, suite.version(), "s")) == 16


def test_cli_main(tmp_path):
    from ocsf_validator_spark.runner import main

    code = main(["--synth", "2000", "--buckets", "8"])
    assert code == 1  # synthetic defects present


def test_skew_probe_adds_zero_jobs(spark, jobs_of):
    """Round-3 contract: the skew probe rides the stats scan (two-level
    aggregation in stats.bucketed_probe_stats), so detect_skew=True must
    launch exactly as many jobs as detect_skew=False — rounds 1-2 paid a
    separate full-scan probe job here."""
    df = synth_transcripts(spark, n_turns=5000, seed=42)
    _, n_off = jobs_of(
        lambda: run_validation(spark, df, num_buckets=8, quiet=True,
                               detect_skew=False),
    )
    _, n_on = jobs_of(
        lambda: run_validation(spark, df, num_buckets=8, quiet=True,
                               detect_skew=True),
    )
    assert n_on == n_off


def test_runner_coverage_matches_library_per_constraint(spark):
    """Two EnumCoverage constraints on one column: the runner's
    stats-scan observations must report, per constraint, exactly what
    all_violations' lazy coverage leg reports. A column-keyed fold let
    the second constraint's observed set replace the first's, so
    cov.core used to report its observed values as never observed."""
    from ocsf_validator_spark.spec import ConstraintSet, EnumCoverage
    from ocsf_validator_spark.violations import all_violations

    df = spark.createDataFrame(
        [("a", 0, "user"), ("a", 1, "assistant"), ("b", 0, "user")],
        "conv_id string, turn_idx int, role string",
    )
    suite = ConstraintSet(name="cov", constraints=[
        EnumCoverage(column="role", values=("user", "assistant"),
                     id_override="cov.core"),
        EnumCoverage(column="role", values=("tool",),
                     id_override="cov.extra"),
    ])
    lib: dict = {}
    for r in all_violations(df, suite).collect():
        lib[r.constraint_id] = lib.get(r.constraint_id, 0) + 1
    res = run_validation(spark, df, suite=suite, num_buckets=4, quiet=True)
    got = {s["constraint_id"]: s["violation_count"] for s in res.summary_rows}
    assert got == {"cov.core": lib.get("cov.core", 0),
                   "cov.extra": lib.get("cov.extra", 0)}
    assert got == {"cov.core": 0, "cov.extra": 1}


def test_runner_skew_routing_equivalence(spark, tmp_path):
    """With the floor lowered so synth's 5%-skew conversation trips the
    threshold, the routed run must produce exactly the violations of the
    unrouted run (chunked windows == whole-conversation window), and its
    report must name the route it took."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        df = synth_transcripts(spark, n_turns=5000, seed=42)
        # skew conv = 250 rows; threshold = max(50, 4*5000/200=100) = 100
        out_a = str(tmp_path / "routed")
        out_b = str(tmp_path / "plain")
        rep_a, rep_b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
        ra = run_validation(spark, df, num_buckets=8, quiet=True,
                            skew_min_rows=50, violations_out=out_a,
                            report_json=rep_a)
        rb = run_validation(spark, df, num_buckets=8, quiet=True,
                            detect_skew=False, violations_out=out_b,
                            report_json=rep_b)
        with open(rep_a) as f:
            route = json.load(f)["skew_route"]
        # 5000 rows over 200 shuffle partitions -> 25-row chunks
        assert route["convs"] == 1 and route["chunk_rows"] == 25
        assert route["rows"] >= 100
        with open(rep_b) as f:
            assert json.load(f)["skew_route"] is None
        assert ra.exit_code == rb.exit_code
        assert ra.n_violations == rb.n_violations
        a = sorted(map(tuple, spark.read.parquet(out_a).collect()))
        b = sorted(map(tuple, spark.read.parquet(out_b).collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_routed_run_costs_at_most_one_job_more(spark, tmp_path, jobs_of):
    """The chunked skew route adds one small carrier aggregate to the
    violations plan and nothing else: a routed run_validation runs at
    most one job more than the same run with detect_skew=False."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # threshold = max(100, 4 * 4000 / 8) = 2000 < the 2400-turn conv
        df = synth_transcripts(spark, n_turns=4000, seed=3, skew_turns=2400)
        runs = {}
        for skew in (True, False):
            _, runs[skew] = jobs_of(
                lambda: run_validation(
                    spark, df, num_buckets=8, quiet=True, detect_skew=skew,
                    skew_min_rows=100,
                    violations_out=str(tmp_path / f"v-{skew}"),
                    report_json=str(tmp_path / f"r-{skew}.json"),
                ),
            )
        with open(tmp_path / "r-True.json") as f:
            assert json.load(f)["skew_route"]["convs"] == 1
        assert runs[True] <= runs[False] + 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_schema_audit_runs_no_job(spark, jobs_of):
    """The runner's Phase 0 audit is driver-only: an empty frame folds
    to an empty LocalRelation, so neither empty_df nor the audit over
    the input's empty limit launches a job."""
    from ocsf_validator_spark.localframe import empty_df
    from ocsf_validator_spark.violations import dataset_findings

    rows, n = jobs_of(
        lambda: empty_df(spark, "a int, b string, c array<string>").collect()
    )
    assert (rows, n) == ([], 0)
    df = synth_transcripts(spark, n_turns=200, seed=42)
    rows, n = jobs_of(lambda: dataset_findings(
        df.limit(0), transcript_suite(), include_coverage=False
    ).collect())
    assert (rows, n) == ([], 0)


def test_routed_run_with_sinks_job_count(spark, tmp_path, jobs_of):
    """A skew-routed run_validation with a checkpoint manifest and a
    violation sink: stats (3), the sink write (4) and the one-aggregate
    verdict collect (2) make 9 jobs; the schema audit adds none."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        df = synth_transcripts(spark, n_turns=4000, seed=3, skew_turns=2400)
        _, n = jobs_of(lambda: run_validation(
            spark, df, num_buckets=8, quiet=True, skew_min_rows=100,
            checkpoint_dir=str(tmp_path / "ckpt"),
            violations_out=str(tmp_path / "viol"),
            report_json=str(tmp_path / "r.json"),
        ))
        with open(tmp_path / "r.json") as f:
            assert json.load(f)["skew_route"]["convs"] == 1
        assert n <= 9
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_cli_input_records_source_snapshot(spark, tmp_path):
    """--input routes through sources.load_table; the manifest must
    record the lineage id the source handle provides (parquet content
    fingerprint here; Iceberg snapshot_id when a runtime is present)."""
    from ocsf_validator_spark.runner import main
    from ocsf_validator_spark.sources import load_table

    inp = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_turns=2000, seed=42).write.parquet(inp)
    manifest = str(tmp_path / "manifest")
    code = main(["--input", inp, "--buckets", "8", "--checkpoint", manifest])
    assert code == 1
    handle = load_table(spark, inp)
    assert handle.format == "parquet"
    entries = ckpt.read_entries(manifest)
    assert entries and all(e.snapshot_id == handle.snapshot_id for e in entries)


def test_cli_input_catalog_bucketed_table(spark, tmp_path, capsys):
    """--input also resolves session-catalog table names: a table
    persisted via sources.write_bucketed (bucketed by conv_id) routes
    through spark.table(), the runner announces the zero-exchange
    layout, and the manifest records the table-location fingerprint.
    The plan itself (no Exchange on a bucketed scan) is pinned by
    tests/test_violations.py::test_fused_suite_zero_exchange_on_bucketed_table."""
    from ocsf_validator_spark.runner import main
    from ocsf_validator_spark.sources import (
        bucket_spec,
        load_table,
        write_bucketed,
    )

    df = synth_transcripts(spark, n_turns=2000, seed=42)
    tbl = "bucketed_transcripts_cli_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    write_bucketed(df, tbl, num_buckets=4)
    try:
        assert bucket_spec(spark, tbl) == (
            4, ["conv_id"], ["conv_id", "turn_idx"],
        )
        handle = load_table(spark, tbl)
        assert handle.format == "table"
        assert handle.snapshot_id.startswith("path:")
        assert handle.df.count() == 2000
        manifest = str(tmp_path / "manifest_tbl")
        code = main(["--input", tbl, "--buckets", "8",
                     "--checkpoint", manifest])
        assert code == 1  # synthetic defects present, same as flat run
        assert "zero Exchange" in capsys.readouterr().out
        entries = ckpt.read_entries(manifest)
        assert entries
        assert all(e.snapshot_id == handle.snapshot_id for e in entries)
        # an unbucketed catalog table must NOT claim the layout
        plain = "plain_transcripts_cli_test"
        spark.sql(f"DROP TABLE IF EXISTS {plain}")
        df.write.format("parquet").saveAsTable(plain)
        try:
            assert bucket_spec(spark, plain) is None
            assert main(["--input", plain, "--buckets", "8"]) == 1
            assert "zero Exchange" not in capsys.readouterr().out
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {plain}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_runner_max_violation_rows(spark, tmp_path):
    """The sink cap bounds only the written detail rows; violation
    counts, pass/fail, and the exit code stay exact."""
    from collections import Counter

    df = synth_transcripts(spark, n_turns=5000, seed=42)
    out_capped = str(tmp_path / "viol_capped")
    out_full = str(tmp_path / "viol_full")
    rc = run_validation(spark, df, num_buckets=8, quiet=True,
                        violations_out=out_capped, max_violation_rows=3)
    rf = run_validation(spark, df, num_buckets=8, quiet=True,
                        violations_out=out_full)
    assert (rc.exit_code, rc.n_violations) == (rf.exit_code, rf.n_violations)
    written = spark.read.parquet(out_capped).collect()
    counts = Counter(r.constraint_id for r in written)
    assert counts and all(n <= 3 for n in counts.values())
    assert spark.read.parquet(out_full).count() == rf.n_violations


@pytest.mark.parametrize("n", ["0", "-1"])
def test_runner_max_violation_rows_below_one_is_fatal(spark, tmp_path, capsys, n):
    """A cap below 1 is a config error: exit 2 with [FATAL], never a
    silently uncapped (0) or empty (negative) sink."""
    from ocsf_validator_spark.runner import main

    out = str(tmp_path / "viol")
    argv = ["--synth", "10", "--violations-out", out, "--max-violation-rows", n]
    assert main(argv) == 2
    assert "[FATAL]" in capsys.readouterr().out
    assert not os.path.exists(out)


def test_cli_incremental_mode(spark, tmp_path, capsys):
    """--incremental validates only files appended since the last run:
    first run covers the initial landing, an unchanged directory is a
    no-op exit 0, and a second landing is validated alone (manifest
    row counts prove the first 2000 rows were not rescanned). The file
    ledger commits only after the bucket manifest (at-least-once)."""
    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "inc_landing")
    manifest = str(tmp_path / "inc_manifest")
    synth_transcripts(spark, n_turns=2000, seed=42).write.parquet(root)
    argv = ["--input", root, "--incremental",
            "--checkpoint", manifest, "--buckets", "8"]
    assert main(argv) == 1  # synthetic defects present
    out1 = capsys.readouterr().out
    assert "incremental: validating" in out1
    entries1 = ckpt.read_entries(manifest)
    assert sum(e.n_rows for e in entries1) == 2000
    snaps1 = {e.snapshot_id for e in entries1}
    assert all(s.startswith("inc:") for s in snaps1)

    # unchanged directory: nothing new, no validation pass
    assert main(argv) == 0
    assert "nothing new" in capsys.readouterr().out

    # a second landing is validated ALONE
    synth_transcripts(spark, n_turns=1000, seed=7).write.mode(
        "append"
    ).parquet(root)
    assert main(argv) == 1
    entries2 = ckpt.read_entries(manifest)
    assert sum(e.n_rows for e in entries2) == 3000
    assert {e.snapshot_id for e in entries2} - snaps1  # new lineage id

    # guard rails: missing --checkpoint / combined with --stream = FATAL
    assert main(["--input", root, "--incremental"]) == 2
    assert main(["--input", root, "--incremental", "--stream",
                 "--violations-out", str(tmp_path / "v"),
                 "--checkpoint", manifest]) == 2


def test_cli_stream_mode(spark, tmp_path):
    """--stream drains a landing dir through the streaming suite and
    exits with the batch contract (1 = ERROR violations found)."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "landing")
    synth_transcripts(spark, n_turns=3000, seed=42).write.parquet(root)
    viol = str(tmp_path / "sviol")
    code = main([
        "--input", root, "--stream",
        "--violations-out", viol,
        "--checkpoint", str(tmp_path / "sckpt"),
    ])
    assert code == 1  # synth injects ERROR-level defects
    written = spark.read.parquet(viol)
    assert written.filter(F.col("severity") == "ERROR").count() > 0
    # drained checkpoint: a second drain with no new files exits 0
    code2 = main([
        "--input", root, "--stream",
        "--violations-out", viol,
        "--checkpoint", str(tmp_path / "sckpt"),
    ])
    assert code2 == 0


def test_cli_stream_stateful_redrain_scoped(spark, tmp_path):
    """Advisor regression (round 3): the stateful leg APPENDS across
    drains into batch_id=-1, so a later clean drain must not re-read an
    earlier drain's stateful ERROR rows into its exit verdict. The fix
    stamps a drain_id on stateful rows and scopes the verdict to it."""
    import glob as g
    import shutil
    import time as t

    from pyspark.sql import functions as F

    from ocsf_validator_spark.runner import main
    from ocsf_validator_spark.streaming import STATEFUL_BATCH_ID

    def _land(root, rows, name):
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = g.glob(os.path.join(staging, "part-*.parquet"))[0]
        os.makedirs(root, exist_ok=True)
        shutil.copy(part, os.path.join(root, f"{name}.parquet"))
        t.sleep(1.1)

    root = str(tmp_path / "landing2")
    # drain 1: a cross-batch duplicate -> stateful ERROR, exit 1
    _land(root, [
        ("c1", 0, "user", "a", None, "2026-01-01 00:00:00"),
        ("c1", 1, "user", "b", None, "2026-01-01 00:00:01"),
    ], "a_first")
    _land(root, [
        ("c1", 1, "user", "dup", None, "2026-01-01 00:00:02"),
    ], "b_second")
    viol = str(tmp_path / "sviol2")
    ck = str(tmp_path / "sckpt2")
    argv = [
        "--input", root, "--stream", "--stateful-ordering",
        "--violations-out", viol, "--checkpoint", ck,
    ]
    assert main(argv) == 1
    state = spark.read.parquet(
        os.path.join(viol, f"batch_id={STATEFUL_BATCH_ID}")
    )
    assert "drain_id" in state.columns
    assert state.filter(F.col("severity") == "ERROR").count() >= 1
    # drain 2: a CLEAN fresh conversation (complete within its batch, so
    # the per-batch leg passes) — before the drain_id scope the exit
    # verdict re-read drain 1's appended stateful ERROR and exited 1
    _land(root, [
        ("c2", 0, "user", "c", None, "2026-01-01 00:00:03"),
        ("c2", 1, "user", "d", None, "2026-01-01 00:00:04"),
    ], "c_third")
    assert main(argv) == 0


def test_sample_conversations_atomic_and_deterministic(spark):
    """--sample keeps WHOLE conversations (window constraints must see
    every turn of a kept conversation) via a reproducible md5
    threshold."""
    import pytest as _pytest

    from ocsf_validator_spark.runner import sample_conversations
    from ocsf_validator_spark.synth import synth_transcripts

    df = synth_transcripts(spark, n_turns=20_000).cache()
    try:
        kept = sample_conversations(df, 1, 4).cache()
        try:
            full = {r["conv_id"]: r["n"] for r in
                    df.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
            got = {r["conv_id"]: r["n"] for r in
                   kept.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
            assert got  # non-empty sample at 1:4
            assert len(got) < len(full)
            for conv, n in got.items():  # atomicity: no partial conversations
                assert n == full[conv], conv
            # deterministic: same rate+salt -> same kept set
            again = {r["conv_id"] for r in
                     sample_conversations(df, 1, 4).select("conv_id").distinct().collect()}
            assert again == set(got)
            # a different salt re-rolls
            other = {r["conv_id"] for r in
                     sample_conversations(df, 1, 4, salt="other").select("conv_id").distinct().collect()}
            assert other != set(got)
        finally:
            kept.unpersist()
    finally:
        df.unpersist()
    with _pytest.raises(ValueError):
        sample_conversations(df, 5, 4)
    with _pytest.raises(ValueError):
        sample_conversations(df, 0, 4)


def test_cli_sample_mode(spark, tmp_path, capsys):
    """--sample validates the md5-threshold conversation sample and
    stamps the sample spec into the manifest's snapshot id; a bad spec
    is FATAL (exit 2)."""
    from ocsf_validator_spark.runner import main
    from ocsf_validator_spark.synth import synth_transcripts

    inp = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_turns=4000).write.parquet(inp)
    manifest = str(tmp_path / "manifest")
    code = main(["--input", inp, "--buckets", "8",
                 "--checkpoint", manifest, "--sample", "1:4"])
    out = capsys.readouterr().out
    assert code in (0, 1)
    assert "sampling ~1/4 of conversations" in out
    # the manifest records the sample spec in its snapshot lineage so a
    # resumed run can never silently mix sampled and full validations
    import json as _json
    import glob as _glob

    lines = []
    for f in _glob.glob(manifest + "/*.jsonl"):
        with open(f) as fh:
            lines += [_json.loads(l) for l in fh if l.strip()]
    assert lines, "manifest empty"
    assert all("sample=1:4:sample0" in e["snapshot_id"] for e in lines)
    # malformed specs exit 2 before any data job
    assert main(["--input", inp, "--sample", "nonsense"]) == 2
    assert main(["--input", inp, "--sample", "5:4"]) == 2


def test_diff_verdicts_cli_reports_regression(spark, tmp_path, capsys):
    """--diff-verdicts against a prior run's --verdicts-out parquet:
    run 1 on clean data, run 2 on data with an injected bad role —
    the diff report names the regressed constraint."""
    from ocsf_validator_spark.runner import main

    clean = [
        ("a", 0, "user", "t0", None, "2026-01-01 00:00:00"),
        ("a", 1, "assistant", "t1", None, "2026-01-01 00:00:01"),
    ]
    dirty = clean + [
        ("a", 2, "not_a_role", "t2", None, "2026-01-01 00:00:02"),
    ]
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )

    def write(rows, name):
        p = str(tmp_path / name)
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", df.ts.cast("timestamp")).write.parquet(p)
        return p

    in1, in2 = write(clean, "in1"), write(dirty, "in2")
    vd1 = str(tmp_path / "vd1")
    assert main(["--input", in1, "--buckets", "4",
                 "--verdicts-out", vd1]) == 0
    assert main(["--input", in2, "--buckets", "4",
                 "--diff-verdicts", vd1]) == 1
    out = capsys.readouterr().out
    assert "verdict diff vs" in out
    assert "regressed" in out and "ref.role" in out


def test_fd_and_quantile_cli_flags(spark, tmp_path, capsys):
    """--fd and --quantile-bound compose into the suite from the CLI
    and round-trip through --dump-suite."""
    import json

    from ocsf_validator_spark.runner import main

    rows = [
        ("a", 0, "user", "t0", "search", "2026-01-01 00:00:00"),
        ("a", 1, "assistant", "t1", "browser", "2026-01-01 00:00:01"),
        ("b", 0, "user", "t0", "calc", "2026-01-01 00:01:00"),
    ]
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    p = str(tmp_path / "in")
    df = spark.createDataFrame(rows, ddl)
    df.withColumn("ts", df.ts.cast("timestamp")).write.parquet(p)
    dump = str(tmp_path / "suite.json")
    code = main([
        "--input", p, "--buckets", "4",
        "--fd", "conv_id=tool",                    # conv a uses 2 tools
        "--quantile-bound", "turn_idx:0.99,max=0.5",  # p99 = 1 > 0.5
        "--dump-suite", dump,
    ])
    assert code == 1
    out = capsys.readouterr().out
    assert "fd.conv_id->tool" in out and "FAILED" in out
    assert "quantile.0.99.turn_idx" in out
    reg = json.load(open(dump))
    cs = reg["transcripts"]["constraints"]
    assert cs["fd.conv_id->tool"]["kind"] == "fd"
    assert cs["quantile.0.99.turn_idx"] == {
        "kind": "quantile", "column": "turn_idx", "severity": "ERROR",
        "q": 0.99, "hi": 0.5,
    }


def test_group_metric_cli_flag(spark, tmp_path, capsys):
    from ocsf_validator_spark.runner import main

    rows = [
        ("a", 0, "user", "t0", "search", "2026-01-01 00:00:00"),
        ("a", 1, "assistant", "t1", "browser", "2026-01-01 00:00:01"),
        ("b", 0, "user", "t0", "calc", "2026-01-01 00:01:00"),
    ]
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    p = str(tmp_path / "in")
    df = spark.createDataFrame(rows, ddl)
    df.withColumn("ts", df.ts.cast("timestamp")).write.parquet(p)
    assert main([
        "--input", p, "--buckets", "4",
        "--group-metric", "tool:distinct_count:conv_id,max=1",
    ]) == 1
    out = capsys.readouterr().out
    assert "group_metric.distinct_count.tool.by.conv_id" in out
    assert "FAILED" in out


def test_diff_verdicts_same_path_rolling_scorecard(spark, tmp_path, capsys):
    """--verdicts-out and --diff-verdicts pointed at the SAME path (the
    rolling-scorecard setup): the prior must be read before the append,
    so the regression still reports; a third run sees the multi-run
    file and refuses the diff instead of reporting garbage."""
    from ocsf_validator_spark.runner import main

    clean = [
        ("a", 0, "user", "t0", None, "2026-01-01 00:00:00"),
        ("a", 1, "assistant", "t1", None, "2026-01-01 00:00:01"),
    ]
    dirty = clean + [
        ("a", 2, "not_a_role", "t2", None, "2026-01-01 00:00:02"),
    ]
    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )

    def write(rows, name):
        p = str(tmp_path / name)
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", df.ts.cast("timestamp")).write.parquet(p)
        return p

    in1, in2 = write(clean, "in1"), write(dirty, "in2")
    vd = str(tmp_path / "vd")
    assert main(["--input", in1, "--buckets", "4",
                 "--verdicts-out", vd]) == 0
    capsys.readouterr()
    assert main(["--input", in2, "--buckets", "4",
                 "--verdicts-out", vd, "--diff-verdicts", vd]) == 1
    out = capsys.readouterr().out
    assert "regressed" in out and "ref.role" in out
    assert "still_failing" not in out  # prior pinned pre-append
    # third run: vd now holds two runs -> duplicate keys -> refuse
    assert main(["--input", in1, "--buckets", "4",
                 "--diff-verdicts", vd]) == 0
    out = capsys.readouterr().out
    assert "multiple runs" in out and "[DIFF" not in out


def test_report_json_and_gc_state(spark, tmp_path, capsys):
    import json as _json

    from ocsf_validator_spark import convstate
    from ocsf_validator_spark.runner import main

    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    rep = str(tmp_path / "report.json")
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--gc-state", "--report-json", rep,
            "--fd", "conv_id=tool"]

    def inc(rows):
        df = spark.createDataFrame(rows, ddl)
        df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
            "append"
        ).parquet(root)

    inc([("a", 0, "user", "t0", "search", "2026-01-01 00:00:00")])
    assert main(argv) == 0
    r1 = _json.load(open(rep))
    assert r1["exit_code"] == 0 and r1["n_rows"] == 1
    assert "phase_sec" in r1 and isinstance(r1["constraints"], list)
    inc([("a", 1, "assistant", "t1", "search", "2026-01-01 00:00:01")])
    assert main(argv) == 0
    inc([("a", 2, "user", "t2", "search", "2026-01-01 00:00:02")])
    assert main(argv) == 0
    # three increments committed three state generations; gc keeps only
    # the dirs the current pointers reference
    import os as _os

    conv_dirs = _os.listdir(_os.path.join(manifest, "convstate"))
    fd_dirs = _os.listdir(_os.path.join(manifest, "fdstate"))
    assert len(conv_dirs) == 1 and len(fd_dirs) == 1
    # and the kept state is the CURRENT one (carry still works)
    st = convstate.read_state(spark, manifest)
    assert st.collect()[0][convstate.CARRY_PREV_IDX] == 2
    assert list(convstate.read_fd_states(spark, manifest)) == [
        "fd.conv_id->tool"
    ]


def test_compact_checkpoint_preserves_reader_semantics(spark, tmp_path):
    from ocsf_validator_spark import checkpoint as ckpt
    from ocsf_validator_spark import convstate
    from ocsf_validator_spark.runner import main

    ddl = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    root = str(tmp_path / "landing")
    manifest = str(tmp_path / "manifest")
    argv = ["--input", root, "--incremental", "--checkpoint", manifest,
            "--buckets", "4", "--fd", "conv_id=tool"]

    def inc(i):
        df = spark.createDataFrame(
            [("a", i, "user", f"t{i}", "search",
              f"2026-01-01 00:00:0{i}")], ddl
        )
        df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
            "append"
        ).parquet(root)

    for i in range(3):
        inc(i)
        assert main(argv) == 0
    import os as _os

    before = {
        "seen": ckpt.seen_files(manifest),
        "conv": convstate.latest_state_dir(manifest),
        "fd": convstate.latest_fd_state_dirs(manifest),
        "schema": ckpt.last_schema(manifest),
        "entries": len(ckpt.read_entries(manifest)),
    }
    n_ledgers = len([n for n in _os.listdir(manifest) if n.endswith(".files")])
    assert n_ledgers == 3
    fm, fl = ckpt.compact(manifest)
    assert fl == 3
    assert len([n for n in _os.listdir(manifest) if n.endswith(".files")]) == 1
    assert len([n for n in _os.listdir(manifest) if n.endswith(".jsonl")]) == 1
    after = {
        "seen": ckpt.seen_files(manifest),
        "conv": convstate.latest_state_dir(manifest),
        "fd": convstate.latest_fd_state_dirs(manifest),
        "schema": ckpt.last_schema(manifest),
        "entries": len(ckpt.read_entries(manifest)),
    }
    assert before == after
    # a fourth increment after compaction still carries state correctly
    inc(3)
    assert main(argv) == 0
    st = convstate.read_state(spark, manifest)
    assert st.collect()[0][convstate.CARRY_PREV_IDX] == 3


def test_session_shuffle_codec(spark):
    """get_spark compresses shuffle, spill and broadcast blocks with
    zstd, leaves the shuffle writer to Spark's partition-count rule and
    sizes execution pages at 4 MiB instead of from the heap."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"
    assert not conf.contains("spark.shuffle.sort.bypassMergeThreshold")
    assert conf.get("spark.buffer.pageSize") == str(4 * 2**20 - 16)


def test_run_validation_shuffle_bytes(spark, shuffle_bytes_of):
    """Shuffle bytes of one run_validation over a fixed 20 k-turn input,
    pinned at the zstd figure (442,806 B) plus 5%; lz4 blocks wrote
    855,456 B."""
    df = synth_transcripts(spark, n_turns=20_000, seed=1)
    res, n = shuffle_bytes_of(lambda: run_validation(spark, df, quiet=True))
    assert res.n_rows == 20_000
    assert n <= 465_000


def test_run_validation_peak_execution_memory(spark, peak_exec_memory_of):
    """Peak execution memory of one run_validation over a fixed 20 k-turn
    input, summed over its stages, pinned at the figure with get_spark's
    4 MiB - 16 B pages (35,782,528 B) plus 5%; the 64 MiB pages Spark
    derives from this session's heap recorded 539,099,008 B."""
    df = synth_transcripts(spark, n_turns=20_000, seed=1)
    res, n = peak_exec_memory_of(lambda: run_validation(spark, df, quiet=True))
    assert res.n_rows == 20_000
    assert n <= 37_570_000
