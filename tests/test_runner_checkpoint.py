from __future__ import annotations

import glob
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


def test_checkpoint_resume(spark, tmp_path, jobs_of):
    """A rerun of a completed (suite, snapshot) skips every bucket. Its
    manifest covers every bucket, so it returns right after reading the
    manifest, in 0 jobs, and leaves the sink's rows, its staging
    directories and the manifest as they were."""
    from ocsf_validator_spark.violations import window_route

    manifest = str(tmp_path / "manifest")
    sink = str(tmp_path / "viol")
    df = synth_transcripts(spark, n_turns=5000, seed=42)
    assert window_route(df) == "in_place"
    r1 = run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="snapA", violations_out=sink,
    )
    assert r1.exit_code in (0, 1)
    assert r1.manifest_entries, "first run must write manifest entries"
    n_buckets_done = len(
        ckpt.completed_buckets(manifest, transcript_suite().version(), "snapA")
    )
    assert n_buckets_done == len(r1.manifest_entries) == 16
    n_sink = spark.read.parquet(sink).count()
    assert n_sink == r1.n_violations > 0
    n_entries = len(ckpt.read_entries(manifest))
    sink_files = sorted(os.listdir(sink))

    # second run with same snapshot + suite: everything skipped
    r2, jobs = jobs_of(lambda: run_validation(
        spark, df, num_buckets=16, quiet=True,
        checkpoint_dir=manifest, snapshot_id="snapA", violations_out=sink,
    ))
    assert jobs == 0
    assert r2.skipped_buckets == n_buckets_done
    assert r2.n_rows == 0  # nothing pending
    assert (r2.exit_code, r2.manifest_entries) == (0, [])
    assert sorted(os.listdir(sink)) == sink_files
    assert spark.read.parquet(sink).count() == n_sink
    assert len(ckpt.read_entries(manifest)) == n_entries

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


def test_skew_probe_adds_zero_jobs(spark, jobs_of, no_one_task):
    """The skew probe rides the stats scan (two-level aggregation in
    stats.bucketed_probe_stats), so detect_skew=True launches exactly
    as many jobs as detect_skew=False, where rounds 1-2 paid a separate
    full-scan probe job. Both run on the forced exchange: a small input
    whose window runs in place runs no stats probe at all."""
    df = synth_transcripts(spark, n_turns=5000, seed=42)
    _, n_off = no_one_task(lambda: jobs_of(
        lambda: run_validation(spark, df, num_buckets=8, quiet=True,
                               detect_skew=False),
    ))
    _, n_on = no_one_task(lambda: jobs_of(
        lambda: run_validation(spark, df, num_buckets=8, quiet=True,
                               detect_skew=True),
    ))
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


def test_runner_skew_routing_equivalence(spark, tmp_path, no_one_task):
    """With the floor lowered so synth's 5%-skew conversation trips the
    threshold, the routed run must produce exactly the violations of the
    unrouted run (chunked windows == whole-conversation window), and its
    report must name the route it took. Both run on the forced exchange:
    in place nothing is chunked."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        df = synth_transcripts(spark, n_turns=5000, seed=42)
        # skew conv = 250 rows; threshold = max(50, 4*5000/200=100) = 100
        out_a = str(tmp_path / "routed")
        out_b = str(tmp_path / "plain")
        rep_a, rep_b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
        ra = no_one_task(lambda: run_validation(
            spark, df, num_buckets=8, quiet=True, skew_min_rows=50,
            violations_out=out_a, report_json=rep_a,
        ))
        rb = no_one_task(lambda: run_validation(
            spark, df, num_buckets=8, quiet=True, detect_skew=False,
            violations_out=out_b, report_json=rep_b,
        ))
        with open(rep_a) as f:
            route = json.load(f)["skew_route"]
        # 5000 rows over 200 shuffle partitions -> 25-row chunks
        assert route["convs"] == 1 and route["chunk_rows"] == 25
        assert route["rows"] >= 100
        with open(rep_b) as f:
            rep = json.load(f)
        assert rep["skew_route"] is None
        # synth scans as several partitions: past the forced cap the
        # window keeps its exchange
        assert rep["window_route"] == "exchange"
        assert ra.exit_code == rb.exit_code
        assert ra.n_violations == rb.n_violations
        a = sorted(map(tuple, spark.read.parquet(out_a).collect()))
        b = sorted(map(tuple, spark.read.parquet(out_b).collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_routed_run_costs_at_most_one_job_more(
    spark, tmp_path, jobs_of, no_one_task
):
    """The chunked skew route adds one small carrier aggregate to the
    violations plan and nothing else: a routed run_validation runs at
    most one job more than the same run with detect_skew=False (both on
    the forced exchange, where the route chunks)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # threshold = max(100, 4 * 4000 / 8) = 2000 < the 2400-turn conv
        df = synth_transcripts(spark, n_turns=4000, seed=3, skew_turns=2400)
        runs = {}
        for skew in (True, False):
            _, runs[skew] = no_one_task(lambda: jobs_of(
                lambda: run_validation(
                    spark, df, num_buckets=8, quiet=True, detect_skew=skew,
                    skew_min_rows=100,
                    violations_out=str(tmp_path / f"v-{skew}"),
                    report_json=str(tmp_path / f"r-{skew}.json"),
                ),
            ))
        with open(tmp_path / "r-True.json") as f:
            assert json.load(f)["skew_route"]["convs"] == 1
        assert runs[True] <= runs[False] + 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_failed_run_leaves_no_sink_rows_for_its_rerun(
    spark, tmp_path, monkeypatch
):
    """A run that writes its sinks and then fails before its verdict
    leaves no rows in them (they stay in its staging directory, which
    is deleted), so a clean rerun with the same checkpoint writes each
    violation once; nothing is left staged."""
    from ocsf_validator_spark import runner

    df = synth_transcripts(spark, n_turns=2000, seed=42)
    out = {
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "violations_out": str(tmp_path / "viol"),
        "quarantine_out": str(tmp_path / "quar"),
    }

    def fail(*args, **kwargs):
        raise RuntimeError("verdict failed")

    with monkeypatch.context() as m:
        m.setattr(runner, "verdicts", fail)
        with pytest.raises(RuntimeError, match="verdict failed"):
            run_validation(spark, df, num_buckets=8, quiet=True, **out)
    res = run_validation(spark, df, num_buckets=8, quiet=True, **out)
    assert res.n_violations > 0
    assert spark.read.parquet(out["violations_out"]).count() == res.n_violations
    fresh = str(tmp_path / "fresh")
    run_validation(spark, df, num_buckets=8, quiet=True, quarantine_out=fresh)
    quarantined = spark.read.parquet(out["quarantine_out"]).count()
    assert quarantined == spark.read.parquet(fresh).count() > 0
    for sink in (out["violations_out"], out["quarantine_out"], fresh):
        assert not [n for n in os.listdir(sink) if n.startswith("_staging")]


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


@pytest.mark.parametrize(
    "sinks, route, pin",
    [
        ("sink", "in_place", 1),
        ("sink+cap", "in_place", 2),
        ("sink+quarantine", "in_place", 2),
        ("sink", "exchange", 8),
        ("sink+cap", "exchange", 9),
        ("sink+quarantine", "exchange", 11),
        ("none", "in_place", 1),
        ("none", "exchange", 7),
        ("quarantine", "in_place", 1),
    ],
    ids=[
        "sink", "sink+cap", "sink+quarantine",
        "sink-exchange", "sink+cap-exchange", "sink+quarantine-exchange",
        "no-sink", "no-sink-exchange", "quarantine",
    ],
)
def test_routed_run_with_sinks_job_count(
    spark, tmp_path, jobs_of, persisted_rdds, no_one_task, sinks, route, pin
):
    """A run_validation with a skewed conversation, a checkpoint manifest
    and a violation sink (or none). The input is small, so in place no
    stats probe runs and nothing is chunked, and the sink write is the
    one job: scan, window, coverage flags and write in one task, which
    stores the violation rows, then the verdict riding it (the stored
    rows and the input's per-bucket row counts, the manifest's n_rows,
    aggregated in the same task; the report's verdict_route reads
    "sink"). The schema audit adds none. The detail-row cap adds its
    exchange (2); the quarantine leg adds its write (2), whose key set
    and join run gathered in its one task; with no violation sink the
    verdict rides the quarantine write (1). With every one-task route forced onto its exchange the
    stats probe runs and the conversation is chunked: stats 3 (two
    exchanges, then the final aggregate), the sink write 3 (the
    skew-chunk carriers' exchange, the window's, then the write) and the
    verdict collect 2 make 8; the cap 9, the quarantine leg 11. With no
    sink the violation rows stay lazy: in place they are gathered too,
    so the verdict collect runs the scan, the window, the coverage
    flags, the bucket counts and the aggregate in one task (1 job);
    forced, it runs the carriers', the window's and its own exchange
    after the probe (7). Every leg after the first sink reads the
    stored rows, the report names the routes, and nothing the run
    stored is left persisted when it returns."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        df = synth_transcripts(spark, n_turns=4000, seed=3, skew_turns=2400)
        before = persisted_rdds()

        def run():
            return jobs_of(lambda: run_validation(
                spark, df, num_buckets=8, quiet=True, skew_min_rows=100,
                checkpoint_dir=str(tmp_path / "ckpt"),
                violations_out=(
                    None if sinks in ("none", "quarantine")
                    else str(tmp_path / "viol")
                ),
                report_json=str(tmp_path / "r.json"),
                max_violation_rows=5 if sinks == "sink+cap" else None,
                quarantine_out=(
                    str(tmp_path / "quar")
                    if sinks.endswith("quarantine") else None
                ),
            ))

        _, n = run() if route == "in_place" else no_one_task(run)
        with open(tmp_path / "r.json") as f:
            rep = json.load(f)
        if route == "in_place":
            assert rep["skew_route"] is None
            assert (rep["stats_route"], rep["verdict_route"]) == (
                "one_task", "one_task" if sinks == "none" else "sink"
            )
        else:
            assert rep["skew_route"]["convs"] == 1
            assert (rep["stats_route"], rep["verdict_route"]) == (
                "exchange", "exchange"
            )
        assert rep["window_route"] == route
        assert n == pin
        assert persisted_rdds() - before == set()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _capture_rides(monkeypatch) -> list:
    """The Observations of the verdicts ``runner._ride`` sets riding a
    sink write, appended as the runner makes them."""
    from ocsf_validator_spark import runner

    seen, ride = [], runner._ride

    def spy(frame, vd):
        out, obs = ride(frame, vd)
        seen.append(obs)
        return out, obs

    monkeypatch.setattr(runner, "_ride", spy)
    return seen


def test_in_place_sink_run_is_one_task(
    spark, tmp_path, job_shape_of, persisted_rdds, monkeypatch
):
    """In place the verdict rides the violation sink's write, so a run
    with a sink and a checkpoint manifest is 1 job of 1 stage and 1
    task. The sink holds exactly the rows of a standalone all_violations,
    in one file; the ridden verdict rows are those of a standalone
    verdict collect; the stored rows are released."""
    from ocsf_validator_spark.localframe import observed
    from ocsf_validator_spark.verdict import verdicts
    from ocsf_validator_spark.violations import all_violations

    df = synth_transcripts(spark, n_turns=4000, seed=3)
    suite = transcript_suite()
    rides = _capture_rides(monkeypatch)
    before = persisted_rdds()
    res, shape = job_shape_of(lambda: run_validation(
        spark, df, suite, num_buckets=8, quiet=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
        violations_out=str(tmp_path / "viol"),
        report_json=str(tmp_path / "r.json"),
    ))
    assert shape == (1, 1, 1)
    assert persisted_rdds() - before == set()
    with open(tmp_path / "r.json") as f:
        assert json.load(f)["verdict_route"] == "sink"
    files = [
        n for n in os.listdir(tmp_path / "viol") if n.endswith(".parquet")
    ]
    assert len(files) == 1
    viol = all_violations(df, suite)
    assert sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "viol")).collect()),
        key=repr,
    ) == sorted(map(tuple, viol.collect()), key=repr)
    (obs,) = rides
    ridden = sorted(map(tuple, observed(obs)["rows"]))
    assert ridden == sorted(map(tuple, verdicts(
        df, viol, suite, num_buckets=8, row_counts=True
    ).collect()))
    rows = {r[0]: r[5] for r in ridden if r[0] >= 0}  # bucket: n_rows
    assert res.n_rows == sum(rows.values()) == 4000


def test_missing_verdict_metrics_row_is_collected(
    spark, tmp_path, jobs_of, monkeypatch
):
    """An observation whose action reports no metrics row reads None
    from localframe.observed, without hanging or failing in
    Observation.get: here PruneFilters drops its node from under a
    literal-false filter. A ridden verdict that comes back so is
    collected in a job of its own, with a RuntimeWarning, and the report
    names that collect's route; the run returns what the ridden run
    does."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ocsf_validator_spark import runner
    from ocsf_validator_spark.localframe import observed

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).filter(
        F.lit(False)
    ).collect()
    assert observed(obs) is None

    df = synth_transcripts(spark, n_turns=4000, seed=3)

    def run(tag):
        res = run_validation(
            spark, df, num_buckets=8, quiet=True,
            checkpoint_dir=str(tmp_path / tag / "ckpt"),
            violations_out=str(tmp_path / tag / "viol"),
            report_json=str(tmp_path / tag / "r.json"),
        )
        with open(tmp_path / tag / "r.json") as f:
            route = json.load(f)["verdict_route"]
        entries = sorted(
            (e.bucket, e.n_rows, e.n_violations) for e in res.manifest_entries
        )
        return route, (res.exit_code, res.n_rows, res.summary_rows, entries)

    ridden = run("ridden")
    monkeypatch.setattr(runner, "observed", lambda obs: None)
    with pytest.warns(RuntimeWarning, match="no verdict metrics row"):
        lost, n = jobs_of(lambda: run("lost"))
    assert (ridden[0], lost[0], n) == ("sink", "one_task", 2)
    assert lost[1] == ridden[1]


def _coverage_metric_suite():
    """The transcript suite plus a second EnumCoverage on role and
    three MetricBounds (two mergeable, one distinct_count), each of
    which fires on synth data."""
    from ocsf_validator_spark.spec import EnumCoverage, MetricBound

    return transcript_suite().add(
        EnumCoverage(column="role", values=("user", "moderator"),
                     id_override="cov.extra"),
        MetricBound(column="tool", metric="null_rate", hi=0.01),
        MetricBound(column="turn_idx", metric="min", lo=1),
        MetricBound(column="conv_id", metric="distinct_count", lo=10**6),
    )


@pytest.mark.parametrize(
    "kind, pin",
    [("transcripts", 2), ("coverage+metrics", 3)],
    ids=["transcripts", "coverage+metrics"],
)
def test_in_place_run_matches_the_exchange_run(
    spark, tmp_path, jobs_of, no_one_task, kind, pin
):
    """A run whose window runs in place runs no stats probe: its
    coverage flags ride the sink write and its buckets with their row
    counts ride the verdict, which rides the sink write. It returns
    what the run forced onto the exchanges (which probes first)
    returns: exit code, row count, verdict rows, the manifest's
    per-bucket n_rows and n_violations, and the sink rows. In place the
    sink write and the verdicts_out write make 2 jobs. The MetricBounds'
    shared aggregate runs eagerly while the plan is built and replaces
    the probe's job, so that suite costs 3."""
    df = synth_transcripts(spark, n_turns=4000, seed=3)
    suite = (
        transcript_suite() if kind == "transcripts"
        else _coverage_metric_suite()
    )

    def run(tag):
        out = tmp_path / tag
        return run_validation(
            spark, df, suite, num_buckets=8, quiet=True,
            checkpoint_dir=str(out / "ckpt"),
            violations_out=str(out / "viol"),
            verdicts_out=str(out / "vd"),
            report_json=str(out / "r.json"),
        )

    def outputs(tag, res):
        out = tmp_path / tag
        with open(out / "r.json") as f:
            assert json.load(f)["window_route"] == tag
        return (
            res.exit_code,
            res.n_rows,
            res.n_violations,
            sorted(map(tuple, spark.read.parquet(str(out / "vd")).collect())),
            sorted(
                (e.bucket, e.n_rows, e.n_violations)
                for e in res.manifest_entries
            ),
            sorted(
                map(tuple, spark.read.parquet(str(out / "viol")).collect()),
                key=repr,
            ),
        )

    res, n = jobs_of(lambda: run("in_place"))
    forced = no_one_task(lambda: run("exchange"))
    got = outputs("in_place", res)
    assert got == outputs("exchange", forced)
    assert sum(n for _, n, _ in got[4]) == got[1] == 4000
    assert got[2] > 0 and got[5]
    if kind != "transcripts":
        fired = {s["constraint_id"] for s in res.summary_rows
                 if s["violation_count"]}
        assert {"cov.extra", "metric.distinct_count.conv_id",
                "metric.min.turn_idx", "metric.null_rate.tool"} <= fired
    assert n == pin


def test_report_json_keys(spark, tmp_path, capsys, no_one_task):
    """The --report-json object and its phase_sec carry the same keys
    on both routes (a quarantine_out run adds a "quarantine" lap). In
    place the skewed conversation is neither chunked nor announced, and
    verdict_route reads "sink": the verdict rode the sink write. On the
    exchange the runner prints the chunked route and collects the
    verdict through its exchange."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # threshold = max(100, 4 * 4000 / 8) = 2000 < the 2400-turn conv
        df = synth_transcripts(spark, n_turns=4000, seed=3, skew_turns=2400)
        for route in ("in_place", "exchange"):
            path = str(tmp_path / f"{route}.json")

            def run():
                return run_validation(
                    spark, df, num_buckets=8, skew_min_rows=100,
                    report_json=path,
                    violations_out=str(tmp_path / f"{route}-viol"),
                )

            run() if route == "in_place" else no_one_task(run)
            said = capsys.readouterr().out
            with open(path) as f:
                rep = json.load(f)
            assert set(rep) == {
                "exit_code", "n_rows", "n_violations", "wall_sec",
                "turns_per_sec", "snapshot_id", "suite_version",
                "skipped_buckets", "phase_sec", "skew_route",
                "stats_route", "window_route", "verdict_route",
                "constraints",
            }
            assert set(rep["phase_sec"]) == {
                "audit", "stats", "skew_probe", "skew_path", "verdict"
            }
            assert (rep["window_route"], rep["n_rows"]) == (route, 4000)
            assert rep["verdict_route"] == (
                "sink" if route == "in_place" else "exchange"
            )
            routed = [
                line for line in said.splitlines()
                if line.startswith("skew: routing")
            ]
            if route == "in_place":
                assert (routed, rep["skew_route"]) == ([], None)
            else:
                assert len(routed) == 1 and "chunked windows" in routed[0]
                assert rep["skew_route"]["convs"] == 1
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


def _registry(**specs) -> dict:
    return {"transcripts": {"constraints": specs}}


_BAD_SUITES = {
    "metric": _registry(m={"kind": "metric", "column": "role",
                           "metric": "bogus"}),
    "group_metric": _registry(g={"kind": "group_metric", "column": "role",
                                 "by": ["conv_id"], "metric": "bogus"}),
    "drift": _registry(d={"kind": "drift", "column": "turn_idx",
                          "baseline": {"0": 1}, "metric": "bogus"}),
    "where": _registry(m={"kind": "metric", "column": "role",
                          "metric": "max", "where": "role = 'user'"}),
    "empty_by": _registry(g={"kind": "group_metric", "column": "role",
                             "by": [], "metric": "row_count"}),
    "not_json": "{not json",
    "group_where": _registry(u={"kind": "monotonic", "column": "ts",
                                "where": "role = 'user'"}),
}


@pytest.mark.parametrize("flag, value", [
    ("--check", "nopredicate"),
    ("--metric-bound", "role:bogus,max=1"),
    ("--drift-gate", "{baseline}:chi2"),
    ("--fd", "=lang"),
    ("--quantile-bound", "turn_idx:0.5,max=1,foo=1"),
    ("--volume-gate", "ts:day,j=3"),
    ("--group-metric", "lang:null_rate:,max=0.01"),
    ("--precedence", "role:tool"),
    ("--opening", "role="),
    ("--alternation", "=user"),
    ("--closing", "role"),
    *[("--suite-json", name) for name in _BAD_SUITES
      if name != "group_where"],
    ("--severity", "ref.role=LOUD"),
    ("suite", ("--check", "a=x > 1", "--check", "a=y > 1")),
    # a window the carried state does not serve, on a carried run
    ("--incremental", ("--suite-json", "{carried}", "--incremental",
                       "--input", "{tmp}", "--checkpoint", "{tmp}")),
    ("--stateful-ordering", ("--suite-json", "{carried}", "--stream",
                             "--stateful-ordering", "--input", "{tmp}",
                             "--violations-out", "{tmp}",
                             "--checkpoint", "{tmp}")),
    # after the tuple-valued cases, whose generated ids are positional
    ("--suite-json", "group_where"),
])
def test_malformed_suite_source_is_fatal_before_spark(
    tmp_path, monkeypatch, capsys, flag, value
):
    """Every malformed suite source exits 2 with one [FATAL] line while
    the suite is built, before a session starts: an unknown metric, a
    `where` on a dataset-level or group-level kind or an empty `by` is
    rejected when the constraint is built, from a flag or a --suite-json
    alike, a repeated constraint id when the suite is complete, and on a
    carried run a constraint the carried state does not serve."""
    from ocsf_validator_spark import session
    from ocsf_validator_spark.runner import main

    def no_session(*a, **kw):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_session)
    baseline = tmp_path / "baseline.json"
    baseline.write_text(json.dumps({"bin_expr": "turn_idx", "hist": {"0": 1}}))
    if flag == "--suite-json":
        bad = _BAD_SUITES[value]
        value = str(tmp_path / "suite.json")
        with open(value, "w") as f:
            f.write(bad if isinstance(bad, str) else json.dumps(bad))
    carried = tmp_path / "carried.json"
    carried.write_text(json.dumps(_registry(
        m={"kind": "monotonic", "column": "ts", "order_by": "ts"}
    )))
    argv = (
        [v.format(carried=carried, tmp=tmp_path) for v in value]
        if isinstance(value, tuple)
        else [flag, value.format(baseline=baseline)]
    )
    src = [] if "--input" in argv else ["--synth", "10"]
    assert main([*src, *argv]) == 2
    out = capsys.readouterr().out.splitlines()
    assert [ln for ln in out if ln.startswith("[FATAL]")] == out
    assert len(out) == 1 and flag in out[0]


def test_cli_stream_mode(spark, tmp_path):
    """--stream drains a landing dir through the suite the flags build
    and exits with the batch contract (1 = ERROR violations found): a
    --check lands in the stream sink and --dump-suite is written."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "landing")
    synth_transcripts(spark, n_turns=3000, seed=42).write.parquet(root)
    viol = str(tmp_path / "sviol")
    dumped = str(tmp_path / "suite.json")
    code = main([
        "--input", root, "--stream",
        "--violations-out", viol,
        "--checkpoint", str(tmp_path / "sckpt"),
        "--check", "never=1 = 0", "--dump-suite", dumped,
    ])
    assert code == 1  # synth injects ERROR-level defects
    written = spark.read.parquet(viol)
    assert written.filter(F.col("severity") == "ERROR").count() > 0
    assert written.filter(F.col("constraint_id") == "check.never").count() == 3000
    with open(dumped) as f:
        assert "check.never" in json.load(f)["transcripts"]["constraints"]
    # drained checkpoint: a second drain with no new files exits 0
    code2 = main([
        "--input", root, "--stream",
        "--violations-out", viol,
        "--checkpoint", str(tmp_path / "sckpt"),
    ])
    assert code2 == 0


def test_cli_stream_runs_only_the_batch_jobs(
    spark, tmp_path, jobs_of, monkeypatch
):
    """--stream reads its exit code from the manifest lines its batches
    wrote (each line's n_failing, observed on the batch's sink write),
    so a drain of a one-file landing runs exactly the micro-batch's
    jobs: the one in-place sink write, and no read-back of the sink."""
    from ocsf_validator_spark import streaming
    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "landing")
    synth_transcripts(spark, n_turns=2000, seed=42).coalesce(1).write.parquet(root)
    queries, start = [], streaming.validate_stream

    def spy(*a, **kw):
        queries.append(start(*a, **kw))
        return queries[-1]

    monkeypatch.setattr(streaming, "validate_stream", spy)
    argv = [
        "--input", root, "--stream",
        "--violations-out", str(tmp_path / "viol"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ]
    (code, *_), n = jobs_of(lambda: (main(argv), *queries))
    assert (code, n) == (1, 1)
    (line,) = glob.glob(str(tmp_path / "ckpt_batches" / "batch-*.json"))
    with open(line) as f:
        assert json.load(f)["n_failing"] > 0


def _land(spark, tmp_path, root, rows, name):
    """One single-file parquet landing of ``rows`` (transcript columns,
    ts as text) under ``root``, older than the next landing."""
    import glob as g
    import shutil
    import time as t

    from pyspark.sql import functions as F

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


def test_cli_stream_strict_fails_and_quarantines_at_warning(spark, tmp_path):
    """--stream --strict fails the drain and quarantines rows at WARNING,
    as the batch runner does: a drain whose only finding is a WARNING
    (a deprecated role) exits 0 without --strict and 1 with it, and
    only the strict drain quarantines that row."""
    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "landing")
    _land(spark, tmp_path, root, [
        ("c1", 0, "user", "a", None, "2026-01-01 00:00:00"),
        ("c1", 1, "function", "b", None, "2026-01-01 00:00:01"),
    ], "warn")
    quarantined = {}
    for strict in (False, True):
        out = tmp_path / f"strict={strict}"
        argv = [
            "--input", root, "--stream",
            "--violations-out", str(out / "viol"),
            "--checkpoint", str(out / "ckpt"),
            "--quarantine-out", str(out / "quar"),
        ]
        assert main(argv + ["--strict"] * strict) == int(strict)
        quarantined[strict] = [
            (r.conv_id, r.turn_idx)
            for r in spark.read.parquet(str(out / "quar")).collect()
        ]
    assert quarantined == {False: [], True: [("c1", 1)]}


def test_cli_stream_stateful_redrain_scoped(spark, tmp_path):
    """--stream --stateful-ordering carries conversation state across
    drains: a duplicate of a turn an EARLIER drain delivered is an ERROR
    in the partition of the batch that re-delivers it (exit 1), and a
    later clean drain does not re-read that drain's ERROR rows into its
    own exit verdict, which reads only its own batch partitions."""
    from pyspark.sql import functions as F

    from ocsf_validator_spark.runner import main

    root = str(tmp_path / "landing2")
    viol = str(tmp_path / "sviol2")
    ck = str(tmp_path / "sckpt2")
    argv = [
        "--input", root, "--stream", "--stateful-ordering",
        "--violations-out", viol, "--checkpoint", ck,
    ]
    _land(spark, tmp_path, root, [
        ("c1", 0, "user", "a", None, "2026-01-01 00:00:00"),
        ("c1", 1, "user", "b", None, "2026-01-01 00:00:01"),
    ], "a_first")
    assert main(argv) == 0
    # drain 2: a cross-drain duplicate -> ERROR in its batch, exit 1
    _land(spark, tmp_path, root, [
        ("c1", 1, "user", "dup", None, "2026-01-01 00:00:02"),
    ], "b_second")
    assert main(argv) == 1
    dup = spark.read.parquet(os.path.join(viol, "batch_id=1")).filter(
        (F.col("conv_id") == "c1") & (F.col("turn_idx") == 1)
    )
    assert dup.filter(F.col("severity") == "ERROR").count() >= 1
    # drain 3: a CLEAN fresh conversation (complete within its batch)
    _land(spark, tmp_path, root, [
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
    # a one-row, one-file increment is one small task: window in place
    assert r1["window_route"] == "in_place"
    # the stats probe finishes in one task; the --fd leg's broadcast
    # join is an exchange in the violation rows' plan, so the verdict
    # keeps its exchange
    assert (r1["stats_route"], r1["verdict_route"]) == ("one_task", "exchange")
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


def test_run_validation_shuffle_bytes(
    spark, tmp_path, shuffle_bytes_of, no_one_task
):
    """Shuffle bytes of one run_validation over a fixed 20 k-turn input.
    With a violation sink every phase runs in one task and it writes
    none (without one too: the verdict gathers the lazy violation rows
    of the window in place). With the one-task routes forced onto their
    exchanges and no sink it is pinned at the zstd figure (442,806 B)
    plus 5%; lz4 blocks wrote 855,456 B."""
    df = synth_transcripts(spark, n_turns=20_000, seed=1)
    res, n = shuffle_bytes_of(lambda: run_validation(
        spark, df, quiet=True, violations_out=str(tmp_path / "viol")
    ))
    assert (res.n_rows, n) == (20_000, 0)
    res, n = no_one_task(
        lambda: shuffle_bytes_of(lambda: run_validation(spark, df, quiet=True))
    )
    assert res.n_rows == 20_000
    assert n <= 465_000


def test_run_validation_peak_execution_memory(
    spark, peak_exec_memory_of, no_one_task
):
    """Peak execution memory of one run_validation over a fixed 20 k-turn
    input with the one-task routes forced onto their exchanges (whose
    reduce tasks each take pages), summed over its stages, pinned at
    the figure with get_spark's 4 MiB - 16 B pages (35,782,528 B) plus
    5%; the 64 MiB pages Spark derives from this session's heap
    recorded 539,099,008 B."""
    df = synth_transcripts(spark, n_turns=20_000, seed=1)
    res, n = no_one_task(lambda: peak_exec_memory_of(
        lambda: run_validation(spark, df, quiet=True)
    ))
    assert res.n_rows == 20_000
    assert n <= 37_570_000
