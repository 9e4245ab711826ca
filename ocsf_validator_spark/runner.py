"""Validation runner + CLI — mirror of the reference's ValidationRunner
(reference runner.py:207-385): orchestrates the passes, prints a
per-constraint PASSED/FAILED report, returns the reference's exit-code
contract (0 ok, 1 failed, 2 fatal), and adds the north-rule extras:
checkpoint/resume and per-partition lineage.

Pipeline phases (the Spark lifecycle from SURVEY.md §3):

  0. schema audit (driver)           — FATAL schema problems abort before
                                       any heavy job, like the reference's
                                       FATAL early-exit (runner.py:233-234)
  1. resume filter (optional)        — drop buckets already completed for
                                       this (suite_version, snapshot_id)
  2. stats pass                      — ONE fused groupBy(bucket) agg
  3. violation pass                  — fused row projection ∪ group legs
  4. verdict pass                    — per-(bucket, constraint) scorecard
  5. sinks                           — violations/verdicts parquet, manifest

Usage:
    spark-submit --py-files ocsf_validator_spark.zip \
        -m ocsf_validator_spark.runner --input /path/transcripts \
        --checkpoint /path/manifest --violations-out /path/violations
    python -m ocsf_validator_spark.runner --synth 1000000 --strict
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import empty_df, local_df

from ocsf_validator_spark import checkpoint as ckpt
from ocsf_validator_spark.spec import (
    ConstraintSet,
    Severity,
    transcript_suite,
)
from ocsf_validator_spark.stats import DEFAULT_BUCKETS, bucketed_probe_stats
from ocsf_validator_spark.verdict import (
    exit_code_rows,
    summarize_rows,
    verdicts,
)
from ocsf_validator_spark.violations import (
    all_violations,
    dataset_findings,
    fold_observations,
    observation_aggs,
)

# metric vocabulary shared by MetricBound / GroupMetricBound CLI flags —
# validated at argument-parse time so a typo exits 2 with [FATAL] like
# every other malformed flag instead of a mid-run stack trace
_METRIC_NAMES = frozenset(
    ("null_rate", "row_count", "distinct_count", "min", "max")
)


def _bounds(spec: str, opts: str) -> tuple:
    """``(lo, hi)`` from a bound flag's ``min=X,max=Y`` tail (``opts``,
    either key optional): ints unless the text has a '.' or an 'e'. An
    unknown key, or no bound at all, raises ValueError(spec)."""
    got = {"min": None, "max": None}
    for kv in filter(None, opts.split(",")):
        k, _, v = kv.partition("=")
        if k not in got:
            raise ValueError(spec)
        got[k] = float(v) if "." in v or "e" in v else int(v)
    if got["min"] is None and got["max"] is None:
        raise ValueError(spec)
    return got["min"], got["max"]


@dataclass
class RunResult:
    exit_code: int
    n_rows: int
    n_violations: int
    wall_sec: float
    summary_rows: list = field(default_factory=list)
    manifest_entries: list = field(default_factory=list)
    skipped_buckets: int = 0
    timings: dict = field(default_factory=dict)  # per-phase wall seconds

    @property
    def throughput(self) -> float:
        return self.n_rows / self.wall_sec if self.wall_sec else float("nan")


def sample_conversations(
    df: DataFrame,
    num: int,
    den: int,
    conv_col: str = "conv_id",
    salt: str = "sample0",
) -> DataFrame:
    """Deterministic CONVERSATION-level sample: keep a conversation iff
    ``md5(conv_id|salt) % den < num`` — the smoke-validation mode for a
    table too big to re-validate wholesale after a suite change.

    Sampling by conversation (never by row) keeps the window
    constraints honest: uniqueness / turn ordering / ts monotonicity
    see every turn of a kept conversation, where row sampling would
    fabricate gap violations. A pure map-side filter (the
    select.stratified_sample technique) pushed into the scan — zero
    shuffle, reproducible across runs and engines; vary ``salt`` to
    re-roll. NULL conv_ids hash as one group (concat_ws skips NULLs):
    all-in or all-out, so required.conv_id findings aren't diluted
    row-by-row.
    """
    if not (0 < num <= den):
        raise ValueError(f"sample rate {num}:{den} must satisfy 0 < num <= den")
    h = F.expr(
        "cast(conv(substring(md5(concat_ws('|', "
        f"{conv_col}, '{salt}')), 1, 8), 16, 10) as bigint)"
    )
    return df.filter(h % den < num)


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    suite: ConstraintSet | None = None,
    conv_col: str = "conv_id",
    num_buckets: int = DEFAULT_BUCKETS,
    strict: bool = False,
    checkpoint_dir: str | None = None,
    snapshot_id: str = "unknown",
    violations_out: str | None = None,
    verdicts_out: str | None = None,
    quarantine_out: str | None = None,
    quiet: bool = False,
    detect_skew: bool = True,
    skew_min_rows: int = 1_000_000,
    max_violation_rows: int | None = None,
    carry_state: DataFrame | None = None,
    fd_carry: "dict[str, DataFrame] | None" = None,
    diff_verdicts_against: str | None = None,
    report_json: str | None = None,
) -> RunResult:
    suite = suite or transcript_suite()
    threshold = Severity.WARNING if strict else Severity.ERROR
    t0 = time.time()
    timings: dict[str, float] = {}
    _mark = [t0]

    def lap(phase: str) -> None:
        now = time.time()
        timings[phase] = round(now - _mark[0], 3)
        _mark[0] = now

    def say(msg: str) -> None:
        if not quiet:
            print(msg)

    # Phase 0 — schema audit on the driver; FATAL aborts everything
    # (reference runner.py:233-234 exits 2 on fatal before later tests).
    # include_coverage=False: the audit is a pure driver-side column-set
    # diff, no data scan.
    audit = dataset_findings(
        df.limit(0), suite, include_coverage=False
    ).collect()
    lap("audit")
    fatal = [r for r in audit if r.severity == "FATAL"]
    if fatal:
        for r in fatal:
            say(f"[FATAL] {r.constraint_id}: {r.reason}")
        return RunResult(2, 0, len(fatal), time.time() - t0, summary_rows=fatal)

    # Phase 1 — resume
    skipped = 0
    if checkpoint_dir:
        done = ckpt.completed_buckets(checkpoint_dir, suite.version(), snapshot_id)
        if done:
            df = ckpt.filter_pending(df, done, conv_col, num_buckets)
            skipped = len(done)
            say(f"resume: skipping {skipped} completed buckets")
            # whole-table gates (metric/quantile/volume/drift bounds,
            # FD/group-metric legs) aggregate whatever frame they get:
            # on a partial resume that is the PENDING buckets only, so
            # absolute-count bounds can spuriously fire or pass. Warn
            # rather than silently re-scope.
            from ocsf_validator_spark.spec import (
                DriftGate,
                MetricBound,
                QuantileBound,
                VolumeGate,
            )

            gated = [
                c.constraint_id
                for c in suite.dataset_level()
                if isinstance(
                    c, (MetricBound, QuantileBound, VolumeGate, DriftGate)
                )
            ] + [c.constraint_id for c in suite.key_level()]
            if gated:
                say(
                    "[WARN] resume re-scopes dataset-level gates to the "
                    f"pending buckets only: {', '.join(sorted(gated))} "
                    "(run without --checkpoint for whole-table bounds)"
                )

    # Phase 2 — single-pass stats, collected once: yields n_rows, the
    # observed-bucket list (so the verdict pass never rescans the input),
    # the dataset-level observations (violations.observation_aggs: enum
    # coverage flags and MetricBound aggregates, all mergeable across
    # the two-level aggregation), AND the skew-probe candidates
    # (per-conversation heavy hitters) — ONE data scan for all four,
    # where rounds 1-2 spent a separate third scan on the probe (12-15%
    # of every flagship run per the BENCH.md phase tables).
    # distinct_count (no mergeable form) falls back to dataset_findings'
    # shared agg job.
    bucket_stats = bucketed_probe_stats(
        df,
        conv_col=conv_col,
        num_buckets=num_buckets,
        probe_floor=skew_min_rows if detect_skew else None,
        merge_aggs=observation_aggs(suite, df),
    ).collect()
    lap("stats")
    observed = [int(r.bucket) for r in bucket_stats]
    observed_enums, observed_metrics = fold_observations(
        suite, df, bucket_stats
    )
    n_rows = observed_metrics["__n_rows"]
    if n_rows == 0 and skipped > 0:
        # everything already validated for this (suite, snapshot) —
        # don't emit coverage findings against an empty remainder
        say("nothing pending; all buckets previously completed")
        return RunResult(0, 0, 0, time.time() - t0, skipped_buckets=skipped)

    # Phase 2b — skew routing decision, now pure driver arithmetic over
    # the probe structs collected with the stats (zero extra jobs):
    # conversations too big for one window task are split into turn_idx
    # chunks of one task's share of the rows. Threshold: ~4x that share
    # (never below skew_min_rows, the probe's collection floor, so the
    # candidates are always a superset).
    skewed: list[str] = []
    skew_route = None
    if detect_skew:
        from ocsf_validator_spark.violations import skew_chunk_rows

        parallelism = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        skew_rows = max(skew_min_rows, 4 * n_rows // max(parallelism, 1))
        chunk_rows = skew_chunk_rows(spark, n_rows)
        cand = sorted(
            (
                (s.conv, int(s.n))
                for r in bucket_stats
                for s in (r._skew or [])
                if s.conv is not None
            ),
            key=lambda t: -t[1],
        )
        skewed_counts = [(c, n) for c, n in cand if n >= skew_rows][:10_000]
        skewed = [c for c, _ in skewed_counts]
        if skewed:
            n_big = sum(n for _, n in skewed_counts)
            if carry_state is not None:
                # carried increments keep whole-conversation windows
                # (see all_violations)
                chunk_rows = None
                route = "the whole-conversation window (incremental carry)"
            else:
                # chunk count for dense turn_idx; gaps leave fewer
                n_chunks = sum(-(-n // chunk_rows) for _, n in skewed_counts)
                route = (
                    f"chunked windows of {chunk_rows} rows "
                    f"({n_chunks} partitions)"
                )
            skew_route = {
                "convs": len(skewed), "rows": n_big, "chunk_rows": chunk_rows,
            }
            say(
                f"skew: routing {len(skewed)} conversations >= {skew_rows} "
                f"rows ({n_big} rows) to {route}"
            )

    # Phase 3 — violations: one fused scan (row legs + conv window, the
    # routed conversations chunked) plus the bounded coverage agg. Cached
    # only when the rows are consumed twice (parquet sink + verdicts).
    lap("skew_probe")
    viol = all_violations(
        df,
        suite,
        observed_enums=observed_enums,
        observed_metrics=observed_metrics,
        skewed_convs=skewed,
        carry=carry_state,
        fd_carry=fd_carry,
    )
    lap("skew_path")
    if violations_out or quarantine_out:
        from ocsf_validator_spark.violations import cap_violations

        # cached: consumed by the sink(s) below AND the verdict pass
        viol = viol.cache()
    if violations_out:
        # cap bounds only the browsable DETAIL rows in the sink — the
        # verdict pass below counts the uncapped (cached) frame, so
        # pass/fail and violation_count stay exact
        sink = (
            cap_violations(viol, max_violation_rows)
            if max_violation_rows
            else viol
        )
        sink.write.mode("append").parquet(violations_out)
    if quarantine_out:
        from ocsf_validator_spark.violations import split_quarantine

        # route full input rows whose key carries a >= threshold
        # violation to the quarantine table (key-level: duplicate keys
        # quarantine every copy); the defect-proportional key set is
        # the join's build side, so healthy data broadcasts past it
        _, quarantined = split_quarantine(df, viol, threshold=threshold)
        quarantined.write.mode("append").parquet(quarantine_out)
        lap("quarantine")

    # Phase 4 — verdicts: one groupBy over the (small) violations set
    # joined to the observed-bucket grid; collected ONCE. Report, exit
    # code, and manifest metrics all derive driver-side from these rows.
    vd_rows = verdicts(
        df, viol, suite, conv_col=conv_col, num_buckets=num_buckets,
        threshold=threshold, observed_buckets=observed,
    ).collect()
    lap("verdict")
    if violations_out or quarantine_out:
        viol.unpersist()
    vd_schema = (
        "bucket int, constraint_id string, severity string, "
        "violation_count long, pass boolean"
    )
    if diff_verdicts_against:
        # run-over-run regression report vs a prior run's --verdicts-out
        # parquet. Read and PIN the prior BEFORE this run's own
        # verdicts_out append lands: with --verdicts-out pointed at the
        # same path (the natural rolling-scorecard setup) a post-append
        # read would include the current rows and misreport every
        # failing row as still_failing against itself.
        from ocsf_validator_spark.verdict import verdict_diff

        prior = None
        try:
            prior_rows = spark.read.parquet(diff_verdicts_against).collect()
        except Exception as e:
            say(f"[WARN] --diff-verdicts: cannot read prior verdicts: {e}")
            prior_rows = None
        if prior_rows is not None:
            keyset = [(r.bucket, r.constraint_id) for r in prior_rows]
            if len(keyset) != len(set(keyset)):
                # 2+ appended runs: duplicate (bucket, constraint) keys
                # make the full-outer diff emit contradictory rows —
                # refuse rather than report garbage
                say(
                    "[WARN] --diff-verdicts: prior verdicts hold "
                    "multiple runs (duplicate bucket/constraint keys); "
                    "point it at a single-run snapshot — diff skipped"
                )
            else:
                prior = local_df(spark, prior_rows, vd_schema)
        if prior is not None:
            cur = local_df(spark, vd_rows, vd_schema)
            drows = (
                verdict_diff(prior, cur)
                .orderBy("bucket", "constraint_id", "status")
                .collect()
            )
            say(f"verdict diff vs {diff_verdicts_against}: "
                f"{len(drows)} changed row(s)")
            for r in drows[:200]:
                say(
                    f"[DIFF {r.status:>13}] bucket={r.bucket} "
                    f"{r.constraint_id:<32} "
                    f"count {r.count_before} -> {r.count_after}"
                )
            if len(drows) > 200:
                say(f"  ... {len(drows) - 200} more diff rows")
    if verdicts_out:
        local_df(spark, vd_rows, vd_schema).write.mode(
            "append"
        ).parquet(verdicts_out)

    summary = summarize_rows(vd_rows)
    n_violations = int(sum(s["violation_count"] for s in summary))
    code = exit_code_rows(vd_rows)
    wall = time.time() - t0

    # Phase 5 — manifest (per-bucket lineage + metrics; zero extra jobs)
    entries = []
    if checkpoint_dir and n_rows > 0:
        entries = ckpt.record_run(
            checkpoint_dir,
            vd_rows,
            suite.version(),
            snapshot_id,
            partition_spec=f"pmod(xxhash64({conv_col}), {num_buckets})",
            bucket_rows=bucket_stats,
            wall_sec=wall,
        )

    for s in summary:
        status = "PASSED" if s["pass"] else "FAILED"
        say(
            f"[{status}] {s['constraint_id']:<32} severity={s['severity']:<8} "
            f"violations={s['violation_count']:<8} failed_buckets={s['n_failed_buckets']}"
        )
    say(
        f"validated {n_rows} turns in {wall:.1f}s "
        f"({n_rows / wall if wall else 0:,.0f} turns/sec); exit={code}"
    )
    if report_json:
        # machine-readable run report for CI/monitoring pipelines: the
        # same rows the console prints, plus lineage and phase timings
        rep = {
            "exit_code": code,
            "n_rows": n_rows,
            "n_violations": n_violations,
            "wall_sec": round(wall, 3),
            "turns_per_sec": round(n_rows / wall, 1) if wall else None,
            "snapshot_id": snapshot_id,
            "suite_version": suite.version(),
            "skipped_buckets": skipped,
            "phase_sec": timings,
            "skew_route": skew_route,
            "constraints": summary,
        }
        tmpp = report_json + ".tmp"
        with open(tmpp, "w") as fjson:
            json.dump(rep, fjson, indent=2, sort_keys=True)
            fjson.write("\n")
        os.replace(tmpp, report_json)
    return RunResult(
        code, n_rows, n_violations, wall, summary, entries, skipped, timings
    )


def stream_main(spark: SparkSession, args) -> int:
    """--stream: drain a landing directory through the streaming suite
    (validate_stream, availableNow) and exit with the batch contract:
    0 = clean, 1 = ERROR/FATAL violations found in this drain's batches
    (coverage is excluded per micro-batch by design). The exit verdict
    reads back only the sink rows THIS drain wrote: batch partitions by
    this drain's batch ids, and the append-across-drains legs — the
    stateful ordering leg (batch_id=-1) and the --psi-ref drift leg
    (batch_id=-2) — by the drain_id stamped on their rows, so a later
    clean drain does not re-fail on an earlier drain's findings."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from ocsf_validator_spark.streaming import (
        DRIFT_BATCH_ID,
        STATEFUL_BATCH_ID,
        stream_transcripts,
        validate_stream,
    )

    drain_id = uuid.uuid4().hex[:12]
    psi_kw: dict = {}
    if getattr(args, "psi_ref", None):
        # {"hist": {bin: count}, "bin_expr": "...", and optionally
        # "window"/"watermark"/"threshold"/"severity"} — the recorded
        # baseline a drift-monitored drain compares against
        with open(args.psi_ref) as f:
            cfg = json.load(f)
        psi_kw = {
            "psi_ref": {int(k): int(v) for k, v in cfg["hist"].items()},
            "psi_bin_expr": cfg["bin_expr"],
        }
        for k in ("window", "watermark", "threshold", "severity", "min_n"):
            if k in cfg:
                psi_kw[f"psi_{k}"] = cfg[k]
    batches: list[tuple[int, int, int]] = []
    started = validate_stream(
        stream_transcripts(spark, args.input),
        violations_out=args.violations_out,
        checkpoint_dir=args.checkpoint,
        manifest_dir=args.checkpoint + "_batches",
        on_batch=lambda bid, rows, nv: batches.append((bid, rows, nv)),
        stateful_ordering=args.stateful_ordering,
        drain_id=drain_id,
        quarantine_out=args.quarantine_out,
        **psi_kw,
    )
    queries = started if isinstance(started, tuple) else (started,)
    for q in queries:
        q.awaitTermination()
    for bid, rows, nv in batches:
        print(f"[batch {bid}] {rows} turns, {nv} violations")
    if not batches and not args.stateful_ordering:
        print("stream: nothing pending")
        return 0
    bad = False
    if batches:
        drained = [bid for bid, _, _ in batches]
        sunk = spark.read.parquet(args.violations_out).filter(
            F.col("batch_id").isin(drained)
            & F.col("severity").isin("ERROR", "FATAL")
        )
        bad = sunk.limit(1).count() > 0
    # the append-across-drains legs are drain-scoped (see validate_stream):
    # only rows THIS drain stamped may fail THIS drain's exit code
    for leg_id, enabled in (
        (STATEFUL_BATCH_ID, args.stateful_ordering),
        (DRIFT_BATCH_ID, bool(psi_kw)),
    ):
        if bad or not enabled:
            continue
        leg_dir = os.path.join(args.violations_out, f"batch_id={leg_id}")
        try:
            leg_rows = spark.read.parquet(leg_dir)
        except Exception:
            continue  # leg emitted nothing yet — no directory
        bad = (
            leg_rows.filter(
                (F.col("drain_id") == drain_id)
                & F.col("severity").isin("ERROR", "FATAL")
            )
            .limit(1)
            .count()
            > 0
        )
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark transcript validator")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of transcripts table")
    src.add_argument("--synth", type=int, help="synthesize N turns instead")
    p.add_argument("--suite-json", help="suite registry JSON (uses inherit.resolve)")
    p.add_argument("--suite-name", default="transcripts")
    p.add_argument("--strict", action="store_true", help="WARNING also fails (reference strict mode)")
    p.add_argument(
        "--severity",
        action="append",
        default=[],
        metavar="CONSTRAINT_ID=LEVEL",
        help="remap one constraint's severity (repeatable), e.g. "
        "--severity deprecated.role=ERROR --severity ref.tool=IGNORE "
        "(reference ValidatorOptions, runner.py:57-116)",
    )
    p.add_argument(
        "--precedence",
        action="append",
        default=[],
        metavar="COL:TRIGGER=PRE1,PRE2",
        help="add a Precedence constraint (repeatable): a TRIGGER value "
        "of COL requires one of the prereq values STRICTLY EARLIER in "
        "the same conversation, e.g. --precedence role:tool=assistant "
        "(a tool-result turn needs a prior assistant turn). Fuses into "
        "the single-scan window pass; carried across --incremental runs",
    )
    p.add_argument(
        "--opening",
        action="append",
        default=[],
        metavar="COL=V1,V2",
        help="add an OpeningRole constraint (repeatable): the FIRST "
        "turn of each conversation must have COL in the listed values, "
        "e.g. --opening role=system,user",
    )
    p.add_argument(
        "--closing",
        action="append",
        default=[],
        metavar="COL=V1,V2",
        help="add a ClosingRole constraint (repeatable): the LAST turn "
        "of each conversation must have COL in the listed values — the "
        "truncation/dangling-closer mirror of --opening, e.g. "
        "--closing role=assistant",
    )
    p.add_argument(
        "--alternation",
        action="append",
        default=[],
        metavar="COL[=V1,V2]",
        help="add an Alternation constraint (repeatable): COL must not "
        "repeat the immediately preceding turn's value — scoped to the "
        "listed values when given, every value otherwise. e.g. "
        "--alternation role=user,assistant (two assistant turns in a "
        "row mean a dropped user turn). Fuses into the single-scan "
        "window pass; the last value is carried across --incremental "
        "runs",
    )
    p.add_argument(
        "--check",
        action="append",
        default=[],
        metavar="LABEL=PREDICATE",
        help="add a generic row-level SQL-predicate constraint "
        "(repeatable): the row violates when PREDICATE is FALSE (NULL "
        "passes — SQL CHECK semantics). Cross-column invariants are "
        "the point, e.g. --check tool_pairing=\"NOT (role = 'tool' AND "
        "tool = 'none')\". Fuses into the single-scan row projection",
    )
    p.add_argument(
        "--metric-bound",
        action="append",
        default=[],
        metavar="COL:METRIC[,min=X][,max=Y]",
        help="add a dataset-level metric threshold (repeatable): METRIC "
        "of COL must land inside [min, max]. Metrics: null_rate, "
        "row_count, distinct_count, min, max. e.g. --metric-bound "
        "role:null_rate,max=0.001 --metric-bound conv_id:"
        "distinct_count,min=1000. All bounds share one aggregation job",
    )
    p.add_argument(
        "--fd",
        action="append",
        default=[],
        metavar="DET1,DET2=DEP",
        help="add a FunctionalDependency constraint (repeatable): rows "
        "agreeing on the determinant columns must agree on DEP, e.g. "
        "--fd source=lang (one source, one language). Own "
        "partial-agg leg; group state carried across --incremental runs",
    )
    p.add_argument(
        "--quantile-bound",
        action="append",
        default=[],
        metavar="COL:Q[,min=X][,max=Y]",
        help="add a dataset-level exact-quantile threshold "
        "(repeatable): the Q-quantile of COL must land inside "
        "[min, max], e.g. --quantile-bound text_len:0.99,max=4096. "
        "Exact order statistic; bounds on one column share one pass",
    )
    p.add_argument(
        "--group-metric",
        action="append",
        default=[],
        metavar="COL:METRIC:BY1+BY2[,min=X][,max=Y]",
        help="add a per-group metric threshold (repeatable): METRIC of "
        "COL within each group of the BY columns must land inside "
        "[min, max] — one finding per offending group, e.g. "
        "--group-metric lang:null_rate:source,max=0.01. Metrics: "
        "null_rate, row_count, distinct_count, min, max",
    )
    p.add_argument(
        "--drift-gate",
        action="append",
        default=[],
        metavar="BASELINE.json[:metric][,threshold=X]",
        help="add a DriftGate from a tools/make_psi_baseline.py file "
        "(repeatable): the live table's distribution, binned exactly "
        "as the recorded reference, must stay under the threshold. "
        "metric: psi (default) or emd, e.g. "
        "--drift-gate textlen_baseline.json:emd,threshold=2.0",
    )
    p.add_argument(
        "--volume-gate",
        action="append",
        default=[],
        metavar="COL:GRANULARITY[,k=N]",
        help="add a VolumeGate constraint (repeatable): buckets of "
        "date_trunc(GRANULARITY, COL) whose row count falls outside "
        "median ± k*MAD of the bucket-count series become WARNING "
        "findings, e.g. --volume-gate ts:day,k=3 (missed ingest, "
        "duplicated load, outage)",
    )
    p.add_argument(
        "--dump-suite",
        metavar="PATH",
        help="write the EFFECTIVE suite (after --suite-json resolution, "
        "--severity remaps, and every --check/--metric-bound/--fd/"
        "--quantile-bound/--precedence/--opening/--alternation addition) "
        "as a registry "
        "JSON consumable by --suite-json — snapshot/diff/version the "
        "validation config as data",
    )
    p.add_argument("--buckets", type=int, default=DEFAULT_BUCKETS)
    p.add_argument("--checkpoint", help="manifest directory for resume")
    p.add_argument("--violations-out")
    p.add_argument(
        "--max-violation-rows",
        type=int,
        default=None,
        metavar="N",
        help="cap the violation DETAIL rows written per constraint "
        "(deterministic smallest-N by key order); verdict counts and "
        "pass/fail stay exact. Guards the sink when a pathological "
        "constraint fails a large fraction of a huge table",
    )
    p.add_argument("--verdicts-out")
    p.add_argument(
        "--compact-checkpoint",
        action="store_true",
        help="after an incremental run commits, fold the checkpoint's "
        "per-increment manifest and ledger part-files into one each "
        "(readers tolerate the crash window by idempotence) — keeps "
        "resume O(1) files at any increment count",
    )
    p.add_argument(
        "--gc-state",
        action="store_true",
        help="after an incremental run commits, prune state snapshot "
        "directories superseded by the new pointers (older increments' "
        "convstate/fdstate data)",
    )
    p.add_argument(
        "--report-json",
        metavar="PATH",
        help="write a machine-readable run report (exit code, row and "
        "violation counts, per-phase wall, per-constraint summary, "
        "lineage) — atomic rename, one JSON object",
    )
    p.add_argument(
        "--diff-verdicts",
        help="prior run's --verdicts-out parquet: print a run-over-run "
        "verdict regression report (regressed/fixed/new_fail/gone_fail/"
        "still_failing/count_changed) against it",
    )
    p.add_argument(
        "--quarantine-out",
        metavar="PATH",
        help="also write the INPUT ROWS whose (conv_id, turn_idx) key "
        "carries >= 1 violation at the failure threshold (ERROR; "
        "WARNING under --strict) to this parquet path for "
        "repair/reprocessing — key-level, so every copy of a "
        "duplicated key is quarantined",
    )
    p.add_argument(
        "--sample",
        metavar="NUM:DEN",
        help="validate a deterministic md5-threshold sample of "
        "CONVERSATIONS (whole conversations, so window constraints "
        "stay honest) — the smoke mode for huge tables; the sample "
        "spec is recorded in the manifest's snapshot id so resume "
        "never mixes sampled and full runs",
    )
    p.add_argument(
        "--sample-salt",
        default="sample0",
        help="salt for --sample (vary to re-roll the kept set)",
    )
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--incremental",
        action="store_true",
        help="validate only data appended to --input since the last "
        "recorded run: Iceberg incremental append scan between the "
        "manifest's last snapshot and the current one, or (parquet dir) "
        "only files absent from the manifest's file ledger. Requires "
        "--checkpoint. Conversations straddling increments are checked "
        "with carried per-conversation boundary state (convstate.py): "
        "in-order appends reproduce the fresh full run row-for-row; "
        "out-of-order appends are conservatively reported",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="treat --input as a streaming landing directory: drain all "
        "available files through the foreachBatch suite (availableNow) "
        "and stop; requires --violations-out and --checkpoint",
    )
    p.add_argument(
        "--stateful-ordering",
        action="store_true",
        help="with --stream: also run the cross-batch stateful ordering "
        "leg into the same sink (batch_id=-1)",
    )
    p.add_argument(
        "--psi-ref",
        metavar="FILE",
        help="with --stream: JSON drift baseline "
        '({"hist": {bin: count}, "bin_expr": "...", optional window/'
        "watermark/threshold/severity}) — windows whose PSI vs this "
        "histogram crosses the threshold land in the sink as drift.psi "
        "rows (batch_id=-2, WARNING by default)",
    )
    args = p.parse_args(argv)

    from ocsf_validator_spark.session import get_spark

    spark = get_spark("ocsf-validator-runner", cores=args.cores)

    if args.stream:
        if not (args.input and args.violations_out and args.checkpoint):
            print("[FATAL] --stream requires --input, --violations-out, --checkpoint")
            return 2
        if args.incremental:
            print("[FATAL] --incremental and --stream are exclusive modes")
            return 2
        return stream_main(spark, args)

    inc_files: list | None = None
    carry_state = None
    fd_carry = {}
    if args.incremental:
        if not (args.input and args.checkpoint):
            print("[FATAL] --incremental requires --input and --checkpoint")
            return 2
        from ocsf_validator_spark.sources import load_increment

        try:
            inc = load_increment(
                spark,
                args.input,
                seen=ckpt.seen_files(args.checkpoint),
                since_snapshot=ckpt.last_snapshot(args.checkpoint),
            )
        except Exception as e:
            print(f"[FATAL] cannot read input {args.input}: {e}")
            return 2
        if inc is None:
            print("incremental: nothing new since last validated state")
            return 0
        handle, inc_files = inc
        df = handle.df
        snapshot = handle.snapshot_id
        what = (
            f"{len(inc_files)} new files"
            if inc_files
            else "Iceberg snapshot diff"
        )
        print(f"incremental: validating {what} ({snapshot})")
        # cross-increment conversation state: seed this increment's
        # window checks with the carried per-conversation boundaries
        # (convstate module contract) so duplicates/gaps/regressions
        # straddling increments are caught, not just within-increment
        from ocsf_validator_spark import convstate

        carry_state = convstate.read_state(spark, args.checkpoint)
        if carry_state is not None:
            print("incremental: seeding carried conversation state")
        fd_carry = convstate.read_fd_states(spark, args.checkpoint)
        if fd_carry:
            print(
                "incremental: seeding carried fd group state "
                f"({len(fd_carry)} constraint(s))"
            )
        # upstream schema drift: diff this increment's schema against
        # the last committed increment's — a renamed/retyped column
        # surfaces HERE, before constraints silently skip it as
        # unresolvable (they would still report, but this names the
        # upstream change directly)
        prior_schema = ckpt.last_schema(args.checkpoint)
        cur_schema = {
            f_.name: f_.dataType.simpleString() for f_ in df.schema.fields
        }
        if prior_schema is not None and prior_schema != cur_schema:
            for col in sorted(set(cur_schema) - set(prior_schema)):
                print(f"[SCHEMA DRIFT] added column {col} "
                      f"({cur_schema[col]})")
            for col in sorted(set(prior_schema) - set(cur_schema)):
                print(f"[SCHEMA DRIFT] dropped column {col} "
                      f"(was {prior_schema[col]})")
            for col in sorted(set(cur_schema) & set(prior_schema)):
                if cur_schema[col] != prior_schema[col]:
                    print(
                        f"[SCHEMA DRIFT] retyped column {col}: "
                        f"{prior_schema[col]} -> {cur_schema[col]}"
                    )
    elif args.input:
        from ocsf_validator_spark.sources import load_table

        try:
            # FAILFAST analogue: an unreadable table is FATAL, like a
            # JSON parse failure in the reference (README.md:46 "[FATAL]").
            # load_table routes Iceberg-vs-parquet and supplies the
            # lineage id the manifest records (Iceberg snapshot_id when a
            # runtime is present, content fingerprint for parquet dirs).
            handle = load_table(spark, args.input)
        except Exception as e:
            print(f"[FATAL] cannot read input {args.input}: {e}")
            return 2
        df = handle.df
        snapshot = handle.snapshot_id
        if handle.format == "table":
            # bucketed-by-conversation layout = the zero-exchange plan:
            # the scan itself satisfies the conv-window's partitioning
            # requirement (see sources.write_bucketed / the plan pin in
            # tests/test_violations.py). Announce what the planner will
            # exploit so operators can see the layout was picked up.
            from ocsf_validator_spark.sources import bucket_spec

            spec = bucket_spec(spark, args.input)
            if spec and "conv_id" in spec[1]:
                n_b, b_cols, s_cols = spec
                print(
                    f"layout: catalog table bucketed by {','.join(b_cols)} "
                    f"({n_b} buckets, sorted by {','.join(s_cols) or '-'}) "
                    "— conversation suite plans with zero Exchange"
                )
    else:
        from ocsf_validator_spark.synth import synth_transcripts

        df = synth_transcripts(spark, n_turns=args.synth)
        snapshot = f"synth:{args.synth}:seed=42"

    if args.sample:
        try:
            num, den = (int(x) for x in args.sample.split(":", 1))
            df = sample_conversations(df, num, den, salt=args.sample_salt)
        except ValueError as e:
            print(f"[FATAL] bad --sample (want NUM:DEN, 0 < NUM <= DEN): {e}")
            return 2
        snapshot = f"{snapshot}|sample={num}:{den}:{args.sample_salt}"
        print(
            f"sampling ~{num}/{den} of conversations "
            f"(salt={args.sample_salt}); verdicts cover the SAMPLE only"
        )

    suite = None
    if args.suite_json:
        from ocsf_validator_spark.inherit import SuiteResolutionError, resolve

        try:
            with open(args.suite_json) as f:
                registry = json.load(f)
            suite = resolve(registry, args.suite_name)
        except (OSError, json.JSONDecodeError, SuiteResolutionError) as e:
            # compile-phase failure is FATAL (reference exits 2 when the
            # schema/dependency graph cannot be resolved)
            print(f"[FATAL] suite compilation failed: {e}")
            return 2

    if args.severity:
        try:
            overrides = dict(s.split("=", 1) for s in args.severity)
            suite = (suite or transcript_suite()).with_severities(overrides)
        except (KeyError, ValueError) as e:
            # a typo'd constraint id or level is a config error — FATAL,
            # never a silently-kept default severity
            print(f"[FATAL] bad --severity: {e}")
            return 2

    if args.check or args.metric_bound:
        from ocsf_validator_spark.spec import Check, MetricBound

        suite = suite or transcript_suite()
        try:
            for s_ in args.check:
                label, _, pred = s_.partition("=")
                if not (label and pred):
                    raise ValueError(s_)
                suite.add(Check(column=label, predicate=pred))
            for s_ in args.metric_bound:
                head, _, opts = s_.partition(",")
                col, _, metric = head.partition(":")
                lo, hi = _bounds(s_, opts)
                if not (col and metric):
                    raise ValueError(s_)
                if metric not in _METRIC_NAMES:
                    # validate at parse time: an unknown metric used to
                    # surface as an unhandled mid-run ValueError stack
                    # trace instead of the clean [FATAL] exit-2 path
                    raise ValueError(
                        f"unknown metric {metric!r} (one of "
                        f"{sorted(_METRIC_NAMES)})"
                    )
                suite.add(
                    MetricBound(column=col, metric=metric, lo=lo, hi=hi)
                )
        except ValueError as e:
            print(f"[FATAL] bad --check/--metric-bound: {e}")
            return 2

    if args.drift_gate:
        from ocsf_validator_spark.spec import drift_gate_from_baseline

        suite = suite or transcript_suite()
        try:
            for s_ in args.drift_gate:
                head, _, opts = s_.partition(",")
                path, _, metric = head.partition(":")
                thr = None
                for kv in filter(None, opts.split(",")):
                    k_, _, v = kv.partition("=")
                    if k_ == "threshold":
                        thr = float(v)
                    else:
                        raise ValueError(s_)
                suite.add(
                    drift_gate_from_baseline(
                        path, metric=metric or "psi", threshold=thr
                    )
                )
        except (OSError, ValueError, KeyError) as e:
            print(f"[FATAL] bad --drift-gate: {e}")
            return 2

    if args.fd or args.quantile_bound or args.volume_gate or args.group_metric:
        from ocsf_validator_spark.spec import (
            FunctionalDependency,
            GroupMetricBound,
            QuantileBound,
            VolumeGate,
        )

        suite = suite or transcript_suite()
        try:
            for s_ in args.fd:
                dets, _, dep = s_.partition("=")
                det = tuple(x for x in dets.split(",") if x)
                if not (det and dep):
                    raise ValueError(s_)
                suite.add(FunctionalDependency(column=dep, determinants=det))
            for s_ in args.quantile_bound:
                head, _, opts = s_.partition(",")
                col, _, qtxt = head.partition(":")
                lo, hi = _bounds(s_, opts)
                if not (col and qtxt):
                    raise ValueError(s_)
                suite.add(
                    QuantileBound(column=col, q=float(qtxt), lo=lo, hi=hi)
                )
            for s_ in args.volume_gate:
                head, _, opts = s_.partition(",")
                col, _, gran = head.partition(":")
                k = 3
                for kv in filter(None, opts.split(",")):
                    kk, _, v = kv.partition("=")
                    if kk == "k":
                        k = int(v)
                    else:
                        raise ValueError(s_)
                if not (col and gran):
                    raise ValueError(s_)
                suite.add(VolumeGate(column=col, granularity=gran, k=k))
            for s_ in args.group_metric:
                head, _, opts = s_.partition(",")
                parts = head.split(":")
                if len(parts) != 3:
                    raise ValueError(s_)
                col, metric, by_txt = parts
                by = tuple(x for x in by_txt.split("+") if x) or tuple(
                    x for x in by_txt.split(";") if x
                )
                # BY columns separated by '+' (',' starts the bounds)
                lo, hi = _bounds(s_, opts)
                if not (col and metric and by):
                    raise ValueError(s_)
                if metric not in _METRIC_NAMES:
                    raise ValueError(
                        f"unknown metric {metric!r} (one of "
                        f"{sorted(_METRIC_NAMES)})"
                    )
                suite.add(
                    GroupMetricBound(
                        column=col, metric=metric, by=by, lo=lo, hi=hi
                    )
                )
        except ValueError as e:
            print(
                "[FATAL] bad --fd/--quantile-bound/--volume-gate/"
                f"--group-metric: {e}"
            )
            return 2

    if args.precedence or args.opening or args.alternation or args.closing:
        from ocsf_validator_spark.spec import (
            Alternation,
            ClosingRole,
            OpeningRole,
            Precedence,
        )

        suite = suite or transcript_suite()
        try:
            for s_ in args.precedence:
                head, pre = s_.split("=", 1)
                col, trig = head.split(":", 1)
                prereq = tuple(x for x in pre.split(",") if x)
                if not (col and trig and prereq):
                    raise ValueError(s_)
                suite.add(Precedence(column=col, trigger=trig, prereq=prereq))
            for s_ in args.opening:
                col, vals = s_.split("=", 1)
                allowed = tuple(x for x in vals.split(",") if x)
                if not (col and allowed):
                    raise ValueError(s_)
                suite.add(OpeningRole(column=col, allowed=allowed))
            for s_ in args.alternation:
                col, _, vals = s_.partition("=")
                scope = tuple(x for x in vals.split(",") if x)
                if not col:
                    raise ValueError(s_)
                suite.add(Alternation(column=col, scope=scope))
            for s_ in args.closing:
                col, _, vals = s_.partition("=")
                allowed = tuple(x for x in vals.split(",") if x)
                if not (col and allowed):
                    raise ValueError(s_)
                suite.add(ClosingRole(column=col, allowed=allowed))
        except ValueError as e:
            print(f"[FATAL] bad --precedence/--opening/--closing/--alternation: {e}")
            return 2

    if args.dump_suite:
        from ocsf_validator_spark.spec import save_suite

        try:
            save_suite(suite or transcript_suite(), args.dump_suite)
        except (OSError, TypeError, ValueError) as e:
            print(f"[FATAL] --dump-suite failed: {e}")
            return 2

    res = run_validation(
        spark,
        df,
        suite=suite,
        num_buckets=args.buckets,
        strict=args.strict,
        checkpoint_dir=args.checkpoint,
        snapshot_id=snapshot,
        violations_out=args.violations_out,
        verdicts_out=args.verdicts_out,
        quarantine_out=args.quarantine_out,
        max_violation_rows=args.max_violation_rows,
        carry_state=carry_state,
        fd_carry=fd_carry,
        diff_verdicts_against=args.diff_verdicts,
        report_json=args.report_json,
    )
    if inc_files is not None and res.exit_code != 2:
        # commit the file ledger only after the bucket manifest landed:
        # a crash in between re-validates (at-least-once), never skips.
        # Exit 1 (violations found) still counts as validated. The
        # carried conversation state rides the SAME atomic rename (one
        # trailing conv_state line), so ledger and state can never
        # disagree. Iceberg-diff increments (empty file list) commit a
        # ledger part-file carrying only the state pointer — file
        # tracking there is snapshot lineage, not the ledger.
        state_dir = None
        from ocsf_validator_spark import convstate
        from ocsf_validator_spark.violations import _fusable, _present

        eff_suite = suite or transcript_suite()
        keys = ("conv_id", "turn_idx")
        fz = _fusable(eff_suite, df, keys) if _present(df, keys) else None
        if fz:
            bound = convstate.boundary_state(df, fz[0], fz[1], keys)
            merged = convstate.merge_state(carry_state, bound)
            state_dir = convstate.write_state(
                merged, args.checkpoint, tag=str(snapshot)
            )
        # FD group state: same sticky-canonical contract, same atomic
        # ledger commit (one fd_state line mapping constraint_id -> dir)
        from ocsf_validator_spark.spec import FunctionalDependency
        from ocsf_validator_spark.violations import (
            _resolves,
            fd_group_state,
            merge_fd_state,
        )

        fd_dirs = {}
        for c in eff_suite.key_level():
            if not isinstance(c, FunctionalDependency):
                continue  # other key-level kinds carry no state
            if not (c.determinants and _resolves(df, [*c.determinants, c.column])):
                continue
            merged_fd = merge_fd_state(
                fd_carry.get(c.constraint_id), fd_group_state(df, c)
            )
            fd_dirs[c.constraint_id] = convstate.write_fd_state(
                merged_fd, args.checkpoint, c.constraint_id, tag=str(snapshot)
            )
        ckpt.record_files(
            args.checkpoint,
            inc_files,
            state_dir=state_dir,
            fd_state=fd_dirs or None,
            schema=cur_schema,
        )
        if args.gc_state:
            removed = convstate.gc_state(args.checkpoint)
            if removed:
                print(f"gc-state: pruned {len(removed)} superseded "
                      "state snapshot(s)")
        if args.compact_checkpoint:
            fm, fl = ckpt.compact(args.checkpoint)
            if fm or fl:
                print(
                    f"compact-checkpoint: folded {fm} manifest and "
                    f"{fl} ledger part-file(s)"
                )
    return res.exit_code


if __name__ == "__main__":
    sys.exit(main())
