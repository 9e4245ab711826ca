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
  2. stats pass                      — ONE fused groupBy(bucket) agg with
                                       the skew probe; skipped when the
                                       window runs in place (one task)
  3. violation pass                  — fused row projection ∪ group legs
  4. verdict pass                    — per-(bucket, constraint) scorecard
                                       (in place: with each bucket's rows,
                                       riding the first sink's write)
  5. sinks                           — violations/verdicts parquet, manifest
  (3, 4 and the violation and quarantine sinks are one per-unit step,
  ``_validate_unit``, which each stream micro-batch runs too)

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
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import (
    local_df,
    observed,
    one_task,
    release_checkpoint,
)

from ocsf_validator_spark import checkpoint as ckpt
from ocsf_validator_spark import convstate
from ocsf_validator_spark.inherit import SuiteResolutionError, resolve
from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import (
    Alternation,
    Check,
    ClosingRole,
    ConstraintSet,
    DriftGate,
    FunctionalDependency,
    GroupMetricBound,
    MetricBound,
    OpeningRole,
    Precedence,
    QuantileBound,
    Severity,
    VolumeGate,
    drift_gate_from_baseline,
    save_suite,
    transcript_suite,
)
from ocsf_validator_spark.stats import DEFAULT_BUCKETS, bucketed_probe_stats
from ocsf_validator_spark.verdict import (
    exit_code_rows,
    summarize_rows,
    verdicts,
)
from ocsf_validator_spark.violations import (
    DEFAULT_KEYS,
    all_violations,
    cap_violations,
    dataset_findings,
    failing,
    fold_observations,
    observation_aggs,
    quarantine_keys,
    split_quarantine,
    window_route,
)


def _tail(spec: str, opts: str, keys: tuple[str, ...]) -> dict[str, str]:
    """The ``key=value`` texts of a flag's ``,``-separated tail
    ``opts``; a key outside ``keys`` raises ValueError(spec)."""
    got = {}
    for kv in filter(None, opts.split(",")):
        k, _, v = kv.partition("=")
        if k not in keys:
            raise ValueError(spec)
        got[k] = v
    return got


def _bounds(spec: str, opts: str) -> tuple:
    """``(lo, hi)`` from a bound flag's ``min=X,max=Y`` tail (``opts``,
    either key optional): ints unless the text has a '.' or an 'e'. An
    unknown key, or no bound at all, raises ValueError(spec)."""
    got = _tail(spec, opts, ("min", "max"))
    if not got:
        raise ValueError(spec)
    return tuple(
        None if v is None else float(v) if "." in v or "e" in v else int(v)
        for v in (got.get("min"), got.get("max"))
    )


def _check(s: str) -> Check:
    label, _, pred = s.partition("=")
    if not (label and pred):
        raise ValueError(s)
    return Check(column=label, predicate=pred)


def _metric_bound(s: str) -> MetricBound:
    head, _, opts = s.partition(",")
    col, _, metric = head.partition(":")
    lo, hi = _bounds(s, opts)
    if not col:
        raise ValueError(s)
    return MetricBound(column=col, metric=metric, lo=lo, hi=hi)


def _drift_gate(s: str):
    head, _, opts = s.partition(",")
    path, _, metric = head.partition(":")
    thr = _tail(s, opts, ("threshold",)).get("threshold")
    return drift_gate_from_baseline(
        path, metric=metric or "psi",
        threshold=None if thr is None else float(thr),
    )


def _fd(s: str) -> FunctionalDependency:
    dets, _, dep = s.partition("=")
    if not dep:
        raise ValueError(s)
    return FunctionalDependency(
        column=dep, determinants=tuple(x for x in dets.split(",") if x)
    )


def _quantile_bound(s: str) -> QuantileBound:
    head, _, opts = s.partition(",")
    col, _, q = head.partition(":")
    lo, hi = _bounds(s, opts)
    if not col:
        raise ValueError(s)
    return QuantileBound(column=col, q=float(q), lo=lo, hi=hi)


def _volume_gate(s: str) -> VolumeGate:
    head, _, opts = s.partition(",")
    col, _, gran = head.partition(":")
    k = int(_tail(s, opts, ("k",)).get("k", 3))
    if not (col and gran):
        raise ValueError(s)
    return VolumeGate(column=col, granularity=gran, k=k)


def _group_metric(s: str) -> GroupMetricBound:
    head, _, opts = s.partition(",")
    parts = head.split(":")  # BY columns split on '+'
    lo, hi = _bounds(s, opts)
    if len(parts) != 3 or not parts[0]:
        raise ValueError(s)
    col, metric, by = parts
    return GroupMetricBound(
        column=col, metric=metric, by=tuple(x for x in by.split("+") if x),
        lo=lo, hi=hi,
    )


def _precedence(s: str) -> Precedence:
    head, _, pre = s.partition("=")
    col, _, trig = head.partition(":")
    prereq = tuple(x for x in pre.split(",") if x)
    if not (col and trig and prereq):
        raise ValueError(s)
    return Precedence(column=col, trigger=trig, prereq=prereq)


def _values(s: str) -> tuple[str, tuple[str, ...]]:
    """``COL=V1,V2`` as ``(COL, (V1, V2))``."""
    col, _, vals = s.partition("=")
    return col, tuple(x for x in vals.split(",") if x)


def _allowed(cls, s: str):
    """An OpeningRole or ClosingRole from ``COL=V1,V2``."""
    col, allowed = _values(s)
    if not (col and allowed):
        raise ValueError(s)
    return cls(column=col, allowed=allowed)


def _alternation(s: str) -> Alternation:
    col, scope = _values(s)
    if not col:
        raise ValueError(s)
    return Alternation(column=col, scope=scope)


# the constraint flags (argparse dests), each with its parser, in the
# order their constraints join the suite (that order is part of
# ConstraintSet.version, which the checkpoint manifest keys on)
_FLAGS = {
    "check": _check,
    "metric_bound": _metric_bound,
    "drift_gate": _drift_gate,
    "fd": _fd,
    "quantile_bound": _quantile_bound,
    "volume_gate": _volume_gate,
    "group_metric": _group_metric,
    "precedence": _precedence,
    "opening": lambda s: _allowed(OpeningRole, s),
    "alternation": _alternation,
    "closing": lambda s: _allowed(ClosingRole, s),
}


# a collected verdict row: verdict.verdicts' five public columns
_VERDICT_ROW = Row("bucket", "constraint_id", "severity", "violation_count", "pass")


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


def _hadoop(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` under the session's Hadoop
    configuration."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf), jpath


def _publish(spark: SparkSession, staging: str) -> None:
    """Move the data files a write left in ``staging`` into its parent
    directory, the sink. Names starting with ``_`` or ``.`` (such as
    ``_SUCCESS``) stay behind."""
    fs, src = _hadoop(spark, staging)
    for st in fs.listStatus(src):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        dest = spark._jvm.org.apache.hadoop.fs.Path(src.getParent(), name)
        if not fs.rename(st.getPath(), dest):
            raise OSError(f"cannot move {st.getPath()} to {dest}")


def _ride(frame: DataFrame, vd: DataFrame) -> tuple[DataFrame, Observation]:
    """``frame`` to write with the rows of ``vd`` riding it, and the
    ``Observation`` that holds them as ``rows``, the ``collect_list`` of
    their structs, once the write has run. ``vd`` is observed on a
    branch that ``spark_partition_id() < 0`` empties, projected to
    ``frame``'s schema and unioned onto it in one partition: the write
    stores no row of it, and ``frame``'s branch runs first in that
    task, so a lazy checkpoint both read is filled before ``vd`` reads
    it. The filter must be one the optimizer cannot fold: PruneFilters
    drops a literal-false branch and its observation with it, and a
    nondeterministic predicate is never folded."""
    seen = Observation()
    empty = (
        vd.observe(seen, F.collect_list(F.struct(*vd.columns)).alias("rows"))
        .filter(F.spark_partition_id() < 0)
        .select(*[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in frame.schema.fields
        ])
    )
    return frame.union(empty).coalesce(1), seen


@dataclass
class _Unit:
    """What ``_validate_unit`` gives back: the input's window route;
    with a verdict, its rows and their route (``"sink"`` when they rode
    a write); without one, the rows the violation sink received and
    those at or above the threshold (``n``, ``n_failing``); the
    ``input_aggs`` values."""

    window_route: str
    verdict_route: str | None = None
    rows: list | None = None
    counts: dict | None = None
    inputs: dict = field(default_factory=dict)


def _validate_unit(
    df: DataFrame,
    suite: ConstraintSet,
    threshold: Severity,
    violations_out: str | None = None,
    quarantine_out: str | None = None,
    batch_id: int | None = None,
    max_violation_rows: int | None = None,
    carry: DataFrame | None = None,
    verdict: Callable[[DataFrame], DataFrame] | None = None,
    publish_if: Callable[[list], bool] | None = None,
    input_aggs: Sequence[Column] = (),
    **build,
) -> _Unit:
    """Validate one unit, a run, an increment (``batch_id`` None) or a
    micro-batch, and write its sinks: the step ``run_validation`` and
    ``streaming.validate_stream`` share.

    - Rows: ``all_violations(df, suite, carry=carry, **build)``.
    - Stored: the rows, when two legs read them (the violation sink,
      the quarantine split, the ``verdict``), as a lazy local
      checkpoint the first write fills (not ``cache()``: under AQE that
      costs a fill job and one sink file per shuffle partition). A lost
      block then fails the unit; its rerun or replay rewrites it.
    - Writes: ``mode("overwrite")`` into the unit's own directory. A run
      stages each sink in a ``_staging-<uuid>`` directory inside it
      (Spark's file index skips it) and moves the files into the sink
      once the verdict is in and ``publish_if(verdict rows)`` holds; the
      staging directory is deleted whatever happens, so a failed run
      leaves no rows for its rerun to duplicate. A micro-batch replaces
      its ``batch_id=<n>`` partition.
    - Quarantine: the input rows whose key a violation at or above
      ``threshold`` names, split in its write's one task in place.
    - Released: the stored rows, whatever happens.
    - Observed: in place (``violations.window_route``) the verdict and
      the ``input_aggs`` ride the first write (``_ride``); an
      observation beneath a lazy checkpoint in place would complete
      with zeros when the checkpoint is taken. On the exchange route
      the verdict is collected, and the ``input_aggs`` are observed on
      the input: taking the checkpoint runs the exchange. A unit with
      no verdict observes the rows its violation sink writes and those
      at or above ``threshold``. What a write fails to report
      (``localframe.observed``: a zero-row micro-batch can drop the
      node) costs a job; a lost verdict also warns."""
    unit = _Unit(window_route(df, carry))
    in_place = unit.window_route == "in_place"
    sinks = [out for out in (violations_out, quarantine_out) if out]
    ride = in_place and bool(sinks)
    read_in, read_vd, read_n = Observation(), None, None
    viol = all_violations(
        df.observe(read_in, *input_aggs) if input_aggs and not ride else df,
        suite, carry=carry, **build,
    )
    stored = len(sinks) + (verdict is not None) > 1
    if stored:
        viol = viol.localCheckpoint(eager=False)
    dest = {out: os.path.join(out, (
        f"_staging-{uuid.uuid4().hex}" if batch_id is None
        else f"batch_id={int(batch_id)}"
    )) for out in sinks}
    writes = []
    if violations_out:
        sink = (
            viol if max_violation_rows is None
            else cap_violations(viol, max_violation_rows)
        )
        counts = [
            F.count(F.lit(1)).alias("n"),
            F.count_if(failing(threshold)).alias("n_failing"),
        ]
        read_n = None if verdict else Observation()
        writes.append(sink.observe(read_n, *counts) if read_n else sink)
    if quarantine_out and in_place:
        # gathered and joined in one task: an inner join that hashes the
        # distinct key set is the semi join, which the optimizer would
        # push beneath the input's coalesce (PushDownLeftSemiAntiJoin)
        bad = quarantine_keys(viol.coalesce(1), threshold).hint("shuffle_hash")
        writes.append(df.coalesce(1).join(bad, list(DEFAULT_KEYS)).select(*df.columns))
    elif quarantine_out:
        writes.append(split_quarantine(df, viol, threshold=threshold)[1])
    if ride and verdict:
        writes[0], read_vd = _ride(writes[0], verdict(viol))
    if ride and input_aggs:
        writes[0], read_in = _ride(writes[0], df.coalesce(1).agg(*input_aggs))
    try:
        for frame, out in zip(writes, sinks):
            frame.write.mode("overwrite").parquet(dest[out])
        if read_n:
            unit.counts = observed(read_n) or sink.agg(*counts).first().asDict()
        if input_aggs:
            got = observed(read_in)
            unit.inputs = (
                df.agg(*input_aggs).first().asDict() if got is None
                else got["rows"][0].asDict() if ride else got
            )
        got = observed(read_vd) if read_vd else None
        if got is not None:
            unit.verdict_route, unit.rows = "sink", got["rows"]
        elif verdict:
            if read_vd:
                warnings.warn(
                    "the sink write reported no verdict metrics row; "
                    "collecting the verdict in a job of its own",
                    RuntimeWarning,
                )
            # stored rows are judged by their exact size, once filled
            unit.verdict_route = "one_task" if one_task(viol) else "exchange"
            unit.rows = verdict(viol).collect()
        if batch_id is None and (publish_if is None or publish_if(unit.rows)):
            for tmp in dest.values():
                _publish(df.sparkSession, tmp)
    finally:
        if stored:
            release_checkpoint(viol)
        for tmp in dest.values() if batch_id is None else ():
            fs, path = _hadoop(df.sparkSession, tmp)
            fs.delete(path, True)
    return unit


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    suite: ConstraintSet | None = None,
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
    """Validate ``df`` against ``suite`` in the phases the module
    docstring lists and return the exit code, counts and summary.

    Phases 3-4 are the per-unit step ``_validate_unit``, which each
    ``streaming.validate_stream`` micro-batch runs too. With a sink the
    violation rows are read more than once (the sinks and the verdict),
    so the step stores them once, as a lazy local checkpoint: taking it
    runs the window's exchanges, the first sink's own job computes and
    stores the rows, and the detail-row cap, the quarantine split and
    the verdict read them. The sinks still append, each through a
    staging directory of this run that is published once the verdict
    rows are in, before the ``checkpoint_dir`` manifest is written. So
    a failed run, also one that loses a stored block, leaves no rows in
    the sinks and no manifest entry, and its rerun writes each row
    once.

    A window that runs in place (``violations.window_route``) runs no
    stats probe, since one task has nothing to chunk: the enum coverage
    flags ride the sink's job (all_violations' lazy coverage leg) and
    the observed buckets with their row counts (the manifest's
    ``n_rows``) ride the verdict (``verdicts``' lazy grid), which rides
    the first sink's write (``_ride``; collected, with a
    ``RuntimeWarning``, if that write reports no metrics row): a small
    run is 1 job with or without a sink, and a quarantine sink adds
    its one-task write. Its MetricBounds aggregate in one shared job
    while the plan is built. A rerun whose manifest covers
    every bucket returns before any job. One whose pending buckets hold
    no row learns so from the verdict rows; it returns without
    publishing the staged sinks and writes no manifest entry.

    With ``report_json`` the report carries the route each adaptive
    step took, read from ``localframe.one_task`` of the frame that step
    reads, the one rule its own call applies: ``stats_route`` (the
    input) and ``verdict_route`` (the violation rows), each
    ``"one_task"`` when that aggregate finishes in one task without its
    exchange, else ``"exchange"`` (in place the bucket counts of
    ``stats_route`` ride the verdict's task), and ``verdict_route`` is
    ``"sink"`` when the verdict rode a sink write; ``window_route`` (the
    input, through ``violations.window_route``: ``"in_place"`` or
    ``"exchange"``, and always ``"exchange"`` on a carried run); and
    ``skew_route``: the conversations split into chunks, or None when
    none is (no skew, a carried run, or a window in place). With no
    sink the violation rows stay lazy; those of a window in place are
    gathered too, so the verdict collect runs the window and the
    aggregate in one task. Its ``phase_sec`` keeps the keys ``audit``,
    ``stats``, ``skew_probe``, ``skew_path`` and ``verdict``; the rows
    are built inside the step, so ``verdict`` holds their build, the
    sinks and the verdict, and ``skew_path`` reads about 0.
    """
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
    # diff, no data scan (with no finding it folds to an empty local
    # relation and runs no job).
    audit = dataset_findings(
        df.limit(0), suite, include_coverage=False
    ).collect()
    lap("audit")
    fatal = [r for r in audit if r.severity == "FATAL"]
    if fatal:
        for r in fatal:
            say(f"[FATAL] {r.constraint_id}: {r.reason}")
        return RunResult(2, 0, len(fatal), time.time() - t0, summary_rows=fatal)

    def nothing_pending() -> RunResult:
        # everything already validated for this (suite, snapshot) —
        # don't emit coverage findings against an empty remainder
        say("nothing pending; all buckets previously completed")
        return RunResult(0, 0, 0, time.time() - t0, skipped_buckets=skipped)

    # Phase 1 — resume
    skipped = 0
    if checkpoint_dir:
        done = ckpt.completed_buckets(checkpoint_dir, suite.version(), snapshot_id)
        if done:
            df = ckpt.filter_pending(df, done, num_buckets=num_buckets)
            skipped = len(done)
            say(f"resume: skipping {skipped} completed buckets")
            # every bucket done leaves no row (a NULL conv_id hashes to
            # a bucket too): return before any job
            if done >= set(range(num_buckets)):
                return nothing_pending()
            # whole-table gates (metric/quantile/volume/drift bounds,
            # FD/group-metric legs) aggregate whatever frame they get:
            # on a partial resume that is the PENDING buckets only, so
            # absolute-count bounds can spuriously fire or pass. Warn
            # rather than silently re-scope.
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

    # Phase 2 — single-pass stats, collected once: n_rows, the observed
    # buckets, the mergeable dataset-level observations
    # (violations.observation_aggs) AND the skew-probe candidates, in
    # ONE data scan (distinct_count falls back to dataset_findings'
    # shared agg job). A window in place needs no probe: the coverage
    # flags ride the sink's job and the buckets with their rows ride the
    # verdict's lazy grid (one row per bucket and constraint: a suite
    # with no constraint probes).
    routes = {
        "stats_route": "one_task" if one_task(df) else "exchange",
        "window_route": window_route(df, carry_state),
    }
    probe = routes["window_route"] == "exchange" or not suite.constraints
    bucket_stats = observed_buckets = observed_enums = observed_metrics = None
    if probe:
        bucket_stats = bucketed_probe_stats(
            df,
            num_buckets=num_buckets,
            probe_floor=skew_min_rows if detect_skew else None,
            merge_aggs=observation_aggs(suite, df),
        ).collect()
        observed_buckets = [int(r.bucket) for r in bucket_stats]
        observed_enums, observed_metrics = fold_observations(
            suite, df, bucket_stats
        )
        n_rows = observed_metrics["__n_rows"]
        if n_rows == 0 and skipped > 0:
            return nothing_pending()
    lap("stats")

    # Phase 2b — skew routing, driver arithmetic over the probe structs:
    # conversations past ~4x one task's share of the rows (never below
    # skew_min_rows, the probe's floor) are split into turn_idx chunks
    # of that share. A window in place is one task: nothing to chunk.
    skewed: list[str] = []
    skew_route = None
    if detect_skew and routes["window_route"] == "exchange":
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
                route = "the whole-conversation window (incremental carry)"
            else:
                # chunk count for dense turn_idx; gaps leave fewer
                n_chunks = sum(-(-n // chunk_rows) for _, n in skewed_counts)
                route = (
                    f"chunked windows of {chunk_rows} rows "
                    f"({n_chunks} partitions)"
                )
                skew_route = {
                    "convs": len(skewed), "rows": n_big,
                    "chunk_rows": chunk_rows,
                }
            say(
                f"skew: routing {len(skewed)} conversations >= {skew_rows} "
                f"rows ({n_big} rows) to {route}"
            )

    # Phases 3-4 — violations, sinks and verdict, the per-unit step: one
    # fused scan plus the bounded coverage agg; the verdict (one groupBy
    # over the violation rows unioned with the observed-bucket grid) is
    # read ONCE, and report, exit code and manifest derive from it.
    lap("skew_probe")
    lap("skew_path")  # the rows are built inside the step: see "verdict"
    unit = _validate_unit(
        df,
        suite,
        threshold,
        violations_out=violations_out,
        quarantine_out=quarantine_out,
        max_violation_rows=max_violation_rows,
        carry=carry_state,
        verdict=lambda viol: verdicts(
            df, viol, suite, num_buckets=num_buckets,
            threshold=threshold, observed_buckets=observed_buckets,
            row_counts=not probe,
        ),
        # a resumed run whose pending buckets hold no row (in place
        # read off the verdict's grid) publishes nothing
        publish_if=lambda rows: probe or not skipped or any(
            r.n_rows for r in rows
        ),
        observed_enums=observed_enums,
        observed_metrics=observed_metrics,
        skewed_convs=skewed,
        fd_carry=fd_carry,
    )
    routes["verdict_route"] = unit.verdict_route
    vd_rows = [_VERDICT_ROW(*r[:5]) for r in unit.rows]
    if not probe:
        # the probe's per-bucket rows, read off the verdict's grid
        bucket_stats = sorted(
            {r.bucket: r for r in unit.rows if r.n_rows is not None}.values(),
            key=lambda r: r.bucket,
        )
        n_rows = sum(int(r.n_rows) for r in bucket_stats)
        if n_rows == 0 and skipped > 0:
            return nothing_pending()  # the staged sinks were dropped
    lap("verdict")
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
            prior_rows = read_parquet(spark, diff_verdicts_against).collect()
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
            partition_spec=f"pmod(xxhash64(conv_id), {num_buckets})",
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
            **routes,
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


def stream_main(spark: SparkSession, args, suite: ConstraintSet) -> int:
    """--stream: drain a landing directory through ``suite``
    (validate_stream, availableNow) and exit with the batch contract:
    0 = clean, 1 = violations at or above the failure threshold (ERROR;
    WARNING under --strict, which also quarantines at WARNING) found in
    this drain's batches (coverage is excluded per micro-batch by
    design). The exit verdict reads only what THIS drain found. Each
    batch's count of rows at or above the threshold (with
    --stateful-ordering, cross-batch findings among them) rode its sink
    write as an observed metric and sits in its manifest line
    (``n_failing`` under ``<checkpoint>_batches``), so reading it runs
    no Spark job, and a later clean drain does not re-fail on an
    earlier drain's findings. Only the append-across-drains --psi-ref
    drift leg (batch_id=-2), another query, is read back, filtered to
    the drain_id stamped on its rows."""
    from ocsf_validator_spark.streaming import (
        DRIFT_BATCH_ID,
        manifest_file,
        stream_transcripts,
        validate_stream,
    )

    drain_id = uuid.uuid4().hex[:12]
    threshold = Severity.WARNING if args.strict else Severity.ERROR
    manifests = args.checkpoint + "_batches"
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
        suite=suite,
        manifest_dir=manifests,
        on_batch=lambda bid, rows, nv: batches.append((bid, rows, nv)),
        stateful_ordering=args.stateful_ordering,
        drain_id=drain_id,
        quarantine_out=args.quarantine_out,
        quarantine_threshold=threshold,
        **psi_kw,
    )
    queries = started if isinstance(started, tuple) else (started,)
    for q in queries:
        q.awaitTermination()
    for bid, rows, nv in batches:
        print(f"[batch {bid}] {rows} turns, {nv} violations")
    if not batches:
        print("stream: nothing pending")
        return 0
    # each drained batch's manifest line holds the rows at or above the
    # threshold that its sink write observed: no job reads them back
    def n_failing(bid: int) -> int:
        with open(manifest_file(manifests, bid)) as f:
            return json.load(f)["n_failing"]

    bad = any(n_failing(bid) for bid, _, _ in batches)
    if psi_kw and not bad:
        # the drift leg appends across drains: only rows THIS drain
        # stamped may fail THIS drain's exit code
        leg_dir = os.path.join(args.violations_out, f"batch_id={DRIFT_BATCH_ID}")
        try:
            leg_rows = read_parquet(spark, leg_dir)
        except Exception:
            return 0  # the leg emitted nothing yet — no directory
        bad = (
            leg_rows.filter((F.col("drain_id") == drain_id) & failing(threshold))
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
        help="with --stream: carry per-conversation boundary state "
        "across micro-batches (as --incremental does across increments), "
        "so defects straddling batches land in their batch's partition",
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
    if args.max_violation_rows is not None and args.max_violation_rows < 1:
        print(f"[FATAL] --max-violation-rows must be >= 1, got {args.max_violation_rows}")
        return 2
    if args.stream and not (args.input and args.violations_out and args.checkpoint):
        print("[FATAL] --stream requires --input, --violations-out, --checkpoint")
        return 2
    if args.stream and args.incremental:
        print("[FATAL] --incremental and --stream are exclusive modes")
        return 2
    if args.incremental and not (args.input and args.checkpoint):
        print("[FATAL] --incremental requires --input and --checkpoint")
        return 2

    # the one suite every mode validates, built before a session starts:
    # a malformed source exits 2 with one [FATAL] line (the reference
    # exits 2 when its schema graph cannot be resolved)
    source = "--suite-json"
    try:
        suite = transcript_suite()
        if args.suite_json:
            with open(args.suite_json) as f:
                suite = resolve(json.load(f), args.suite_name)
        source = "--severity"
        # an unknown constraint id or level is never a silently-kept
        # default severity
        suite = suite.with_severities(
            dict(s.split("=", 1) for s in args.severity)
        )
        for dest, parse in _FLAGS.items():
            source = "--" + dest.replace("_", "-")
            for spec in getattr(args, dest):
                suite.add(parse(spec))
        source = "suite"
        suite.by_id()  # a repeated constraint id, from any source
        if args.incremental or (args.stream and args.stateful_ordering):
            source = "suite for " + (
                "--incremental" if args.incremental else "--stateful-ordering"
            )
            convstate.check_carried(suite)
        source = "--dump-suite"
        if args.dump_suite:
            save_suite(suite, args.dump_suite)
    except (
        OSError, KeyError, TypeError, ValueError, SuiteResolutionError
    ) as e:
        print(f"[FATAL] bad {source}: {e}")
        return 2

    from ocsf_validator_spark.session import get_spark

    spark = get_spark("ocsf-validator-runner", cores=args.cores)
    if args.stream:
        return stream_main(spark, args, suite)

    inc_files: list | None = None
    carry_state = None
    fd_carry = {}
    if args.incremental:
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
        # carried conversation and FD group state ride the SAME atomic
        # rename (trailing conv_state / fd_state lines), so ledger and
        # state can never disagree. Iceberg-diff increments (empty file
        # list) commit a ledger part-file carrying only the state
        # pointers — file tracking there is snapshot lineage, not the
        # ledger.
        state_dir, fd_dirs = convstate.commit(
            df,
            suite,
            args.checkpoint,
            snapshot,
            carry=carry_state,
            fd_carry=fd_carry,
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
