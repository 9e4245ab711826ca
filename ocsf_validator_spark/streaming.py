"""Structured Streaming validation — continuous ingest of transcript
turns with the same constraint suite.

The reference is batch-only (SURVEY.md §2.10); this module is the
north-star extension for validating an APPEND-ONLY transcript stream
(e.g. the Iceberg table's incoming commits) without re-scanning history:

- ``validate_stream``: readStream → foreachBatch. Every micro-batch runs
  the SAME fused single-scan violation pass as the batch runner (row
  family + conversation-window family share one shuffle), appends
  violations to the sink, and writes a per-batch manifest line. Restart
  resumes from the streaming checkpoint — exactly-once per micro-batch
  because the sink IS (batch_id)-keyed: each batch overwrites its own
  ``batch_id=<n>`` partition, so a replay after a failure between the
  write and the checkpoint commit rewrites the same partition instead
  of duplicating rows.

  Cost: a micro-batch Spark reads as one small task (a one-file batch
  below the AQE advisory size) is one Spark job, the sink write: the
  fused window runs in the scan's task (``violations.window_route``).
  A larger batch adds the window's exchange as a job of its own. The
  violation count (manifest line, ``on_batch``) and the input row
  count (``on_batch``) ride that write as observed metrics
  (``Observation``) rather than a cache and a count. Only the
  quarantine leg stores the batch (a lazy local checkpoint, filled by
  the sink write's own job), because it reads it a second time: three
  jobs a one-task batch. On the exchange route it stores the batch's
  violations as well, so the split does not rerun the exchange: five
  jobs a batch.

  Scope note: the conversation-window checks see one micro-batch at a
  time, so they catch intra-batch duplicates/disorder; duplicates that
  STRADDLE batches are caught by the stateful leg below.

- ``cross_batch_duplicates``: stateful uniqueness across batches via
  ``dropDuplicatesWithinWatermark`` — rows evicted as duplicates within
  the watermark horizon are exactly the 2nd+ occurrences the batch
  Unique constraint would flag. State is bounded by the watermark (late
  beyond the horizon is the operator's documented blind spot — the
  nightly batch run remains the ground truth).

- ``streaming_turn_stats``: watermarked event-time windowed stats
  (turns, null-rates, distinct conversations) — the streaming analogue
  of stats.column_stats for dashboards/drift baselines.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import release_checkpoint
from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import ConstraintSet, Severity, transcript_suite
from ocsf_validator_spark.violations import all_violations, window_route

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, schema: str = TRANSCRIPT_DDL
) -> DataFrame:
    """File-source stream over a directory parquet files land in (the
    local stand-in for an Iceberg streaming read; swap for
    ``spark.readStream.format("iceberg")`` when the runtime is present —
    same downstream code)."""
    return spark.readStream.schema(schema).parquet(path)


CANONICAL_COLS = ("constraint_id", "conv_id", "turn_idx", "reason", "severity")

STATEFUL_BATCH_ID = -1  # partition value of the cross-batch stateful leg
DRIFT_BATCH_ID = -2  # partition value of the windowed PSI drift leg

_INTERVAL_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """Parse a Spark-style interval string ('2 hours', '30 minutes')
    into milliseconds — used for event-time timeout arithmetic."""
    import re

    total = 0
    for num, unit in re.findall(
        r"(\d+)\s*(millisecond|second|minute|hour|day)s?", interval.strip()
    ):
        total += int(num) * _INTERVAL_UNITS_MS[unit]
    if total <= 0:
        raise ValueError(f"unparseable interval: {interval!r}")
    return total


def _observed_rows(obs: Observation, frame: DataFrame) -> int:
    """The row count ``obs`` collected during the action that ran over
    ``frame``.

    One case reports nothing: when AQE proves an exchange empty at run
    time it replaces the plan above it with an empty relation, and a
    CollectMetrics node below that exchange (the input observation on a
    zero-row micro-batch) leaves the final plan, so the action finishes
    with an empty metrics row. ``Observation.get`` cannot convert that
    row (``PythonSQLUtils.toPyRow`` asserts on it), so the JVM row is
    read directly, and only that case pays a job to count ``frame``."""
    row = obs._jo.getRow()
    if row.length() == 0:
        return frame.count()
    return int(row.getLong(0))


def validate_stream(
    sdf: DataFrame,
    violations_out: str,
    checkpoint_dir: str,
    suite: ConstraintSet | None = None,
    manifest_dir: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int, int], None] | None = None,
    stateful_ordering: bool = False,
    drain_id: str | None = None,
    stateful_watermark: str = "1 hour",
    stateful_idle_timeout: str | None = "2 hours",
    psi_ref: dict[int, int] | None = None,
    psi_bin_expr: str | None = None,
    psi_window: str = "10 minutes",
    psi_watermark: str = "1 hour",
    psi_threshold: float = 0.2,
    psi_severity: str = "WARNING",
    psi_min_n: int = 0,
    quarantine_out: str | None = None,
    quarantine_threshold: "Severity" = None,  # default Severity.ERROR
):
    """Run the constraint suite on each micro-batch via foreachBatch.

    Coverage findings are skipped per batch (enum coverage over a
    micro-batch is meaningless — absence in 10k rows is not absence in
    the table); everything else is the batch engine unchanged.

    A micro-batch Spark reads as one small task (``window_route`` is
    ``"in_place"``) costs one job, the sink write, with or without
    ``manifest_dir`` and ``on_batch``: the window runs in the scan's
    task, and the violation and input row counts they report are
    observed metrics of that write. A batch that takes the exchange
    route costs one job more, the window's exchange. Only
    ``quarantine_out`` stores the batch rows, for the second read its
    split makes, in a lazy local checkpoint that the sink write's own
    job fills: a one-task batch costs three jobs. On the exchange route
    the batch's violations are stored the same way, so the split does
    not rerun the exchange: five jobs. In place they are not: the split
    recomputes the window in its own first stage, which costs no job,
    and a checkpoint would report the input row observation beneath it
    before any row is read. What is stored is released when the batch
    ends. A stored block lost before the split reads it fails the batch
    instead of being recomputed; the streaming checkpoint has not
    committed the batch, so the restarted query replays it.

    Each manifest line carries the batch's ``window_route``
    (``"in_place"`` or ``"exchange"``).

    Sink layout: violations land under ``batch_id=<n>`` partition
    directories (idempotent replay), so reading ``violations_out``
    yields an extra int ``batch_id`` partition column. Use
    ``read_violations`` to get the canonical batch-runner schema back.

    ``stateful_ordering=True`` ALSO starts the cross-batch stateful leg
    (``stateful_ordering_violations``: gaps / duplicates / ts
    regressions that STRADDLE micro-batches, which the per-batch window
    checks cannot see) writing into the same sink under
    ``batch_id=-1``, and returns ``(batch_query, stateful_query)``
    instead of a single query. Its state is bounded by
    ``stateful_watermark`` + ``stateful_idle_timeout`` (event-time
    eviction — see stateful_ordering_violations). The stateful leg is
    APPEND-only across drains; ``drain_id`` (when given) is stamped on
    its rows so a caller can scope a verdict to the rows THIS drain
    produced instead of re-counting earlier drains' findings.

    ``psi_ref`` + ``psi_bin_expr`` ALSO start the windowed drift leg
    (``streaming_psi`` vs the given reference histogram): event-time
    windows whose PSI crosses ``psi_threshold`` land in the same sink
    under ``batch_id=-2`` as ``drift.psi`` rows with NULL row keys —
    drift is a dataset-level finding, WARNING by default, so it
    surfaces in the report without failing the drain unless the caller
    raises ``psi_severity``. Append-only across drains, drain-scoped
    like the stateful leg.

    ``quarantine_out`` ALSO routes each micro-batch's violating INPUT
    rows (key named by a >= ``quarantine_threshold`` violation from
    THIS batch's fused pass — per-batch scope; the stateful leg cannot
    recall rows already passed through) into
    ``quarantine_out/batch_id=<n>`` with the same idempotent
    overwrite-per-batch replay semantics as the violations sink.

    Returns the StreamingQuery (or a tuple when extra legs started);
    with ``available_now`` the caller can ``awaitTermination()`` each
    for a drain-and-stop run (used by tests and backfills)."""
    if (psi_ref is None) != (psi_bin_expr is None):
        raise ValueError("psi_ref and psi_bin_expr must be given together")
    suite = suite or transcript_suite()
    q_threshold = (
        Severity.ERROR if quarantine_threshold is None else quarantine_threshold
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        # split_quarantine reads the batch rows and their violations a
        # second time; store the rows (lazily, filled by the sink
        # write's own job) so that leg costs no source re-read
        stored: list[DataFrame] = []
        try:
            if quarantine_out:
                batch_df = batch_df.localCheckpoint(eager=False)
                stored.append(batch_df)
            seen, found = Observation(), Observation()
            n = F.count(F.lit(1)).alias("n")
            route = (
                window_route(batch_df)
                if manifest_dir or quarantine_out
                else None
            )
            viol = all_violations(
                batch_df.observe(seen, n) if on_batch else batch_df,
                suite,
                include_coverage=False,
            )
            if quarantine_out and route == "exchange":
                # store the violations too, so the split does not run
                # the window's exchange again. In place the split
                # recomputes the window in its own first stage at no
                # job, and a checkpoint would report the input
                # observation under it (as 0) before any row is read
                viol = viol.localCheckpoint(eager=False)
                stored.append(viol)
            # idempotent (batch_id)-keyed commit: a replayed batch
            # OVERWRITES its own partition directory — at-least-once
            # foreachBatch delivery becomes exactly-once in the sink
            viol.observe(found, n).write.mode("overwrite").parquet(
                os.path.join(violations_out, f"batch_id={int(batch_id)}")
            )
            n_viol = _observed_rows(found, viol)
            n_rows = _observed_rows(seen, batch_df) if on_batch else None
            if quarantine_out:
                # route this batch's violating INPUT rows to the
                # quarantine table, (batch_id)-keyed for the same
                # idempotent replay. Per-batch scope: only violations
                # THIS batch's fused pass emitted quarantine rows — the
                # stateful leg's cross-batch findings land as violations
                # but cannot recall rows already passed through (the
                # nightly batch run is ground truth)
                from ocsf_validator_spark.violations import split_quarantine

                _, quarantined = split_quarantine(
                    batch_df, viol, threshold=q_threshold
                )
                quarantined.write.mode("overwrite").parquet(
                    os.path.join(quarantine_out, f"batch_id={int(batch_id)}")
                )
        finally:
            for frame in stored:
                release_checkpoint(frame)
        if manifest_dir:
            os.makedirs(manifest_dir, exist_ok=True)
            line = {
                "batch_id": int(batch_id),
                "n_violations": n_viol,
                "window_route": route,
                "suite_version": suite.version(),
                "wall_sec": round(time.time() - t0, 3),
                "finished_at": time.time(),
            }
            with open(
                os.path.join(manifest_dir, f"batch-{batch_id:012d}.json"), "w"
            ) as f:
                json.dump(line, f)
        if on_batch:
            on_batch(int(batch_id), n_rows, n_viol)

    writer = (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    queries = [writer.start()]
    if stateful_ordering:
        leg = stateful_ordering_violations(
            sdf,
            watermark=stateful_watermark,
            idle_timeout=stateful_idle_timeout,
        ).select(*CANONICAL_COLS)
        if drain_id is not None:
            leg = leg.withColumn("drain_id", F.lit(str(drain_id)))
        state_writer = (
            leg.writeStream.format("parquet")
            .option(
                "path",
                os.path.join(violations_out, f"batch_id={STATEFUL_BATCH_ID}"),
            )
            .option("checkpointLocation", checkpoint_dir.rstrip("/") + "_state")
            .outputMode("append")
        )
        if available_now:
            state_writer = state_writer.trigger(availableNow=True)
        queries.append(state_writer.start())
    if psi_ref is not None:
        drift = (
            streaming_psi(
                sdf,
                ref_hist=psi_ref,
                bin_expr=psi_bin_expr,
                watermark=psi_watermark,
                window=psi_window,
                threshold=psi_threshold,
                min_n=psi_min_n,
            )
            .filter(F.col("drifted"))
            .select(
                F.lit("drift.psi").alias("constraint_id"),
                F.lit(None).cast("string").alias("conv_id"),
                F.lit(None).cast("int").alias("turn_idx"),
                F.concat(
                    F.lit("window ["),
                    F.date_format("win_start", "yyyy-MM-dd HH:mm:ss"),
                    F.lit(", "),
                    F.date_format("win_end", "HH:mm:ss"),
                    F.lit("): psi="),
                    F.round("psi", 4).cast("string"),
                    F.lit(" over "),
                    F.col("n").cast("string"),
                    F.lit(" rows"),
                ).alias("reason"),
                F.lit(psi_severity).alias("severity"),
            )
        )
        if drain_id is not None:
            drift = drift.withColumn("drain_id", F.lit(str(drain_id)))
        drift_writer = (
            drift.writeStream.format("parquet")
            .option(
                "path",
                os.path.join(violations_out, f"batch_id={DRIFT_BATCH_ID}"),
            )
            .option("checkpointLocation", checkpoint_dir.rstrip("/") + "_drift")
            .outputMode("append")
        )
        if available_now:
            drift_writer = drift_writer.trigger(availableNow=True)
        queries.append(drift_writer.start())
    return queries[0] if len(queries) == 1 else tuple(queries)


def read_violations(spark: SparkSession, violations_out: str) -> DataFrame:
    """Read a streaming violations sink back in the CANONICAL batch
    schema. The (batch_id)-keyed layout adds an int ``batch_id``
    partition column (−1 = the cross-batch stateful leg, −2 = the
    windowed PSI drift leg); this selects the canonical violation
    columns so the result unions cleanly with the batch runner's flat
    append-mode parquet output."""
    return read_parquet(spark, violations_out).select(*CANONICAL_COLS)


def cross_batch_duplicates(
    sdf: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming uniqueness: keep only first-seen rows per key within
    the watermark horizon. Downstream subtraction (input minus output,
    per batch) yields the duplicate rows; state is bounded by the
    watermark so 10^12-turn streams don't accumulate unbounded keys."""
    return sdf.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stateful_ordering_violations(
    sdf: DataFrame,
    keys: tuple[str, str] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "1 hour",
    idle_timeout: str | None = "2 hours",
    precedence=None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: dense
    turn ordering + ts monotonicity ACROSS micro-batches. Per-group
    state carries (last_idx, last_ts_epoch_us), so a gap, duplicate, or
    ts regression that straddles batches is caught — the stateful
    complement to the per-batch window checks in validate_stream (the
    batch engine's fused_group_violations semantics, carried as state
    instead of a window frame).

    Output: (conv_id, turn_idx, constraint_id, reason, severity),
    append mode (violations are final facts).

    State lifetime: two scalars per conversation, EVICTED by an
    event-time timeout once the watermark passes the conversation's last
    event by ``idle_timeout`` — without eviction, a long-lived stream
    over churning conversations grows state monotonically (at 10^10
    conversations that is a state-store OOM; mirrors how
    cross_batch_duplicates bounds its dedup state by the watermark).
    Documented blind-spot contract, same as cross_batch_duplicates:
    rows later than ``watermark`` are dropped before the operator, and a
    conversation RESUMING after eviction is validated from fresh state
    (its first post-eviction row reports a turn_idx gap from 0 — a
    conservative over-report; the nightly batch run is ground truth).
    Size ``idle_timeout`` above the longest plausible conversation idle
    gap. ``idle_timeout=None`` restores unbounded NoTimeout state for
    bounded backfills where eviction is undesirable.

    ``precedence`` (optional spec.Precedence): carries the MINIMUM
    turn_idx of any prereq row seen so far per conversation, so a
    trigger turn fires iff no prereq ranks strictly below it in TURN
    order — exact full-run semantics even when batches arrive out of
    turn order (a late prereq at turn 0 arriving after the trigger at
    turn 1 was already reported follows the same
    violations-are-final-facts contract as the ordering legs: the
    conservative early report stands, nightly batch is ground truth).
    State adds one int; NULL never matches trigger or prereq. Equal
    turn_idx ties are compared strictly (an equal-idx prereq does not
    count — duplicate-idx rows are already Unique violations)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    part, idx = keys
    bounded = idle_timeout is not None
    horizon_ms = _interval_ms(idle_timeout) if bounded else 0
    NO_PRE = (1 << 62)  # sentinel: no prereq seen yet

    def check(key, pdfs, state: GroupState):
        import numpy as np

        if bounded and state.hasTimedOut:
            # idle past the horizon: drop the conversation's state (a
            # later resume re-validates from scratch — see docstring)
            state.remove()
            return
        if state.exists:
            if precedence is not None:
                last_idx, last_us, min_pre = state.get
                min_pre = NO_PRE if min_pre is None else min_pre
            else:
                last_idx, last_us = state.get
                min_pre = NO_PRE
        else:
            last_idx, last_us, min_pre = None, None, NO_PRE
        conv = key[0]
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([idx, ts_col]).reset_index(drop=True)
            t = pdf[idx].to_numpy(dtype="int64")
            # highest turn seen before each row: cummax lag within the
            # batch, FLOORED by the carry everywhere (not just row 0) —
            # otherwise a batch like [1,3] after carry 2 reports a false
            # gap at 3 and silently passes the re-delivered 1
            carry = last_idx if last_idx is not None else -1
            prev = np.empty_like(t)
            prev[1:] = np.maximum.accumulate(t)[:-1]
            prev[0] = carry
            prev = np.maximum(prev, carry)
            dup = (t == prev) & (prev >= 0)
            below = (t < prev) & (prev >= 0)
            gap = t > prev + 1
            # ts regression vs the running max (vectorized cummax with
            # the state carry as seed); NaT never regresses
            us = (
                pdf[ts_col].values.astype("datetime64[us]").astype("int64")
                if str(pdf[ts_col].dtype).startswith("datetime")
                else pdf[ts_col].to_numpy(dtype="int64")
            )
            valid = pdf[ts_col].notna().to_numpy()
            seed = last_us if last_us is not None else np.iinfo("int64").min
            run = np.maximum.accumulate(np.where(valid, us, seed))
            prev_max = np.empty_like(run)
            prev_max[1:] = run[:-1]
            prev_max[0] = seed
            prev_max = np.maximum(prev_max, seed)
            regressed = valid & (us < prev_max)
            for i in np.flatnonzero(dup):
                out.append((conv, int(t[i]), "order.turn_idx",
                            f"duplicate {idx} {t[i]}", "ERROR"))
            for i in np.flatnonzero(below):
                out.append((conv, int(t[i]), "order.turn_idx",
                            f"out-of-order {idx} {t[i]}: already past {prev[i]}",
                            "ERROR"))
            for i in np.flatnonzero(gap & ~dup):
                exp = prev[i] + 1 if prev[i] >= 0 else 0
                out.append((conv, int(t[i]), "order.turn_idx",
                            f"{idx} gap: expected {exp} got {t[i]}", "ERROR"))
            for i in np.flatnonzero(regressed):
                out.append((conv, int(t[i]), "monotonic.ts",
                            f"{ts_col} regressed", "ERROR"))
            if precedence is not None:
                pc = precedence
                ind = (
                    pdf[pc.column].isin(pc.prereq).fillna(False).to_numpy()
                )
                # min prereq turn_idx STRICTLY BEFORE each row: shifted
                # running min over the (idx, ts)-sorted batch, floored
                # by the carried cross-batch minimum
                pre_t = np.where(ind, t, NO_PRE)
                run_min = np.minimum.accumulate(pre_t)
                before = np.empty_like(run_min)
                before[1:] = run_min[:-1]
                before[0] = NO_PRE
                before = np.minimum(before, min_pre)
                trig = (pdf[pc.column] == pc.trigger).fillna(False).to_numpy()
                bad = trig & ~(before < t)
                reason = (
                    f"{pc.column} '{pc.trigger}' with no prior "
                    f"{'|'.join(pc.prereq)}"
                )
                for i in np.flatnonzero(bad):
                    out.append((conv, int(t[i]), pc.constraint_id,
                                reason, pc.severity.name))
                if ind.any():
                    min_pre = min(min_pre, int(pre_t.min()))
            bmax = int(t.max())
            last_idx = bmax if last_idx is None else max(last_idx, bmax)
            if valid.any():
                vmax = int(us[valid].max())
                last_us = vmax if last_us is None else max(last_us, vmax)
        if precedence is not None:
            state.update(
                (last_idx, last_us, None if min_pre == NO_PRE else min_pre)
            )
        else:
            state.update((last_idx, last_us))
        if bounded:
            # evict once the watermark passes the conversation's last
            # event (or the current watermark, for late-ish data) by the
            # idle horizon; must be strictly beyond the watermark
            wm = state.getCurrentWatermarkMs()
            last_ms = (last_us // 1000) if last_us is not None else 0
            state.setTimeoutTimestamp(max(wm, last_ms) + horizon_ms)
        if out:
            yield pd.DataFrame(
                out, columns=[part, idx, "constraint_id", "reason", "severity"]
            )

    src = sdf.withWatermark(ts_col, watermark) if bounded else sdf
    return src.groupBy(part).applyInPandasWithState(
        check,
        outputStructType=(
            f"{part} string, {idx} int, constraint_id string, "
            "reason string, severity string"
        ),
        stateStructType=(
            "last_idx int, last_us long, min_pre long"
            if precedence is not None
            else "last_idx int, last_us long"
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if bounded
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_psi(
    sdf: DataFrame,
    ref_hist: dict[int, int],
    bin_expr: str,
    watermark_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
    threshold: float = 0.2,
    eps: float = 1e-6,
    min_n: int = 0,
) -> DataFrame:
    """Per-event-time-window PSI of a binned value distribution vs a
    broadcast REFERENCE histogram — the streaming leg of the drift
    family (batch single-scan: drift.psi_split; partitioned:
    drift.psi_split_by_bucket). The formula differs from the batch
    paths in two ways:

    - both shares are floored at ``eps`` before the difference, so a
      bin's term is ``(max(p, eps) - max(q, eps)) * (ln max(p, eps) -
      ln max(q, eps))``; ``drift.psi_split`` floors only inside the
      log, so on a bin empty on one side the two differ by about
      ``eps * |ln(eps / q)|``;
    - a window's share ``p`` divides by its row count ``n``, which
      also counts rows whose bin is NULL; those rows land in no bin,
      so the window's shares sum to less than 1 when it holds any.

    Thresholds calibrated on the batch paths therefore carry over
    approximately, not exactly.

    ``min_n`` guards the small-sample false positive: a near-empty
    window (stream tail, quiet hour) with a couple of rare-bin rows
    can spike PSI far past any threshold. Windows with n < min_n still
    report their psi but are never marked drifted.

    ONE stateful aggregation: the reference bins are a bounded literal
    set, so per-bin counts are conditional sums inside the single
    windowed groupBy (a second groupBy(bin) level would be a chained
    stateful aggregation, which Structured Streaming restricts). Rows
    binning outside the reference lump into an "other" bin whose
    reference share is the eps floor. State = one row of per-bin longs
    per open window, bounded by the watermark.

    Returns (win_start, win_end, n, psi, drifted); append mode — a
    window's verdict is final once the watermark closes it."""
    bins = sorted(int(b) for b in ref_hist)
    rt = float(sum(ref_hist.values())) or 1.0
    ref_share = {b: max(ref_hist[b] / rt, eps) for b in bins}
    b_col = F.expr(bin_expr).cast("long")
    aggs = [
        F.sum(F.when(b_col == int(b), 1).otherwise(0)).alias(f"_c{b}")
        for b in bins
    ]
    aggs.append(
        F.sum(
            F.when(b_col.isin([int(b) for b in bins]) | b_col.isNull(), 0)
            .otherwise(1)
        ).alias("_c_other")
    )
    aggs.append(F.count(F.lit(1)).alias("n"))
    win = (
        sdf.withWatermark(watermark_col, watermark)
        .groupBy(F.window(F.col(watermark_col), window))
        .agg(*aggs)
    )
    n = F.col("n").cast("double")
    terms = []
    for b in bins:
        cur = F.greatest(F.col(f"_c{b}") / n, F.lit(eps))
        ref = F.lit(ref_share[b])
        terms.append((cur - ref) * (F.log(cur) - F.log(ref)))
    cur_o = F.greatest(F.col("_c_other") / n, F.lit(eps))
    terms.append((cur_o - F.lit(eps)) * (F.log(cur_o) - F.log(F.lit(eps))))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return win.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        F.col("n"),
        psi.alias("psi"),
        (
            (psi >= F.lit(threshold)) & (F.col("n") >= F.lit(int(min_n)))
        ).alias("drifted"),
    )


def streaming_turn_stats(
    sdf: DataFrame,
    watermark_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time windowed stats: the streaming analogue of
    the batch stats pass (late rows beyond the watermark are dropped
    from their window — the documented completeness/latency trade)."""
    return (
        sdf.withWatermark(watermark_col, watermark)
        .groupBy(F.window(F.col(watermark_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("role").isNull().cast("long")).alias("role_nulls"),
            F.sum(F.col("text").isNull().cast("long")).alias("text_nulls"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
            F.min("turn_idx").alias("min_idx"),
            F.max("turn_idx").alias("max_idx"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_turns",
            "role_nulls",
            "text_nulls",
            "approx_convs",
            "min_idx",
            "max_idx",
        )
    )


def streaming_emd(
    sdf: DataFrame,
    ref_hist: dict[int, int],
    bin_expr: str,
    watermark_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
    threshold: float = 1.0,
    min_n: int = 0,
) -> DataFrame:
    """Per-event-time-window EMD (Wasserstein-1, bin units) vs a
    broadcast reference histogram — the streaming leg of the magnitude
    drift gate (batch: drift.emd_split). Same single-stateful-agg shape
    as streaming_psi: per-bin conditional counts inside ONE windowed
    groupBy; the EMD fold over the ordered reference bins is pure
    column arithmetic over those counts with the reference cumulative
    counts baked as literals —

        EMD = sum_i |cum_c_i·N_r − cum_r_i·N_c| · gap_i / (N_c·N_r)

    (decimal(38,0) cross-products so corpus-scale windows cannot
    overflow, one division at the end). Rows binning outside the
    reference support are excluded from the EMD (EMD needs an ordered
    support; PSI's "other" lump has no position) but still count in
    ``n`` — pair with streaming_psi when out-of-support mass itself is
    the signal. ``min_n`` guards the small-sample false positive, as in
    streaming_psi. Returns (win_start, win_end, n, emd, drifted);
    append mode — final once the watermark closes the window."""
    bins = sorted(int(b) for b in ref_hist)
    if not bins:
        raise ValueError("streaming_emd: empty reference histogram")
    nr = sum(int(ref_hist[b]) for b in bins)
    cum_r = []
    acc = 0
    for b in bins:
        acc += int(ref_hist[b])
        cum_r.append(acc)
    b_col = F.expr(bin_expr).cast("long")
    aggs = [
        F.sum(F.when(b_col == int(b), 1).otherwise(0)).alias(f"_c{b}")
        for b in bins
    ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    win = (
        sdf.withWatermark(watermark_col, watermark)
        .groupBy(F.window(F.col(watermark_col), window))
        .agg(*aggs)
    )
    dec = "decimal(38,0)"
    nc = F.col(f"_c{bins[0]}").cast(dec)
    for b in bins[1:]:
        nc = nc + F.col(f"_c{b}").cast(dec)
    total = F.lit(0).cast(dec)
    cum_c = F.lit(0).cast(dec)
    for i, b in enumerate(bins[:-1]):
        cum_c = cum_c + F.col(f"_c{b}").cast(dec)
        gap = bins[i + 1] - b
        total = total + F.abs(
            cum_c * F.lit(nr).cast(dec)
            - F.lit(cum_r[i]).cast(dec) * nc
        ) * F.lit(gap).cast(dec)
    emd = F.when(
        nc > 0,
        total.cast("double") / (nc.cast("double") * F.lit(float(nr))),
    )
    # a window whose rows ALL bin outside the reference support is the
    # maximally-drifted window, not an unknown one: emd stays NULL
    # (undefined on an empty in-support sample) but drifted must be
    # TRUE, not NULL — a sink filtering on drifted = true would
    # otherwise silently drop the worst case
    drifted = F.when(
        nc > 0,
        (emd >= F.lit(threshold)) & (F.col("n") >= F.lit(int(min_n))),
    ).otherwise(F.col("n") >= F.lit(int(min_n)))
    return win.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        F.col("n"),
        emd.alias("emd"),
        drifted.alias("drifted"),
    )
