"""Structured Streaming validation — continuous ingest of transcript
turns with the same constraint suite.

The reference is batch-only (SURVEY.md §2.10); this module is the
north-star extension for validating an APPEND-ONLY transcript stream
(e.g. the Iceberg table's incoming commits) without re-scanning history:

- ``validate_stream``: readStream → foreachBatch. Every micro-batch is
  one call of the batch runner's per-unit step
  (``runner._validate_unit``), coverage off: it writes the violations
  and a per-batch manifest line. Restart
  resumes from the streaming checkpoint — exactly-once per micro-batch
  because the sink IS (batch_id)-keyed: each batch overwrites its own
  ``batch_id=<n>`` partition, so a replay after a failure between the
  write and the checkpoint commit rewrites the same partition instead
  of duplicating rows.

  Cost: a small micro-batch (files of at most ``spark.sql.files.
  openCostInBytes`` in all) is one Spark job, the sink write: the
  fused window runs in one scan task (``violations.window_route``); a
  larger batch adds the window's exchange. Its counts ride that write
  as observed metrics. The quarantine leg adds its own write, whose
  split runs in one task: two jobs a small batch, five on the
  exchange route.

  Scope note: by default the conversation-window checks see one
  micro-batch at a time, so they catch intra-batch duplicates/disorder
  only. ``stateful_ordering=True`` seeds each batch's fused window with
  the per-conversation boundary state the batches before it committed
  (``convstate``, the same carry ``runner --incremental`` uses), so
  defects that STRADDLE batches land in their own batch's partition.

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
import operator
import os
import time
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocsf_validator_spark import convstate
from ocsf_validator_spark.drift import emd_term, emd_value, psi_term
from ocsf_validator_spark.runner import _validate_unit
from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import ConstraintSet, Severity, transcript_suite

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

DRIFT_BATCH_ID = -2  # partition value of the windowed PSI drift leg


def manifest_file(manifest_dir: str, batch_id: int) -> str:
    """The path of micro-batch ``batch_id``'s manifest line."""
    return os.path.join(manifest_dir, f"batch-{int(batch_id):012d}.json")


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

    Each micro-batch is one call of the batch runner's per-unit step
    (``runner._validate_unit``: coverage off, the carry in, the sink at
    ``batch_id=<n>``, which it replaces), under its rules for what is
    stored, the quarantine split and what the write observes. A small
    micro-batch (``window_route`` ``"in_place"``) costs one job, the
    sink write, with or without ``manifest_dir`` and ``on_batch``: the
    window runs in the scan's task, the violation counts are observed
    on the write and the input row count rides it. On the exchange
    route the window's exchange adds a job, and the input count is
    observed on the input. ``quarantine_out`` reads the violations
    twice, so they are stored in a lazy local checkpoint the sink write
    fills, released when the batch ends: two jobs a one-task batch (the
    split runs in the quarantine write's task), five on the exchange
    route. A stored block lost before the split reads it fails the
    batch; the streaming checkpoint has not committed it, so the
    restarted query replays it.

    Each manifest line (``manifest_file``) carries ``window_route``,
    ``n_violations`` (the rows the sink write received) and
    ``n_failing`` (those at or above ``quarantine_threshold``): a
    micro-batch builds no per-bucket verdict, and ``runner --stream``
    reads its exit code from ``n_failing``.

    Sink layout: violations land under ``batch_id=<n>`` partition
    directories (idempotent replay), so reading ``violations_out``
    yields an extra int ``batch_id`` partition column. Use
    ``read_violations`` to get the canonical batch-runner schema back.

    ``stateful_ordering=True`` carries per-conversation boundary state
    across micro-batches as ``runner --incremental`` does across
    increments (``convstate``): each batch's fused pass is seeded with
    the state earlier batches committed, so an ordering, Unique,
    Monotonic, Precedence, OpeningRole or Alternation finding that
    STRADDLES batches lands once, in its own batch's partition, and
    reaches ``quarantine_out`` like any other; FD group state is carried
    too. Batch N reads the newest commit below N under
    ``checkpoint_dir/carry``, deletes older ones, and commits its own
    keyed by N, so a replay overwrites it as the sink's partition is. A
    suite holding a constraint the carry cannot serve (a window other
    than (conv_id, turn_idx), a Unique on other keys) raises
    ``ValueError`` before the query starts (``convstate.check_carried``).
    A carried batch takes the exchange route behind the carriers' semi
    join, and every batch's commit adds its boundary window, the state
    merge and the write: a one-file batch costs 3 jobs uncarried (in
    place), 7 carried. ``stateful_idle_timeout``
    (``<number> <unit>`` terms, millisecond to day, e.g. ``"1.5 hours"``;
    anything else raises ``ValueError`` before the query starts) drops,
    as a batch commits, conversations whose newest ``ts`` is older than
    the batch's newest ``ts`` minus the timeout; a resumed one is then
    validated from fresh state. None keeps all state.

    ``psi_ref`` + ``psi_bin_expr`` ALSO start the windowed drift leg
    (``streaming_psi`` vs the given reference histogram): event-time
    windows whose PSI crosses ``psi_threshold`` land in the same sink
    under ``batch_id=-2`` as ``drift.psi`` rows with NULL row keys —
    drift is a dataset-level finding, WARNING by default, so it
    surfaces in the report without failing the drain unless the caller
    raises ``psi_severity``. The leg is APPEND-only across drains;
    ``drain_id`` (when given) is stamped on its rows so a caller can
    scope a verdict to the rows THIS drain produced instead of
    re-counting earlier drains' findings.

    ``quarantine_out`` ALSO routes each micro-batch's violating INPUT
    rows (key named by a >= ``quarantine_threshold`` violation from
    THIS batch's fused pass) into ``quarantine_out/batch_id=<n>`` with
    the same idempotent overwrite-per-batch replay semantics as the
    violations sink. ``quarantine_threshold`` is also the threshold of
    the manifest's ``n_failing``.

    Returns the StreamingQuery, or ``(batch_query, drift_query)`` with
    the drift leg; with ``available_now`` the caller can
    ``awaitTermination()`` each for a drain-and-stop run (used by tests
    and backfills)."""
    if (psi_ref is None) != (psi_bin_expr is None):
        raise ValueError("psi_ref and psi_bin_expr must be given together")
    suite = suite or transcript_suite()
    if stateful_ordering:
        convstate.check_carried(suite)
    q_threshold = (
        Severity.ERROR if quarantine_threshold is None else quarantine_threshold
    )
    carry_dir = os.path.join(checkpoint_dir, "carry") if stateful_ordering else None
    idle_us = (
        convstate.idle_timeout_ms(stateful_idle_timeout) * 1000
        if carry_dir and stateful_idle_timeout is not None
        else None
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        spark = batch_df.sparkSession
        carry = fd_carry = None
        if carry_dir:
            # Spark runs batch N only after committing every batch
            # before it, so snapshots older than N's are superseded
            convstate.gc_state(carry_dir, below=batch_id)
            carry = convstate.read_state(spark, carry_dir, below=batch_id)
            fd_carry = convstate.read_fd_states(spark, carry_dir, below=batch_id)
        # the input rows on_batch reports, and the idle GC's horizon:
        # the batch's newest ts
        newest = idle_us is not None and convstate.carries_ts(batch_df)
        unit = _validate_unit(
            batch_df, suite, q_threshold, violations_out=violations_out,
            quarantine_out=quarantine_out, batch_id=batch_id, carry=carry,
            input_aggs=(
                ([F.count(F.lit(1)).alias("n")] if on_batch else [])
                + ([F.max(F.unix_micros(convstate.EVENT_TS)).alias("newest_us")]
                   if newest else [])
            ),
            include_coverage=False, fd_carry=fd_carry,
        )
        if carry_dir:
            newest_us = unit.inputs.get("newest_us")
            stale = None if newest_us is None else newest_us - idle_us
            convstate.publish(carry_dir, batch_id, *convstate.commit(
                batch_df, suite, carry_dir, batch_id, carry=carry,
                fd_carry=fd_carry, stale_before_us=stale,
            ))
        n_viol = int(unit.counts["n"])
        if manifest_dir:
            os.makedirs(manifest_dir, exist_ok=True)
            line = {
                "batch_id": int(batch_id),
                "n_violations": n_viol,
                "n_failing": int(unit.counts["n_failing"]),
                "window_route": unit.window_route,
                "suite_version": suite.version(),
                "wall_sec": round(time.time() - t0, 3),
                "finished_at": time.time(),
            }
            with open(manifest_file(manifest_dir, batch_id), "w") as f:
                json.dump(line, f)
        if on_batch:
            on_batch(int(batch_id), int(unit.inputs["n"]), n_viol)

    writer = (
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if psi_ref is None:
        return query
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
                F.coalesce(F.round("psi", 4).cast("string"), F.lit("NULL")),
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
    return query, drift_writer.start()


def read_violations(spark: SparkSession, violations_out: str) -> DataFrame:
    """Read a streaming violations sink back in the CANONICAL batch
    schema. The (batch_id)-keyed layout adds an int ``batch_id``
    partition column (−2 = the windowed PSI drift leg); this selects the canonical violation
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


def _binned_windows(
    sdf: DataFrame,
    bins: list[int],
    bin_expr: str,
    watermark_col: str,
    watermark: str,
    window: str,
    other: bool,
) -> DataFrame:
    """ONE stateful aggregation per event-time window: a conditional
    count ``_c<bin>`` per reference bin (the bins are a bounded literal
    set; a second groupBy(bin) level would be a chained stateful
    aggregation, which Structured Streaming restricts), with ``other``
    an ``_c_other`` count of the rows binning outside them, and ``n``,
    every row of the window. State = one row of per-bin longs per open
    window, bounded by the watermark."""
    b_col = F.expr(bin_expr).cast("long")
    aggs = [
        F.sum(F.when(b_col == b, 1).otherwise(0)).alias(f"_c{b}")
        for b in bins
    ]
    if other:
        aggs.append(
            F.sum(
                F.when(b_col.isin(bins) | b_col.isNull(), 0).otherwise(1)
            ).alias("_c_other")
        )
    aggs.append(F.count(F.lit(1)).alias("n"))
    return (
        sdf.withWatermark(watermark_col, watermark)
        .groupBy(F.window(F.col(watermark_col), window))
        .agg(*aggs)
    )


def _window_verdicts(
    win: DataFrame, metric: str, value: Column, threshold: float, min_n: int
) -> DataFrame:
    """(win_start, win_end, n, <metric>, drifted). A window whose metric
    is NULL (no row lands in a bin it can score) is drifted, as a
    bucket with an empty side is in drift.psi_split_by_bucket; a window
    with n < min_n never is."""
    return win.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        F.col("n"),
        value.alias(metric),
        (
            F.coalesce(value >= F.lit(threshold), F.lit(True))
            & (F.col("n") >= F.lit(int(min_n)))
        ).alias("drifted"),
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
    drift.psi_split_by_bucket), with the same term builder
    (``drift.psi_term``) and so the same formula: thresholds
    calibrated on the batch paths carry over.

    - Rows binning outside the reference lump into one "other" bin
      whose reference count is 0.
    - Rows whose bin is NULL land in no bin: the window's shares divide
      by its binned rows, as the batch paths drop NULL values. ``n``
      still counts every row of the window.
    - A window where every bin is NULL has psi NULL and is drifted
      (subject to ``min_n``).

    ``min_n`` guards the small-sample false positive: a near-empty
    window (stream tail, quiet hour) with a couple of rare-bin rows
    can spike PSI far past any threshold. Windows with n < min_n still
    report their psi but are never marked drifted.

    Returns (win_start, win_end, n, psi, drifted); append mode — a
    window's verdict is final once the watermark closes it."""
    bins = sorted(int(b) for b in ref_hist)
    win = _binned_windows(
        sdf, bins, bin_expr, watermark_col, watermark, window, other=True
    )
    cur = [F.col(f"_c{b}") for b in bins] + [F.col("_c_other")]
    ref = [int(ref_hist[b]) for b in bins] + [0]
    ct, rt = reduce(operator.add, cur), F.lit(sum(ref))
    psi = reduce(
        operator.add,
        [psi_term(c, F.lit(r), ct, rt, eps) for c, r in zip(cur, ref)],
    )
    return _window_verdicts(win, "psi", psi, threshold, min_n)


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
    as streaming_psi; the fold over the ordered reference bins is
    drift.emd_term / drift.emd_value over the per-bin counts with the
    reference cumulative counts baked as literals. Rows binning outside
    the reference support are excluded from the EMD (EMD needs an
    ordered support; PSI's "other" lump has no position) but still
    count in ``n`` — pair with streaming_psi when out-of-support mass
    itself is the signal. A window with no row in the support has emd
    NULL and is drifted, the maximally-drifted window rather than an
    unknown one. ``min_n`` guards the small-sample false positive, as
    in streaming_psi. Returns (win_start, win_end, n, emd, drifted);
    append mode — final once the watermark closes the window."""
    bins = sorted(int(b) for b in ref_hist)
    if not bins:
        raise ValueError("streaming_emd: empty reference histogram")
    win = _binned_windows(
        sdf, bins, bin_expr, watermark_col, watermark, window, other=False
    )
    cur = [F.col(f"_c{b}") for b in bins]
    nc = reduce(operator.add, cur)
    nr = F.lit(sum(int(ref_hist[b]) for b in bins))
    steps = []
    cum_c, cum_r = F.lit(0), 0
    for i, b in enumerate(bins[:-1]):
        cum_c, cum_r = cum_c + cur[i], cum_r + int(ref_hist[b])
        steps.append(
            emd_term(cum_c, F.lit(cum_r), nc, nr, F.lit(bins[i + 1] - b))
        )
    total = reduce(operator.add, steps, F.lit(0).cast("decimal(38,0)"))
    return _window_verdicts(
        win, "emd", emd_value(total, nc, nr), threshold, min_n
    )
