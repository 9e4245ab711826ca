"""Driver contract for the spark-graft builder (PySpark target).

Maps every operator family from SURVEY.md §2 (and the pipeline ops:
dedup / similarity / text analysis / multimodal) onto the driver's
parquet testdata, each with a DuckDB oracle. The flagship query runs the
full constraint suite of the ocsf_validator_spark engine over a
transcripts-shaped view of the `events` table (conv_id=user_id,
turn_idx=per-user row number, role=event_type, text=props).
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import empty_df, local_df


def _disable_dataframe_debugging() -> None:
    """Turn off PySpark's per-API-call call-site capture in this process
    (``spark.python.sql.dataFrameDebugging.enabled``). Each
    DataFrame/Column call otherwise walks the Python stack and makes two
    extra py4j round trips to record its origin — measured ~40% of the
    plan-CONSTRUCTION time of the fused suite (0.5 s -> 0.3 s per
    all_violations build). Pure driver-side tooling overhead: results,
    plans, and error semantics are unchanged (only the enriched
    call-site line in error messages is dropped). The flag is a static
    conf that a running session cannot change, and PySpark caches it
    module-globally on first use, so the capture is turned off through
    that cache.

    For the active session, also enables Arrow for pandas interchange
    (spark.sql.execution.arrow.pyspark.enabled): localframe.local_df
    routes literal frames through pandas + Arrow so scanning them never
    launches Python workers (see that module's measurements).

    Also raises spark.sql.optimizer.windowGroupLimitThreshold to the
    int maximum, as session.get_spark does, so every per-group top-k
    keeps its WindowGroupLimit Partial stage at any k."""
    import pyspark.errors.utils as _eu

    # a PySpark without the module-global cache leaves capture to the
    # session's conf (tests/test_driver_contract.py notices)
    if hasattr(_eu, "_enable_debugging_cache"):
        _eu._enable_debugging_cache = False
    s = SparkSession.getActiveSession()
    if s is not None:
        s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        s.conf.set(
            "spark.sql.optimizer.windowGroupLimitThreshold", "2147483647"
        )


_disable_dataframe_debugging()

from ocsf_validator_spark import drift
from ocsf_validator_spark.pipeline import (
    decontam,
    dedup,
    keywords,
    multimodal,
    select,
    similarity,
    temporal,
    textstats,
)
from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import (
    AllowedColumns,
    Alternation,
    Check,
    ConstraintSet,
    Deprecated,
    EnumCoverage,
    InEnum,
    MaxLen,
    MetricBound,
    Monotonic,
    NotNull,
    OpeningRole,
    Precedence,
    Range,
    Severity,
    TurnOrdering,
    Unique,
)
from ocsf_validator_spark.stats import (
    column_stats,
    column_topk_values,
    conversation_stats,
    length_histogram,
    md5_bucket_col,
)
from ocsf_validator_spark.verdict import verdicts
from ocsf_validator_spark.violations import (
    all_violations,
    fold_observations,
    observation_aggs,
)

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared: transcripts-shaped view of the events table
# ---------------------------------------------------------------------------

EVENT_ROLES = ("click", "view", "purchase", "signup")


# reader-plan memo: every `spark.read.parquet` call runs a 1-task
# schema-inference job, and each declared query's construction pays 1-3
# of them per execution. The memo holds the immutable LOGICAL plan only
# — execution still scans the parquet files from disk every run (no
# result or data caching; schema is metadata the session would cache
# anyway if its shared FileIndex were hit). Keyed weakly by session: a
# `newSession()` sibling shares its parent's applicationId but gets
# frames bound to itself, and an entry lives no longer than its
# session object. Values are the JVM plans: a DataFrame would hold its
# session and keep its own key alive.
_T_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    plans = _T_CACHE.setdefault(spark, {})
    jdf = plans.get((sf_dir, name))
    if jdf is None:
        jdf = read_parquet(spark, f"{sf_dir}/{name}.parquet")._jdf
        plans[(sf_dir, name)] = jdf
    return DataFrame(jdf, spark)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the turn window is partitioned by conv_id, not user_id: the same
    # groups (the cast is injective), and the suite's conversation
    # window then reuses this window's exchange instead of shuffling
    # again
    ev = _t(spark, sf_dir, "events").withColumn(
        "conv_id", F.col("user_id").cast("string")
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return ev.select(
        "conv_id",
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )


# the same view in ANSI SQL for the DuckDB oracle
_T_CTE = """t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         event_type AS role, props AS text, CAST(NULL AS VARCHAR) AS tool, ts
  FROM events
)"""


def _events_suite() -> ConstraintSet:
    """Suite exercising every constraint class over the derived
    transcripts: 'error' is outside the role enum, 'signup' is
    deprecated, props longer than 9 chars violate max_len, 'refund' is a
    never-observed enum value (coverage WARN)."""
    return ConstraintSet(
        name="events_transcripts",
        constraints=[
            AllowedColumns(
                column="*",
                allowed=("conv_id", "turn_idx", "role", "text", "tool", "ts"),
                required=("conv_id", "turn_idx", "role", "text", "ts"),
                severity=Severity.FATAL,
            ),
            NotNull(column="conv_id"),
            NotNull(column="turn_idx"),
            NotNull(column="role"),
            NotNull(column="text"),
            NotNull(column="ts"),
            InEnum(column="role", values=EVENT_ROLES),
            Deprecated(
                column="role",
                deprecated={"signup": ("1.0", "use registration instead")},
            ),
            MaxLen(column="text", max_len=9),
            Range(column="turn_idx", lo=0),
            Unique(
                column="conv_turn",
                keys=("conv_id", "turn_idx"),
                first_seen_order=("ts", "role", "text"),
            ),
            TurnOrdering(column="turn_idx"),
            Monotonic(column="ts"),
            EnumCoverage(column="role", values=EVENT_ROLES + ("refund",)),
        ],
    )


# portable md5 bucket in SQL (mirror of stats.md5_bucket_col)
def _sql_bucket(col: str, nb: int) -> str:
    return f"CAST((('0x' || substr(md5({col}), 1, 8))::BIGINT % {nb}) AS INTEGER)"


_SQL_MD5I = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_suite_violations(spark: SparkSession, sf: str) -> DataFrame:
    return all_violations(_transcripts(spark, sf), _events_suite())


def q_worst_conversations(spark: SparkSession, sf: str) -> DataFrame:
    """Triage report (violations.top_offending_groups): the 20
    conversations with the most suite violations, with how many
    distinct constraints each trips — runs over the defect-proportional
    violations frame, one partial-agg exchange + TakeOrderedAndProject."""
    from ocsf_validator_spark.violations import top_offending_groups

    v = all_violations(_transcripts(spark, sf), _events_suite())
    return top_offending_groups(v, "conv_id", k=20)


def q_precedence_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-structure check (spec.Precedence): a 'purchase' turn
    requires a prior 'view'/'click' in the same conversation — the
    funnel-integrity analogue of tool-call/result pairing. Evaluated
    through all_violations so the running prereq-count rides the fused
    single-scan window pass (1 Exchange, plan-pinned in tests)."""
    suite = ConstraintSet(
        name="structure",
        constraints=[
            Precedence(
                column="role", trigger="purchase", prereq=("view", "click")
            )
        ],
    )
    return all_violations(
        _transcripts(spark, sf), suite, include_coverage=False
    )


def q_opening_role_events(spark: SparkSession, sf: str) -> DataFrame:
    """Conversation-opening check (spec.OpeningRole): the first turn of
    each conversation must be view/click/signup — a transcript opening
    with 'purchase' or 'error' was truncated upstream. row_number()==1
    leg on the same fused conversation window."""
    suite = ConstraintSet(
        name="structure",
        constraints=[
            OpeningRole(column="role", allowed=("view", "click", "signup"))
        ],
    )
    return all_violations(
        _transcripts(spark, sf), suite, include_coverage=False
    )


def q_alternation_roles(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-repeat check (spec.Alternation): a turn must not
    repeat the preceding turn's role when the repeat is in scope — the
    transcript-shape invariant behind user/assistant alternation (two
    assistant turns in a row mean a dropped user turn), scoped here to
    view/purchase so a double purchase with no intervening browse is
    flagged. One more lag() on the fused single-scan conversation
    window (1 Exchange, plan-pinned in tests); the conversation's last
    value carries across --incremental runs."""
    suite = ConstraintSet(
        name="structure",
        constraints=[
            Alternation(column="role", scope=("view", "purchase"))
        ],
    )
    return all_violations(
        _transcripts(spark, sf), suite, include_coverage=False
    )


def q_check_rows_events(spark: SparkSession, sf: str) -> DataFrame:
    """Generic SQL-predicate constraint (spec.Check — the Deequ
    `satisfies` / SQL table-CHECK analogue): a cross-column invariant
    the single-column kinds can't express, compiled into the same
    fused single-scan row projection as every other row leg. SQL CHECK
    semantics: NULL operands pass (NotNull owns missing values)."""
    suite = ConstraintSet(
        name="check",
        constraints=[
            Check(
                column="text",
                predicate="NOT (role = 'view' AND length(text) > 8)",
            )
        ],
    )
    return all_violations(
        _transcripts(spark, sf), suite, include_coverage=False
    )


def q_metric_bounds_events(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-level metric thresholds (spec.MetricBound — the
    Deequ/Great-Expectations expectation shape): whole-table statistics
    bounded per column, ALL sharing one narrow aggregation job. Bounds
    here are chosen so three fire at sf0.01 (min turn_idx below 1,
    distinct conversations above 100, row count above 5000) and the
    null-rate guard passes — findings are dataset rows with NULL keys,
    and every reason is integer arithmetic (bit-deterministic at any
    parallelism, SQL-replayable)."""
    suite = ConstraintSet(
        name="metrics",
        constraints=[
            MetricBound(column="turn_idx", metric="min", lo=1),
            MetricBound(column="turn_idx", metric="max", hi=50),
            MetricBound(column="conv_id", metric="distinct_count", hi=100),
            MetricBound(column="role", metric="null_rate", hi=0.0005),
            MetricBound(column="text", metric="row_count", lo=1, hi=5000),
        ],
    )
    return all_violations(_transcripts(spark, sf), suite)


def q_volume_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Volume anomaly gate (drift.volume_anomaly): per-day row counts
    of events flagged against median ± 3·MAD of the day-count series —
    the missed-ingest/duplicated-load monitor the distribution checks
    can't see. One partial-agg exchange; fences are exact order
    statistics of integer counts, replayed by the DuckDB rank
    formula."""
    ev = _t(spark, sf, "events")
    return drift.volume_anomaly(ev, ts_col="ts", granularity="day", k=3)


def q_column_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent-values profile (stats.column_topk_values): top-5 values
    per column over the derived transcripts' role (enum-like) and text
    (high-cardinality) columns — the Deequ Histogram / mode-collapse
    surface. Counts ride a (col, 60-bit md5-prefix hash) exchange;
    winner strings come back via a broadcast bounded second pass."""
    t = _transcripts(spark, sf)
    return column_topk_values(t, ["role", "text"], k=5).orderBy(
        "col", "rank"
    )


def q_unicode_sanity(spark: SparkSession, sf: str) -> DataFrame:
    """Mojibake/encoding-damage profile (textstats.unicode_sanity_cols):
    control chars, U+FFFD replacement chars, zero-width chars, and the
    non-ASCII fraction per document — scan-speed column algebra over
    fixed character classes, replayed by the same regexes in DuckDB."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", *textstats.unicode_sanity_cols("text")
    ).orderBy("doc_id")


def q_group_metric(spark: SparkSession, sf: str) -> DataFrame:
    """GroupMetricBound constraint kind (violations._gm_leg): the
    MetricBound vocabulary stratified — distinct languages per source
    bounded at 4; sources above emit one defect-proportional finding
    each (a whole-table bound would hide the broken stratum inside the
    average). One partial-agg exchange on the group key."""
    from ocsf_validator_spark.spec import GroupMetricBound
    from ocsf_validator_spark.violations import fd_violations

    d = _t(spark, sf, "documents")
    suite = ConstraintSet(
        name="gm",
        constraints=[
            GroupMetricBound(
                column="lang", by=("source",),
                metric="distinct_count", hi=4,
            )
        ],
    )
    return fd_violations(d, suite, keys=("doc_id",)).orderBy("reason")


def q_fd_documents(spark: SparkSession, sf: str) -> DataFrame:
    """FunctionalDependency constraint kind (violations.fd_violations):
    ``source -> lang`` over the documents table — the
    metadata-consistency check no row predicate can express (a source
    must be single-language; rows differing from the group's canonical
    minimum non-null value violate, NULL counting as a value). One
    partial-agg exchange on the determinant + a defect-proportional
    null-safe join-back; reasons use the TIE_DISPLAY_LEN-capped
    display, replayed verbatim by the DuckDB oracle."""
    from ocsf_validator_spark.spec import FunctionalDependency
    from ocsf_validator_spark.violations import fd_violations

    d = _t(spark, sf, "documents")
    suite = ConstraintSet(
        name="docfd",
        constraints=[
            FunctionalDependency(column="lang", determinants=("source",))
        ],
    )
    return fd_violations(d, suite, keys=("doc_id",)).orderBy("doc_id")


def q_quantile_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """QuantileBound constraint kind: exact-order-statistic thresholds
    as dataset findings (Deequ hasQuantile made exact) — p99 of
    turn_idx bounded above 0.5 (fires: some conversation has a second
    turn) and the median bounded below 0 (passes). Observed values
    render %.6f so the DuckDB rank-formula replay prints the identical
    reason."""
    from ocsf_validator_spark.spec import QuantileBound

    suite = ConstraintSet(
        name="quantiles",
        constraints=[
            QuantileBound(column="turn_idx", q=0.99, hi=0.5),
            QuantileBound(column="turn_idx", q=0.5, lo=0),
        ],
    )
    return all_violations(_transcripts(spark, sf), suite)


def q_closing_role(spark: SparkSession, sf: str) -> DataFrame:
    """ClosingRole constraint kind (violations._closing_leg): each
    conversation's LAST turn must be a funnel-final event — the
    truncation / dangling-state mirror of OpeningRole, evaluated as its
    own partial-agg max-struct leg (never perturbing the fused window
    plan)."""
    from ocsf_validator_spark.spec import ClosingRole
    from ocsf_validator_spark.violations import fd_violations

    suite = ConstraintSet(
        name="closing",
        constraints=[ClosingRole(column="role", allowed=("purchase", "view"))],
    )
    return fd_violations(_transcripts(spark, sf), suite).orderBy("conv_id")


def q_volume_gate(spark: SparkSession, sf: str) -> DataFrame:
    """VolumeGate constraint kind: the volume anomaly monitor folded
    into the suite — per-day buckets of the transcripts' ts outside
    median ± 1·MAD of the day-count series land as WARNING dataset
    findings (k=1 here so the synthetic series flags; production uses
    the default k=3)."""
    from ocsf_validator_spark.spec import VolumeGate

    suite = ConstraintSet(
        name="volume",
        constraints=[VolumeGate(column="ts", granularity="day", k=1)],
    )
    return all_violations(_transcripts(spark, sf), suite).orderBy("reason")


def q_drift_gate(spark: SparkSession, sf: str) -> DataFrame:
    """DriftGate constraint kind: drift vs a RECORDED baseline
    histogram as a suite constraint. The EMD gate fires (the literal
    baseline puts all mass at bin 100, far from the data); the PSI gate
    passes (threshold 50 exceeds PSI's eps-floored maximum) — both
    decisions engine-robust. Findings are dataset rows with NULL
    keys."""
    from ocsf_validator_spark.spec import DriftGate
    from ocsf_validator_spark.violations import dataset_findings

    ev = _t(spark, sf, "events")
    suite = ConstraintSet(
        name="drift",
        constraints=[
            DriftGate(
                column="value",
                bin_expr="floor(_v / 10)",
                baseline={"100": 1},
                metric="emd",
                threshold=5.0,
            ),
            DriftGate(
                column="value",
                bin_expr="floor(_v / 10)",
                baseline={"0": 1},
                metric="psi",
                threshold=50.0,
                id_override="drift.psi.value.pass",
            ),
        ],
    )
    return dataset_findings(ev, suite, keys=("event_id",))


def q_ann_topk_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-quantized ANN top-k (similarity.ann_topk_int8): per-vector
    symmetric max-abs quantization with explicit half-up rounding, an
    exact INTEGER dot product, and a fixed-order float rescale — the
    4x-smaller-table scale path whose scoring is bit-deterministic and
    engine-replayable. Probe = vec_id 0, quantized driver-side with the
    identical formula."""
    emb = _t(spark, sf, "embeddings")
    probe = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    top = similarity.ann_topk_int8(
        emb.filter(F.col("vec_id") != 0), probe, k=10
    )
    return top.select("vec_id", F.round("score_q", 5).alias("score_q"))


def q_quality_logit(spark: SparkSession, sf: str) -> DataFrame:
    """Linear quality-filter inference (textstats.quality_logit_cols):
    the fastText/CCNet classifier step with frozen literal weights —
    logit = w.f + b over four exact-ratio features, keep = logit > 0.
    One scan of pure column algebra; no sigmoid (monotone, and exp is
    the one libm op that could diverge across engines). The sort runs
    BELOW the feature projection (range-partition sampling re-executes
    the sort's child, so sorting the raw (id, text) rows keeps the
    logit tree out of the sampling pass), and the logit is staged once
    for both output columns (quality_logit_select) — same values."""
    d = _t(spark, sf, "documents")
    return textstats.quality_logit_select(
        d.select("doc_id", "text").orderBy("doc_id"), "text", ("doc_id",)
    )


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): chars/token and
    bytes/token under both tokenizations (whitespace + regex
    pre-tokenizer) — the screen run before committing a corpus mix to
    a tokenizer budget. One partial-agg scan; every ratio divides
    exact longs."""
    return textstats.tokenizer_fertility(
        _t(spark, sf, "documents")
    ).orderBy("lang", "source")


def q_bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token stats under a LEARNED BPE vocabulary (pipeline/bpe.py:
    distributed Sennrich-style merge learning over the word-frequency
    table — the corpus is scanned once however many merges are
    learned; pytest pins it equal to a pure-Python reference). The 16
    frozen merges (pipeline/bpe_frozen.py, tools/freeze_bpe.py) apply
    as a chain of boundary-guarded string replaces — replace's
    non-overlapping left-to-right substitution IS BPE's overlap rule
    and is builtin-identical in Spark and DuckDB, so per-source token
    totals replay exactly."""
    from ocsf_validator_spark.pipeline import bpe
    from ocsf_validator_spark.pipeline.bpe_frozen import BPE_MERGES

    return bpe.bpe_token_stats(
        _t(spark, sf, "documents"), BPE_MERGES
    ).orderBy("source")


def q_mix_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mixing to target weights (select.mix_to_weights — the
    Pile/ROOTS rebalancing shape): sample sources src0/src1/src2 toward
    a 3:1:1 token mix under a 6,000-token budget. Keep rates are exact
    rationals applied as big-integer md5 thresholds — no float in the
    keep decision, bit-identical at any parallelism, HUGEINT-replayable
    in DuckDB. One agg scan + one map-side filter."""
    return (
        select.mix_to_weights(
            _t(spark, sf, "documents"),
            weights={"src0": 3, "src1": 1, "src2": 1},
            budget_tokens=6000,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_conv_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Conversation-level exact dedup (render.conv_dedup): duplicate
    whole conversations under different ids, keyed on the rendered
    content md5 — group size + deterministic lexicographic-min keep
    flag per conversation. Injected duplicates: two synthetic clones of
    existing conversations unioned in, so the dedup has real work at
    every sf."""
    from ocsf_validator_spark.pipeline.render import conv_dedup

    t = _transcripts(spark, sf)
    # clone two conversations under new ids (pure column algebra —
    # deterministic, engine-replayable)
    clones = t.filter(F.col("conv_id").isin("7", "23")).select(
        F.concat(F.lit("clone_"), F.col("conv_id")).alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    )
    return conv_dedup(t.unionByName(clones)).orderBy("conv_id")


def q_label_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Label-balance audit on the labeled embedding table: per-label
    count, exact share, global majority/minority imbalance ratio — the
    screen run before labels feed a classifier head. One partial-agg
    scan; the window runs over the tiny label table, never the data."""
    return similarity.label_balance(
        _t(spark, sf, "embeddings")
    ).orderBy("label")


def q_quarantine_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Quarantine routing (violations.split_quarantine): the INPUT rows
    whose (conv_id, turn_idx) key is named by >= 1 ERROR/FATAL
    violation — the production topology where bad records land in a
    side table for repair instead of failing a 100 TB ingest. The
    defect-proportional key set is distinct()-ed before the semi join,
    so AQE broadcasts it past healthy data. Oracle = the proven
    suite_violations legs wrapped as a key CTE + semi join."""
    t = _transcripts(spark, sf)
    viol = all_violations(t, _events_suite())
    from ocsf_validator_spark.violations import split_quarantine

    _, quarantined = split_quarantine(t, viol)
    return quarantined.select("conv_id", "turn_idx", "role", "text")


def q_group_violations_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """The skew route (ordered.py: every conversation split into
    turn_idx chunks of the fused window, each seeded by a carrier row)
    on a defect-rich transcripts view of lineitem: turn_idx =
    l_linenumber % 3 injects
    deterministic duplicate keys AND gaps; shipdate disorder across turn
    buckets injects monotonicity violations."""
    from ocsf_validator_spark.ordered import scalable_group_violations

    li = _t(spark, sf, "lineitem")
    t = li.select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        (F.col("l_linenumber") % 3).cast("int").alias("turn_idx"),
        F.col("l_returnflag").alias("role"),
        F.col("l_linestatus").alias("text"),
        F.col("l_shipdate").alias("ts"),
    )
    cs = [
        Unique(
            column="conv_turn",
            keys=("conv_id", "turn_idx"),
            first_seen_order=("ts", "role", "text"),
        ),
        TurnOrdering(column="turn_idx"),
        Monotonic(column="ts"),
    ]
    return scalable_group_violations(t, cs, ["ts", "role", "text"])


def q_suite_verdicts(
    spark: SparkSession, sf: str, violations: DataFrame | None = None
) -> DataFrame:
    """``violations``: optionally reuse a precomputed violations frame
    (the production runner computes violations ONCE and threads them
    into the verdict pass — bench.py mirrors that by caching
    q_suite_violations; the driver's 2-arg call recomputes, keeping the
    oracle contract self-contained)."""
    t = _transcripts(spark, sf)
    suite = _events_suite()
    v = violations if violations is not None else all_violations(t, suite)
    # observed buckets stay LAZY (verdicts' default grid): column
    # pruning drops the transcript view's row_number window from that
    # branch — verified plan: a pure user_id FileScan + two-level
    # distinct — so the buckets frame rides the caller's job instead
    # of costing a separate collect job per build
    return verdicts(
        t,
        v,
        suite,
        num_buckets=8,
        bucket_expr=md5_bucket_col("conv_id", 8),
    )


def q_verdict_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Run-over-run verdict regression report (verdict.verdict_diff):
    the scorecard of the even-conversation half (yesterday's snapshot)
    diffed against the full table (today's) — emits only regressed /
    fixed / new_fail / gone_fail / still_failing / count_changed rows,
    change-proportional at any scale.

    Both runs take their observed buckets and dataset-level
    observations (violations.observation_aggs) from ONE collect of a
    per-(bucket, half) aggregate, folded per run with
    violations.fold_observations: the even run folds its half's rows,
    the full run every row. A row whose parity is NULL (uncastable
    conv_id) falls only into the full run, as the half's filter drops
    it."""
    suite = _events_suite()
    t = _transcripts(spark, sf)
    even = "CAST(conv_id AS BIGINT) % 2 = 0"
    stats = (
        t.groupBy(
            md5_bucket_col("conv_id", 8).alias("bucket"),
            F.coalesce(F.expr(even), F.lit(False)).alias("_half"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[agg.alias(a) for a, (agg, _) in observation_aggs(suite, t).items()],
        )
        .collect()
    )

    def _vd(pred: str | None) -> DataFrame:
        tt = t.filter(pred) if pred else t
        rows = [r for r in stats if r["_half"] or not pred]
        observed_enums, observed_metrics = fold_observations(suite, tt, rows)
        return verdicts(
            tt,
            all_violations(
                tt,
                suite,
                observed_enums=observed_enums,
                observed_metrics=observed_metrics,
            ),
            suite,
            num_buckets=8,
            bucket_expr=md5_bucket_col("conv_id", 8),
            observed_buckets=sorted({int(r["bucket"]) for r in rows}),
        )

    from ocsf_validator_spark.verdict import verdict_diff

    before = _vd(even)
    after = _vd(None)
    return verdict_diff(before, after).orderBy(
        "bucket", "constraint_id", "status"
    )


def q_conversation_stats(spark: SparkSession, sf: str) -> DataFrame:
    return conversation_stats(_transcripts(spark, sf))


def q_mad_outliers_value(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median ± 3·MAD) outlier screen on events.value — the
    data-derived Range constraint: exact fences from the histogram-
    narrowed order statistics, no global sort."""
    from ocsf_validator_spark.pipeline.quantiles import mad_outliers

    return mad_outliers(
        _t(spark, sf, "events"), "value", id_cols=("event_id",), k=3
    )


def q_weighted_sample_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum weighted sampling: 10 docs per language drawn
    proportional to n_chars (md5-derived ES keys; a row_number <= 10
    window planned as WindowGroupLimit Partial/Final, so no hot
    language funnels through one reducer)."""
    from ocsf_validator_spark.pipeline.select import weighted_sample_per_group

    return weighted_sample_per_group(
        _t(spark, sf, "documents"), "lang", "n_chars", 10, id_col="doc_id"
    )


def q_pii_scrub_docs(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact over documents. The corpus text is synthetic
    word salad, so deterministic PII (email/IP/phone derived from
    doc_id) is injected first — the oracle replays the same injection —
    making the redaction path really fire on driver data."""
    from ocsf_validator_spark.pipeline.scrub import pii_scrub

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" call +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    return pii_scrub(injected)


def q_weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis, md5-derived draws): 50 documents drawn proportional to
    n_chars — one scan + TakeOrderedAndProject, no shuffle."""
    from ocsf_validator_spark.pipeline.select import weighted_sample_topk

    return weighted_sample_topk(
        _t(spark, sf, "documents"), "n_chars", 50, id_col="doc_id"
    )


def q_mad_outliers_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum robust (median ± 3·MAD within each event_type)
    outlier screen — each type has its own scale, so the fences are
    per-group; flag pass is broadcast-join + filter, big side never
    shuffles."""
    from ocsf_validator_spark.pipeline.quantiles import group_mad_outliers

    return group_mad_outliers(
        _t(spark, sf, "events"), "event_type", "value",
        id_cols=("event_id",), k=3,
    )


def q_role_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Role→next-role transition matrix over the transcripts view —
    one conv_id-keyed window exchange + a tiny-key partial-agg
    groupBy; fraction via a broadcast 1-row total."""
    from ocsf_validator_spark.stats import role_transitions

    return role_transitions(_transcripts(spark, sf))


def q_embedding_health(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding-table QA: exact decimal-sum means,
    finite min/max, non-finite counts — one posexplode + partial-agg
    groupBy(dim), exchange carries dims x partitions fixed rows."""
    from ocsf_validator_spark.pipeline.similarity import embedding_health

    return embedding_health(_t(spark, sf, "embeddings"))


def q_latency_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Turn-latency percentiles per role transition (agent SLO
    analytics): lag(ts) deltas in integer MICROseconds over the
    conv_id turn order (unix_micros after an NTZ->timestamp cast —
    exact under the session's pinned UTC, replayed by DuckDB
    epoch_us; whole-second unix_timestamp would truncate the
    sub-second part DuckDB keeps), then the exact histogram-narrowed
    per-group quantiles — one window exchange + bounded-driver-state
    quantiles, no global sort."""
    from ocsf_validator_spark.pipeline.quantiles import exact_group_quantiles

    t = _transcripts(spark, sf)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = t.select(
        F.concat_ws(">", F.lag("role").over(w), F.col("role")).alias(
            "transition"
        ),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
        ).cast("double").alias("latency_us"),
        F.lag("turn_idx").over(w).alias("_pt"),
    ).filter(F.col("_pt").isNotNull())
    return exact_group_quantiles(
        d, "transition", "latency_us", qs=(0.5, 0.9, 0.99)
    )


def q_render_conversations(spark: SparkSession, sf: str) -> DataFrame:
    """SFT-export render over the transcripts view: one ordered
    training-text document per conversation plus the token count /
    content key the packing + dedup stages consume."""
    from ocsf_validator_spark.pipeline.render import render_conversations

    return render_conversations(_transcripts(spark, sf))


def q_column_stats_documents(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    s = column_stats(
        d,
        columns=["doc_id", "text", "lang", "source", "n_chars"],
        conv_col="lang",
        num_buckets=1,
        length_cols=("text",),
        exact_distinct=True,
    )
    keep = [c for c in s.columns if c != "text__len_avg"]
    return s.select(*keep, F.round("text__len_avg", 6).alias("text__len_avg"))


def q_ref_orphan_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    ).select("o_orderkey", "o_custkey")


def q_coverage_unused_customers(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_undefined_enum_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return ev.filter(
        F.col("event_type").isNotNull() & ~F.col("event_type").isin(*EVENT_ROLES)
    ).select("event_id", "event_type")


def q_unique_collisions_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def q_typecheck_props(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id",
        k.try_cast("int").alias("k_int"),
        (k.isNotNull() & k.try_cast("int").isNull()).alias("cast_failed"),
    )


def q_monotonic_value_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = ev.select(
        "event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )
    return staged.filter(
        F.col("prev_value").isNotNull() & (F.col("value") < F.col("prev_value"))
    )


def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    staged = ev.withColumn(
        "_new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    )
    sess = staged.withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_conv_boundary_state(spark: SparkSession, sf: str) -> DataFrame:
    """The cross-increment carry operator (convstate.boundary_state,
    round 5): per-conversation boundary summaries — last index in
    window order, that row's monotonic value, the boundary key's
    occurrence count and first-seen tie string — exactly what an
    incremental run persists to seed the next increment's checks.
    Keyed on (user_id, minute-bucket) so boundary groups are real
    multi-row groups, not the trivial dense-index singleton."""
    from ocsf_validator_spark.convstate import (
        CARRY_COUNT,
        CARRY_FIRST,
        CARRY_PREV_IDX,
        boundary_state,
        carry_mono_col,
    )
    from ocsf_validator_spark.spec import Monotonic, Unique

    ev = _t(spark, sf, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 60).cast("bigint").alias("min_idx"),
        "event_type",
        "event_id",
        "value",
    )
    cs = [
        Unique(
            column="user_min",
            keys=("user_id", "min_idx"),
            first_seen_order=("event_type", "event_id"),
        ),
        Monotonic(column="value", partition_by="user_id", order_by="min_idx"),
    ]
    out = boundary_state(
        ev, cs, ties=["event_type", "event_id"], keys=("user_id", "min_idx")
    )
    return out.select(
        "user_id",
        F.col(CARRY_PREV_IDX).alias("last_idx"),
        F.col(carry_mono_col("value")).alias("last_value"),
        F.col(CARRY_COUNT).alias("tail_count"),
        F.col(CARRY_FIRST).alias("tail_first"),
    )


def q_length_histogram_documents(spark: SparkSession, sf: str) -> DataFrame:
    return length_histogram(_t(spark, sf, "documents"), "text", 64)


def q_psi_value_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Even/odd event split — both sides are slices of ONE table, so
    psi_split builds both histograms from a single scan (one job)."""
    ev = _t(spark, sf, "events")
    val = drift.psi_split(ev, "event_id % 2 = 0", "value", "floor(_v / 10)")
    return local_df(spark, [(round(val, 4),)], "psi double")


def q_emd_value_drift(spark: SparkSession, sf: str) -> DataFrame:
    """EMD (Wasserstein-1, bin units) on the same even/odd value split
    as psi_value_drift — the drift triad's magnitude member: PSI is
    unordered, KS is the max CDF gap, EMD integrates the ordered CDF
    gap. Exact big-int arithmetic until one cast-then-divide, matched
    by the DuckDB HUGEINT replay."""
    ev = _t(spark, sf, "events")
    val = drift.emd_split(ev, "event_id % 2 = 0", "value", "floor(_v / 10)")
    return local_df(spark, [(round(val, 6),)], "emd double")


def q_increment_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Increment-vs-corpus drift gate: PSI of the text-length
    distribution between today's increment (odd ids) and the ingested
    corpus (doc_id % 4 != 3) — the check an incremental validation run
    applies before trusting an append (a crawler regression that
    truncates documents shows here before any per-row constraint
    fires). psi_split: both histograms from ONE scan; the overlap
    (% 4 == 1) legitimately counts on both sides."""
    d = _t(spark, sf, "documents")
    val = drift.psi_split(
        d,
        "doc_id % 2 = 1",
        "length(text)",
        "floor(_v / 50)",
        ref_pred="doc_id % 4 != 3",
    )
    return local_df(spark, [(round(val, 4),)], "psi double")


def q_psi_by_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Per-bucket PSI (the partitioned drift path): even/odd event split
    inside each md5(user_id) bucket, one scan, portable bucket+bin math
    so DuckDB replays it exactly."""
    ev = _t(spark, sf, "events")
    out = drift.psi_split_by_bucket(
        ev,
        "event_id % 2 = 0",
        "value",
        "floor(_v / 10)",
        bucket_expr=md5_bucket_col("user_id", 8),
    )
    return out.select(
        "bucket", "n_cur", "n_ref", F.round("psi", 6).alias("psi"), "drifted"
    )


def q_ks_click_view(spark: SparkSession, sf: str) -> DataFrame:
    """Headline two-sample KS over DETERMINISTIC bounded samples: each
    side is the 4,000 md5(event_id)-smallest rows (TakeOrderedAndProject
    — per-partition heaps, no global sort of the table), so
    ks_distance's single-partition cumulative window only ever sees
    ≤8k rows no matter the table size. The md5 ordering replays in
    DuckDB, keeping the statistic hash-exact; the unsampled scale path
    is the per-bucket formulation (ks_by_bucket)."""
    ev = _t(spark, sf, "events")

    def side(t: str) -> DataFrame:
        return (
            ev.filter((F.col("event_type") == t) & F.col("value").isNotNull())
            .orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
            .limit(4000)
            .select("value")
        )

    val = drift.ks_distance(side("click"), side("view"), "value")
    return local_df(spark, [(round(val, 6),)], "ks double")


def q_ks_by_bucket_textlen(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow/pandas-UDF grouped KS, oracle-checked: deterministic ref
    sample (first 200 docs by id) + portable md5 bucket so DuckDB can
    replay the exact per-bucket statistic."""
    d = _t(spark, sf, "documents")
    ref = [
        float(r[0])
        for r in d.orderBy("doc_id").select(F.length("text")).limit(200).collect()
    ]
    out = drift.ks_by_bucket(
        d,
        ref,
        "length(text)",
        num_buckets=8,
        bucket_expr=md5_bucket_col("source", 8),
    )
    return out.select(
        "bucket",
        "n",
        F.round("ks", 6).alias("ks"),
        F.round("threshold", 6).alias("threshold"),
        "drifted",
    )


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf, "documents"))


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact dedup (dedup.dedup_against): today's increment
    anti-joined on the 128-bit content key against everything already
    ingested, so an increment never rescans history. The prior corpus
    is doc_id % 4 != 3 and the increment is the odd ids — the
    % 4 == 1 docs appear on BOTH sides, so exactly the % 4 == 3 rows
    survive (text-identity == id-identity in this corpus; the overlap
    is constructed, not assumed). Lengths, not text, cross to the
    driver hash."""
    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_against(new, prior).select(
        "doc_id", F.length("text").alias("text_len")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    sig = dedup.minhash_signatures(_t(spark, sf, "documents"), n_hashes=8, k=5)
    return dedup.lsh_candidate_pairs(sig, n_hashes=8, band_size=2)


def q_near_dup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash-LSH dedup (dedup.lsh_filter_against): the
    increment (odd ids) keeps only docs whose LSH bands hit NO band
    bucket of the prior corpus (doc_id % 4 != 3; the % 4 == 1 overlap
    self-collides, so exactly those are guaranteed drops). The prior
    side is its persisted signature table — an increment shingles only
    itself, and the probe side collapses to distinct band buckets."""
    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    new_sig = dedup.minhash_signatures(new, n_hashes=8, k=5)
    prior_sig = dedup.minhash_signatures(prior, n_hashes=8, k=5)
    return dedup.lsh_filter_against(new, new_sig, prior_sig).select(
        "doc_id", F.length("text").alias("text_len")
    )


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the LSH
    candidate-pair graph by min-label propagation (deterministic
    fixpoint: each doc labeled with the smallest doc_id reachable in
    its component — the canonical keeper). The oracle replays the
    fixpoint with a recursive CTE: min over transitive reachability ==
    the propagation fixpoint, independent of iteration schedule."""
    sig = dedup.minhash_signatures(_t(spark, sf, "documents"), n_hashes=8, k=5)
    pairs = dedup.lsh_candidate_pairs(sig, n_hashes=8, band_size=2)
    return dedup.connected_components(pairs)


def q_cluster_split_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup-aware train/holdout split: every member of an LSH
    duplicate cluster lands on the same side (split keyed on the
    cluster representative's md5, so near-dups can never straddle and
    later-added docs never reshuffle existing assignments)."""
    docs = _t(spark, sf, "documents")
    sig = dedup.minhash_signatures(docs, n_hashes=8, k=5)
    pairs = dedup.lsh_candidate_pairs(sig, n_hashes=8, band_size=2)
    clusters = dedup.connected_components(pairs)
    return dedup.cluster_split(docs, clusters, num=9, den=10)


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_signatures(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 100),
        n_hashes=4,
        k=5,
    )


def q_dedup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The deduped corpus: every doc except non-canonical members of
    the LSH duplicate clusters (dedup.drop_duplicate_docs over
    q_dedup_clusters' components). Returned as ids + lengths so the
    oracle hash stays text-free."""
    docs = _t(spark, sf, "documents")
    sig = dedup.minhash_signatures(docs, n_hashes=8, k=5)
    clusters = dedup.connected_components(
        dedup.lsh_candidate_pairs(sig, n_hashes=8, band_size=2)
    )
    return dedup.drop_duplicate_docs(docs, clusters).select(
        "doc_id", F.length("text").alias("text_len")
    )


def q_simhash_documents(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select("doc_id", dedup.simhash_col("text", 16).alias("simhash"))


def q_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked shingle-Jaccard with the scale formulation: the self-join
    keys on 64-bit shingle hashes (raw k-gram strings never cross an
    exchange) and shingles in > 50 docs of a block are dropped
    (stopword-shingle cap — bounds any one shingle's join fan-out at
    50²). The oracle mirrors the cap on raw shingles via QUALIFY."""
    return dedup.jaccard_pairs(
        _t(spark, sf, "documents"),
        ("lang", "source"),
        k=5,
        threshold=0.5,
        max_doc_freq=50,
    ).select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def q_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Directional shingle containment (|A∩B|/|A|): the one-sided
    near-dup / quote-embedding screen Jaccard misses; same blocking,
    64-bit shingle hashing, and hot-shingle cap as jaccard_pairs."""
    return dedup.containment_pairs(
        _t(spark, sf, "documents"),
        ("lang", "source"),
        k=5,
        threshold=0.6,
        max_doc_freq=50,
    )


def q_ann_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = similarity.cosine_topk(
        emb.filter(F.col("vec_id") != 0), probe, k=10
    )
    return top.select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    pairs = similarity.embedding_near_dup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.95
    )
    return pairs.select("a_id", "b_id", F.round("cos_sim", 5).alias("cos_sim"))


def q_lsh_bucket_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via random-hyperplane LSH bucket (approximate path). The
    bucket math is md5-derived, so the DuckDB oracle replays the exact
    blocking (same trick as the green embedding_near_dup)."""
    emb = _t(spark, sf, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = similarity.lsh_bucket_topk(emb.filter(F.col("vec_id") != 0), probe, k=10)
    return top.select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))


def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat ANN (coarse-quantizer inverted lists). Centroid choice
    is an md5-keyed deterministic sample, so the DuckDB oracle replays
    centroids, assignment, and probe lists exactly; recall vs brute
    force is additionally pytest-verified in test_similarity_recall."""
    emb = _t(spark, sf, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = similarity.ivf_topk(
        emb.filter(F.col("vec_id") != 0), probe, k=10, n_centroids=8, nprobe=3
    )
    return top.select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))


def q_ivf_topk_refined(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat ANN over the k-means-REFINED centroids. The refined
    centroids are index-build artifacts frozen as float literals
    (pipeline/ivf_frozen.py, regenerated by tools/freeze_ivf_centroids
    .py) — the same trick as the hyperplane literals — so the DuckDB
    oracle replays assignment, probe lists, and top-k exactly even
    though iterated float means are not cross-engine replayable."""
    from ocsf_validator_spark.pipeline.ivf_frozen import (
        IVF_REFINED_CENTROIDS,
    )

    emb = _t(spark, sf, "embeddings")
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = similarity.ivf_topk(
        emb.filter(F.col("vec_id") != 0),
        probe,
        k=10,
        nprobe=3,
        centroids=IVF_REFINED_CENTROIDS,
    )
    return top.select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))


def q_semdedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023; NeMo Curator's
    production keep-rule): assign every embedding to its nearest
    frozen centroid (column algebra over literals, no shuffle), drop
    every vector whose cosine to a lower-id vector IN THE SAME CLUSTER
    reaches the threshold, return the survivor set. The threshold is
    calibrated to the synthetic embeddings' cosine range (max pairwise
    ~0.51) — at the design point it would be ~0.95 on real model
    embeddings."""
    from ocsf_validator_spark.pipeline.ivf_frozen import (
        IVF_REFINED_CENTROIDS,
    )

    emb = _t(spark, sf, "embeddings")
    return similarity.semdedup_survivors(
        emb, IVF_REFINED_CENTROIDS, threshold=0.42
    ).orderBy("vec_id")


def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """KenLM-style quality signal at its unigram core: per-doc average
    negative log-probability under the corpus's own unigram
    distribution (low = templated/degenerate, high = lexically rich)."""
    return keywords.unigram_logprob_score(_t(spark, sf, "documents"))


def q_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity filter one Markov order up (bigram-conditional
    negative log-prob under the corpus's own transition counts):
    transition-scrambled text scores high where the unigram filter is
    blind. Hash-keyed count streams, map-side gram hashes."""
    return keywords.bigram_logprob_score(_t(spark, sf, "documents"))


def q_exact_quantiles_value(spark: SparkSession, sf: str) -> DataFrame:
    """Exact order-statistic quantiles of events.value via histogram
    narrowing (two partial-agg scans + a boundary-bin window) — never a
    global sort; the oracle replays the rank with an explicit
    row_number. Rank convention: floor((n-1)*q) + 1, 1-based."""
    from ocsf_validator_spark.pipeline.quantiles import exact_quantiles

    return exact_quantiles(
        _t(spark, sf, "events"), "value", qs=(0.25, 0.5, 0.75, 0.9, 0.99)
    )


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-split sequence packing of the documents table into
    2048-token windows (doc_id order) via the two-phase distributed
    prefix sum — never the single-reducer global cumsum window."""
    from ocsf_validator_spark.pipeline.packing import pack_sequences

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(docs, max_tokens=2048)


def q_plan_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-token shard planning (8 balanced output shards of the
    documents corpus): per-shard doc and token totals prove the split
    is token-balanced, not doc-count-balanced."""
    from ocsf_validator_spark.pipeline.packing import plan_shards

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("n_tokens"),
    )
    return (
        plan_shards(docs, n_shards=8)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("shard_id")
    )


def q_quantiles_by_event_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group exact quantiles (events.value by event_type) — the
    per-stratum percentile baseline table; same histogram-narrowing
    path, driver state bounded by group-cardinality x n_bins."""
    from ocsf_validator_spark.pipeline.quantiles import exact_group_quantiles

    return exact_group_quantiles(
        _t(spark, sf, "events"), "event_type", "value",
        qs=(0.25, 0.5, 0.75, 0.9, 0.99),
    )


def q_boilerplate_grams(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document boilerplate screen: bigrams present in >= 8% of
    documents, with document frequency (CCNet-style template residue
    detection; df counted over 60-bit hashed distinct-per-doc grams)."""
    from ocsf_validator_spark.pipeline.boilerplate import boilerplate_grams

    return boilerplate_grams(
        _t(spark, sf, "documents"), n=2, min_doc_frac=0.08
    )


def q_strip_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate removal: every token position covered by a flagged
    bigram is stripped; clean docs pass through with n_removed = 0."""
    from ocsf_validator_spark.pipeline.boilerplate import strip_boilerplate

    return strip_boilerplate(
        _t(spark, sf, "documents"), n=2, min_doc_frac=0.08
    )


def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate-substring spans (Lee et al. 2021 restated as
    rolling-window hashing): maximal runs of 8-token windows shared by
    >= 2 distinct documents, merged islands-and-gaps per doc. The df
    exchange carries 60-bit window hashes, never window strings."""
    from ocsf_validator_spark.pipeline.spans import dup_spans

    return dup_spans(_t(spark, sf, "documents"), k=8, min_docs=2)


def q_strip_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-span removal: every token covered by a window shared
    by >= 2 docs is stripped; clean docs pass through, rows preserved."""
    from ocsf_validator_spark.pipeline.spans import strip_dup_spans

    return strip_dup_spans(_t(spark, sf, "documents"), k=8, min_docs=2)


def q_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid-distance outlier audit: the 5 vectors per
    label farthest (lowest cosine) from their label centroid. Centroid
    sums accumulate in decimal(21,10) — exact and order-independent —
    so the DuckDB oracle replays the centroid bit-for-bit."""
    return similarity.label_centroid_outliers(
        _t(spark, sf, "embeddings"), k=5
    )


def q_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document; document frequencies keyed
    on the 60-bit md5-prefix term hash (decontam derivation), ranking
    on the rounded score so libm ULP can't flip ranks cross-engine."""
    return keywords.tfidf_topk(_t(spark, sf, "documents"), k=3)


def q_corpus_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token share + Shannon entropy of the corpus mix
    (pipeline/textstats.corpus_mix) — one partial-agg groupBy, total
    and entropy broadcast as 1-row frames."""
    from ocsf_validator_spark.pipeline.textstats import corpus_mix

    return corpus_mix(_t(spark, sf, "documents"), by="source")


def q_source_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Source-pair vocabulary Jaccard matrix (pipeline/keywords.
    source_vocab_overlap): distinct hashed (term, source) pairs, per-
    hash set expansion map-side — no self-join on the term stream."""
    from ocsf_validator_spark.pipeline.keywords import source_vocab_overlap

    return source_vocab_overlap(_t(spark, sf, "documents"))


def q_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication telemetry (pipeline/dedup.dup_rate). The
    corpus is duplicate-free, so a deterministic 'mirror' source
    re-publishing every 5th document (larger ids) is unioned in — the
    oracle replays the same construction — so first-seen-wins really
    attributes the duplicates to the mirror."""
    from ocsf_validator_spark.pipeline.dedup import dup_rate

    d = _t(spark, sf, "documents").select("doc_id", "text", "source")
    mirror = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    return dup_rate(d.unionByName(mirror))


def q_posting_lists(spark: SparkSession, sf: str) -> DataFrame:
    """Capped inverted index (pipeline/keywords.posting_lists): per-term
    df + 5 smallest doc_ids, salt-by-origin-partition two-stage merge —
    no unbounded postings, no single-reducer stopword straggler."""
    from ocsf_validator_spark.pipeline.keywords import posting_lists

    return posting_lists(_t(spark, sf, "documents"), k=5)


def q_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 bigram PMI collocations (pipeline/keywords.
    pmi_collocations): hash-keyed unigram/bigram counts, two 8-byte-key
    joins, bounded string recovery pass."""
    from ocsf_validator_spark.pipeline.keywords import pmi_collocations

    return pmi_collocations(_t(spark, sf, "documents"), k=20, min_count=5)


def q_ngram_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-n diversity per source (pipeline/keywords.
    ngram_diversity): mode-collapse detector — per-doc-distinct hashed
    grams pre-explode, tiny totals frame reused across ns."""
    from ocsf_validator_spark.pipeline.keywords import ngram_diversity

    return ngram_diversity(_t(spark, sf, "documents"))


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve (pipeline/keywords.vocab_coverage):
    smallest descending-frequency vocab covering 50/90/99% of the token
    stream — exact integer math from the count histogram, hash-keyed
    term counts, two-phase prefix (no global cumsum window)."""
    from ocsf_validator_spark.pipeline.keywords import vocab_coverage

    return vocab_coverage(_t(spark, sf, "documents"))


def q_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch-3 training order (pipeline/packing.
    epoch_shuffle): global rank of md5(id|salt|epoch) via the two-phase
    parallel prefix — one range exchange, local windows, no global
    single-reducer sort."""
    from ocsf_validator_spark.pipeline.packing import epoch_shuffle

    return epoch_shuffle(_t(spark, sf, "documents"), epoch=3)


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window token chunking (pipeline/packing.chunk_documents):
    32-token windows advancing 24 (8-token overlap), emitted as offsets
    so nothing wide leaves the scan — zero shuffle."""
    from ocsf_validator_spark.pipeline.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), chunk_tokens=32, overlap=8
    )


def q_text_profile(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.text_profile(_t(spark, sf, "documents"))


def q_normalize_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Text canonicalization (pipeline/scrub.normalize_docs). The corpus
    is already clean, so deterministic mess (leading spaces, uppercase
    prefix, a tab run) is injected on even doc_ids — the oracle replays
    the same injection — making the normalizer really fire."""
    from ocsf_validator_spark.pipeline.scrub import normalize_docs

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("  "),
                F.upper(F.substring(F.col("text"), 1, 8)),
                F.lit(" \t "),
                F.col("text"),
                F.lit("  "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return normalize_docs(injected)


def q_winsorize_value(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorize events.value at the exact p01/p99 fences (pipeline/
    quantiles.winsorize): histogram-narrowed order statistics applied
    as literals — the clip pass is scan-speed."""
    from ocsf_validator_spark.pipeline.quantiles import winsorize

    return winsorize(_t(spark, sf, "events"), "value", 0.01, 0.99)


def q_robust_scale_value(spark: SparkSession, sf: str) -> DataFrame:
    """Median/MAD standardization of events.value (pipeline/quantiles.
    robust_scale): exact order-statistic fences as literals, scan-speed
    transform."""
    from ocsf_validator_spark.pipeline.quantiles import robust_scale

    return robust_scale(_t(spark, sf, "events"), "value")


def q_quantile_bin_value(spark: SparkSession, sf: str) -> DataFrame:
    """Decile binning of events.value (pipeline/quantiles.quantile_bin):
    exact order-statistic fences applied as a scan-speed CASE chain."""
    from ocsf_validator_spark.pipeline.quantiles import quantile_bin

    return quantile_bin(_t(spark, sf, "events"), "value", n_bins=10)


def q_turn_echo(spark: SparkSession, sf: str) -> DataFrame:
    """Per-conversation echo profile (stats.turn_echo): set-overlap of
    each turn with its predecessor over the derived transcripts — one
    conv-keyed window exchange + partial agg."""
    from ocsf_validator_spark.stats import turn_echo

    return turn_echo(_transcripts(spark, sf))


def q_loop_detector(spark: SparkSession, sf: str) -> DataFrame:
    """Stuck-agent loop detection (stats.loop_detector): (role, text)
    turn contents recurring >= 2 times within one conversation of the
    derived transcripts — one (conv, content-key) partial-agg exchange,
    loop-proportional output."""
    from ocsf_validator_spark.stats import loop_detector

    return loop_detector(_transcripts(spark, sf), min_repeats=2).orderBy(
        "conv_id", "turn_key"
    )


def q_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding centroid drift between the vec_id%10==0 increment and
    the prior corpus (pipeline/similarity.centroid_drift): two per-dim
    decimal-exact reductions, broadcast join, one-row report."""
    from ocsf_validator_spark.pipeline.similarity import centroid_drift

    e = _t(spark, sf, "embeddings")
    return centroid_drift(
        e.filter(F.col("vec_id") % 10 != 0),
        e.filter(F.col("vec_id") % 10 == 0),
    )


def q_itemset_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent event-type pairs per user with lift (pipeline/select.
    itemset_pairs): one basket-keyed partial-collect exchange, map-side
    set expansion — never a self-join of the event stream."""
    from ocsf_validator_spark.pipeline.select import itemset_pairs

    return itemset_pairs(_t(spark, sf, "events"))


def q_sliding_stats(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes over events.value
    (pipeline/temporal.sliding_stats): map-side window assignment,
    one partial agg, integer-cents exact sums."""
    from ocsf_validator_spark.pipeline.temporal import sliding_stats

    return sliding_stats(_t(spark, sf, "events"))


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention over events (pipeline/temporal.
    cohort_retention): one user-keyed exchange carrying min+set of
    periods, tiny grid downstream, sizes broadcast."""
    from ocsf_validator_spark.pipeline.temporal import cohort_retention

    return cohort_retention(_t(spark, sf, "events"))


def q_funnel_events(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered view→click→purchase funnel (pipeline/temporal.funnel):
    one user-keyed partial-collect exchange, per-user linear fold,
    bounded report legs broadcast."""
    from ocsf_validator_spark.pipeline.temporal import funnel

    return funnel(_t(spark, sf, "events"), ("view", "click", "purchase"))


def q_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style hard quality rules (pipeline/textstats.gopher_rules):
    per-rule flags + keep verdict, one scan-speed projection, zero
    shuffle."""
    return textstats.gopher_rules(_t(spark, sf, "documents"), min_words=30)


def q_lang_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    """Declared-vs-detected language audit per (source, lang)
    (pipeline/textstats.lang_mismatch_audit): tiny-key partial agg,
    both report legs over one localCheckpoint'd bounded frame."""
    return textstats.lang_mismatch_audit(_t(spark, sf, "documents"))


def q_ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-30 word bigrams (select.ngram_topk): map-side
    partial agg + TakeOrderedAndProject, deterministic
    (count DESC, ngram ASC) tie-break."""
    return select.ngram_topk(_t(spark, sf, "documents"), n=2, k=30)


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic md5-threshold downsampling: en kept at 1/2,
    zh at 1/4, everything else at the 1/8 default — zero-shuffle
    map-side filter (select.stratified_sample)."""
    d = _t(spark, sf, "documents")
    out = select.stratified_sample(
        d, rates={"en": (1, 2), "zh": (1, 4)}, default_rate=(1, 8)
    )
    return out.select("doc_id", "lang", "n_chars")


def q_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language greedy quality-first cut to a 2,000-token budget via
    the histogram-cutoff plan (select.token_budget_select) — the oracle
    runs the naive per-language cumulative window the plan is provably
    equal to."""
    return select.token_budget_select(
        _t(spark, sf, "documents"), budget=2000, n_bins=64
    )


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus curation composing the individually-oracled
    ops: quality gate (textstats) -> deterministic stratified
    downsample (select) -> exact dedup, min-doc_id-wins
    (dedup.exact_duplicates anti-join) -> per-language token-budget cut
    (select.token_budget_select). Every stage is the scale formulation:
    no global windows except the boundary-bin cut, dedup shuffles
    128-bit content keys, sampling is a map-side filter."""
    docs = _t(spark, sf, "documents")
    qc = textstats.quality_cols()
    scored = docs.select("doc_id", "lang", "text", qc[0], qc[3])
    gated = scored.filter(F.col("quality") >= 0.15)
    sampled = select.stratified_sample(
        gated, rates={"en": (2, 3), "zh": (1, 2)}, default_rate=(1, 1)
    )
    # the sampled frame feeds the dedup probe, the anti join, and both
    # token-budget passes — checkpoint it so the composite costs ONE
    # corpus scan (6 measured on the executed plan without this)
    sampled = sampled.localCheckpoint(eager=False)
    losers = dedup.exact_duplicates(sampled)
    deduped = sampled.join(losers.select("doc_id"), "doc_id", "left_anti")
    return select.token_budget_select(deduped, budget=1500, n_bins=64)


def q_repetition_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style intra-document repetition signals
    (textstats.repetition_cols): duplicate-token / duplicate-bigram
    fractions and the mode bigram's frequency share — zero-shuffle
    column algebra (the mode is a per-doc sort + linear fold); the
    oracle recomputes the mode the relational way (explode + groupBy +
    max) to cross-check the fold."""
    return textstats.repetition_profile(_t(spark, sf, "documents"), n=2)


def q_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val split-leakage report (decontam.split_leakage): exact
    content keys present on BOTH sides of an even/odd doc_id split —
    the self-holdout form of contamination. One hash-keyed exchange,
    leakage-proportional output, the raw text never shuffles."""
    d = _t(spark, sf, "documents")
    # the synthetic corpus has no full-text duplicates straddling the
    # split, so key on the 100-char prefix — the template-leakage form
    # (boilerplate openings shared across the split); pass key_expr for
    # any other canonicalization
    return decontam.split_leakage(
        d, "doc_id % 2 = 0", key_expr="md5(substr(text, 1, 100))"
    )


def q_decontam_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination scores (decontam.contamination_scores):
    documents split deterministically — md5₃₂(doc_id) % 20 == 0 is the
    held-out benchmark, the rest are the corpus — then each corpus
    doc's distinct word 3-grams are membership-tested against the
    benchmark's n-gram hash set via a BROADCAST join (the corpus side
    never shuffles gram rows; the post-join groupBy exchanges ~one row
    per doc). Gram identity crosses the join as a 60-bit md5-prefix
    int, replayed bit-exactly by the oracle."""
    docs = _t(spark, sf, "documents")
    is_bench = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 8),"
            " 16, 10) as bigint)"
        )
        % 20
        == 0
    )
    return decontam.contamination_scores(
        docs.filter(~is_bench), docs.filter(is_bench), n=3, threshold=0.05
    )


def q_star_revenue_region(spark: SparkSession, sf: str) -> DataFrame:
    """Star join with an all-broadcast dimension chain: lineitem (fact)
    x part (filtered — pushed to the scan) x supplier x nation x
    region, discounted revenue per region in integer cents. The fact
    table is scanned ONCE and never shuffled until the 5-row final
    agg: every dimension broadcasts (plan-pinned in tests), the shape
    that survives a 100 TB fact side unchanged."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_size") <= 15)
        .select("p_partkey")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf, "region").select("r_regionkey", "r_name")
    rev_cents = temporal.cents(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev_cents).alias("revenue_cents"),
        )
    )


def q_salted_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-aware equi-join (joins.salted_join): events joined to
    customer on the salted (user_id, __salt) composite — the hot-key
    mitigation for a build side too big to broadcast — then rolled up
    per nation. Identical rows to the plain join the oracle runs; the
    salt is pmod(xxhash64(event_id), 8), deterministic per row."""
    from ocsf_validator_spark.joins import salted_join

    ev = _t(spark, sf, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    j = salted_join(ev, cust, on=["user_id"], salt_from="event_id", num_salts=8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(temporal.cents("value")).alias("value_cents"),
    )


def q_asof_latest_order(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join (temporal.asof_join): each event picks the
    customer's most recent order at or before the event, within a
    3-day tolerance. Order timestamps are remapped deterministically
    into the events' January-2024 range (`o_orderkey % 720` hours) so
    the as-of pick genuinely varies per event. One union + one
    per-key window — never a theta-join; ties broken by the greatest
    o_orderkey (mirrored in the oracle's ROW_NUMBER)."""
    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    right = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_totalprice",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,"
            " cast(o_orderkey % 720 as int), 0, 0)"
        ).alias("o_ts"),
    )
    out = temporal.asof_join(
        ev,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_ts",
        payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        tolerance_sec=3 * 86400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("order_total"),
    )


def q_range_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join (temporal.range_join): per-window event counts and
    value sums for order-derived promo windows (start spread over the
    events' month, 1..180 min long). Each window explodes to its
    covered 1-hour buckets, each event lands in exactly one bucket,
    the bucket is the equi-join key — never a nested-loop theta-join;
    the oracle runs the plain inequality join. Sums in integer cents
    (deterministic across engines)."""
    ev = _t(spark, sf, "events").select("event_id", "ts", "value")
    # every 16th order: the pair cardinality is (windows x events inside
    # each) — the full order set at sf0.1 emits ~10^8 demo pairs, which
    # measures output materialization, not the join
    iv = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 16 == 0).select(
        F.col("o_orderkey").alias("win_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,"
            " cast(o_orderkey % 696 as int), cast(o_custkey % 60 as int), 0)"
        ).alias("w_start"),
    )
    iv = iv.withColumn(
        "w_end",
        F.expr(
            "w_start + make_interval(0, 0, 0, 0, 0,"
            " cast(1 + win_id % 180 as int), 0)"
        ),
    )
    pairs = temporal.range_join(
        ev, "ts", iv, "w_start", "w_end", bucket_width_sec=3600
    )
    return pairs.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(temporal.cents("value")).alias("value_cents"),
    )


def q_rollup_events(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style rollup (temporal.rollup_time): one GROUPING
    SETS pass materializes (event_type × day), (event_type), (day) and
    the grand total, tagged by grouping_id — the continuous-aggregate
    shape, partial-aggregated map-side so the exchange carries the
    rollup's cardinality, not the data."""
    return temporal.rollup_time(
        _t(spark, sf, "events"), "ts", "event_type", "value"
    )


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    media = multimodal.attach_payload(_t(spark, sf, "documents"))
    return multimodal.payload_metadata(media)


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """mapInPandas decode stub (rows-only check — feature vector is the
    engine's deterministic fake)."""
    media = multimodal.attach_payload(_t(spark, sf, "documents"))
    feats = multimodal.decode_features(media, dim=8)
    return feats.select(
        "id",
        "n_bytes",
        "sha256",
        F.round(F.expr("aggregate(feature, 0D, (s, v) -> s + v)"), 6).alias(
            "feature_sum"
        ),
    )


def _props_k_residual(pdf):
    """Residual rule over the raw JSON payload: props.k must be in
    [0, 50]. Deliberately NOT a Column expression — exercises the
    Arrow-batched PandasCheck leg (reference validate_metaschemas,
    validators.py:278-314)."""
    import json

    def _k(s):
        if s is None:
            return None
        try:
            v = json.loads(s).get("k")
        except Exception:
            return None
        return v if isinstance(v, int) else None

    ks = pdf["props"].map(_k)
    mask = ks.notna() & (ks > 50)
    reasons = (
        "props.k="
        + ks.fillna(-1).astype(int).astype(str)
        + " outside residual range [0, 50]"
    )
    return mask, reasons


def q_residual_props_range(spark: SparkSession, sf: str) -> DataFrame:
    from ocsf_validator_spark.spec import PandasCheck
    from ocsf_validator_spark.violations import residual_violations

    ev = _t(spark, sf, "events").select("event_id", "props")
    suite = ConstraintSet(
        name="residual",
        constraints=[
            PandasCheck(
                column="props",
                columns=("props",),
                check=_props_k_residual,
                check_id="props_k_range",
            )
        ],
    )
    return residual_violations(ev, suite, keys=("event_id",))


def q_payload_unknown_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-payload key conformance: props parsed with from_json into
    a map column, map_keys ⊆ allowed (MapKeysIn); second leg uses a
    value-derived key so reasons vary per row."""
    from ocsf_validator_spark.spec import MapKeysIn
    from ocsf_validator_spark.violations import row_violations

    ev = _t(spark, sf, "events")
    k_int = F.get_json_object("props", "$.k").cast("int")
    # guard: a row whose payload lacks an integer k would make the map
    # key NULL and kill the whole job with RUNTIME_ERROR (null map key);
    # degrade it to a NULL map instead — MapKeysIn skips null columns,
    # so malformed payloads become non-findings, not job failures
    tag_map = F.when(
        k_int.isNotNull(),
        F.map_from_arrays(
            F.array(F.concat(F.lit("k"), (k_int % 4).cast("string"))),
            F.array(k_int.cast("string")),
        ),
    )
    t = ev.select(
        "event_id",
        F.from_json("props", "map<string,string>").alias("props_map"),
        tag_map.alias("tag_map"),
    )
    suite = ConstraintSet(
        name="payload",
        constraints=[
            MapKeysIn(column="props_map", allowed=("v", "tag")),
            MapKeysIn(column="tag_map", allowed=("k0", "k1")),
        ],
    )
    return row_violations(t, suite, keys=("event_id",))


def q_parse_corrupt_props(spark: SparkSession, sf: str) -> DataFrame:
    """PERMISSIVE JSON parse -> corrupt-record violations (SURVEY S2's
    non-fatal leg): every 37th payload is deterministically mangled, the
    parse keeps going and flags exactly those rows."""
    from ocsf_validator_spark.sources import corrupt_json_violations

    ev = _t(spark, sf, "events")
    t = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 37 == 0, F.concat(F.lit("{"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return corrupt_json_violations(
        t, "props", keys=("event_id",), schema="map<string,int>"
    )


def q_type_routing_events(spark: SparkSession, sf: str) -> DataFrame:
    """M3 type-inference routing: first-match when-chain assigns each
    event a record type; unmatched rows surface through the
    UndetectableType violation leg (reference TypeMapping,
    type_mapping.py:41-47)."""
    from ocsf_validator_spark.compile import rec_type_col, undetectable_type_violations

    ev = _t(spark, sf, "events")
    rules = [
        ("event_type IN ('click', 'view')", "interaction"),
        ("event_type IN ('purchase', 'signup')", "commerce"),
        ("value >= 900", "outlier"),  # first-match: only non-enum rows reach this
    ]
    typed = ev.select(
        "event_id", rec_type_col(rules).alias("rec_type")
    ).filter(F.col("rec_type").isNotNull())
    undet = undetectable_type_violations(rules=rules, df=ev, keys=("event_id",))
    return typed.unionByName(
        undet.select(
            "event_id", F.concat(F.lit("UNDETECTABLE: "), "reason").alias("rec_type")
        )
    )


def q_q1_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """Decimal end-to-end: cast INPUTS to decimal, multiply exactly
    (products stay within precision 38, no intermediate rounding), sum
    exactly. The OUTPUT representation is round(cast(double), 2) — the
    exact decimal sum cast to double once, then rounded — because the
    driver's value hash distinguishes Decimal('253942.00') from
    253942.0 even when numerically identical (round-2 hash mismatch);
    both engines cast the same exact decimal, so the doubles agree
    bit-for-bit (same pattern as the green top_revenue_orders)."""
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(8,2)")
    price = F.col("l_extendedprice").cast("decimal(8,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(5,4)")).cast(
        "decimal(5,4)"
    )
    tax1 = (F.lit(1) + F.col("l_tax").cast("decimal(5,4)")).cast("decimal(5,4)")
    disc_price = price * disc1            # decimal(14,6), exact
    charge = disc_price * tax1            # decimal(20,10), exact
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("_rev"))
    joined = per_order.join(
        o, per_order.l_orderkey == o.o_orderkey
    ).select(
        "o_orderkey", "o_custkey", F.col("_rev").alias("revenue")
    )
    return (
        joined.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full constraint-suite violations on sf0.001."""
    return q_suite_violations(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "suite_violations": q_suite_violations,
        "worst_conversations": q_worst_conversations,
        "loop_detector": q_loop_detector,
        "precedence_purchase": q_precedence_purchase,
        "opening_role_events": q_opening_role_events,
        "alternation_roles": q_alternation_roles,
        "check_rows_events": q_check_rows_events,
        "metric_bounds_events": q_metric_bounds_events,
        "tokenizer_fertility": q_tokenizer_fertility,
        "label_balance": q_label_balance,
        "bpe_token_stats": q_bpe_token_stats,
        "mix_sample_docs": q_mix_sample_docs,
        "conv_dedup": q_conv_dedup,
        "quality_logit": q_quality_logit,
        "ann_topk_int8": q_ann_topk_int8,
        "unicode_sanity": q_unicode_sanity,
        "fd_documents": q_fd_documents,
        "group_metric": q_group_metric,
        "closing_role": q_closing_role,
        "column_topk": q_column_topk,
        "volume_anomaly": q_volume_anomaly,
        "emd_value_drift": q_emd_value_drift,
        "quantile_bounds": q_quantile_bounds,
        "volume_gate": q_volume_gate,
        "drift_gate": q_drift_gate,
        "quarantine_rows": q_quarantine_rows,
        "group_violations_scalable": q_group_violations_scalable,
        "suite_verdicts": q_suite_verdicts,
        "conversation_stats": q_conversation_stats,
        "render_conversations": q_render_conversations,
        "role_transitions": q_role_transitions,
        "latency_quantiles": q_latency_quantiles,
        "embedding_health": q_embedding_health,
        "mad_outliers_value": q_mad_outliers_value,
        "mad_outliers_by_type": q_mad_outliers_by_type,
        "weighted_sample_docs": q_weighted_sample_docs,
        "pii_scrub_docs": q_pii_scrub_docs,
        "weighted_sample_by_lang": q_weighted_sample_by_lang,
        "column_stats_documents": q_column_stats_documents,
        "ref_orphan_orders": q_ref_orphan_orders,
        "coverage_unused_customers": q_coverage_unused_customers,
        "undefined_enum_events": q_undefined_enum_events,
        "unique_collisions_lineitem": q_unique_collisions_lineitem,
        "typecheck_props": q_typecheck_props,
        "monotonic_value_events": q_monotonic_value_events,
        "sessionize_events": q_sessionize_events,
        "conv_boundary_state": q_conv_boundary_state,
        "length_histogram_documents": q_length_histogram_documents,
        "psi_value_drift": q_psi_value_drift,
        "psi_by_bucket": q_psi_by_bucket,
        "increment_drift": q_increment_drift,
        "ks_click_view": q_ks_click_view,
        "ks_by_bucket_textlen": q_ks_by_bucket_textlen,
        "dedup_exact": q_dedup_exact,
        "dedup_incremental": q_dedup_incremental,
        "near_dup_incremental": q_near_dup_incremental,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_corpus": q_dedup_corpus,
        "cluster_split_docs": q_cluster_split_docs,
        "simhash_documents": q_simhash_documents,
        "jaccard_pairs": q_jaccard_pairs,
        "containment_pairs": q_containment_pairs,
        "ann_topk_cosine": q_ann_topk_cosine,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_outliers": q_embedding_outliers,
        "tfidf_topterms": q_tfidf_topterms,
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
        "verdict_diff": q_verdict_diff,
        "boilerplate_grams": q_boilerplate_grams,
        "strip_boilerplate": q_strip_boilerplate,
        "dup_spans_docs": q_dup_spans,
        "strip_dup_spans": q_strip_dup_spans,
        "exact_quantiles_value": q_exact_quantiles_value,
        "quantiles_by_event_type": q_quantiles_by_event_type,
        "pack_sequences": q_pack_sequences,
        "plan_shards": q_plan_shards,
        "lsh_bucket_topk": q_lsh_bucket_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_topk_refined": q_ivf_topk_refined,
        "semdedup_docs": q_semdedup_docs,
        "text_profile": q_text_profile,
        "lang_mismatch": q_lang_mismatch,
        "gopher_rules": q_gopher_rules,
        "funnel_events": q_funnel_events,
        "cohort_retention": q_cohort_retention,
        "sliding_stats": q_sliding_stats,
        "quantile_bin_value": q_quantile_bin_value,
        "itemset_pairs": q_itemset_pairs,
        "centroid_drift": q_centroid_drift,
        "robust_scale_value": q_robust_scale_value,
        "turn_echo": q_turn_echo,
        "winsorize_value": q_winsorize_value,
        "normalize_docs": q_normalize_docs,
        "corpus_mix": q_corpus_mix,
        "chunk_documents": q_chunk_documents,
        "epoch_shuffle": q_epoch_shuffle,
        "vocab_coverage": q_vocab_coverage,
        "ngram_diversity": q_ngram_diversity,
        "pmi_collocations": q_pmi_collocations,
        "posting_lists": q_posting_lists,
        "dup_rate_by_source": q_dup_rate_by_source,
        "source_vocab_overlap": q_source_vocab_overlap,
        "ngram_topk": q_ngram_topk,
        "stratified_sample": q_stratified_sample,
        "token_budget_select": q_token_budget_select,
        "repetition_profile": q_repetition_profile,
        "decontam_overlap": q_decontam_overlap,
        "split_leakage": q_split_leakage,
        "curation_pipeline": q_curation_pipeline,
        "star_revenue_region": q_star_revenue_region,
        "salted_join_events": q_salted_join_events,
        "asof_latest_order": q_asof_latest_order,
        "range_attribution": q_range_attribution,
        "rollup_events": q_rollup_events,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_features": q_multimodal_features,
        "type_routing_events": q_type_routing_events,
        "residual_props_range": q_residual_props_range,
        "payload_unknown_keys": q_payload_unknown_keys,
        "parse_corrupt_props": q_parse_corrupt_props,
        "q1_pricing": q_q1_pricing,
        "top_revenue_orders": q_top_revenue_orders,
        "revenue_by_nation": q_revenue_by_nation,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_SUITE_VIOLATION_LEGS = f"""
SELECT 'ref.role' AS constraint_id, conv_id, turn_idx,
       'role value ''' || role || ''' not in enum' AS reason,
       'ERROR' AS severity
FROM t WHERE role IS NOT NULL AND role NOT IN ('click','view','purchase','signup')
UNION ALL
SELECT 'deprecated.role', conv_id, turn_idx,
       'role value ''' || role || ''' deprecated since 1.0: use registration instead',
       'WARNING'
FROM t WHERE role = 'signup'
UNION ALL
SELECT 'max_len.text', conv_id, turn_idx,
       'len(text)=' || length(text) || ' exceeds max_len 9', 'ERROR'
FROM t WHERE text IS NOT NULL AND length(text) > 9
UNION ALL
SELECT 'coverage.role', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
       'enum value ''refund'' never observed in role', 'WARNING'
"""

_VERDICT_CONSTRAINTS = """(VALUES
  ('schema.columns','FATAL'), ('required.conv_id','ERROR'),
  ('required.turn_idx','ERROR'), ('required.role','ERROR'),
  ('required.text','ERROR'), ('required.ts','ERROR'),
  ('ref.role','ERROR'), ('deprecated.role','WARNING'),
  ('max_len.text','ERROR'), ('range.turn_idx','ERROR'),
  ('unique.conv_turn','ERROR'), ('order.turn_idx','ERROR'),
  ('monotonic.ts','ERROR'), ('coverage.role','WARNING'))"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["suite_violations"] = f"WITH {_T_CTE} {_SUITE_VIOLATION_LEGS}"

    # replay of violations.top_offending_groups over the same suite
    # violation legs (dataset findings have NULL conv_id and are
    # excluded by construction here: every leg emits a conv_id)
    sqls["worst_conversations"] = f"""
WITH base AS (WITH {_T_CTE} {_SUITE_VIOLATION_LEGS})
SELECT conv_id, COUNT(*)::BIGINT AS n_violations,
       COUNT(DISTINCT constraint_id)::BIGINT AS n_constraints
FROM base WHERE conv_id IS NOT NULL
GROUP BY conv_id ORDER BY n_violations DESC, conv_id ASC LIMIT 20
"""

    sqls["precedence_purchase"] = f"""
WITH {_T_CTE},
c AS (
  SELECT conv_id, turn_idx, role,
         SUM(CASE WHEN role IN ('view','click') THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prereq
  FROM t)
SELECT 'precedence.role.purchase' AS constraint_id, conv_id, turn_idx,
       'role ''purchase'' with no prior view|click' AS reason,
       'ERROR' AS severity
FROM c WHERE role = 'purchase' AND COALESCE(prereq, 0) = 0
"""

    sqls["opening_role_events"] = f"""
WITH {_T_CTE},
c AS (
  SELECT conv_id, turn_idx, role,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM t)
SELECT 'opening.role' AS constraint_id, conv_id, turn_idx,
       'conversation opens with ' || COALESCE(role, 'NULL') AS reason,
       'ERROR' AS severity
FROM c WHERE rn = 1
  AND (role IS NULL OR role NOT IN ('view','click','signup'))
"""

    sqls["tokenizer_fertility"] = """
WITH f AS (
  SELECT lang, source,
         COALESCE(LENGTH(text), 0) AS chars,
         COALESCE(OCTET_LENGTH(CAST(text AS BLOB)), 0) AS bytes,
         COALESCE(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')), 0) AS ws_tok,
         COALESCE(len(regexp_extract_all(text, '[a-z]+')), 0) AS re_tok
  FROM documents),
a AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(chars) AS BIGINT) AS chars,
         CAST(SUM(bytes) AS BIGINT) AS bytes,
         CAST(SUM(ws_tok) AS BIGINT) AS ws_tokens,
         CAST(SUM(re_tok) AS BIGINT) AS re_tokens
  FROM f GROUP BY lang, source)
SELECT lang, source, n_docs, chars, bytes, ws_tokens, re_tokens,
       CASE WHEN ws_tokens > 0
            THEN ROUND(chars / ws_tokens, 6) END AS chars_per_ws_token,
       CASE WHEN ws_tokens > 0
            THEN ROUND(bytes / ws_tokens, 6) END AS bytes_per_ws_token,
       CASE WHEN re_tokens > 0
            THEN ROUND(chars / re_tokens, 6) END AS chars_per_re_token
FROM a ORDER BY lang, source
"""

    # replay of pipeline/bpe.bpe_token_stats over the FROZEN merges:
    # per word, the spaced symbol string runs the same replace chain
    # (boundary-guarded, non-overlapping left-to-right — the identical
    # builtin in both engines), token count = remaining separators
    from ocsf_validator_spark.pipeline.bpe_frozen import BPE_MERGES as _BPE_M

    _bpe_expr = "array_to_string(regexp_extract_all(w, '.'), ' ') || ' _'"
    for _a, _b in _BPE_M:
        _bpe_expr = (
            f"trim(replace(' ' || ({_bpe_expr}) || ' ', "
            f"' {_a} {_b} ', ' {_a}{_b} '))"
        )
    sqls["bpe_token_stats"] = f"""
WITH f AS (
  SELECT source,
         COALESCE(list_sum(list_transform(
             regexp_extract_all(lower(text), '[a-z]+'),
             w -> len(string_split(({_bpe_expr}), ' ')))), 0) AS bpe,
         COALESCE(len(regexp_extract_all(lower(text), '[a-z]+')), 0) AS wt
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(wt) AS BIGINT) AS word_tokens,
       CASE WHEN SUM(wt) > 0
            THEN ROUND(CAST(SUM(bpe) AS BIGINT) /
                       CAST(SUM(wt) AS BIGINT), 6) END AS tokens_per_word
FROM f GROUP BY source ORDER BY source
"""

    # replay of select.mix_to_weights: per-source token counts, the
    # exact rational keep rate (w_s * budget)/(W_total * avail_s) as a
    # HUGEINT md5-threshold — the same big-integer floor the driver
    # computes, no float in the keep decision on either engine
    sqls["mix_sample_docs"] = """
WITH f AS (
  SELECT source,
         COALESCE(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')), 0) AS tk
  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
a AS (SELECT source, CAST(SUM(tk) AS BIGINT) AS avail
      FROM f GROUP BY source),
t AS (SELECT source,
             CASE WHEN CAST(w AS HUGEINT) * 6000 >= CAST(5 AS HUGEINT) * avail
                  THEN CAST(4294967296 AS HUGEINT)
                  ELSE (CAST(w AS HUGEINT) * 6000 * 4294967296)
                       // (CAST(5 AS HUGEINT) * avail) END AS thr
      FROM (SELECT source, avail,
                   CASE source WHEN 'src0' THEN 3
                               WHEN 'src1' THEN 1
                               WHEN 'src2' THEN 1 END AS w
            FROM a)
      WHERE avail > 0)
SELECT d.doc_id, d.source
FROM documents d JOIN t ON d.source = t.source
WHERE ('0x' || substr(md5(d.source || '|' || CAST(d.doc_id AS VARCHAR)
                          || '|' || 'mix0'), 1, 8))::BIGINT < t.thr
ORDER BY d.doc_id
"""

    sqls["conv_dedup"] = f"""
WITH {_T_CTE},
u AS (
  SELECT conv_id, turn_idx, role, text FROM t
  UNION ALL
  SELECT 'clone_' || conv_id, turn_idx, role, text
  FROM t WHERE conv_id IN ('7', '23')),
r AS (
  SELECT conv_id, COUNT(*)::BIGINT AS n_turns,
         md5(string_agg(coalesce(role,'') || ': ' || coalesce(text,''),
                        chr(10)
                        ORDER BY turn_idx,
                                 coalesce(role,'') || ': ' ||
                                 coalesce(text,''))) AS content_key
  FROM u GROUP BY conv_id)
SELECT conv_id, n_turns, content_key,
       COUNT(*) OVER (PARTITION BY content_key) AS group_n,
       conv_id = MIN(conv_id) OVER (PARTITION BY content_key) AS keep
FROM r ORDER BY conv_id
"""

    sqls["label_balance"] = """
WITH c AS (
  SELECT CAST(label AS VARCHAR) AS label, COUNT(*) AS n
  FROM embeddings GROUP BY 1),
g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST(MAX(CASE WHEN label IS NOT NULL THEN n END) AS BIGINT) AS mx,
         CAST(MIN(CASE WHEN label IS NOT NULL THEN n END) AS BIGINT) AS mn
  FROM c)
SELECT c.label, c.n,
       ROUND(c.n / g.total, 6) AS share,
       ROUND(g.mx / g.mn, 6) AS imbalance_ratio
FROM c, g ORDER BY c.label
"""

    sqls["check_rows_events"] = f"""
WITH {_T_CTE}
SELECT 'check.text' AS constraint_id, conv_id, turn_idx,
       'check failed: NOT (role = ''view'' AND length(text) > 8)' AS reason,
       'ERROR' AS severity
FROM t
WHERE NOT COALESCE(NOT (role = 'view' AND length(text) > 8), TRUE)
"""

    sqls["metric_bounds_events"] = f"""
WITH {_T_CTE},
m AS (SELECT COUNT(*) AS n,
             SUM(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS role_nulls,
             COUNT(DISTINCT conv_id) AS conv_d,
             MIN(turn_idx) AS ti_min,
             MAX(turn_idx) AS ti_max
      FROM t)
SELECT * FROM (
  SELECT 'metric.min.turn_idx' AS constraint_id,
         CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS INTEGER) AS turn_idx,
         'min(turn_idx) = ' || ti_min || ' below min 1' AS reason,
         'ERROR' AS severity
  FROM m WHERE ti_min < 1
  UNION ALL
  SELECT 'metric.max.turn_idx', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
         'max(turn_idx) = ' || ti_max || ' above max 50', 'ERROR'
  FROM m WHERE ti_max > 50
  UNION ALL
  SELECT 'metric.distinct_count.conv_id', CAST(NULL AS VARCHAR),
         CAST(NULL AS INTEGER),
         'distinct_count(conv_id) = ' || conv_d || ' above max 100', 'ERROR'
  FROM m WHERE conv_d > 100
  UNION ALL
  SELECT 'metric.null_rate.role', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
         'null_rate(role) = ' || role_nulls || '/' || n || ' above max 0.0005',
         'ERROR'
  FROM m WHERE role_nulls > 0.0005 * n
  UNION ALL
  SELECT 'metric.row_count.text', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
         'row_count(text) = ' || n || ' below min 1', 'ERROR'
  FROM m WHERE n < 1
  UNION ALL
  SELECT 'metric.row_count.text', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
         'row_count(text) = ' || n || ' above max 5000', 'ERROR'
  FROM m WHERE n > 5000
)
"""

    sqls["alternation_roles"] = f"""
WITH {_T_CTE},
c AS (
  SELECT conv_id, turn_idx, role,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM t)
SELECT 'alternation.role' AS constraint_id, conv_id, turn_idx,
       'consecutive role ''' || role || '''' AS reason,
       'ERROR' AS severity
FROM c
WHERE prev IS NOT NULL AND role = prev AND role IN ('view', 'purchase')
"""

    # quarantine routing: the same proven violation legs, reduced to
    # the distinct >= ERROR row keys, semi-joined back to the input —
    # dataset-level findings (NULL keys) quarantine nothing
    sqls["quarantine_rows"] = f"""
WITH {_T_CTE},
v AS ({_SUITE_VIOLATION_LEGS}),
k AS (SELECT DISTINCT conv_id, turn_idx FROM v
      WHERE severity IN ('ERROR', 'FATAL')
        AND conv_id IS NOT NULL AND turn_idx IS NOT NULL)
SELECT t.conv_id, t.turn_idx, t.role, t.text
FROM t JOIN k USING (conv_id, turn_idx)
"""

    sqls["group_violations_scalable"] = """
WITH t AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS conv_id,
         CAST(l_linenumber % 3 AS INTEGER) AS turn_idx,
         l_returnflag AS role, l_linestatus AS text, l_shipdate AS ts
  FROM lineitem
), w AS (
  SELECT conv_id, turn_idx, role, text, ts,
         LAG(turn_idx) OVER ord AS prev_idx,
         LAG(ts) OVER ord AS prev_ts,
         ROW_NUMBER() OVER grp AS occ,
         -- engine caps string tie columns at TIE_DISPLAY_LEN=256 before
         -- the conv exchange (violations.py); mirror display AND order
         FIRST_VALUE(CAST(ts AS VARCHAR) || '|' || substr(role, 1, 256)
                     || '|' || substr(text, 1, 256))
           OVER (PARTITION BY conv_id, turn_idx
                 ORDER BY ts, substr(role, 1, 256), substr(text, 1, 256)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_seen
  FROM t
  WINDOW ord AS (PARTITION BY conv_id
                 ORDER BY turn_idx, ts, substr(role, 1, 256), substr(text, 1, 256)),
         grp AS (PARTITION BY conv_id, turn_idx
                 ORDER BY ts, substr(role, 1, 256), substr(text, 1, 256))
)
SELECT 'unique.conv_turn' AS constraint_id, conv_id, turn_idx,
       'duplicate key (' || conv_id || ',' || turn_idx || ') occurrence '
         || occ || '; first seen ' || first_seen AS reason,
       'ERROR' AS severity
FROM w WHERE occ > 1
UNION ALL
SELECT 'order.turn_idx', conv_id, turn_idx,
       CASE WHEN turn_idx = prev_idx THEN 'duplicate turn_idx ' || turn_idx
            ELSE 'turn_idx gap: expected ' || COALESCE(prev_idx + 1, 0)
                 || ' got ' || turn_idx END,
       'ERROR'
FROM w
WHERE (prev_idx IS NOT NULL AND turn_idx = prev_idx)
   OR turn_idx > COALESCE(prev_idx + 1, 0)
UNION ALL
SELECT 'monotonic.ts', conv_id, turn_idx,
       'ts not monotonic: ' || CAST(ts AS VARCHAR) || ' after '
         || CAST(prev_ts AS VARCHAR),
       'ERROR'
FROM w WHERE prev_ts IS NOT NULL AND ts < prev_ts
"""

    sqls["suite_verdicts"] = f"""
WITH {_T_CTE},
v AS (
  SELECT conv_id, 'ref.role' AS constraint_id, 3 AS sev FROM t
    WHERE role IS NOT NULL AND role NOT IN ('click','view','purchase','signup')
  UNION ALL SELECT conv_id, 'deprecated.role', 2 FROM t WHERE role = 'signup'
  UNION ALL SELECT conv_id, 'max_len.text', 3 FROM t
    WHERE text IS NOT NULL AND length(text) > 9
  UNION ALL SELECT CAST(NULL AS VARCHAR), 'coverage.role', 2
),
bk AS (SELECT DISTINCT {_sql_bucket('conv_id', 8)} AS bucket FROM t),
c(constraint_id, severity) AS ({_VERDICT_CONSTRAINTS}),
vc AS (
  SELECT CASE WHEN conv_id IS NULL THEN -1
              ELSE {_sql_bucket('conv_id', 8)} END AS bucket,
         constraint_id, COUNT(*) AS violation_count, MAX(sev) AS mx
  FROM v GROUP BY 1, 2
)
SELECT bk.bucket, c.constraint_id, c.severity,
       COALESCE(vc.violation_count, 0) AS violation_count,
       COALESCE(vc.mx, 0) < 3 AS pass
FROM bk CROSS JOIN c
LEFT JOIN vc ON vc.bucket = bk.bucket AND vc.constraint_id = c.constraint_id
UNION ALL
SELECT bucket, constraint_id,
       CASE mx WHEN 4 THEN 'FATAL' WHEN 3 THEN 'ERROR' WHEN 2 THEN 'WARNING'
               WHEN 1 THEN 'INFO' ELSE 'IGNORE' END,
       violation_count, mx < 3
FROM vc WHERE bucket = -1
"""

    sqls["conversation_stats"] = f"""
WITH {_T_CTE}
SELECT conv_id, COUNT(*) AS n_turns, COUNT(DISTINCT turn_idx) AS n_distinct_turns,
       MIN(turn_idx) AS min_idx, MAX(turn_idx) AS max_idx,
       (MIN(turn_idx) = 0 AND COUNT(*) = COUNT(DISTINCT turn_idx)
        AND MAX(turn_idx) - MIN(turn_idx) + 1 = COUNT(*)) AS dense_ordered
FROM t GROUP BY conv_id
"""

    sqls["mad_outliers_value"] = """
WITH v AS (SELECT event_id, value::DOUBLE AS v FROM events
           WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)),
n AS (SELECT count(*)::BIGINT AS n FROM v),
m AS (SELECT r.v AS med
      FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v) r
      JOIN n ON r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1),
m2 AS (SELECT r.dd AS mad
       FROM (SELECT abs(v.v - m.med) AS dd,
                    row_number() OVER (ORDER BY abs(v.v - m.med)) AS rn
             FROM v, m) r
       JOIN n ON r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1)
SELECT v.event_id, v.v AS value, m.med AS median, m2.mad AS mad,
       m.med - 3 * m2.mad AS lo, m.med + 3 * m2.mad AS hi
FROM v, m, m2
WHERE v.v < m.med - 3 * m2.mad OR v.v > m.med + 3 * m2.mad
"""

    sqls["mad_outliers_by_type"] = """
WITH v AS (SELECT event_type AS g, event_id, value::DOUBLE AS v FROM events
           WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
             AND event_type IS NOT NULL),
cnt AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY g),
m AS (SELECT r.g, r.v AS med
      FROM (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
            FROM v) r
      JOIN cnt ON cnt.g = r.g
       AND r.rn = CAST(floor((cnt.n - 1) * 0.5) AS BIGINT) + 1),
d AS (SELECT v.g, abs(v.v - m.med) AS dd FROM v JOIN m ON m.g = v.g),
m2 AS (SELECT r.g, r.dd AS mad
       FROM (SELECT g, dd, row_number() OVER (PARTITION BY g ORDER BY dd) AS rn
             FROM d) r
       JOIN cnt ON cnt.g = r.g
        AND r.rn = CAST(floor((cnt.n - 1) * 0.5) AS BIGINT) + 1)
SELECT v.g AS event_type, v.event_id, v.v AS value, m.med AS median,
       m2.mad AS mad, m.med - 3 * m2.mad AS lo, m.med + 3 * m2.mad AS hi
FROM v JOIN m ON m.g = v.g JOIN m2 ON m2.g = v.g
WHERE v.v < m.med - 3 * m2.mad OR v.v > m.med + 3 * m2.mad
"""

    # bit-for-bit replay of weighted_sample_topk's md5-derived
    # Efraimidis-Spirakis key (60-bit md5 prefix -> u in (0,1),
    # round(-ln(u)/w, 6) strictly positive so no -0.0/0.0 cross-engine
    # representation split, tie-break doc_id, smallest k win)
    sqls["weighted_sample_docs"] = """
WITH v AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'ws0'),
                                    1, 15))::BIGINT + 1)
                   / 1152921504606846977e0)
               / CAST(n_chars AS DOUBLE), 6) AS sample_key
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, weight, sample_key FROM v
ORDER BY sample_key ASC, doc_id ASC LIMIT 50
"""

    # per-group variant: same ES key, naive partitioned window (the
    # engine's two-stage plan is pinned equal to this window by test)
    sqls["weighted_sample_by_lang"] = """
WITH v AS (
  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'ws0'),
                                    1, 15))::BIGINT + 1)
                   / 1152921504606846977e0)
               / CAST(n_chars AS DOUBLE), 6) AS sample_key
  FROM documents
  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
    AND n_chars IS NOT NULL AND n_chars > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY sample_key ASC, doc_id ASC) AS rk
      FROM v)
SELECT lang, doc_id, weight, sample_key FROM r WHERE rk <= 10
"""

    # replay of q_pii_scrub_docs: same deterministic PII injection,
    # same RE2-safe patterns (scrub.PII_PATTERNS), 'g' flag for
    # replace-all parity with Spark's regexp_replace
    _email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    _phone = r"\+\d[\d -]{7,}\d"
    sqls["pii_scrub_docs"] = f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || '-0199' AS text
  FROM documents)
SELECT doc_id,
  CASE WHEN text IS NULL THEN 0
       ELSE len(regexp_extract_all(text, '{_email}')) END AS n_email,
  CASE WHEN text IS NULL THEN 0
       ELSE len(regexp_extract_all(text, '{_ipv4}')) END AS n_ipv4,
  CASE WHEN text IS NULL THEN 0
       ELSE len(regexp_extract_all(text, '{_phone}')) END AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{_email}', '<EMAIL>', 'g'),
      '{_ipv4}', '<IP>', 'g'),
      '{_phone}', '<PHONE>', 'g') AS text_scrubbed
FROM inj
"""

    sqls["role_transitions"] = f"""
WITH {_T_CTE},
p AS (SELECT role,
             lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
             lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nt
      FROM t),
c AS (SELECT role, next_role, COUNT(*)::BIGINT AS n FROM p WHERE nt IS NOT NULL
      GROUP BY role, next_role),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
SELECT c.role, c.next_role, c.n,
       round(CAST(c.n AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS frac
FROM c, tot
"""

    # replay of embedding_health: decimal(21,10) per-dim sums (exact,
    # order-independent) -> one double division; non-finite excluded
    sqls["embedding_health"] = """
WITH d AS (
  SELECT unnest(list_transform(range(1, len(embedding) + 1),
         i -> struct_pack(pos := i - 1, val := embedding[i]::DOUBLE))) AS pv
  FROM embeddings WHERE embedding IS NOT NULL
), v AS (
  SELECT pv.pos AS dim, pv.val AS v,
         (NOT isnan(pv.val)) AND pv.val > '-inf'::DOUBLE
          AND pv.val < 'inf'::DOUBLE AS fin
  FROM d
)
SELECT dim,
  CAST(COUNT(*) FILTER (fin) AS BIGINT) AS n_finite,
  CAST(COUNT(*) FILTER (NOT fin) AS BIGINT) AS n_nonfinite,
  round(CASE WHEN COUNT(*) FILTER (fin) > 0 THEN
    (SUM(round(v, 7)::DECIMAL(21,7)) FILTER (fin))::DOUBLE
      / (COUNT(*) FILTER (fin))
  END, 6) AS mean,
  round(CASE WHEN COUNT(*) FILTER (fin) > 0 THEN
    (SUM(round(abs(v), 7)::DECIMAL(21,7)) FILTER (fin))::DOUBLE
      / (COUNT(*) FILTER (fin))
  END, 6) AS mean_abs,
  MIN(v) FILTER (fin) AS min_val,
  MAX(v) FILTER (fin) AS max_val
FROM v GROUP BY dim ORDER BY dim
"""

    sqls["latency_quantiles"] = f"""
WITH {_T_CTE},
p AS (SELECT role, ts,
             lag(role) OVER w AS prev_role,
             lag(ts) OVER w AS prev_ts,
             lag(turn_idx) OVER w AS pt
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
v AS (SELECT concat_ws('>', prev_role, role) AS g,
             CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) AS v
      FROM p WHERE pt IS NOT NULL),
v2 AS (SELECT g, v FROM v WHERE v IS NOT NULL AND g IS NOT NULL),
n AS (SELECT g, count(*) AS n FROM v2 GROUP BY g),
r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM v2)
SELECT r.g AS transition, t2.q::DOUBLE AS q, r.v AS value
FROM (VALUES (0.5),(0.9),(0.99)) t2(q)
JOIN n ON true
JOIN r ON r.g = n.g AND r.rn = CAST(floor((n.n - 1) * t2.q) AS BIGINT) + 1
ORDER BY transition, q
"""

    sqls["render_conversations"] = f"""
WITH {_T_CTE}, r AS (
  SELECT conv_id, COUNT(*)::BIGINT AS n_turns,
         string_agg(coalesce(role,'') || ': ' || coalesce(text,''), chr(10)
                    ORDER BY turn_idx, coalesce(role,'') || ': ' || coalesce(text,'')) AS rendered
  FROM t GROUP BY conv_id
)
SELECT conv_id, n_turns, rendered,
       len(string_split(rendered, ' '))::BIGINT AS n_tokens,
       md5(rendered) AS content_key
FROM r
"""

    sqls["column_stats_documents"] = """
SELECT CAST(0 AS INTEGER) AS bucket, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id__nulls,
  COUNT(DISTINCT doc_id) AS doc_id__distinct,
  MIN(doc_id) AS doc_id__min, MAX(doc_id) AS doc_id__max,
  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text__nulls,
  COUNT(DISTINCT text) AS text__distinct,
  MIN(text) AS text__min, MAX(text) AS text__max,
  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang__nulls,
  COUNT(DISTINCT lang) AS lang__distinct,
  MIN(lang) AS lang__min, MAX(lang) AS lang__max,
  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source__nulls,
  COUNT(DISTINCT source) AS source__distinct,
  MIN(source) AS source__min, MAX(source) AS source__max,
  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars__nulls,
  COUNT(DISTINCT n_chars) AS n_chars__distinct,
  MIN(n_chars) AS n_chars__min, MAX(n_chars) AS n_chars__max,
  CAST(MIN(LENGTH(text)) AS INTEGER) AS text__len_min,
  CAST(MAX(LENGTH(text)) AS INTEGER) AS text__len_max,
  ROUND(AVG(LENGTH(text)), 6) AS text__len_avg
FROM documents
"""

    sqls["ref_orphan_orders"] = """
SELECT o_orderkey, o_custkey FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""

    sqls["coverage_unused_customers"] = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

    sqls["undefined_enum_events"] = """
SELECT event_id, event_type FROM events
WHERE event_type IS NOT NULL
  AND event_type NOT IN ('click','view','purchase','signup')
"""

    sqls["unique_collisions_lineitem"] = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM lineitem
GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
"""

    sqls["typecheck_props"] = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
       (json_extract_string(props, '$.k') IS NOT NULL
        AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NULL) AS cast_failed
FROM events
"""

    sqls["monotonic_value_events"] = """
WITH s AS (
  SELECT event_id, user_id, value,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
  FROM events)
SELECT event_id, user_id, value, prev_value FROM s
WHERE prev_value IS NOT NULL AND value < prev_value
"""

    sqls["sessionize_events"] = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS _new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id
"""

    # convstate.boundary_state replay: "last row" is by the SAME window
    # order the fused pass sorts by (idx, ties); the boundary group's
    # count and first-seen tie string replay the w2 window aggregates
    sqls["conv_boundary_state"] = """
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts) / 60) AS BIGINT) AS min_idx,
         event_type, event_id, value
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY min_idx DESC, event_type DESC, event_id DESC) AS rn,
         MAX(min_idx) OVER (PARTITION BY user_id) AS last_idx
  FROM e
), g AS (
  SELECT user_id, min_idx,
         COUNT(*) AS tail_count,
         FIRST(event_type || '|' || CAST(event_id AS VARCHAR)
               ORDER BY event_type, event_id) AS tail_first
  FROM e GROUP BY 1, 2
)
SELECT r.user_id,
       r.last_idx AS last_idx,
       r.value AS last_value,
       g.tail_count AS tail_count,
       g.tail_first AS tail_first
FROM r JOIN g ON g.user_id = r.user_id AND g.min_idx = r.last_idx
WHERE r.rn = 1
"""

    sqls["length_histogram_documents"] = """
SELECT CAST(FLOOR(LENGTH(text) / 64) AS INTEGER) AS bin,
       CAST(FLOOR(LENGTH(text) / 64) AS INTEGER) * 64 AS bin_lo,
       COUNT(*) AS cnt
FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
"""

    sqls["psi_value_drift"] = """
WITH c AS (SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bin, COUNT(*) AS cnt
           FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
r AS (SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bin, COUNT(*) AS cnt
      FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(c.cnt, 0) AS cc, COALESCE(r.cnt, 0) AS rc
      FROM c FULL OUTER JOIN r USING (bin)),
tot AS (SELECT CAST(SUM(cc) AS DOUBLE) AS ct, CAST(SUM(rc) AS DOUBLE) AS rt FROM j)
SELECT ROUND(SUM((cc / ct - rc / rt)
        * (LN(GREATEST(cc / ct, 1e-6)) - LN(GREATEST(rc / rt, 1e-6)))), 4) AS psi
FROM j, tot
"""

    sqls["increment_drift"] = """
WITH d AS (
  SELECT CAST(FLOOR(length(text) / 50.0) AS BIGINT) AS bin,
         (doc_id % 2 = 1) AS is_cur, (doc_id % 4 <> 3) AS is_ref
  FROM documents
  WHERE text IS NOT NULL AND ((doc_id % 2 = 1) OR (doc_id % 4 <> 3))),
h AS (SELECT bin, SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS cc,
             SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS rc
      FROM d GROUP BY 1),
tot AS (SELECT CAST(SUM(cc) AS DOUBLE) AS ct, CAST(SUM(rc) AS DOUBLE) AS rt FROM h)
SELECT ROUND(SUM((cc / ct - rc / rt)
        * (LN(GREATEST(cc / ct, 1e-6)) - LN(GREATEST(rc / rt, 1e-6)))), 4) AS psi
FROM h, tot
"""

    sqls["psi_by_bucket"] = """
WITH d AS (
  SELECT CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 8) AS INTEGER) AS bucket,
         CAST(FLOOR(value / 10) AS BIGINT) AS bin,
         (event_id % 2 = 0) AS is_cur
  FROM events WHERE value IS NOT NULL),
h AS (SELECT bucket, bin,
        SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS c_cnt,
        SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS r_cnt
      FROM d GROUP BY 1, 2),
t AS (SELECT bucket, SUM(c_cnt) AS ct, SUM(r_cnt) AS rt FROM h GROUP BY 1)
-- empty-side contract mirrors the engine (drift.psi_split_by_bucket's
-- try_divide + coalesce): a bucket with an empty cur or ref side
-- yields psi NULL and drifted TRUE
SELECT h.bucket, CAST(t.ct AS BIGINT) AS n_cur, CAST(t.rt AS BIGINT) AS n_ref,
  CASE WHEN t.ct = 0 OR t.rt = 0 THEN NULL ELSE
  ROUND(SUM((h.c_cnt / CAST(t.ct AS DOUBLE) - h.r_cnt / CAST(t.rt AS DOUBLE))
    * (LN(GREATEST(h.c_cnt / CAST(t.ct AS DOUBLE), 1e-6))
       - LN(GREATEST(h.r_cnt / CAST(t.rt AS DOUBLE), 1e-6)))), 6) END AS psi,
  COALESCE(CASE WHEN t.ct = 0 OR t.rt = 0 THEN NULL ELSE
  SUM((h.c_cnt / CAST(t.ct AS DOUBLE) - h.r_cnt / CAST(t.rt AS DOUBLE))
    * (LN(GREATEST(h.c_cnt / CAST(t.ct AS DOUBLE), 1e-6))
       - LN(GREATEST(h.r_cnt / CAST(t.rt AS DOUBLE), 1e-6)))) >= 0.2 END,
  TRUE) AS drifted
FROM h JOIN t USING (bucket)
GROUP BY h.bucket, t.ct, t.rt
"""

    sqls["ks_click_view"] = """
WITH sa AS (
  SELECT value AS v FROM events
  WHERE event_type = 'click' AND value IS NOT NULL
  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 4000),
sb AS (
  SELECT value AS v FROM events
  WHERE event_type = 'view' AND value IS NOT NULL
  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 4000),
u AS (
  SELECT v, 1 AS ia, 0 AS ib FROM sa
  UNION ALL
  SELECT v, 0, 1 FROM sb),
cum AS (SELECT SUM(ia) OVER w AS ca, SUM(ib) OVER w AS cb FROM u
        WINDOW w AS (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
n AS (SELECT CAST(SUM(ia) AS DOUBLE) AS na, CAST(SUM(ib) AS DOUBLE) AS nb FROM u)
SELECT ROUND(MAX(ABS(ca / na - cb / nb)), 6) AS ks FROM cum, n
"""

    sqls["dedup_exact"] = """
SELECT d.doc_id, m.keep_id
FROM documents d
JOIN (SELECT text, MIN(doc_id) AS keep_id FROM documents
      GROUP BY text HAVING COUNT(*) > 1) m USING (text)
WHERE d.doc_id <> m.keep_id
"""

    # anti join on raw text == the engine's 128-bit content-key anti
    # join (collision-free at these cardinalities); NULL text survives
    # by definition on both sides
    sqls["dedup_incremental"] = """
SELECT n.doc_id, length(n.text) AS text_len
FROM documents n
WHERE n.doc_id % 2 = 1
  AND (n.text IS NULL OR n.text NOT IN (
      SELECT text FROM documents
      WHERE doc_id % 4 <> 3 AND text IS NOT NULL))
"""

    # shared shingle CTE: distinct word 5-gram shingles per doc
    shingles = """sh AS (
  SELECT DISTINCT doc_id, lang, source, u.s AS sh
  FROM documents,
       UNNEST(list_transform(
         range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
         j -> array_to_string(list_slice(string_split(text, ' '), j, j + 4), ' ')
       )) AS u(s)
)"""
    # hash i = word (i % 4) of md5(shingle # i//4) — mirror of
    # dedup.minhash_signatures' packed-md5 family
    minhash_m = lambda i: (
        f"MIN(('0x' || substr(md5(sh || '#' || {i // 4}), "
        f"{1 + 8 * (i % 4)}, 8))::BIGINT) AS m{i}"
    )

    sqls["minhash_signatures"] = f"""
WITH {shingles}
SELECT doc_id, {minhash_m(0)}, {minhash_m(1)}, {minhash_m(2)}, {minhash_m(3)}
FROM sh WHERE doc_id < 100 GROUP BY doc_id
"""

    sqls["minhash_lsh_pairs"] = f"""
WITH {shingles},
sig AS (
  SELECT doc_id, {minhash_m(0)}, {minhash_m(1)}, {minhash_m(2)}, {minhash_m(3)},
         {minhash_m(4)}, {minhash_m(5)}, {minhash_m(6)}, {minhash_m(7)}
  FROM sh GROUP BY doc_id)
SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sig a JOIN sig b
  ON a.m0 = b.m0 AND a.m1 = b.m1 AND a.doc_id < b.doc_id
UNION
SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
  ON a.m2 = b.m2 AND a.m3 = b.m3 AND a.doc_id < b.doc_id
UNION
SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
  ON a.m4 = b.m4 AND a.m5 = b.m5 AND a.doc_id < b.doc_id
UNION
SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
  ON a.m6 = b.m6 AND a.m7 = b.m7 AND a.doc_id < b.doc_id
"""

    sqls["near_dup_incremental"] = f"""
WITH {shingles},
sig AS (
  SELECT doc_id, {minhash_m(0)}, {minhash_m(1)}, {minhash_m(2)}, {minhash_m(3)},
         {minhash_m(4)}, {minhash_m(5)}, {minhash_m(6)}, {minhash_m(7)}
  FROM sh GROUP BY doc_id),
hit AS (
  SELECT DISTINCT n.doc_id
  FROM sig n JOIN sig p
    ON ((n.m0 = p.m0 AND n.m1 = p.m1) OR (n.m2 = p.m2 AND n.m3 = p.m3)
        OR (n.m4 = p.m4 AND n.m5 = p.m5) OR (n.m6 = p.m6 AND n.m7 = p.m7))
  WHERE n.doc_id % 2 = 1 AND p.doc_id % 4 <> 3)
SELECT d.doc_id, length(d.text) AS text_len
FROM documents d
WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM hit)
"""

    # shared recursive-CTE body (signatures -> band pairs -> edges ->
    # min-label components) interpolated into BOTH dedup_clusters and
    # dedup_corpus, so the two oracles can never drift apart
    components_ctes = f"""{shingles},
sig AS (
  SELECT doc_id, {minhash_m(0)}, {minhash_m(1)}, {minhash_m(2)}, {minhash_m(3)},
         {minhash_m(4)}, {minhash_m(5)}, {minhash_m(6)}, {minhash_m(7)}
  FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sig a JOIN sig b
    ON a.m0 = b.m0 AND a.m1 = b.m1 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
    ON a.m2 = b.m2 AND a.m3 = b.m3 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
    ON a.m4 = b.m4 AND a.m5 = b.m5 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
    ON a.m6 = b.m6 AND a.m7 = b.m7 AND a.doc_id < b.doc_id),
e AS (SELECT a_id AS u, b_id AS v FROM p
      UNION SELECT b_id, a_id FROM p),
-- min over transitive reachability == the min-label propagation
-- fixpoint the engine iterates to (schedule-independent)
r(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT e.v, r.lbl FROM r JOIN e ON e.u = r.u
)"""

    sqls["dedup_clusters"] = f"""
WITH RECURSIVE {components_ctes}
SELECT u AS doc_id, MIN(lbl) AS canonical_id FROM r GROUP BY u
"""

    # cluster-aware split: rep = component min-label (or own id for
    # docs outside every cluster); side = md5(rep|salt) 32-bit prefix
    # mod-threshold, the stratified_sample determinism trick
    sqls["cluster_split_docs"] = f"""
WITH RECURSIVE {components_ctes},
c AS (SELECT u AS doc_id, MIN(lbl) AS canonical_id FROM r GROUP BY u)
SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS rep_id,
       CASE WHEN ('0x' || substr(md5(
                    CAST(COALESCE(c.canonical_id, d.doc_id) AS VARCHAR)
                    || '|' || 'split0'), 1, 8))::BIGINT % 10 < 9
            THEN 'train' ELSE 'holdout' END AS split
FROM documents d LEFT JOIN c USING (doc_id)
"""

    # deduped corpus = documents minus non-canonical cluster members;
    # same component replay via the shared CTE body
    sqls["dedup_corpus"] = f"""
WITH RECURSIVE {components_ctes},
losers AS (
  SELECT u AS doc_id FROM r GROUP BY u HAVING u <> MIN(lbl))
SELECT d.doc_id, LENGTH(d.text) AS text_len
FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE l.doc_id IS NULL
"""

    sqls["simhash_documents"] = """
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 16), b ->
    CASE WHEN list_sum(list_transform(string_split(text, ' '), tk ->
           CASE WHEN ((('0x' || substr(md5(tk), 1, 8))::BIGINT >> b) & 1) = 1
                THEN 1 ELSE -1 END)) > 0
         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM documents
"""

    sqls["jaccard_pairs"] = f"""
WITH {shingles},
-- mirror the engine's max_doc_freq=50 stopword-shingle cap: shingles
-- appearing in more than 50 docs of a (lang, source) block leave the
-- universe (both intersection and per-doc sizes)
capped AS (
  SELECT * FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY lang, source, sh) <= 50),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
  FROM capped a JOIN capped b
    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE c / (sa.sz + sb.sz - c) >= 0.5
"""

    # directional containment over the same capped-shingle universe;
    # thresholds compare the ROUNDED values, mirroring the Spark side
    sqls["containment_pairs"] = f"""
WITH {shingles},
capped AS (
  SELECT * FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY lang, source, sh) <= 50),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
  FROM capped a JOIN capped b
    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id,
       ROUND(c / sa.sz, 6) AS containment_a_in_b,
       ROUND(c / sb.sz, 6) AS containment_b_in_a
FROM common
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE ROUND(c / sa.sz, 6) >= 0.6 OR ROUND(c / sb.sz, 6) >= 0.6
ORDER BY a_id, b_id
"""

    # exact quantiles: the oracle IS the definition — the value at
    # 1-based rank floor((n-1)*q)+1 of the sorted non-null column
    sqls["exact_quantiles_value"] = """
WITH v AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
n AS (SELECT count(*) AS n FROM v),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
SELECT t.q::DOUBLE AS q, r.v AS value
FROM (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) t(q), n
JOIN r ON r.rn = CAST(floor((n.n - 1) * t.q) AS BIGINT) + 1
ORDER BY q
"""

    sqls["unigram_logprob"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM tok GROUP BY 1, 2
), c AS (SELECT h, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
t AS (SELECT sum(tf)::DOUBLE AS total FROM tf)
SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
       round(-sum(tf.tf * ln(c.cnt / t.total)) / sum(tf.tf), 6)
         AS avg_neg_logprob
FROM tf JOIN c USING (h) CROSS JOIN t
GROUP BY tf.doc_id ORDER BY tf.doc_id
"""

    # sequence packing: the oracle IS the naive global cumsum window
    # the two-phase prefix sum replaces; integer // division mirrors
    # Spark's `div`
    sqls["pack_sequences"] = """
WITH v AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents),
s AS (SELECT doc_id, n_tokens,
        (sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tokens) AS st
      FROM v WHERE n_tokens IS NOT NULL AND n_tokens > 0)
SELECT doc_id, n_tokens,
       (st // 2048)::BIGINT AS pack_id,
       (st % 2048)::BIGINT AS pack_offset,
       ((st + n_tokens - 1) // 2048 - st // 2048 + 1)::BIGINT AS spans_packs
FROM s ORDER BY doc_id
"""

    # shard planning: boundaries at total/n_shards-token marks of the
    # naive cumsum; integer // mirrors Spark's div. The total is a
    # correlated scalar, exact in DuckDB's 128-bit window sum
    sqls["plan_shards"] = """
WITH v AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents),
s AS (SELECT doc_id, n_tokens,
        (sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tokens) AS st
      FROM v WHERE n_tokens IS NOT NULL AND n_tokens > 0),
t AS (SELECT sum(n_tokens) AS total FROM s),
a AS (SELECT doc_id, n_tokens,
        ((st * 8) // t.total)::BIGINT AS shard_id
      FROM s, t)
SELECT shard_id, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens
FROM a GROUP BY shard_id ORDER BY shard_id
"""

    sqls["quantiles_by_event_type"] = """
WITH v AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
      FROM v)
SELECT r.g AS event_type, t.q::DOUBLE AS q, r.v AS value
FROM (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) t(q)
JOIN n ON true
JOIN r ON r.g = n.g AND r.rn = CAST(floor((n.n - 1) * t.q) AS BIGINT) + 1
ORDER BY event_type, q
"""

    # boilerplate detection/removal: distinct-per-doc gram document
    # frequency over the 60-bit md5-prefix hash (relational DISTINCT —
    # this DuckDB build lacks list_distinct over struct lists), the
    # HAVING threshold mirrors Spark's df_docs >= frac * N in double
    sqls["boilerplate_grams"] = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      i -> struct_pack(
        gh := ('0x'||substr(md5(toks[i]||' '||toks[i+1]),1,15))::BIGINT,
        gram := toks[i]||' '||toks[i+1]))) AS p
      FROM t WHERE len(toks) >= 2),
g AS (SELECT DISTINCT doc_id, p.gh AS gh, p.gram AS gram FROM g0)
SELECT min(gram) AS gram, count(*)::BIGINT AS df_docs
FROM g, n GROUP BY gh, n.n_docs HAVING count(*) >= 0.08 * n.n_docs
ORDER BY df_docs DESC, gram ASC
"""

    sqls["strip_boilerplate"] = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
o0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      i -> struct_pack(pos := i,
        gh := ('0x'||substr(md5(toks[i]||' '||toks[i+1]),1,15))::BIGINT))) AS pg
      FROM t WHERE len(toks) >= 2),
o AS (SELECT doc_id, pg.pos AS pos, pg.gh AS gh FROM o0),
g AS (SELECT DISTINCT doc_id, gh FROM o),
b AS (SELECT gh FROM g, n GROUP BY gh, n.n_docs
      HAVING count(*) >= 0.08 * n.n_docs),
hits AS (SELECT o.doc_id, unnest([o.pos, o.pos + 1]) AS cp
         FROM o JOIN b USING (gh)),
cov AS (SELECT doc_id, list(DISTINCT cp) AS cov FROM hits GROUP BY doc_id)
SELECT t.doc_id,
  COALESCE(array_to_string(list_filter(list_transform(range(1, len(toks) + 1),
    i -> CASE WHEN cov.cov IS NULL OR NOT list_contains(cov.cov, i)
         THEN toks[i] END), x -> x IS NOT NULL), ' '), '') AS text_clean,
  (len(toks) - len(list_filter(list_transform(range(1, len(toks) + 1),
    i -> CASE WHEN cov.cov IS NULL OR NOT list_contains(cov.cov, i)
         THEN toks[i] END), x -> x IS NOT NULL)))::BIGINT AS n_removed
FROM t LEFT JOIN cov USING (doc_id)
ORDER BY doc_id
"""

    # exact duplicate-substring spans: 8-token windows hashed to the
    # 60-bit md5 prefix, flagged at >= 2 distinct docs, merged into
    # maximal spans via lag + running-sum islands (same brk semantics
    # as Spark: NULL lag compares to false -> 0)
    sqls["dup_spans_docs"] = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
o0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
      i -> struct_pack(pos := i,
        gh := ('0x'||substr(md5(array_to_string(toks[i:i+7],' ')),1,15))::BIGINT))) AS pg
      FROM t WHERE len(toks) >= 8),
o AS (SELECT doc_id, pg.pos AS pos, pg.gh AS gh FROM o0),
g AS (SELECT DISTINCT doc_id, gh FROM o),
b AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
h AS (SELECT o.doc_id, o.pos FROM o JOIN b USING (gh)),
brks AS (SELECT doc_id, pos,
      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
           THEN 1 ELSE 0 END AS brk FROM h),
isl AS (SELECT doc_id, pos,
      sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island FROM brks)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 7)::BIGINT AS span_end,
       (max(pos) + 7 - min(pos) + 1)::BIGINT AS span_len,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
"""

    sqls["strip_dup_spans"] = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
o0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
      i -> struct_pack(pos := i,
        gh := ('0x'||substr(md5(array_to_string(toks[i:i+7],' ')),1,15))::BIGINT))) AS pg
      FROM t WHERE len(toks) >= 8),
o AS (SELECT doc_id, pg.pos AS pos, pg.gh AS gh FROM o0),
g AS (SELECT DISTINCT doc_id, gh FROM o),
b AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
hits AS (SELECT o.doc_id, unnest(range(o.pos, o.pos + 8)) AS cp
         FROM o JOIN b USING (gh)),
cov AS (SELECT doc_id, list(DISTINCT cp) AS cov FROM hits GROUP BY doc_id)
SELECT t.doc_id,
  COALESCE(array_to_string(list_filter(list_transform(range(1, len(toks) + 1),
    i -> CASE WHEN cov.cov IS NULL OR NOT list_contains(cov.cov, i)
         THEN toks[i] END), x -> x IS NOT NULL), ' '), '') AS text_clean,
  (len(toks) - len(list_filter(list_transform(range(1, len(toks) + 1),
    i -> CASE WHEN cov.cov IS NULL OR NOT list_contains(cov.cov, i)
         THEN toks[i] END), x -> x IS NOT NULL)))::BIGINT AS n_removed
FROM t LEFT JOIN cov USING (doc_id)
ORDER BY doc_id
"""

    # label-centroid outlier audit: per-dimension sums replayed in
    # DECIMAL(21,10) (exact, order-independent — the same reason the
    # Spark side accumulates in decimal), centroid list ordered by
    # dimension, cosine rounded to 5 dp before the rank
    sqls["embedding_outliers"] = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS emb
  FROM embeddings
), d AS (
  SELECT label, unnest(list_transform(range(1, len(emb) + 1),
         i -> struct_pack(pos := i, val := emb[i]))) AS pv
  FROM e
), c AS (
  SELECT label, pv.pos AS pos,
         (SUM((pv.val)::DECIMAL(21,10)))::DOUBLE / COUNT(*) AS cd
  FROM d GROUP BY 1, 2
), cv AS (
  SELECT label, list(cd ORDER BY pos) AS cvec FROM c GROUP BY 1
), s AS (
  SELECT e.label, e.vec_id,
         round(list_cosine_similarity(e.emb, cv.cvec), 5) AS cos_sim
  FROM e JOIN cv USING (label)
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY label ORDER BY cos_sim ASC, vec_id ASC) AS rk
  FROM s
)
SELECT label, vec_id, cos_sim FROM r WHERE rk <= 5
ORDER BY label, vec_id
"""

    # TF-IDF keywords: df keyed on the 60-bit md5-prefix term hash
    # (the decontam derivation — ('0x' || substr(md5(x),1,15))::BIGINT
    # == Spark's conv(substring(md5(x),1,15),16,10)); rank on the
    # ROUNDED tfidf with term ASC tie-break, mirroring the Spark window
    sqls["tfidf_topterms"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT h, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
), n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
         round(tf.tf * ln(n.n_docs / dfreq.df_docs), 6) AS tfidf
  FROM tf JOIN dfreq USING (h) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
  FROM s
)
SELECT doc_id, term, tf, df_docs, tfidf FROM r WHERE rk <= 3
ORDER BY doc_id, term
"""

    sqls["ann_topk_cosine"] = """
WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], pe), 5) AS cos_sim
FROM embeddings, p WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], pe) DESC, vec_id
LIMIT 10
"""

    # mirror of similarity.hyperplane_bucket_col (md5-derived planes) so
    # the oracle replays the LSH-bucket blocking exactly
    def _sql_hyperplane_bucket(emb: str, seed: int, n_planes: int = 8) -> str:
        terms = []
        for p in range(n_planes):
            comp = (
                f"list_transform(range(0, 64), i -> "
                f"(('0x' || substr(md5('{seed}_{p}_' || i), 1, 8))::BIGINT"
                f" / 4294967296.0) - 0.5)"
            )
            terms.append(
                f"CASE WHEN list_dot_product({emb}, {comp}) > 0"
                f" THEN {1 << p} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    sqls["embedding_near_dup"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         {_sql_hyperplane_bucket('embedding::DOUBLE[]', 42)} AS bk0,
         {_sql_hyperplane_bucket('embedding::DOUBLE[]', 43)} AS bk1
  FROM embeddings),
p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_cosine_similarity(a.emb, b.emb) AS cs
  FROM e a JOIN e b ON a.bk0 = b.bk0 AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95
  UNION
  SELECT a.vec_id, b.vec_id, list_cosine_similarity(a.emb, b.emb)
  FROM e a JOIN e b ON a.bk1 = b.bk1 AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95)
SELECT a_id, b_id, ROUND(cs, 5) AS cos_sim FROM p
"""

    # replay of similarity.lsh_bucket_topk: the probe's bucket in each
    # of the two hash tables (seeds 42, 43), OR-of-buckets candidate
    # set, exact cosine top-k within it
    sqls["lsh_bucket_topk"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         {_sql_hyperplane_bucket('embedding::DOUBLE[]', 42)} AS bk0,
         {_sql_hyperplane_bucket('embedding::DOUBLE[]', 43)} AS bk1
  FROM embeddings),
p AS (SELECT emb AS pe, bk0 AS pb0, bk1 AS pb1 FROM e WHERE vec_id = 0)
SELECT e.vec_id, ROUND(list_cosine_similarity(e.emb, p.pe), 5) AS cos_sim
FROM e, p
WHERE e.vec_id <> 0 AND (e.bk0 = p.pb0 OR e.bk1 = p.pb1)
ORDER BY list_cosine_similarity(e.emb, p.pe) DESC, e.vec_id
LIMIT 10
"""

    # replay of similarity.ivf_topk: centroids = 8 rows with the
    # smallest md5-prefix hash of the id (over the probe-excluded set,
    # exactly like the engine), assignment = argmax cosine (ties ->
    # lowest centroid id, matching array_position-of-max), probe lists =
    # 3 centroids nearest the probe (stable ties by cid, matching
    # numpy argsort), then exact cosine top-k over the probed lists
    sqls["ivf_topk"] = """
WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0),
h AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS hid
      FROM embeddings WHERE vec_id <> 0),
c AS (SELECT ROW_NUMBER() OVER (ORDER BY hid, vec_id) - 1 AS cid, emb AS cemb
      FROM h ORDER BY hid, vec_id LIMIT 8),
pl AS (SELECT c.cid FROM c, p
       ORDER BY list_cosine_similarity(c.cemb, p.pe) DESC, c.cid LIMIT 3),
asg AS (SELECT h.vec_id, h.emb,
               (SELECT c.cid FROM c
                ORDER BY list_cosine_similarity(h.emb, c.cemb) DESC, c.cid
                LIMIT 1) AS acid
        FROM h)
SELECT asg.vec_id, ROUND(list_cosine_similarity(asg.emb, p.pe), 5) AS cos_sim
FROM asg, p
WHERE asg.acid IN (SELECT cid FROM pl)
ORDER BY list_cosine_similarity(asg.emb, p.pe) DESC, asg.vec_id
LIMIT 10
"""

    # replay of similarity.ivf_topk over the FROZEN refined centroids
    # (pipeline/ivf_frozen.py): the centroids are shared float literals
    # parsed to bit-identical doubles by both engines, so assignment
    # (argmax cosine, ties -> lowest cid), probe lists (3 nearest,
    # stable ties by cid), and the final top-k replay exactly
    from ocsf_validator_spark.pipeline.ivf_frozen import (
        IVF_REFINED_CENTROIDS as _IVF_C,
    )

    cent_rows = ",\n       ".join(
        f"({cid}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for cid, c in enumerate(_IVF_C)
    )
    sqls["ivf_topk_refined"] = f"""
WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0),
h AS (SELECT vec_id, embedding::DOUBLE[] AS emb
      FROM embeddings WHERE vec_id <> 0),
c(cid, cemb) AS (VALUES
       {cent_rows}),
pl AS (SELECT c.cid FROM c, p
       ORDER BY list_cosine_similarity(c.cemb, p.pe) DESC, c.cid LIMIT 3),
asg AS (SELECT h.vec_id, h.emb,
               (SELECT c.cid FROM c
                ORDER BY list_cosine_similarity(h.emb, c.cemb) DESC, c.cid
                LIMIT 1) AS acid
        FROM h)
SELECT asg.vec_id, ROUND(list_cosine_similarity(asg.emb, p.pe), 5) AS cos_sim
FROM asg, p
WHERE asg.acid IN (SELECT cid FROM pl)
ORDER BY list_cosine_similarity(asg.emb, p.pe) DESC, asg.vec_id
LIMIT 10
"""

    # replay of similarity.semdedup_survivors over the same frozen
    # centroids: nearest-centroid assignment (argmax cosine, ties ->
    # lowest cid), within-cluster lower-id neighbor probe at the same
    # threshold, anti join to the survivor set
    sqls["semdedup_docs"] = f"""
WITH h AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c(cid, cemb) AS (VALUES
       {cent_rows}),
asg AS (SELECT h.vec_id, h.emb,
               (SELECT c.cid FROM c
                ORDER BY list_cosine_similarity(h.emb, c.cemb) DESC, c.cid
                LIMIT 1) AS cluster_id
        FROM h),
drops AS (SELECT DISTINCT b.vec_id
          FROM asg a JOIN asg b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.emb, b.emb) >= 0.42)
SELECT asg.vec_id, CAST(asg.cluster_id AS INTEGER) AS cluster_id
FROM asg ANTI JOIN drops USING (vec_id)
ORDER BY asg.vec_id
"""

    stop = lambda ws: " OR ".join(f"tk = '{w}'" for w in ws)
    def _div_leg(n: int) -> str:
        gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
        return f"""
SELECT t.source, {n} AS n, t.total_grams,
       COALESCE(d.distinct_grams, 0) AS distinct_grams
FROM (
  SELECT source,
         CAST(SUM(greatest(len(toks) - {n - 1}, 0)) AS BIGINT) AS total_grams
  FROM base GROUP BY source) t
LEFT JOIN (
  SELECT source, CAST(COUNT(DISTINCT gh) AS BIGINT) AS distinct_grams
  FROM (
    SELECT source,
      unnest(list_transform(range(1, len(toks) - {n - 2}),
        i -> ('0x' || substr(md5({gram}), 1, 15))::BIGINT)) AS gh
    FROM base WHERE len(toks) >= {n})
  GROUP BY source) d ON d.source = t.source"""

    sqls["ngram_diversity"] = (
        "WITH base AS (SELECT source, string_split(text, ' ') AS toks "
        "FROM documents WHERE text IS NOT NULL), u AS ("
        + " UNION ALL ".join(_div_leg(n) for n in (1, 2, 3))
        + ") SELECT source, n, total_grams, distinct_grams, "
        "CASE WHEN total_grams = 0 THEN NULL ELSE "
        "ROUND(distinct_grams / CAST(total_grams AS DOUBLE), 6) END "
        "AS distinct_ratio FROM u"
    )

    sqls["vocab_coverage"] = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term
  FROM documents WHERE text IS NOT NULL),
tf AS (
  SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h,
         COUNT(*)::BIGINT AS cnt
  FROM tok GROUP BY 1),
hist AS (
  SELECT cnt, COUNT(*)::BIGINT AS n_terms,
         (cnt * COUNT(*))::BIGINT AS mass
  FROM tf GROUP BY cnt),
c AS (
  SELECT cnt, n_terms, mass,
    CAST(COALESCE(SUM(mass) OVER (ORDER BY cnt DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_mass,
    CAST(COALESCE(SUM(n_terms) OVER (ORDER BY cnt DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_terms
  FROM hist),
need AS (
  SELECT t.coverage_pct,
         CAST((tot.total * t.coverage_pct + 99) // 100 AS BIGINT)
           AS needed_tokens
  FROM (VALUES (50), (90), (99)) AS t(coverage_pct),
       (SELECT SUM(mass)::BIGINT AS total FROM hist) AS tot)
SELECT n.coverage_pct, n.needed_tokens,
  CAST(c.cum_terms
       + (n.needed_tokens - c.cum_mass + c.cnt - 1) // c.cnt AS BIGINT)
    AS vocab_size,
  c.cnt AS cutoff_cnt,
  CAST(c.cum_mass
       + ((n.needed_tokens - c.cum_mass + c.cnt - 1) // c.cnt) * c.cnt
    AS BIGINT) AS covered_tokens
FROM need n
JOIN c ON c.cum_mass < n.needed_tokens
      AND c.cum_mass + c.mass >= n.needed_tokens
"""

    sqls["epoch_shuffle"] = """
SELECT doc_id, 3 AS epoch,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), 'shuffle', '3')),
                  doc_id) - 1 AS BIGINT) AS pos
FROM documents WHERE doc_id IS NOT NULL
"""

    sqls["chunk_documents"] = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(u.s / 24 AS INTEGER) AS chunk_idx,
       CAST(u.s AS INTEGER) AS start_tok,
       CAST(len(list_slice(toks, u.s + 1, u.s + 32)) AS INTEGER) AS n_tokens,
       CAST(length(array_to_string(list_slice(toks, u.s + 1, u.s + 32), ' '))
            AS INTEGER) AS chunk_chars
FROM tk, UNNEST(range(0, greatest(len(toks) - 8 - 1, 0) + 1, 24)) AS u(s)
"""

    sqls["source_vocab_overlap"] = """
WITH p AS (
  SELECT DISTINCT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h, source
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)),
v AS (SELECT source, COUNT(*)::BIGINT AS n FROM p GROUP BY source),
i AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*)::BIGINT AS shared_terms
  FROM p a JOIN p b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.src_a, i.src_b, i.shared_terms, va.n AS vocab_a, vb.n AS vocab_b,
  ROUND(i.shared_terms / CAST(va.n + vb.n - i.shared_terms AS DOUBLE), 6)
    AS jaccard
FROM i
JOIN v va ON va.source = i.src_a
JOIN v vb ON vb.source = i.src_b
"""

    sqls["dup_rate_by_source"] = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror' FROM documents
  WHERE doc_id % 5 = 0),
f AS (SELECT text, min(doc_id) AS keep FROM corpus
      WHERE text IS NOT NULL GROUP BY text),
d AS (
  SELECT c.source,
    CASE WHEN c.text IS NULL THEN FALSE
         ELSE c.doc_id != f.keep END AS is_dup
  FROM corpus c LEFT JOIN f ON c.text = f.text)
SELECT source, COUNT(*)::BIGINT AS n_docs,
  SUM(is_dup::INTEGER)::BIGINT AS dup_docs,
  ROUND(SUM(is_dup::INTEGER) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM d GROUP BY source
"""

    sqls["posting_lists"] = """
WITH pairs AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h, t AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL))
SELECT min(term) AS term, COUNT(*)::BIGINT AS df_docs,
       list_slice(list(doc_id ORDER BY doc_id), 1, 5) AS top_docs
FROM pairs GROUP BY h
"""

    sqls["normalize_docs"] = """
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0
         THEN '  ' || upper(substr(text, 1, 8)) || ' ' || chr(9) || ' '
              || text || '  '
         ELSE text END AS text
  FROM documents),
n AS (
  SELECT doc_id, text,
    lower(trim(regexp_replace(
      regexp_replace(text, '[\\x00-\\x1f]', ' ', 'g'), ' +', ' ', 'g')))
      AS text_norm
  FROM inj)
SELECT doc_id, text_norm,
  COALESCE(text IS NOT NULL AND text != text_norm, FALSE) AS changed,
  md5(text) AS key_raw,
  md5(text_norm) AS key_norm
FROM n
"""

    sqls["winsorize_value"] = """
WITH v AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
n AS (SELECT count(*) AS n FROM v),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
f AS (SELECT
  (SELECT r.v FROM r, n
   WHERE r.rn = CAST(floor((n.n - 1) * 0.01) AS BIGINT) + 1) AS lo,
  (SELECT r.v FROM r, n
   WHERE r.rn = CAST(floor((n.n - 1) * 0.99) AS BIGINT) + 1) AS hi)
SELECT e.event_id, e.value,
  CASE WHEN e.value IS NOT NULL
       THEN least(greatest(e.value::DOUBLE, f.lo), f.hi) END AS clipped,
  CASE WHEN e.value IS NOT NULL
       THEN (e.value::DOUBLE < f.lo OR e.value::DOUBLE > f.hi) END
    AS was_clipped
FROM events e CROSS JOIN f
"""

    sqls["pmi_collocations"] = """
WITH d AS (SELECT string_split(text, ' ') AS tk
           FROM documents WHERE text IS NOT NULL),
uni AS (
  SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h, COUNT(*)::BIGINT AS c
  FROM (SELECT unnest(tk) AS t FROM d) GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS T FROM uni),
bi AS (
  SELECT ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT AS hb,
         ('0x' || substr(md5(tk[i]), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(tk[i+1]), 1, 15))::BIGINT AS h2,
         COUNT(*)::BIGINT AS n_pair
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d WHERE len(tk) >= 2)
  GROUP BY 1, 2, 3),
tb AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS TB FROM bi),
top AS (
  SELECT bi.hb, bi.n_pair, u1.c AS n_left, u2.c AS n_right,
    ROUND(ln((CAST(bi.n_pair AS DOUBLE) * tot.T * tot.T) /
             (tb.TB * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6)
      AS pmi
  FROM bi
  JOIN uni u1 ON u1.h = bi.h1
  JOIN uni u2 ON u2.h = bi.h2
  CROSS JOIN tot CROSS JOIN tb
  WHERE bi.n_pair >= 5
  ORDER BY pmi DESC, bi.hb ASC LIMIT 20),
grams AS (
  SELECT DISTINCT
    ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT AS hb,
    tk[i] || ' ' || tk[i+1] AS bigram
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d WHERE len(tk) >= 2))
SELECT min(g.bigram) AS bigram, t.n_pair, t.n_left, t.n_right, t.pmi
FROM top t JOIN grams g ON g.hb = t.hb
GROUP BY t.hb, t.n_pair, t.n_left, t.n_right, t.pmi
"""

    sqls["turn_echo"] = f"""
WITH {_T_CTE},
l AS (
  SELECT conv_id, text,
         lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM t),
s AS (
  SELECT conv_id,
    CASE WHEN text IS NOT NULL AND prev IS NOT NULL THEN
      ROUND(len(list_intersect(list_distinct(string_split(text, ' ')),
                               list_distinct(string_split(prev, ' '))))
            / CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE), 6)
    END AS echo,
    CASE WHEN text IS NOT NULL AND prev IS NOT NULL THEN
      (len(list_intersect(list_distinct(string_split(text, ' ')),
                          list_distinct(string_split(prev, ' '))))
       = len(list_distinct(string_split(text, ' '))))::INTEGER
    END AS fe
  FROM l)
SELECT conv_id, COUNT(*)::BIGINT AS n_turns,
  COUNT(echo)::BIGINT AS turns_scored,
  ROUND(CAST(SUM(CAST(echo AS DECIMAL(21,6))) AS DOUBLE) / COUNT(echo), 6)
    AS avg_echo,
  MAX(echo) AS max_echo,
  COALESCE(SUM(fe), 0)::BIGINT AS full_echo_turns
FROM s GROUP BY conv_id
"""

    sqls["robust_scale_value"] = """
WITH v AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
n AS (SELECT count(*) AS n FROM v),
med AS (
  SELECT r.v AS med
  FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v) r, n
  WHERE r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1),
dev AS (SELECT abs(v.v - med.med) AS d FROM v, med),
mad AS (
  SELECT r.d AS mad
  FROM (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dev) r, n
  WHERE r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1)
SELECT e.event_id, e.value,
  CASE WHEN e.value IS NOT NULL AND mad.mad != 0
       THEN ROUND((e.value::DOUBLE - med.med) / mad.mad, 6) END AS scaled,
  med.med AS median, mad.mad AS mad
FROM events e CROSS JOIN med CROSS JOIN mad
"""

    sqls["centroid_drift"] = """
WITH pv AS (
  SELECT vec_id,
    unnest(list_transform(range(1, len(embedding) + 1),
      i -> struct_pack(pos := i - 1, val := embedding[i]::DOUBLE))) AS pv
  FROM embeddings WHERE embedding IS NOT NULL),
v AS (
  SELECT vec_id, pv.pos AS dim, pv.val AS v,
         (NOT isnan(pv.val)) AND pv.val > '-inf'::DOUBLE
          AND pv.val < 'inf'::DOUBLE AS fin
  FROM pv),
ma AS (
  SELECT dim, round((SUM(round(v, 7)::DECIMAL(21,7)) FILTER (fin))::DOUBLE
               / (COUNT(*) FILTER (fin)), 7) AS m_a
  FROM v WHERE vec_id % 10 != 0 GROUP BY dim),
mb AS (
  SELECT dim, round((SUM(round(v, 7)::DECIMAL(21,7)) FILTER (fin))::DOUBLE
               / (COUNT(*) FILTER (fin)), 7) AS m_b
  FROM v WHERE vec_id % 10 = 0 GROUP BY dim),
t AS (
  SELECT round(m_a * m_b, 7)::DECIMAL(21,7) AS dot,
         round(m_a * m_a, 7)::DECIMAL(21,7) AS a2,
         round(m_b * m_b, 7)::DECIMAL(21,7) AS b2,
         round((m_a - m_b) * (m_a - m_b), 7)::DECIMAL(21,7) AS d2
  FROM ma JOIN mb USING (dim)),
agg AS (
  SELECT SUM(dot)::DOUBLE AS dot, SUM(a2)::DOUBLE AS a2,
         SUM(b2)::DOUBLE AS b2, SUM(d2)::DOUBLE AS d2 FROM t),
na AS (SELECT COUNT(*)::BIGINT AS n_a FROM embeddings
       WHERE embedding IS NOT NULL AND vec_id % 10 != 0),
nb AS (SELECT COUNT(*)::BIGINT AS n_b FROM embeddings
       WHERE embedding IS NOT NULL AND vec_id % 10 = 0)
SELECT na.n_a, nb.n_b,
  ROUND(CASE WHEN sqrt(agg.a2 * agg.b2) > 0
             THEN agg.dot / sqrt(agg.a2 * agg.b2) END, 6) AS cosine,
  ROUND(sqrt(agg.d2), 6) AS l2
FROM agg, na, nb
"""

    sqls["itemset_pairs"] = """
WITH s AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS N FROM s),
items AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM s GROUP BY 1),
p AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         COUNT(*)::BIGINT AS support
  FROM s a JOIN s b ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2)
SELECT p.item_a, p.item_b, p.support, ia.n AS n_a, ib.n AS n_b,
  ROUND((CAST(p.support AS DOUBLE) * n.N) /
        (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)), 6) AS lift
FROM p
JOIN items ia ON ia.event_type = p.item_a
JOIN items ib ON ib.event_type = p.item_b
CROSS JOIN n
"""

    sqls["quantile_bin_value"] = """
WITH v AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
n AS (SELECT count(*) AS n FROM v),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
fences AS (
  SELECT r.v
  FROM r, n,
       (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) t(j)
  WHERE r.rn = CAST(floor((n.n - 1) * (t.j::DOUBLE / 10)) AS BIGINT) + 1)
SELECT e.event_id, e.value,
  CASE WHEN e.value IS NOT NULL THEN
    CAST(1 + (SELECT COUNT(*) FROM fences f
              WHERE e.value::DOUBLE > f.v) AS INTEGER)
  END AS bucket
FROM events e
"""

    sqls["sliding_stats"] = """
WITH e AS (
  SELECT floor(epoch(ts))::BIGINT AS es,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
w AS (
  SELECT (es // 900) * 900 - k.i * 900 AS s, cents
  FROM e, (VALUES (0), (1), (2), (3)) k(i)
  WHERE es - ((es // 900) * 900 - k.i * 900) < 3600)
SELECT make_timestamp(s * 1000000) AS win_start,
       make_timestamp((s + 3600) * 1000000) AS win_end,
       COUNT(*)::BIGINT AS n,
       SUM(cents) / 100.0 AS sum_value,
       ROUND(SUM(cents) / 100.0 / COUNT(*), 6) AS avg_value
FROM w GROUP BY s
"""

    sqls["cohort_retention"] = """
WITH w AS (
  SELECT user_id,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS wk
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
c AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY user_id),
a AS (SELECT DISTINCT w.user_id, c.cw, w.wk - c.cw AS off
      FROM w JOIN c ON w.user_id = c.user_id),
r AS (SELECT cw AS cohort_period, off AS period_offset,
             COUNT(*)::BIGINT AS users
      FROM a GROUP BY 1, 2)
SELECT r.cohort_period, r.period_offset, r.users,
       ROUND(r.users / CAST(s.users AS DOUBLE), 6) AS retention_rate
FROM r JOIN r s ON s.cohort_period = r.cohort_period
               AND s.period_offset = 0
"""

    sqls["funnel_events"] = """
WITH e AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase') AND ts IS NOT NULL),
u1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM e GROUP BY user_id),
u2 AS (
  SELECT u1.user_id, u1.t1,
         min(CASE WHEN e.event_type = 'click' AND e.ts > u1.t1
                  THEN e.ts END) AS t2
  FROM u1 LEFT JOIN e ON e.user_id IS NOT DISTINCT FROM u1.user_id
  GROUP BY u1.user_id, u1.t1),
u3 AS (
  SELECT u2.user_id, u2.t1, u2.t2,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.t2
                  THEN e.ts END) AS t3
  FROM u2 LEFT JOIN e ON e.user_id IS NOT DISTINCT FROM u2.user_id
  GROUP BY u2.user_id, u2.t1, u2.t2),
r AS (
  SELECT 1 AS step_idx, 'view' AS step, COUNT(t1)::BIGINT AS users_reached FROM u3
  UNION ALL
  SELECT 2, 'click', COUNT(t2)::BIGINT FROM u3
  UNION ALL
  SELECT 3, 'purchase', COUNT(t3)::BIGINT FROM u3)
SELECT r.step_idx, r.step, r.users_reached,
  ROUND(CASE WHEN p.users_reached > 0
             THEN r.users_reached / p.users_reached END, 6) AS conv_from_prev,
  ROUND(CASE WHEN f.users_reached > 0
             THEN r.users_reached / f.users_reached END, 6) AS conv_from_first
FROM r
LEFT JOIN r p ON p.step_idx = r.step_idx - 1
CROSS JOIN (SELECT users_reached FROM r WHERE step_idx = 1) f
"""

    sqls["gopher_rules"] = f"""
WITH f AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n,
    LENGTH(REPLACE(text, ' ', '')) AS nonspace,
    len(list_filter(string_split(text, ' '),
        t -> t = '#' OR t = '...')) AS symbols,
    len(list_filter(string_split(text, ' '),
        t -> regexp_matches(t, '[a-z]'))) AS alpha,
    len(list_filter(string_split(text, ' '),
        tk -> {stop(textstats.STOPWORDS['en'])})) AS stops
  FROM documents),
g AS (
  SELECT doc_id,
    COALESCE(n >= 30 AND n <= 100000, FALSE) AS ok_word_count,
    COALESCE(nonspace >= 3.0::DOUBLE * n
         AND nonspace <= 10.0::DOUBLE * n, FALSE) AS ok_mean_word_len,
    COALESCE(symbols <= 0.1::DOUBLE * n, FALSE) AS ok_symbol_ratio,
    COALESCE(alpha >= 0.8::DOUBLE * n, FALSE) AS ok_alpha_frac,
    COALESCE(stops >= 2, FALSE) AS ok_stopwords
  FROM f)
SELECT doc_id, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
  ok_alpha_frac, ok_stopwords,
  CAST((NOT ok_word_count)::INTEGER + (NOT ok_mean_word_len)::INTEGER
     + (NOT ok_symbol_ratio)::INTEGER + (NOT ok_alpha_frac)::INTEGER
     + (NOT ok_stopwords)::INTEGER AS INTEGER) AS n_rules_failed,
  (NOT ok_word_count)::INTEGER + (NOT ok_mean_word_len)::INTEGER
     + (NOT ok_symbol_ratio)::INTEGER + (NOT ok_alpha_frac)::INTEGER
     + (NOT ok_stopwords)::INTEGER = 0 AS keep
FROM g
"""

    sqls["lang_mismatch"] = f"""
WITH p AS (
  SELECT source, lang,
    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred
  FROM (
    SELECT source, lang,
      len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['en'])})) AS s_en,
      len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['de'])})) AS s_de,
      len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['es'])})) AS s_es,
      len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['fr'])})) AS s_fr
    FROM documents)),
g AS (
  SELECT source, lang, lang_pred, COUNT(*)::BIGINT AS n
  FROM p GROUP BY 1, 2, 3),
tot AS (
  SELECT source, lang, SUM(n)::BIGINT AS n_docs,
         SUM(CASE WHEN lang_pred IS DISTINCT FROM lang THEN n ELSE 0 END)::BIGINT
           AS n_mismatch
  FROM g GROUP BY 1, 2),
top AS (
  SELECT source, lang, lang_pred AS top_mispred, n AS top_mispred_n,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY n DESC, lang_pred ASC) AS rn
  FROM g WHERE lang_pred IS DISTINCT FROM lang)
SELECT t.source, t.lang, t.n_docs, t.n_mismatch,
       ROUND(t.n_mismatch / t.n_docs, 6) AS mismatch_rate,
       top.top_mispred, top.top_mispred_n
FROM tot t
LEFT JOIN top ON t.source = top.source
             AND t.lang IS NOT DISTINCT FROM top.lang AND top.rn = 1
"""

    sqls["corpus_mix"] = """
WITH g AS (
  SELECT source, COUNT(*) AS docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 0
                       ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS t FROM g),
s AS (SELECT source, docs, tokens,
             ROUND(tokens / t, 6) AS token_share FROM g, tot),
e AS (SELECT ROUND(-CAST(SUM(CAST(ROUND(token_share * log2(token_share), 7)
                               AS DECIMAL(21,7))) AS DOUBLE), 6)
             AS mix_entropy_bits
      FROM s WHERE token_share > 0)
SELECT source, docs, tokens, token_share, mix_entropy_bits FROM s, e
"""

    # replay of textstats.quality_logit_cols: same exact-ratio features
    # in the same left-associated multiply-add order, no libm ops
    sqls["quality_logit"] = f"""
WITH f AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    LENGTH(REPLACE(text, ' ', '')) AS nonspace,
    LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
      AS n_sym,
    LENGTH(text) AS n_chars,
    len(list_filter(string_split(text, ' '),
                    tk -> {stop(textstats.STOPWORDS['en'])})) AS s_en
  FROM documents),
l AS (
  SELECT doc_id, n_chars,
    CASE WHEN n_chars > 0 THEN
      1.25 * (LEAST(n_tokens, 400)::DOUBLE / 400.0)
      + 0.8 * ((nonspace::DOUBLE / n_tokens) / 10.0)
      + 2.0 * (s_en::DOUBLE / n_tokens)
      + (-3.0) * (n_sym::DOUBLE / n_chars)
      + (-1.1) END AS logit
  FROM f)
SELECT doc_id,
       CASE WHEN n_chars > 0 THEN ROUND(logit, 6) END AS quality_logit,
       CASE WHEN n_chars > 0 THEN logit > 0
            WHEN n_chars IS NOT NULL THEN FALSE END AS keep
FROM l ORDER BY doc_id
"""

    # replay of stats.loop_detector: same md5 content key, same
    # per-(conv, key) counts and index extrema
    sqls["loop_detector"] = f"""
WITH {_T_CTE},
k AS (
  SELECT conv_id, turn_idx,
         md5(COALESCE(CAST(role AS VARCHAR), '<null>')
             || '|' || text) AS turn_key
  FROM t WHERE text IS NOT NULL)
SELECT conv_id, turn_key, COUNT(*)::BIGINT AS n_repeats,
       MIN(turn_idx) AS first_idx, MAX(turn_idx) AS last_idx,
       MAX(turn_idx) - MIN(turn_idx) AS span
FROM k GROUP BY conv_id, turn_key
HAVING COUNT(*) >= 2 ORDER BY conv_id, turn_key
"""

    # replay of the DriftGate EMD finding: current histogram vs the
    # literal one-point baseline at bin 100, HUGEINT CDF fold, %.6f
    # render; the psi gate passes by construction and emits nothing
    sqls["drift_gate"] = """
WITH cur AS (
  SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bin, COUNT(*)::HUGEINT AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1),
ref(bin, r) AS (VALUES (100::BIGINT, 1::HUGEINT)),
j AS (
  SELECT COALESCE(cur.bin, ref.bin) AS bin,
         COALESCE(cur.c, 0) AS c, COALESCE(ref.r, 0) AS r
  FROM cur FULL OUTER JOIN ref ON cur.bin = ref.bin),
t AS (SELECT SUM(c) AS nc, SUM(r) AS nr FROM j),
w AS (
  SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum_c,
         SUM(r) OVER (ORDER BY bin) AS cum_r,
         LEAD(bin) OVER (ORDER BY bin) AS nb
  FROM j),
e AS (
  SELECT COALESCE(SUM(abs(w.cum_c * t.nr - w.cum_r * t.nc)
                      * (w.nb - w.bin)::HUGEINT), 0) AS total
  FROM w, t WHERE w.nb IS NOT NULL)
SELECT 'drift.emd.value' AS constraint_id,
       CAST(NULL AS BIGINT) AS event_id,
       'emd(value) = '
         || printf('%.6f', e.total::DOUBLE / (t.nc * t.nr)::DOUBLE)
         || ' above threshold 5.0 vs recorded baseline' AS reason,
       'WARNING' AS severity
FROM e, t WHERE e.total::DOUBLE / (t.nc * t.nr)::DOUBLE >= 5.0
"""

    # replay of the VolumeGate findings: same day-count series, exact
    # MAD fences (the volume_anomaly replay), %.6f + strftime render
    sqls["volume_gate"] = f"""
WITH {_T_CTE},
c AS (
  SELECT date_trunc('day', ts) AS bucket, COUNT(*)::BIGINT AS cnt
  FROM t WHERE ts IS NOT NULL GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM c),
r AS (SELECT cnt::DOUBLE AS v, row_number() OVER (ORDER BY cnt::DOUBLE) AS rn
      FROM c),
m AS (SELECT (SELECT r.v FROM r, n
              WHERE r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1) AS med),
d AS (SELECT abs(c.cnt::DOUBLE - m.med) AS dv FROM c, m),
rd AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn FROM d),
md AS (SELECT (SELECT rd.dv FROM rd, n
               WHERE rd.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1) AS mad),
f AS (SELECT m.med, md.mad, m.med - 1 * md.mad AS lo,
             m.med + 1 * md.mad AS hi FROM m, md)
SELECT 'volume.day.ts' AS constraint_id,
       CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS INTEGER) AS turn_idx,
       'volume(day, ts) bucket ' || strftime(c.bucket, '%Y-%m-%d %H:%M:%S')
         || ' = ' || c.cnt || ' outside [' || printf('%.6f', f.lo) || ', '
         || printf('%.6f', f.hi) || '] (median ' || printf('%.6f', f.med)
         || ', mad ' || printf('%.6f', f.mad) || ')' AS reason,
       'WARNING' AS severity
FROM c CROSS JOIN f
WHERE c.cnt::DOUBLE < f.lo OR c.cnt::DOUBLE > f.hi
ORDER BY reason
"""

    # replay of the QuantileBound findings: exact order statistic via
    # the rank formula floor((n-1)*q)+1, %.6f render on both engines
    sqls["quantile_bounds"] = f"""
WITH {_T_CTE},
v AS (SELECT turn_idx::DOUBLE AS v FROM t WHERE turn_idx IS NOT NULL),
n AS (SELECT COUNT(*) AS n FROM v),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
q AS (SELECT (SELECT r.v FROM r, n
              WHERE r.rn = CAST(floor((n.n - 1) * 0.99) AS BIGINT) + 1)
         AS p99)
SELECT 'quantile.0.99.turn_idx' AS constraint_id,
       CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS INTEGER) AS turn_idx,
       'quantile(0.99, turn_idx) = ' || printf('%.6f', q.p99)
         || ' above max 0.5' AS reason,
       'ERROR' AS severity
FROM q WHERE q.p99 > 0.5
"""

    # replay of verdict.verdict_diff over two suite_verdicts replays
    # (even-conversation half vs full table): same violation legs, same
    # bucket/grid/dataset-row construction, parameterized by predicate
    def _sql_verdicts_cte(name: str, pred: str | None) -> str:
        pa = f" AND ({pred})" if pred else ""
        pw = f" WHERE ({pred})" if pred else ""
        return f"""
{name}_v AS (
  SELECT conv_id, 'ref.role' AS constraint_id, 3 AS sev FROM t
    WHERE role IS NOT NULL
      AND role NOT IN ('click','view','purchase','signup'){pa}
  UNION ALL SELECT conv_id, 'deprecated.role', 2 FROM t
    WHERE role = 'signup'{pa}
  UNION ALL SELECT conv_id, 'max_len.text', 3 FROM t
    WHERE text IS NOT NULL AND length(text) > 9{pa}
  UNION ALL SELECT CAST(NULL AS VARCHAR), 'coverage.role', 2
),
{name}_bk AS (SELECT DISTINCT {_sql_bucket('conv_id', 8)} AS bucket
              FROM t{pw}),
{name}_vc AS (
  SELECT CASE WHEN conv_id IS NULL THEN -1
              ELSE {_sql_bucket('conv_id', 8)} END AS bucket,
         constraint_id, COUNT(*) AS violation_count, MAX(sev) AS mx
  FROM {name}_v GROUP BY 1, 2
),
{name} AS (
  SELECT bk.bucket, c.constraint_id,
         COALESCE(vc.violation_count, 0) AS violation_count,
         COALESCE(vc.mx, 0) < 3 AS pass
  FROM {name}_bk bk CROSS JOIN c
  LEFT JOIN {name}_vc vc
    ON vc.bucket = bk.bucket AND vc.constraint_id = c.constraint_id
  UNION ALL
  SELECT bucket, constraint_id, violation_count, mx < 3
  FROM {name}_vc WHERE bucket = -1
)"""

    sqls["verdict_diff"] = f"""
WITH {_T_CTE},
c(constraint_id, severity) AS ({_VERDICT_CONSTRAINTS}),
{_sql_verdicts_cte('vb', "CAST(conv_id AS BIGINT) % 2 = 0")},
{_sql_verdicts_cte('va', None)},
j AS (
  SELECT COALESCE(vb.bucket, va.bucket) AS bucket,
         COALESCE(vb.constraint_id, va.constraint_id) AS constraint_id,
         vb.pass AS pass_before, va.pass AS pass_after,
         vb.violation_count AS count_before,
         va.violation_count AS count_after
  FROM vb FULL JOIN va
    ON vb.bucket = va.bucket AND vb.constraint_id = va.constraint_id
),
d AS (
  SELECT *,
    CASE
      WHEN pass_before IS NULL AND NOT pass_after THEN 'new_fail'
      WHEN pass_after IS NULL AND NOT pass_before AND bucket = -1
           THEN 'fixed'
      WHEN pass_after IS NULL AND NOT pass_before THEN 'gone_fail'
      WHEN pass_before AND NOT pass_after THEN 'regressed'
      WHEN NOT pass_before AND pass_after THEN 'fixed'
      WHEN NOT pass_before AND NOT pass_after THEN 'still_failing'
      WHEN pass_before AND pass_after
           AND count_before <> count_after THEN 'count_changed'
    END AS status
  FROM j)
SELECT bucket, constraint_id, status, pass_before, pass_after,
       count_before, count_after,
       COALESCE(count_after, 0) - COALESCE(count_before, 0) AS count_delta
FROM d WHERE status IS NOT NULL
ORDER BY bucket, constraint_id, status
"""

    # replay of keywords.bigram_logprob_score: same map-side 60-bit
    # gram/context hashes, hash-keyed count joins, identical double
    # expression tree tf * ln(cb/cl)
    sqls["bigram_logprob"] = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL),
pr AS (
  SELECT doc_id,
         ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT AS hb,
         ('0x' || substr(md5(tk[i]), 1, 15))::BIGINT AS hl
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        FROM d WHERE len(tk) >= 2)),
tf AS (SELECT doc_id, hb, hl, COUNT(*)::BIGINT AS tf
       FROM pr GROUP BY 1, 2, 3),
cb AS (SELECT hb, SUM(tf)::BIGINT AS cb FROM tf GROUP BY 1),
cl AS (SELECT hl, SUM(tf)::BIGINT AS cl FROM tf GROUP BY 1)
SELECT tf.doc_id,
       SUM(tf.tf)::BIGINT AS n_bigrams,
       ROUND(-SUM(tf.tf * ln(cb.cb::DOUBLE / cl.cl::DOUBLE)) / SUM(tf.tf), 6)
         AS avg_neg_logprob
FROM tf JOIN cb ON tf.hb = cb.hb JOIN cl ON tf.hl = cl.hl
GROUP BY tf.doc_id ORDER BY tf.doc_id
"""

    # replay of drift.emd_split/emd_table: same conditional
    # per-bin counts, cumulative sums in HUGEINT (cum·total products
    # exceed int64 at corpus scale), gap-width multipliers, one
    # cast-then-divide
    sqls["emd_value_drift"] = """
WITH s AS (
  SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
         (event_id % 2 = 0) AS is_cur,
         NOT (event_id % 2 = 0) AS is_ref
  FROM events
  WHERE value IS NOT NULL
    AND ((event_id % 2 = 0) OR NOT (event_id % 2 = 0))),
c AS (
  SELECT bin,
         SUM(CASE WHEN is_cur THEN 1 ELSE 0 END)::HUGEINT AS c_cnt,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::HUGEINT AS r_cnt
  FROM s GROUP BY bin),
t AS (SELECT SUM(c_cnt) AS nc, SUM(r_cnt) AS nr FROM c),
w AS (
  SELECT bin,
         SUM(c_cnt) OVER (ORDER BY bin) AS cum_c,
         SUM(r_cnt) OVER (ORDER BY bin) AS cum_r,
         LEAD(bin) OVER (ORDER BY bin) AS nb
  FROM c),
e AS (
  SELECT COALESCE(SUM(abs(w.cum_c * t.nr - w.cum_r * t.nc)
                      * (w.nb - w.bin)::HUGEINT), 0) AS total
  FROM w, t WHERE w.nb IS NOT NULL)
SELECT ROUND(e.total::DOUBLE / (t.nc * t.nr)::DOUBLE, 6) AS emd
FROM e, t
"""

    # replay of drift.volume_anomaly: day-count series, exact
    # order-statistic median and MAD via the rank formula
    # floor((n-1)*0.5)+1, fences med ± 3*mad in the same op order
    sqls["volume_anomaly"] = """
WITH c AS (
  SELECT date_trunc('day', ts) AS bucket, COUNT(*)::BIGINT AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM c),
r AS (SELECT cnt::DOUBLE AS v, row_number() OVER (ORDER BY cnt::DOUBLE) AS rn
      FROM c),
m AS (SELECT (SELECT r.v FROM r, n
              WHERE r.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1) AS med),
d AS (SELECT abs(c.cnt::DOUBLE - m.med) AS dv FROM c, m),
rd AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn FROM d),
md AS (SELECT (SELECT rd.dv FROM rd, n
               WHERE rd.rn = CAST(floor((n.n - 1) * 0.5) AS BIGINT) + 1) AS mad),
f AS (SELECT m.med, md.mad, m.med - 3 * md.mad AS lo,
             m.med + 3 * md.mad AS hi FROM m, md)
SELECT c.bucket, c.cnt, f.med AS median, f.mad, f.lo, f.hi,
       (c.cnt::DOUBLE < f.lo OR c.cnt::DOUBLE > f.hi) AS anomaly
FROM c CROSS JOIN f ORDER BY c.bucket
"""

    # replay of stats.column_topk_values: same melt, same 60-bit
    # md5-prefix hash as BOTH the count key and the rank tie-break,
    # same min-per-hash string recovery and 256-char display cap
    sqls["column_topk"] = f"""
WITH {_T_CTE},
m AS (
  SELECT 'role' AS col, role AS val FROM t WHERE role IS NOT NULL
  UNION ALL
  SELECT 'text' AS col, text AS val FROM t WHERE text IS NOT NULL),
hm AS (
  SELECT col, val, ('0x' || substr(md5(val), 1, 15))::BIGINT AS h FROM m),
c AS (
  SELECT col, h, MIN(val) AS value, COUNT(*) AS cnt
  FROM hm GROUP BY col, h),
tot AS (SELECT col, SUM(cnt) AS total FROM c GROUP BY col),
r AS (
  SELECT col, h, value, cnt,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY col ORDER BY cnt DESC, h ASC) AS INTEGER) AS rank
  FROM c)
SELECT r.col, r.rank, substr(r.value, 1, 256) AS value, r.cnt,
       ROUND(r.cnt::DOUBLE / tot.total, 6) AS share
FROM r JOIN tot ON r.col = tot.col
WHERE r.rank <= 5 ORDER BY r.col, r.rank
"""

    # replay of textstats.unicode_sanity_cols: same character classes
    # (python \\u escapes resolve to the identical literal chars)
    sqls["unicode_sanity"] = (
        "SELECT doc_id,\n"
        "  len(regexp_extract_all(text,"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))::BIGINT AS n_control,\n"
        "  len(regexp_extract_all(text, '\ufffd'))::BIGINT"
        " AS n_replacement,\n"
        "  len(regexp_extract_all(text,"
        " '[\u200b\u200c\u200d\ufeff]'))::BIGINT AS n_zero_width,\n"
        "  CASE WHEN LENGTH(text) > 0 THEN\n"
        "    ROUND((LENGTH(text)"
        " - len(regexp_extract_all(text, '[\\x00-\\x7F]')))::DOUBLE\n"
        "          / LENGTH(text), 6) END AS nonascii_ratio\n"
        "FROM documents ORDER BY doc_id"
    )

    # replay of violations._closing_leg: last turn via ROW_NUMBER
    # (turn_idx DESC, capped value DESC NULLS LAST) — the same total
    # order as the Spark max-struct (NULL display smallest)
    sqls["closing_role"] = f"""
WITH {_T_CTE},
r AS (
  SELECT conv_id, turn_idx, substr(CAST(role AS VARCHAR), 1, 256) AS v,
         ROW_NUMBER() OVER (
           PARTITION BY conv_id
           ORDER BY turn_idx DESC,
                    substr(CAST(role AS VARCHAR), 1, 256) DESC NULLS LAST
         ) AS rn
  FROM t)
SELECT 'closing.role' AS constraint_id, conv_id, turn_idx,
       'conversation closes with role=' || COALESCE(v, '<null>')
         || '; allowed closers: purchase,view' AS reason,
       'ERROR' AS severity
FROM r WHERE rn = 1 AND (v IS NULL OR v NOT IN ('purchase', 'view'))
ORDER BY conv_id
"""

    # replay of violations._gm_leg: same per-group exact distinct
    # count, same reason string, offending groups only
    sqls["group_metric"] = """
WITH g AS (
  SELECT source, COUNT(DISTINCT lang)::BIGINT AS d
  FROM documents GROUP BY source)
SELECT 'group_metric.distinct_count.lang.by.source' AS constraint_id,
       CAST(NULL AS BIGINT) AS doc_id,
       'distinct_count(lang) by (source=('
         || COALESCE(substr(source, 1, 256), '<null>')
         || ')) = ' || d || ' above max 4' AS reason,
       'ERROR' AS severity
FROM g WHERE d > 4 ORDER BY reason
"""

    # replay of violations.fd_violations: null-safe determinant groups,
    # NULL-counts-as-a-value distinctness, canonical = min non-null,
    # identical capped reason string
    sqls["fd_documents"] = """
WITH g AS (
  SELECT source,
         COUNT(DISTINCT lang)
           + MAX(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nvals,
         MIN(lang) AS canon
  FROM documents GROUP BY source),
b AS (SELECT * FROM g WHERE nvals > 1)
SELECT 'fd.source->lang' AS constraint_id,
       d.doc_id,
       'fd (source=(' || COALESCE(substr(d.source, 1, 256), '<null>')
         || ')) -> lang: found '
         || COALESCE(substr(d.lang, 1, 256), '<null>')
         || '; expected ' || COALESCE(substr(b.canon, 1, 256), '<null>')
         || '; ' || b.nvals || ' values' AS reason,
       'ERROR' AS severity
FROM documents d JOIN b ON d.source IS NOT DISTINCT FROM b.source
WHERE d.lang IS DISTINCT FROM b.canon
ORDER BY d.doc_id
"""

    # replay of similarity.ann_topk_int8: identical symmetric max-abs
    # quantization (scale = max|x|/127, half-up via floor(x/s + 0.5)) on
    # both the probe (vec_id 0) and the rows; the dot product is small
    # exact integers (|q| <= 127, products sum well inside double's
    # exact-integer range), and the rescale is the same two multiplies
    # in the same left-assoc order: (dot * s_row) * s_probe
    sqls["ann_topk_int8"] = """
WITH pr AS (
  SELECT list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS ps,
         embedding::DOUBLE[] AS pe
  FROM embeddings WHERE vec_id = 0),
pq AS (
  SELECT ps,
         list_transform(pe, x -> CAST(CASE WHEN ps = 0.0 THEN 0.0
           ELSE floor(x / ps + 0.5) END AS DOUBLE)) AS pqv
  FROM pr),
e AS (
  SELECT vec_id,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS s,
         embedding::DOUBLE[] AS emb
  FROM embeddings WHERE vec_id <> 0),
q AS (
  SELECT vec_id, s,
         list_transform(emb, x -> CAST(CASE WHEN s = 0.0 THEN 0.0
           ELSE floor(x / s + 0.5) END AS DOUBLE)) AS qv
  FROM e),
sc AS (
  SELECT vec_id, (list_dot_product(qv, pqv) * s) * ps AS score
  FROM q, pq)
SELECT vec_id, ROUND(score, 5) AS score_q
FROM sc ORDER BY score DESC, vec_id LIMIT 10
"""

    sqls["text_profile"] = f"""
WITH f AS (
  SELECT doc_id, text,
    len(regexp_extract_all(text, '[a-z]+')) AS n_regex_tokens,
    len(string_split(text, ' ')) AS n_tokens,
    LENGTH(REPLACE(text, ' ', '')) AS nonspace,
    len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['en'])})) AS s_en,
    len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['de'])})) AS s_de,
    len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['es'])})) AS s_es,
    len(list_filter(string_split(text, ' '), tk -> {stop(textstats.STOPWORDS['fr'])})) AS s_fr
  FROM documents)
SELECT doc_id,
  CAST(n_regex_tokens AS BIGINT) AS n_regex_tokens,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(nonspace / n_tokens, 6) AS avg_token_len,
  ROUND(s_en / n_tokens, 6) AS stopword_ratio,
  ROUND(LEAST(1.0, n_tokens / 100.0) * (1.0 - s_en / n_tokens), 6) AS quality,
  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred,
  list_min(list_transform(range(1, greatest(LENGTH(text) - 15, 1) + 1, 8),
    i -> ('0x' || substr(md5(substr(text, i, 16)), 1, 8))::BIGINT)) AS fp_min,
  list_max(list_transform(range(1, greatest(LENGTH(text) - 15, 1) + 1, 8),
    i -> ('0x' || substr(md5(substr(text, i, 16)), 1, 8))::BIGINT)) AS fp_max
FROM f
"""

    # bigram generation: DuckDB range(1, n) is half-open = Spark
    # sequence(1, n-1); list indexing is 1-based in both replays.
    # The top-k SET is selected by (cnt DESC, 60-bit md5 hash ASC) —
    # mirroring select.ngram_topk's hash-keyed exchange tie-break —
    # then presented (cnt DESC, ngram ASC) like the Spark side.
    sqls["ngram_topk"] = """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
g AS (SELECT list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
      FROM t WHERE len(toks) >= 2),
e AS (SELECT unnest(grams) AS ngram FROM g),
c AS (SELECT ngram, COUNT(*) AS cnt FROM e GROUP BY ngram),
k AS (SELECT ngram, cnt FROM c
      ORDER BY cnt DESC, ('0x' || substr(md5(ngram), 1, 15))::BIGINT ASC
      LIMIT 30)
SELECT ngram, cnt FROM k ORDER BY cnt DESC, ngram ASC
"""

    # md5-threshold replay of select.stratified_sample's CASE chain
    strat_h = (
        "('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR) "
        "|| '|' || 'strat0'), 1, 8))::BIGINT"
    )
    sqls["stratified_sample"] = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE CASE WHEN lang = 'en' THEN {strat_h} % 2 < 1
           WHEN lang = 'zh' THEN {strat_h} % 4 < 1
           ELSE {strat_h} % 8 < 1 END
"""

    # the naive per-language cumulative window that token_budget_select's
    # histogram-cutoff plan is provably equal to (quality bins are
    # order-compatible with (quality DESC, doc_id ASC); n_tokens >= 1 so
    # the cumulative sum is strictly increasing and `cum <= budget` is a
    # prefix); quality replays the text_profile expression already proven
    # hash-exact above
    sqls["token_budget_select"] = f"""
WITH s AS (
  SELECT doc_id, lang,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    ROUND(LEAST(1.0, len(string_split(text, ' ')) / 100.0) *
          (1.0 - len(list_filter(string_split(text, ' '),
                     tk -> {stop(textstats.STOPWORDS['en'])}))
                 / len(string_split(text, ' '))), 6) AS quality
  FROM documents),
c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY lang
    ORDER BY quality DESC, doc_id ASC
    ROWS UNBOUNDED PRECEDING) AS cum FROM s)
SELECT doc_id, lang, n_tokens, quality FROM c WHERE cum <= 2000
"""

    # composite curation chain: each CTE replays a stage already proven
    # hash-exact on its own (quality expr = text_profile; sampling =
    # the md5 threshold; dedup keeps min doc_id per text group — the
    # engine's 128-bit content key is collision-free on real data, see
    # exact_duplicates' oracle-parity note; budget = the naive window)
    sqls["curation_pipeline"] = f"""
WITH s AS (
  SELECT doc_id, lang, text,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    ROUND(LEAST(1.0, len(string_split(text, ' ')) / 100.0) *
          (1.0 - len(list_filter(string_split(text, ' '),
                     tk -> {stop(textstats.STOPWORDS['en'])}))
                 / len(string_split(text, ' '))), 6) AS quality
  FROM documents),
g AS (SELECT * FROM s WHERE quality >= 0.15),
p AS (SELECT * FROM g
      WHERE CASE WHEN lang = 'en' THEN {strat_h} % 3 < 2
                 WHEN lang = 'zh' THEN {strat_h} % 2 < 1
                 ELSE {strat_h} % 1 < 1 END),
d AS (SELECT * FROM p
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)),
c AS (SELECT doc_id, lang, n_tokens, quality,
        SUM(n_tokens) OVER (PARTITION BY lang
          ORDER BY quality DESC, doc_id ASC
          ROWS UNBOUNDED PRECEDING) AS cum FROM d)
SELECT doc_id, lang, n_tokens, quality FROM c WHERE cum <= 1500
"""

    # repetition signals: dup fractions via len - len(list_distinct);
    # the mode-bigram count is recomputed the relational way (explode +
    # groupBy + max) to cross-check the engine's sort+fold formulation
    sqls["repetition_profile"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id, toks,
        CASE WHEN len(toks) >= 2 THEN
          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        ELSE [] END AS grams
      FROM t),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
m AS (SELECT doc_id, MAX(c) AS topc FROM
        (SELECT doc_id, gram, COUNT(*) AS c FROM e GROUP BY 1, 2)
      GROUP BY 1)
SELECT g.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CASE WHEN len(toks) = 0 THEN NULL ELSE
    ROUND((len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE), 6)
  END AS dup_token_frac,
  CASE WHEN len(grams) = 0 THEN NULL ELSE
    ROUND((len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE), 6)
  END AS dup_ngram_frac,
  CASE WHEN len(grams) = 0 THEN NULL ELSE
    ROUND(m.topc / CAST(len(grams) AS DOUBLE), 6)
  END AS top_ngram_frac
FROM g LEFT JOIN m USING (doc_id)
"""

    # decontamination: replays the md5 split, the 3-gram 60-bit hash
    # derivation (('0x' || substr(md5(gram), 1, 15))::BIGINT ==
    # Spark's conv(substring(md5(gram), 1, 15), 16, 10)), the distinct-
    # per-doc dedup, and the membership join — so hash membership is
    # bit-identical across engines. Zero-gram corpus docs re-enter via
    # the z LEFT JOIN (Spark keeps them via explode_outer).
    # replay of decontam.split_leakage: same md5 content key, same
    # conditional per-side counts
    sqls["split_leakage"] = """
WITH t AS (
  SELECT md5(substr(text, 1, 100)) AS content_key,
         (doc_id % 2 = 0) AS is_train
  FROM documents WHERE text IS NOT NULL)
SELECT content_key,
       SUM(CASE WHEN is_train THEN 1 ELSE 0 END)::BIGINT AS n_train,
       SUM(CASE WHEN is_train THEN 0 ELSE 1 END)::BIGINT AS n_val
FROM t GROUP BY content_key
HAVING n_train > 0 AND n_val > 0
ORDER BY content_key
"""

    sqls["decontam_overlap"] = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 20) = 0)
      AS is_bench
  FROM documents),
g AS (
  SELECT doc_id, is_bench,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(range(1, len(toks) - 1),
        i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT))
    ELSE [] END AS grams
  FROM base),
b AS (SELECT DISTINCT unnest(grams) AS gh FROM g WHERE is_bench),
e AS (SELECT doc_id, unnest(grams) AS gh FROM g WHERE NOT is_bench),
hit AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(b.gh) AS BIGINT) AS n_hit
        FROM e LEFT JOIN b ON e.gh = b.gh
        GROUP BY 1)
SELECT g.doc_id,
  COALESCE(h.n_grams, 0) AS n_grams,
  COALESCE(h.n_hit, 0) AS n_hit,
  CASE WHEN COALESCE(h.n_grams, 0) = 0 THEN NULL ELSE
    ROUND(h.n_hit / CAST(h.n_grams AS DOUBLE), 6) END AS overlap,
  COALESCE(h.n_hit / CAST(h.n_grams AS DOUBLE) >= 0.05, FALSE) AS contaminated
FROM g LEFT JOIN hit h USING (doc_id)
WHERE NOT g.is_bench
"""

    sqls["star_revenue_region"] = """
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
         * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size <= 15
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""

    # salted join: the salt is an identity-preserving key widening, so
    # the oracle is the PLAIN join + rollup
    sqls["salted_join_events"] = """
SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""

    # as-of: the oracle is the naive theta-join + per-event ROW_NUMBER
    # pick (greatest o_ts <= ts, greatest o_orderkey on ties) the union
    # + window formulation is provably equal to. The tolerance can live
    # in the join predicate here: if the LATEST match is older than the
    # horizon, every match is.
    sqls["asof_latest_order"] = """
WITH o AS (
  SELECT o_custkey AS user_id, o_orderkey, o_totalprice,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 720) * INTERVAL 1 HOUR AS o_ts
  FROM orders),
m AS (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_ts DESC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN o ON o.user_id = e.user_id AND o.o_ts <= e.ts
             AND o.o_ts >= e.ts - INTERVAL 259200 SECOND)
SELECT event_id, user_id, o_orderkey AS order_key,
       o_totalprice AS order_total
FROM m WHERE rn = 1
"""

    # range join: DuckDB runs the plain inequality join (IEJoin) the
    # bucket-explode equi-join is equal to
    sqls["range_attribution"] = """
WITH iv AS (
  SELECT o_orderkey AS win_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 696) * INTERVAL 1 HOUR
           + (o_custkey % 60) * INTERVAL 1 MINUTE AS w_start,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 696) * INTERVAL 1 HOUR
           + (o_custkey % 60) * INTERVAL 1 MINUTE
           + (1 + o_orderkey % 180) * INTERVAL 1 MINUTE AS w_end
  FROM orders WHERE o_orderkey % 16 = 0)
SELECT iv.win_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY iv.win_id
"""

    sqls["rollup_events"] = """
WITH s AS (
  SELECT event_type AS dim, strftime(ts, '%Y-%m-%d') AS day, value AS _v
  FROM events)
SELECT dim, day, CAST(GROUPING(dim, day) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(_v * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM s GROUP BY GROUPING SETS ((dim, day), (dim), (day), ())
"""

    sqls["multimodal_meta"] = """
SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""

    # The decode stub's fake feature folds byte values into 8 buckets
    # (bucket j = bytes at 0-based positions ≡ j mod 8) and divides each
    # bucket sum by n_bytes; feature_sum re-adds the buckets in order.
    # For the all-ASCII documents fixture byte i == ascii(char i), so
    # the whole computation replays in SQL: bucket sums are exact
    # integers in binary64, and the oracle divides/sums in the SAME
    # order as the engine (per-bucket division first, then a left-to-
    # right sum over the 8 buckets) for bit-identical doubles.
    sqls["multimodal_features"] = """
SELECT doc_id AS id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256,
  ROUND(list_sum(list_transform(range(0, 8), j ->
    COALESCE(list_sum(list_transform(
        range(j + 1, CAST(octet_length(encode(text)) AS BIGINT) + 1, 8),
        i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS DOUBLE))), 0)
    / greatest(CAST(octet_length(encode(text)) AS DOUBLE), 1))), 6)
    AS feature_sum
FROM documents
"""

    sqls["q1_pricing"] = """
WITH d AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(8,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(8,2)) AS price,
         CAST(1 - CAST(l_discount AS DECIMAL(5,4)) AS DECIMAL(5,4)) AS disc1,
         CAST(1 + CAST(l_tax AS DECIMAL(5,4)) AS DECIMAL(5,4)) AS tax1
  FROM lineitem)
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(qty) AS DOUBLE), 2) AS sum_qty,
  ROUND(CAST(SUM(price) AS DOUBLE), 2) AS sum_base_price,
  ROUND(CAST(SUM(price * disc1) AS DOUBLE), 2) AS sum_disc_price,
  ROUND(CAST(SUM(price * disc1 * tax1) AS DOUBLE), 2) AS sum_charge,
  COUNT(*) AS count_order
FROM d GROUP BY l_returnflag, l_linestatus
"""

    sqls["top_revenue_orders"] = """
WITH per_order AS (
  SELECT l_orderkey, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_orderkey)
SELECT o_orderkey, o_custkey, ROUND(CAST(rev AS DOUBLE), 2) AS revenue
FROM per_order JOIN orders ON l_orderkey = o_orderkey
ORDER BY rev DESC, o_orderkey LIMIT 10
"""

    sqls["revenue_by_nation"] = """
SELECT n_name,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sqls["ks_by_bucket_textlen"] = """
WITH ref AS (
  SELECT CAST(LENGTH(text) AS DOUBLE) AS v
  FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 200)),
d AS (
  SELECT CAST((('0x' || substr(md5(source), 1, 8))::BIGINT % 8) AS INTEGER) AS bucket,
         CAST(LENGTH(text) AS DOUBLE) AS v
  FROM documents WHERE text IS NOT NULL),
u AS (
  SELECT bucket, v, 1 AS ia, 0 AS ib FROM d
  UNION ALL
  SELECT b.bucket, ref.v, 0, 1
  FROM (SELECT DISTINCT bucket FROM d) b CROSS JOIN ref),
cum AS (
  SELECT bucket, SUM(ia) OVER w AS ca, SUM(ib) OVER w AS cb
  FROM u
  WINDOW w AS (PARTITION BY bucket ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
n AS (SELECT bucket, CAST(SUM(ia) AS DOUBLE) AS na,
             CAST(SUM(ib) AS DOUBLE) AS nb
      FROM u GROUP BY bucket),
ks AS (
  SELECT cum.bucket, MAX(ABS(cum.ca / n.na - cum.cb / n.nb)) AS d
  FROM cum JOIN n USING (bucket) GROUP BY cum.bucket)
SELECT ks.bucket, CAST(n.na AS BIGINT) AS n, ROUND(ks.d, 6) AS ks,
       ROUND(1.358 * SQRT((n.na + n.nb) / (n.na * n.nb)), 6) AS threshold,
       ks.d > 1.358 * SQRT((n.na + n.nb) / (n.na * n.nb)) AS drifted
FROM ks JOIN n USING (bucket)
"""

    sqls["type_routing_events"] = """
WITH typed AS (
  SELECT event_id,
         CASE WHEN event_type IN ('click', 'view') THEN 'interaction'
              WHEN event_type IN ('purchase', 'signup') THEN 'commerce'
              WHEN value >= 900 THEN 'outlier'
              ELSE NULL END AS rec_type
  FROM events)
SELECT event_id, rec_type FROM typed WHERE rec_type IS NOT NULL
UNION ALL
SELECT event_id, 'UNDETECTABLE: record matches none of 3 type rules'
FROM typed WHERE rec_type IS NULL
"""

    sqls["residual_props_range"] = """
SELECT 'residual.props_k_range' AS constraint_id, event_id,
       'props.k=' || CAST(json_extract_string(props, '$.k') AS INTEGER)
         || ' outside residual range [0, 50]' AS reason,
       'ERROR' AS severity
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
"""

    sqls["payload_unknown_keys"] = """
SELECT 'map_keys.props_map' AS constraint_id, event_id,
       'unknown key(s) [k] in props_map' AS reason, 'ERROR' AS severity
FROM events WHERE props IS NOT NULL
UNION ALL
SELECT 'map_keys.tag_map', event_id,
       'unknown key(s) [k'
         || (CAST(json_extract_string(props, '$.k') AS INTEGER) % 4)
         || '] in tag_map',
       'ERROR'
FROM events
WHERE (CAST(json_extract_string(props, '$.k') AS INTEGER) % 4) >= 2
"""

    sqls["parse_corrupt_props"] = """
SELECT 'parse.json' AS constraint_id, event_id,
       'props is not parseable JSON: ' || substr('{' || props, 1, 64) AS reason,
       'ERROR' AS severity
FROM events WHERE event_id % 37 = 0
"""

    # multimodal_features is the ONLY remaining no-oracle query: its
    # feature vector comes from the engine's documented decoder stub
    # (pipeline/multimodal.py) — cross-checked in pytest against a
    # numpy reimplementation instead.
    return sqls
