"""Declarative constraint vocabulary.

This is the engine's analogue of the reference's TypedDict schema system
(reference types.py:23-199) plus its validator registry (reference
runner.py:281-353): each constraint class below names ONE check the
reference performs, re-expressed as a declarative spec over table
columns. Specs are tiny driver-side dataclasses; compilation to Column
expressions lives in compile.py.

Severity mirrors the reference's ``Severity`` / ``ValidatorOptions``
(reference runner.py:31-161): every constraint carries a severity, and
the runner's pass/fail threshold is configurable (ERROR by default,
WARNING under --strict).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import IntEnum
from typing import Any, Mapping, Sequence


# the metric vocabulary of MetricBound and GroupMetricBound
METRICS = ("null_rate", "row_count", "distinct_count", "min", "max")


def _known_metric(c: "Constraint", vocabulary: Sequence[str]) -> None:
    if c.metric not in vocabulary:
        raise ValueError(
            f"{c.constraint_id}: unknown metric {c.metric!r} "
            f"(one of {', '.join(vocabulary)})"
        )


class Severity(IntEnum):
    """Mirror of reference runner.py:31-55 (IGNORE/INFO/WARN/ERROR/FATAL)."""

    IGNORE = 0
    INFO = 1
    WARNING = 2
    ERROR = 3
    FATAL = 4

    @classmethod
    def parse(cls, v: "Severity | int | str") -> "Severity":
        if isinstance(v, Severity):
            return v
        if isinstance(v, int):
            return cls(v)
        return cls[v.upper()]


@dataclass(frozen=True)
class Constraint:
    """Base: every constraint has a stable id, a severity, and an
    optional applicability predicate (SQL expression string) scoping it
    to a row subset — the analogue of the reference's path Matchers
    (reference matchers.py:10-130) routing validators to doc subsets.
    """

    column: str
    severity: Severity = Severity.ERROR
    where: str | None = None  # SQL predicate: constraint applies only where true
    id_override: str | None = None

    KIND = "abstract"

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.column}"

    def __post_init__(self) -> None:
        # a config error is never a silent keep: the dataset-level kinds
        # read the WHOLE frame (and so do the runner's piggybacked
        # aggregates), and the group-level kinds the whole window or key
        # group, so a `where` there would be ignored — scope the input
        # frame instead
        for level, kinds in (("dataset", DATASET_LEVEL), ("group", GROUP_LEVEL)):
            if self.where and isinstance(self, kinds):
                raise ValueError(
                    f"{self.KIND} constraints are {level}-level; `where` "
                    "is not applied — filter the input frame instead"
                )

    def version(self) -> str:
        """Stable content hash so the checkpoint manifest can detect a
        changed constraint set (north rule: 'constraint versions')."""
        import hashlib

        return hashlib.sha256(repr(self).encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# Row-level constraints — compile to a single vectorized projection
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class NotNull(Constraint):
    """Required key (reference validate_required_keys, validators.py:59-103)."""

    KIND = "required"


@dataclass(frozen=True)
class InEnum(Constraint):
    """Referential integrity against a broadcast enum dictionary
    (reference validate_undefined_attrs, validators.py:201-233, and
    validate_event_categories, validators.py:608-629).

    ``values``: the allowed values (the dictionary.json analogue).
    ``extra_allowed``: always-legal values, like the implicit "other"
    category (reference validators.py:624).  NULLs never violate (use
    NotNull for that).
    """

    values: tuple[str, ...] = ()
    extra_allowed: tuple[str, ...] = ()
    KIND = "ref"

    @property
    def allowed(self) -> tuple[str, ...]:
        return tuple(self.values) + tuple(self.extra_allowed)


@dataclass(frozen=True)
class Deprecated(Constraint):
    """Usage of @deprecated values (reference types.py:27-29,80:
    OcsfDeprecationInfo{message, since}). Fires a WARNING violation per
    row using a deprecated value."""

    deprecated: Mapping[str, tuple[str, str]] = field(default_factory=dict)
    # value -> (since, message)
    severity: Severity = Severity.WARNING
    KIND = "deprecated"


@dataclass(frozen=True)
class TypeCast(Constraint):
    """Castability check (reference validate_attr_types,
    validators.py:317-374: attr type must resolve to a known scalar or
    object type). Here: value must try_cast cleanly to ``to_type``."""

    to_type: str = "bigint"
    KIND = "typecheck"


@dataclass(frozen=True)
class Regex(Constraint):
    """Metaschema 'pattern' conformance (reference validate_metaschemas,
    validators.py:265-314; OcsfAttr.regex, types.py:73)."""

    pattern: str = ".*"
    KIND = "regex"


@dataclass(frozen=True)
class Glob(Constraint):
    """Glob-pattern conformance (reference GlobMatcher,
    matchers.py:56-62): '*' and '?' wildcards, compiled to SQL LIKE via
    compile.glob_to_like — stays in whole-stage codegen, no regex
    engine in the hot path. FLAT-STRING whole-value semantics (NOT
    pathlib path-component matching); '[seq]' classes and wildcard+'/'
    patterns are rejected at compile time — see glob_to_like."""

    glob: str = "*"
    KIND = "glob"


@dataclass(frozen=True)
class MaxLen(Constraint):
    """OcsfAttr.max_len (reference types.py:68)."""

    max_len: int = 1 << 20
    KIND = "max_len"


@dataclass(frozen=True)
class Range(Constraint):
    """OcsfAttr.range (reference types.py:72) — inclusive numeric range."""

    lo: float | None = None
    hi: float | None = None
    KIND = "range"


@dataclass(frozen=True)
class MapKeysIn(Constraint):
    """No unknown keys INSIDE a nested payload (reference
    validate_no_unknown_keys descending into dict-valued attrs,
    validators.py:106-158 + compare_keys recursion validators.py:59-103):
    ``column`` is a map<string,_> column (or a struct path resolving to
    one); every key must be in ``allowed``. NULL maps never violate."""

    allowed: tuple[str, ...] = ()
    KIND = "map_keys"


@dataclass(frozen=True)
class PandasCheck(Constraint):
    """Residual complex rule evaluated in an Arrow-batched pandas pass —
    the escape hatch for constraints no Column expression can state
    (reference validate_metaschemas, validators.py:278-314: jsonschema
    Draft2020-12 over whole documents). ``check(pdf) -> (mask, reasons)``
    where mask is a boolean Series (True = violation) and reasons is a
    str Series (or None to use the static ``reason``). ``check_id``
    (not the function object) feeds constraint_id and the version hash,
    so checkpoints stay stable across processes."""

    columns: tuple[str, ...] = ()
    check: Any = field(default=None, repr=False, compare=False)
    check_id: str = "residual"
    reason: str = "failed residual check"
    KIND = "residual"

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.check_id}"


# ---------------------------------------------------------------------------
# Group-level constraints — compile to aggregations / windows
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Unique(Constraint):
    """Key uniqueness (reference validate_intra_type_collisions,
    validators.py:236-262: group by (type, name), >1 file per name is an
    error emitted for the 2nd+ occurrence keeping the first-seen file).

    ``column`` is a comma-free display name; ``keys`` are the grouping
    columns. ``first_seen_order`` breaks ties to define the kept row,
    mirroring the reference's first-seen-wins iteration order.
    """

    keys: tuple[str, ...] = ()
    first_seen_order: tuple[str, ...] = ()
    KIND = "unique"


@dataclass(frozen=True)
class TurnOrdering(Constraint):
    """North-star ordering check: within each conversation, turn_idx
    must be dense (no duplicates, no gaps) under
    Window.partitionBy(conv_id).orderBy(turn_idx)."""

    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    KIND = "order"


@dataclass(frozen=True)
class Monotonic(Constraint):
    """Per-group monotonicity (ts must not decrease within a conversation
    under stable turn ordering)."""

    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    strict: bool = False
    KIND = "monotonic"


@dataclass(frozen=True)
class Precedence(Constraint):
    """Sequential-structure check: a ``trigger`` value of ``column``
    requires at least one ``prereq`` value STRICTLY EARLIER in the same
    conversation under stable turn ordering — the tool-call/tool-result
    pairing shape (a role='tool' turn needs a prior assistant tool
    call; a 'purchase' event needs a prior 'view'/'click'). The
    analogue of the reference's dependency-edge requirement that a
    referenced node exist before its dependents resolve
    (reference dependencies.py add_dependency/process order), applied
    to the turn sequence instead of the file graph.

    Evaluated in the fused single-scan window pass as a running
    prereq-count over the conversation window's PRECEDING frame — it
    rides the same exchange + sort as Unique/TurnOrdering/Monotonic.
    Incremental runs carry a per-conversation "prereq seen" bit in the
    convstate boundary summary, so a trigger in increment 2 whose
    prereq landed in increment 1 does not false-positive. NULL never
    matches ``trigger`` or ``prereq``. Cross-batch STREAMING state for
    this kind is not carried (batch + incremental only).
    """

    trigger: str = ""
    prereq: tuple[str, ...] = ()
    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    KIND = "precedence"

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.column}.{self.trigger}"

    @property
    def seen_slug(self) -> str:
        """Column-name-safe key for carried 'prereq seen' state."""
        return "".join(
            ch if ch.isalnum() else "_" for ch in self.constraint_id
        )


@dataclass(frozen=True)
class OpeningRole(Constraint):
    """Conversation-opening check: the FIRST turn of each conversation
    (row 1 under stable turn ordering) must have ``column`` in
    ``allowed`` — a transcript that opens mid-dialogue (assistant/tool
    first) or with an out-of-funnel event was truncated upstream.
    NULL openers violate (the opener is unknown, hence not allowed).

    Rides the fused window pass as a row_number()==1 leg — no extra
    exchange. In incremental runs a carried conversation's first row
    of THIS increment is not the true opening, so the leg
    auto-suppresses on carried conversations (the true opening was
    checked when increment 1 ran).
    """

    allowed: tuple[str, ...] = ()
    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    KIND = "opening"


@dataclass(frozen=True)
class Check(Constraint):
    """Generic row-level SQL-predicate constraint — the analogue of
    Deequ's ``satisfies`` / a SQL table CHECK, and the engine's escape
    hatch for CROSS-COLUMN invariants the single-column kinds can't
    express (``"NOT (role = 'tool' AND tool = 'none')"``,
    ``"end_ts >= start_ts"``). SQL CHECK semantics: the row violates
    only when ``predicate`` evaluates to FALSE — NULL (unknown) passes,
    so missing operands are NotNull's job, not a double report here.
    ``column`` is only a label for the constraint id; the predicate may
    reference any columns. Compiles into the fused single-scan
    projection like every other row leg — pure column algebra via
    F.expr, whole-stage codegen, no UDF. Under ANSI mode use try_...
    functions inside the predicate for anything that can throw.
    """

    predicate: str = ""
    KIND = "check"


@dataclass(frozen=True)
class Alternation(Constraint):
    """Consecutive-repeat check: within a conversation under stable
    turn ordering, ``column`` must not repeat the immediately
    preceding turn's value when the repeated value is in ``scope``
    (empty scope = every value must alternate). The transcript-shape
    invariant behind user/assistant alternation — two assistant turns
    in a row mean a dropped user turn; a double 'purchase' with no
    intervening browse event is a replayed write. The sequential
    analogue of the reference's redundant-profile warning
    (reference processor.py:471-480: the same mixin applied twice to
    one target is flagged), applied to adjacent turns instead of the
    profile list.

    Rides the fused single-scan window pass as one more lag() over the
    exchange + sort already paid for (the same mechanism as Monotonic's
    previous-value leg). Incremental runs carry the conversation's last
    value in the boundary summary — a repeat straddling the increment
    boundary fires exactly as in a fresh full run. NULL never matches
    (NotNull owns missing values). Cross-batch STREAMING state for this
    kind is not carried (batch + incremental only): exact
    adjacent-pair semantics under out-of-order batch arrival would
    need the full idx->value history per conversation, not a boundary
    scalar.
    """

    scope: tuple[str, ...] = ()
    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    KIND = "alternation"


# ---------------------------------------------------------------------------
# Dataset-level constraints — produce findings without row keys
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ClosingRole(Constraint):
    """The OpeningRole mirror: the LAST turn of each conversation
    (under stable turn ordering) must have ``column`` in ``allowed`` —
    the truncation / dangling-state check (a transcript ending on a
    user message got cut before the reply; one ending on a bare tool
    call was severed mid-exchange). NULL closers violate, like NULL
    openers.

    Evaluated as its own KEY_LEVEL leg (one partial-agg max-struct
    exchange on the conversation key — deliberately NOT a member of the
    fused window family, so adding it never perturbs the pinned
    single-scan plan). Semantics are per-RUN finality: in
    ``--incremental`` mode an increment's final turn stands in for the
    conversation's (a conversation that continues in a later increment
    was not final) — run this kind on full snapshots, or treat
    incremental firings as 'open at increment boundary' telemetry.
    ``where`` scopes rows before the last-turn pick."""

    allowed: tuple[str, ...] = ()
    partition_by: str = "conv_id"
    order_by: str = "turn_idx"
    KIND = "closing"


@dataclass(frozen=True)
class FunctionalDependency(Constraint):
    """Functional dependency ``determinants -> column``: all rows that
    agree on the determinant columns must agree on the dependent column
    — the metadata-consistency shape (one source, one language; one
    conversation, one session tag) that no row predicate can express
    and the conv-window family cannot host (the grouping key is
    arbitrary, not the conversation). NULL is a value: {NULL, 'x'}
    within one group violates, an all-NULL group does not; a NULL
    determinant is its own group (null-safe grouping AND join-back).

    Violations fire for every row whose dependent differs (null-safely)
    from the group's CANONICAL value — the minimum non-null dependent,
    the deterministic analogue of first-seen-wins (reference collision
    semantics, validators.py:236-262: keep one, report the rest against
    it). ``where`` scopes the check to a row subset before grouping.

    Evaluated as its own leg (KEY_LEVEL family, fd_violations): one
    partial-agg exchange keyed on the determinants — map-side combine
    collapses it to |groups| rows — then the defect-proportional
    violating-key set joins back null-safely (AQE picks broadcast when
    it is small). Never fused into the conversation window and never
    disables that fusion for the rest of the suite. ``--incremental``
    runs CARRY per-group state (determinants, canonical, null flag —
    violations.fd_group_state, committed in the same atomic ledger
    rename as the file set): later increments validate against the
    carried STICKY canonical, so cross-increment disagreements fire
    instead of silently passing within-increment. Two conservative
    blind spots, both inherent to never re-emitting prior increments'
    rows: (a) a later increment's lexicographically-smaller value never
    retroactively flags prior rows that matched the sticky canonical,
    and (b) an all-NULL group whose first non-null value arrives in a
    LATER increment upgrades the canonical without flagging the prior
    NULL rows (they are the violating side in a fresh full run, and
    they are not in the current scan). A periodic full run closes both,
    same as the conversation boundary contract. Cross-batch STREAMING
    state is not carried for this kind.
    """

    determinants: tuple[str, ...] = ()
    KIND = "fd"

    def __post_init__(self) -> None:
        super().__post_init__()
        # empty determinants would silently skip the whole leg
        # (config error is never a silent keep)
        if not self.determinants:
            raise ValueError(
                f"FunctionalDependency {self.column!r} needs at least "
                "one determinant column"
            )

    @property
    def constraint_id(self) -> str:
        return self.id_override or (
            f"fd.{','.join(self.determinants)}->{self.column}"
        )


@dataclass(frozen=True)
class AllowedColumns(Constraint):
    """No unknown keys (reference validate_no_unknown_keys,
    validators.py:106-158): every column present must be declared.
    Schema-level — checked on the driver against df.columns."""

    allowed: tuple[str, ...] = ()
    required: tuple[str, ...] = ()
    KIND = "schema"

    @property
    def constraint_id(self) -> str:
        return self.id_override or "schema.columns"


@dataclass(frozen=True)
class MetricBound(Constraint):
    """Dataset-level metric threshold — the Deequ/Great-Expectations
    expectation shape (``hasCompleteness >= x``, ``hasDistinctCount
    between a and b``) as a first-class constraint: a whole-table
    statistic of ``column`` must land inside ``[lo, hi]`` (either side
    open when None). Metrics:

    - ``null_rate``      — null fraction; compared as exact integer
                           arithmetic (``nulls <=> bound * n``), never a
                           float division, so the verdict is
                           bit-deterministic at any parallelism AND
                           replayable by a SQL oracle
    - ``row_count``      — table row count
    - ``distinct_count`` — exact COUNT(DISTINCT column); the HLL
                           at-scale variant is
                           stats.column_stats(approx) — a bound on an
                           approximate sketch is engine-specific and
                           therefore not oracle-replayable, so the
                           exact metric is the constraint surface
    - ``min`` / ``max``  — order-independent extrema (numeric or
                           lexicographic per the column type)

    Emitted as a dataset finding (NULL row keys, like the schema
    audit): one reason row when the bound is breached, naming the
    observed value and the bound. ALL MetricBound constraints in a
    suite share ONE narrow aggregation job (same discipline as
    EnumCoverage's shared scan); mean-like order-dependent float
    metrics are deliberately excluded — a sum's rounding depends on
    partitioning, and a constraint that can flip between runs is not a
    constraint.
    """

    metric: str = "null_rate"
    lo: Any = None
    hi: Any = None
    KIND = "metric"

    def __post_init__(self) -> None:
        super().__post_init__()
        _known_metric(self, METRICS)

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.metric}.{self.column}"


@dataclass(frozen=True)
class QuantileBound(Constraint):
    """Dataset-level exact-quantile threshold (the Deequ
    ``hasApproxQuantile`` / Great-Expectations
    ``expect_column_quantile_values_to_be_between`` shape, made exact):
    the ``q``-quantile of ``column`` must land inside ``[lo, hi]``
    (either side open when None) — "p99 of text length ≤ 4 KiB",
    "median turn count ≥ 2".

    The quantile is the EXACT order statistic (quantiles.exact_quantiles:
    rank floor((n−1)·q)+1 via histogram narrowing — a handful of
    column-pruned scans, bounded driver state, no global sort). No
    approx sketch on purpose: a bound on an engine-specific sketch is
    not oracle-replayable and can flip between engines/runs — the same
    reasoning that keeps MetricBound.distinct_count exact. NULL/NaN are
    excluded (they have no place in a total order); an empty/all-NULL
    column yields no quantile and the bound is skipped (emptiness is
    row_count's / null_rate's job). Multiple QuantileBounds on one
    column share a single exact_quantiles pass. Observed values render
    with a fixed %.6f format so any SQL replay prints the identical
    reason. Emitted as a dataset finding (NULL row keys)."""

    q: float = 0.5
    lo: Any = None
    hi: Any = None
    KIND = "quantile"

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.q}.{self.column}"


@dataclass(frozen=True)
class VolumeGate(Constraint):
    """Dataset-level volume anomaly gate (the Deequ anomaly-detection
    shape): bucket the table by ``date_trunc(granularity, column)`` and
    flag every bucket whose row count falls outside ``median ± k·MAD``
    of the bucket-count series — the missed-ingest / duplicated-load /
    outage monitor distribution checks can't see (drift.volume_anomaly
    is the standalone operator; this kind folds it into the suite so
    anomalies land in the verdict grid, --diff-verdicts, and severity
    remaps). Fences are exact order statistics of integer counts
    (engine-replayable, robust to the outage day itself). The threshold
    is derived from the data — a relative gate, so the default severity
    is WARNING (it flags for a human, it doesn't fail the run unless
    remapped or --strict). One partial-agg exchange + two fence passes
    over the checkpointed tiny count series; one finding per anomalous
    bucket."""

    granularity: str = "day"
    k: int = 3
    severity: Severity = Severity.WARNING
    KIND = "volume"

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.granularity}.{self.column}"


@dataclass(frozen=True)
class DriftGate(Constraint):
    """Dataset-level distribution-drift threshold vs a RECORDED
    baseline histogram — the drift monitors as first-class suite
    constraints (the streaming analogue is --psi-ref): bin ``column``
    with ``bin_expr`` (over the alias ``_v``), compare the binned
    counts to ``baseline`` ({bin: count} — plain data, so the whole
    gate survives the --suite-json round trip; record baselines with
    tools/make_psi_baseline.py), flag when the metric crosses
    ``threshold``.

    ``metric``: 'psi' (support-sensitive, the population-stability
    standard; value rendered %.4f — its ln-sum is float arithmetic) or
    'emd' (Wasserstein-1 in bin units, magnitude-sensitive; exact
    big-int arithmetic until one division, rendered %.6f). Default
    severity WARNING, like every data-derived gate. Cost: one
    partial-agg histogram scan per gate, folded with the baseline (a
    local frame) by drift's PSI/EMD kernel in one task: 2 jobs."""

    bin_expr: str = "floor(_v / 16)"
    baseline: Mapping[str, int] = field(default_factory=dict)
    metric: str = "psi"
    threshold: float = 0.2
    severity: Severity = Severity.WARNING
    KIND = "drift"

    def __post_init__(self) -> None:
        super().__post_init__()
        _known_metric(self, ("psi", "emd"))

    @property
    def constraint_id(self) -> str:
        return self.id_override or f"{self.KIND}.{self.metric}.{self.column}"


@dataclass(frozen=True)
class GroupMetricBound(Constraint):
    """Per-group metric threshold — the MetricBound vocabulary
    STRATIFIED by arbitrary grouping columns ("null_rate of lang per
    source ≤ 0.01", "distinct tool count per conversation ≤ 3"): within
    each group of ``by``, the metric of ``column`` must land inside
    [lo, hi]. Metrics: null_rate (compared as exact-integer ×-products,
    the MetricBound discipline — no float division in the verdict),
    row_count, distinct_count (exact), min, max.

    A whole-table MetricBound hides a broken stratum inside the
    average; this kind emits one finding per OFFENDING group (NULL row
    keys, group named in the reason), so output is defect-proportional.
    Evaluated as its own KEY_LEVEL leg (like FunctionalDependency — the
    grouping key is arbitrary, so it never touches the conv-window
    fusion): one partial-agg exchange on ``by`` collapsing to |groups|.
    Float-typed min/max render %.6f so SQL replays print identical
    reasons; ``where`` scopes rows before grouping."""

    by: tuple[str, ...] = ()
    metric: str = "null_rate"
    lo: Any = None
    hi: Any = None
    KIND = "group_metric"

    def __post_init__(self) -> None:
        super().__post_init__()
        # empty `by` would silently skip the whole leg (config error is
        # never a silent keep)
        if not self.by:
            raise ValueError(
                f"GroupMetricBound {self.column!r} needs at least one "
                "grouping column in `by`"
            )
        _known_metric(self, METRICS)

    @property
    def constraint_id(self) -> str:
        return self.id_override or (
            f"{self.KIND}.{self.metric}.{self.column}"
            f".by.{','.join(self.by)}"
        )


def drift_gate_from_baseline(
    path: str,
    metric: str = "psi",
    threshold: "float | None" = None,
    severity: "Severity | str" = Severity.WARNING,
    id_override: "str | None" = None,
) -> DriftGate:
    """Build a DriftGate from a ``tools/make_psi_baseline.py`` file:
    the recorded bin expression becomes the gate's VALUE expression
    (with identity binning), so the gate bins live data exactly as the
    recorder binned the reference — same bins, same counts, thresholds
    transfer. The recorder's ``threshold`` is used unless overridden."""
    import json

    with open(path) as f:
        cfg = json.load(f)
    thr = threshold if threshold is not None else cfg.get("threshold", 0.2)
    return DriftGate(
        column=cfg["bin_expr"],
        bin_expr="_v",
        baseline=dict(cfg["hist"]),
        metric=metric,
        threshold=float(thr),
        severity=Severity.parse(severity),
        id_override=id_override,
    )


@dataclass(frozen=True)
class EnumCoverage(Constraint):
    """Unused dictionary attribute (reference validate_unused_attrs,
    validators.py:169-198): enum values never observed in the data are
    reported (default WARNING, like the reference's warning severity for
    unused attrs)."""

    values: tuple[str, ...] = ()
    severity: Severity = Severity.WARNING
    KIND = "coverage"


ROW_LEVEL = (
    NotNull, InEnum, Deprecated, TypeCast, Regex, Glob, MaxLen, Range,
    MapKeysIn, Check,
)
GROUP_LEVEL = (
    Unique, TurnOrdering, Monotonic, Precedence, OpeningRole, Alternation
)
DATASET_LEVEL = (
    AllowedColumns, DriftGate, EnumCoverage, MetricBound, QuantileBound,
    VolumeGate,
)
KEY_LEVEL = (ClosingRole, FunctionalDependency, GroupMetricBound)
RESIDUAL_LEVEL = (PandasCheck,)


@dataclass
class ConstraintSet:
    """An ordered, named collection of constraints over one table.

    Supports the reference's dependency-graph semantics (SURVEY.md §2.7)
    at the suite level: ``extends`` (single inheritance, reference
    ExtendsParser processor.py:223-252), ``profiles`` (multi-target
    mixins, reference ProfilesParser processor.py:255-282) and
    dictionary defaults (reference AttributesParser processor.py:285-331)
    — resolved driver-side by inherit.resolve().
    """

    name: str
    constraints: list[Constraint] = field(default_factory=list)
    extends: str | None = None
    profiles: tuple[str, ...] = ()
    # column -> default constraint kwargs pulled in when a suite references
    # the column without fully specifying the check (dictionary enrichment)
    meta: dict[str, Any] = field(default_factory=dict)

    def add(self, *cs: Constraint) -> "ConstraintSet":
        self.constraints.extend(cs)
        return self

    def by_id(self) -> dict[str, Constraint]:
        out: dict[str, Constraint] = {}
        for c in self.constraints:
            if c.constraint_id in out:
                raise ValueError(f"duplicate constraint id: {c.constraint_id}")
            out[c.constraint_id] = c
        return out

    def version(self) -> str:
        import hashlib

        h = hashlib.sha256()
        for c in self.constraints:
            h.update(c.version().encode())
        return h.hexdigest()[:16]

    def row_level(self) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, ROW_LEVEL)]

    def group_level(self) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, GROUP_LEVEL)]

    def dataset_level(self) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, DATASET_LEVEL)]

    def key_level(self) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, KEY_LEVEL)]

    def residual_level(self) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, RESIDUAL_LEVEL)]

    def with_severities(self, overrides: Mapping[str, "Severity | str | int"]) -> "ConstraintSet":
        """Per-error-class severity remap (reference ValidatorOptions,
        runner.py:57-116: ~20 tunable severities like
        ``unused_attribute: WARN``): a new suite with each listed
        constraint_id's severity replaced. Unknown ids raise — a config
        typo must not silently keep the old severity."""
        import dataclasses

        by_id = self.by_id()
        unknown = set(overrides) - set(by_id)
        if unknown:
            raise KeyError(f"severity override for unknown constraint(s): {sorted(unknown)}")
        out = [
            dataclasses.replace(c, severity=Severity.parse(overrides[c.constraint_id]))
            if c.constraint_id in overrides
            else c
            for c in self.constraints
        ]
        return ConstraintSet(
            name=self.name,
            constraints=out,
            extends=self.extends,
            profiles=self.profiles,
            meta=dict(self.meta),
        )


def transcript_suite(
    role_values: Sequence[str] = ("system", "user", "assistant", "tool"),
    deprecated_roles: Mapping[str, tuple[str, str]] | None = None,
    tool_values: Sequence[str] = ("search", "browser", "python", "bash", "none"),
    max_text_len: int = 65536,
) -> ConstraintSet:
    """The default suite for the north-star transcripts table — the
    engine's equivalent of the reference's full runner pass
    (reference runner.py:281-353, one entry per validator)."""
    deprecated_roles = deprecated_roles or {
        "function": ("0.9", "use role='tool' instead")
    }
    return ConstraintSet(
        name="transcripts",
        constraints=[
            AllowedColumns(
                column="*",
                allowed=("conv_id", "turn_idx", "role", "text", "tool", "ts"),
                required=("conv_id", "turn_idx", "role", "text", "ts"),
                severity=Severity.FATAL,
            ),
            NotNull(column="conv_id", severity=Severity.FATAL),
            NotNull(column="turn_idx", severity=Severity.FATAL),
            NotNull(column="role"),
            NotNull(column="text"),
            NotNull(column="ts"),
            NotNull(
                column="tool",
                where="role = 'tool'",
                id_override="required.tool_when_tool_role",
            ),
            InEnum(column="role", values=tuple(role_values) + tuple(deprecated_roles)),
            InEnum(column="tool", values=tuple(tool_values)),
            Deprecated(column="role", deprecated=dict(deprecated_roles)),
            MaxLen(column="text", max_len=max_text_len),
            Range(column="turn_idx", lo=0),
            Unique(
                column="conv_turn",
                keys=("conv_id", "turn_idx"),
                first_seen_order=("ts", "role", "text"),
            ),
            TurnOrdering(column="turn_idx"),
            Monotonic(column="ts"),
            EnumCoverage(column="role", values=tuple(role_values)),
            EnumCoverage(column="tool", values=tuple(tool_values)),
        ],
    )


# ---------------------------------------------------------------------------
# Suite export — constraints as data, in the SAME registry format the
# runner's --suite-json / inherit.resolve() already consumes (the
# reference's suites ARE data: JSON metaschema files). An in-code suite
# round-trips to a file, so `spark-submit --py-files` deployments can
# snapshot, diff, and version-control their validation config without
# code changes. PandasCheck carries a Python callable — representable
# in code only, deliberately absent from the file format (a file that
# smuggles code is not a config file).
# ---------------------------------------------------------------------------


def constraint_to_spec(c: Constraint) -> dict:
    """One constraint as the registry spec dict build_constraint
    re-instantiates (kind + constructor fields; tuples as lists,
    severity by name — always explicit, because classes differ in
    their default)."""
    import dataclasses

    if c.KIND in ("residual", "abstract"):
        raise TypeError(
            f"{type(c).__name__} is not file-serializable "
            "(residual checks carry code; register them in code)"
        )
    out: dict[str, Any] = {"kind": c.KIND}
    for f in dataclasses.fields(c):
        v = getattr(c, f.name)
        if v is None or f.name == "id_override":
            continue  # the registry KEY is the id; None -> class default
        if f.name == "severity":
            v = v.name
        elif isinstance(v, tuple):
            v = list(v)
        elif isinstance(v, Mapping):
            v = {
                k: list(t) if isinstance(t, tuple) else t
                for k, t in v.items()
            }
        out[f.name] = v
    return out


def suite_to_registry(s: ConstraintSet) -> dict:
    """The suite as a one-entry registry consumable by
    inherit.resolve() / the runner's --suite-json (constraints keyed by
    their constraint_id — duplicate ids are rejected by by_id, same as
    evaluation)."""
    s.by_id()
    return {
        s.name: {
            "constraints": {
                c.constraint_id: constraint_to_spec(c) for c in s.constraints
            }
        }
    }


def save_suite(s: ConstraintSet, path: str) -> None:
    import json

    with open(path, "w") as f:
        json.dump(suite_to_registry(s), f, indent=2)
        f.write("\n")
