"""Violation evaluation — the engine's Collector (reference errors.py:6-46).

The reference appends typed exception objects to a Python list; we emit a
violations DataFrame with the machine-readable shape required by the
north rule:

    (constraint_id string, <key cols...>, reason string, severity string)

Three evaluation strategies by constraint class:

1. ROW-LEVEL — one fused projection: per row, an array of
   violation structs (NULL per satisfied constraint), ``array_compact``
   then ``explode``. ONE scan for the whole suite, fully codegen'd; the
   explode emits only violating (row, constraint) pairs, so output is
   proportional to violations, not rows × constraints.

2. GROUP-LEVEL (uniqueness / ordering / monotonicity) — every group
   constraint evaluates in the ONE fused pass of its window
   (partition_by, order_by): a single shuffle by the partition column
   + one sort by (order column, tie-break), every check expressed as
   lag/fill-forward columns over that one Window, then the same
   array_compact+explode emission as the row leg. The transcript
   suite's constraints all share the conversation window (conv_id,
   turn_idx), so the whole family is one shuffle, and the row family
   rides it. A Unique on other keys is a key-level grouping check
   (unique_violations).

3. DATASET-LEVEL (schema audit, enum coverage) — driver schema diff and
   tiny anti-joins; emitted with NULL row keys.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocsf_validator_spark.localframe import empty_df, local_df, one_task

from ocsf_validator_spark.compile import violation_entries_guarded
from ocsf_validator_spark.spec import (
    DATASET_LEVEL,
    GROUP_LEVEL,
    AllowedColumns,
    Alternation,
    Check,
    ClosingRole,
    ConstraintSet,
    DriftGate,
    EnumCoverage,
    FunctionalDependency,
    GroupMetricBound,
    MetricBound,
    Monotonic,
    OpeningRole,
    PandasCheck,
    Precedence,
    QuantileBound,
    Severity,
    TurnOrdering,
    Unique,
    VolumeGate,
)

DEFAULT_KEYS = ("conv_id", "turn_idx")

# Duplicate-key reasons display the first-seen peer's tie values (the
# reference's collision map names the kept peer, validators.py:236-262).
# String tie columns are capped at this many characters BEFORE the
# conversation exchange: at transcript scale `text` is the whole shuffle
# payload, and an unbounded peer string in a reason row is useless past a
# screenful anyway. Truncation is applied identically in the fused path
# (chunked skew route included), the key-level unique leg, and the DuckDB
# oracles, so verdicts stay engine-exact: rows that tie on the truncated
# prefix display the same peer string whichever of them wins the rank.
TIE_DISPLAY_LEN = 256


def _tie_display(col: Column, dt: T.DataType) -> Column:
    """Bounded display/sort form of a tie-break column (strings capped at
    TIE_DISPLAY_LEN; other types are already fixed-width)."""
    if isinstance(dt, T.StringType):
        return F.substring(col, 1, TIE_DISPLAY_LEN)
    return col


def _violation_schema(df: DataFrame, keys: Sequence[str]) -> T.StructType:
    fields = [T.StructField("constraint_id", T.StringType(), False)]
    for k in keys:
        # key column may itself be missing (that IS the fatal finding the
        # schema audit reports) — fall back to string
        dt = df.schema[k].dataType if k in df.columns else T.StringType()
        fields.append(T.StructField(k, dt, True))
    fields.append(T.StructField("reason", T.StringType(), True))
    fields.append(T.StructField("severity", T.StringType(), False))
    return T.StructType(fields)


def _empty(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    return empty_df(df.sparkSession, _violation_schema(df, keys))


def _resolve_path(schema: T.StructType, path: str):
    """DataType of the column or dotted struct path ('meta.width') that
    ``F.col(path)`` reads, or None when it doesn't resolve — the
    schema-walk analogue of the reference's compare_keys recursion into
    nested dicts (validators.py:59-103). As in ``F.col``, every dot
    steps into a struct, so a top-level column whose name holds a dot
    does not resolve: the evaluators would read it as a struct path."""
    cur: T.DataType = schema
    for part in path.split("."):
        if isinstance(cur, T.StructType) and part in cur.fieldNames():
            cur = cur[part].dataType
        else:
            return None
    return cur


def _referenced_columns(c) -> list[str]:
    """Every column constraint ``c`` reads, for every kind. None for a
    Check, whose ``column`` only labels its id (its predicate may name
    any columns, and one naming a missing column fails at analysis),
    for AllowedColumns (a schema diff) and for a DriftGate whose
    ``column`` is a SQL expression rather than a (dotted) name."""
    if isinstance(c, (Check, AllowedColumns)):
        return []
    if isinstance(c, DriftGate):
        name = all(p.isidentifier() for p in c.column.split("."))
        return [c.column] if name else []
    if isinstance(c, Unique):
        return [*c.keys, *c.first_seen_order]
    if isinstance(c, FunctionalDependency):
        return [*c.determinants, c.column]
    if isinstance(c, GroupMetricBound):
        return [*c.by, c.column]
    if isinstance(c, TurnOrdering):
        return [c.partition_by, c.order_by]
    if isinstance(
        c, (Monotonic, Precedence, OpeningRole, Alternation, ClosingRole)
    ):
        return [c.partition_by, c.order_by, c.column]
    if isinstance(c, PandasCheck):
        return list(c.columns)
    return [c.column]


def _unresolved(
    df: DataFrame, c, keys: Sequence[str] = DEFAULT_KEYS
) -> list[str]:
    """The columns ``c`` needs that ``df`` cannot supply, sorted: the one
    evaluability rule. They are its ``_referenced_columns`` and, unless
    it is a dataset-level kind (whose rows carry NULL keys), the
    ``keys`` its violation rows carry. Keys and a window kind's columns
    need top-level names, because those legs project bare names; every
    other column also takes a dotted struct path (``_resolve_path``)."""
    cols = set(_referenced_columns(c))
    top = set() if isinstance(c, DATASET_LEVEL) else set(keys)
    if isinstance(c, GROUP_LEVEL):
        top |= cols
    return sorted(
        p for p in cols | top
        if _resolve_path(df.schema, p) is None or (p in top and "." in p)
    )


def _runs(df: DataFrame, c, keys: Sequence[str] = DEFAULT_KEYS) -> bool:
    """Whether ``c`` is evaluated on ``df`` with violation rows keyed by
    ``keys``; when not, dataset_findings reports it "not evaluated"
    instead."""
    return not _unresolved(df, c, keys)


def row_violations(
    df: DataFrame, suite: ConstraintSet, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """All row-level constraints in ONE projection over one scan.

    Constraints that cannot run (``_runs``) are skipped here and
    REPORTED by dataset_findings — never a silent skip."""
    cs = [c for c in suite.row_level() if _runs(df, c, keys)]
    if not cs:
        return _empty(df, keys)
    entries = violation_entries_guarded(cs)
    return (
        df.select(*keys, F.explode(entries).alias("_v"))
        .select(
            F.col("_v.constraint_id").alias("constraint_id"),
            *keys,
            F.col("_v.reason").alias("reason"),
            F.col("_v.severity").alias("severity"),
        )
    )


def unique_violations(
    df: DataFrame, c: Unique, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Duplicate keys, reference collision semantics (validators.py:236-262):
    the violation fires for the SECOND AND LATER occurrences, keeping the
    first-seen row, and the reason names the kept peer deterministically
    (first_seen_order breaks ties — the analogue of the reference's
    stable dict-iteration first-seen order; SURVEY.md §7 hard part (b)).
    """
    kcols = list(c.keys)
    # Phase 1: cheap partial-agg shuffle to find offending keys only.
    dup_keys = df.groupBy(*kcols).agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") > 1
    )
    # null-safe, as the groupBy (and the fused window) groups NULL keys
    found = dup_keys.select(
        *[F.col(k).alias(f"_k{i}") for i, k in enumerate(kcols)]
    )
    same = F.lit(True)
    for i, k in enumerate(kcols):
        same = same & F.col(k).eqNullSafe(F.col(f"_k{i}"))
    dups = df.join(found, same, "semi")
    # Phase 2: window ONLY over duplicate rows (tiny vs the table).
    order = [F.col(o).asc_nulls_last() for o in c.first_seen_order] or [
        F.lit(1)
    ]
    w = Window.partitionBy(*kcols).orderBy(*order)
    ranked = dups.withColumn("_rn", F.row_number().over(w))
    first_seen = (
        F.first(
            F.concat_ws(
                "|",
                *[
                    _tie_display(
                        F.col(o), df.schema[o].dataType
                    ).cast("string")
                    for o in c.first_seen_order
                ],
            )
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        if c.first_seen_order
        else F.lit("")
    )
    key_repr = F.concat_ws(",", *[F.col(k).cast("string") for k in kcols])
    out = (
        ranked.withColumn("_first", first_seen)
        .filter(F.col("_rn") > 1)
        .select(
            F.lit(c.constraint_id).alias("constraint_id"),
            *keys,
            F.concat(
                F.lit("duplicate key ("),
                key_repr,
                F.lit(") occurrence "),
                F.col("_rn").cast("string"),
                F.lit("; first seen "),
                F.col("_first"),
            ).alias("reason"),
            F.lit(c.severity.name).alias("severity"),
        )
    )
    return out


def _window_groups(
    suite: ConstraintSet,
    keys: Sequence[str] = DEFAULT_KEYS,
    df: DataFrame | None = None,
) -> tuple[dict, list]:
    """The group-level constraints of ``suite`` (with ``df``, only those
    that run on it, ``_runs``) by the window each runs over:
    ``({(partition_by, order_by): (constraints, ties)}, uniques)``.

    A Unique on exactly ``keys`` joins the ``keys`` window's group, and
    the first one in the suite sets that group's ``ties``: its
    first_seen_order, which ranks every duplicate group of the pass.
    ``uniques`` holds the rest, key-level grouping checks
    (unique_violations) that rank by their own order: a Unique on other
    keys, or on ``keys`` with another first_seen_order. Every other
    window holds no Unique, so its ties are empty."""
    home = (keys[0], keys[1])
    groups: dict[tuple, list] = {}
    uniques, ties = [], None
    for c in suite.group_level():
        if df is not None and not _runs(df, c, keys):
            continue
        if isinstance(c, Unique):
            order = list(c.first_seen_order)
            if tuple(c.keys) != home or ties not in (None, order):
                uniques.append(c)
                continue
            ties, window = order, home
        else:
            window = (c.partition_by, c.order_by)
        groups.setdefault(window, []).append(c)
    return {
        w: (cs, (ties or []) if w == home else [])
        for w, cs in groups.items()
    }, uniques


# chunk id of a chunked conversation's NULL turn_idx rows: they sort
# first in the whole-conversation window, so they form its first chunk
_NULL_CHUNK = -(2**63)


def _chunk_carriers(
    pre: DataFrame, cs: list, ties: list[str], keys: Sequence[str]
) -> DataFrame:
    """Carrier rows for a chunked window, in convstate's boundary-state
    schema plus ``_chunk``: one per (conv, _chunk) that has an earlier
    non-empty chunk, holding that chunk's last row in the window's
    (idx, ties nulls-last) order — its idx and lag-column values — and
    each Precedence prereq-seen bit OR'd over ALL earlier chunks.

    One partial aggregate over the chunked rows of ``pre`` (one small
    exchange, a row per chunk). The per-conversation prefix over chunks
    runs on that result coalesced to one partition, which satisfies the
    prefix window's distribution, so it adds no exchange."""
    from ocsf_validator_spark.convstate import (
        CARRY_COUNT,
        CARRY_FIRST,
        CARRY_PREV_IDX,
        carry_mono_col,
        carry_seen_col,
    )

    part, idx = keys[0], keys[1]
    lag_cols = list(
        dict.fromkeys(
            c.column for c in cs if isinstance(c, (Monotonic, Alternation))
        )
    )
    prec_cs = [c for c in cs if isinstance(c, Precedence)]
    # max over a struct is the last row: idx first, then per tie an
    # is-null flag ahead of the value (nulls last), lag values as payload
    order = [F.col(idx)]
    for t in ties:
        order += [F.col(t).isNull(), F.col(t)]
    last = F.max(
        F.struct(
            *[o.alias(f"_o{i}") for i, o in enumerate(order)],
            *[F.col(m).alias(f"_m{j}") for j, m in enumerate(lag_cols)],
        )
    )
    seen = [
        F.max(F.col(c.column).isin(*c.prereq).cast("int")).alias(f"_s{k}")
        for k, c in enumerate(prec_cs)
    ]
    summ = pre.groupBy(part, "_chunk").agg(last.alias("_last"), *seen)
    wc = Window.partitionBy(part).orderBy("_chunk")
    before = wc.rowsBetween(Window.unboundedPreceding, -1)
    return (
        summ.coalesce(1)
        .select(
            part,
            "_chunk",
            F.lag("_last").over(wc).alias("_p"),
            *[
                F.max(f"_s{k}").over(before).alias(carry_seen_col(c))
                for k, c in enumerate(prec_cs)
            ],
        )
        .filter(F.col("_p").isNotNull())
        .select(
            part,
            "_chunk",
            F.col("_p._o0").alias(CARRY_PREV_IDX),
            *[
                F.col(f"_p._m{j}").alias(carry_mono_col(m))
                for j, m in enumerate(lag_cols)
            ],
            *[carry_seen_col(c) for c in prec_cs],
            F.lit(0).cast("long").alias(CARRY_COUNT),
            F.lit(None).cast("string").alias(CARRY_FIRST),
        )
    )


def fused_group_violations(
    df: DataFrame,
    cs: list,
    ties: list[str],
    keys: Sequence[str] = DEFAULT_KEYS,
    row_cs: Sequence = (),
    carry: DataFrame | None = None,
    chunk_rows: int | None = None,
    chunk_convs: Sequence[str] | None = None,
    window: Sequence[str] | None = None,
) -> DataFrame:
    """All conversation-window constraints in ONE shuffle + ONE sort —
    and, when ``row_cs`` is passed, the entire row-level family rides the
    same scan: their violation structs join the group structs in the one
    array_compact+explode, so the WHOLE suite (minus dataset findings)
    is a single read of the input.

    Window = partitionBy(conv).orderBy(idx, *tie_break nulls-last); the
    tie-break is the Unique constraint's first_seen_order, so occurrence
    ranks and the kept first-seen peer are identical to the key-level
    unique_violations (reference first-seen-wins, validators.py:255-260).
    Duplicate-group bookkeeping (occurrence rank + first-seen) uses a
    second Window partitioned by (conv, idx) — hash(conv) already
    satisfies ClusteredDistribution((conv, idx)) and the physical sort
    keys (conv, idx, ties) are identical, so Catalyst plans it with NO
    extra exchange and NO extra sort: one shuffle, one sort, two
    adjacent WindowExecs.

    Exchange note: the conv_id exchange is planned only when the input
    does not already satisfy the window's distribution. ``all_violations``
    hands this function ``df.coalesce(1)`` when the input is small
    (see ``window_route``); ``SinglePartition`` satisfies both
    windows, so the pass then runs in that task with no exchange, at
    the price in parallelism that ``localframe.one_task`` measures.

    Scale note: partitionBy(conv_id) puts each conversation in one task.
    ``chunk_rows`` (the skew route) splits conversations too large for
    one task into ``turn_idx div chunk_rows`` ranges — only those in
    ``chunk_convs``, or every conversation when it is None — and the
    window partitions by (conv, _chunk). NULL turn_idx rows sort first
    in the conversation, so they form the first chunk. Equal
    (conv, turn_idx) keys share a chunk, so Unique needs no carry; chunk
    k is seeded with a carrier row (see _chunk_carriers) holding what
    the whole-conversation window would have seen before its first row.

    Shuffle-width note (the 100 TB design point): the conv_id exchange
    carries ONLY (keys, bounded tie columns, monotonic columns, and a
    defect-proportional array of row-violation structs). Row-level legs
    are evaluated MAP-SIDE before the exchange — their structs ride the
    shuffle only for violating rows — and string tie columns are capped
    at TIE_DISPLAY_LEN, so full `text` payloads never cross the
    exchange.

    ``carry`` (incremental runs): the convstate boundary-state table —
    one carrier row per carried conversation is unioned into the
    map-side projection so the SAME window machinery reproduces
    full-run boundary semantics (lag across the increment boundary,
    occurrence ranks offset by the carried tail count, the true
    first-seen string), plus one extra leg: a real row whose idx is
    BELOW the carried boundary is reported conservatively as
    ``out-of-order`` under the ordering constraint (boundary-only state
    cannot rank it — see convstate's module contract). It cannot be
    combined with ``chunk_rows``: the out-of-order bound and the opening
    suppression are per conversation, not per chunk.

    ``window`` is the (partition, order) pair the pass runs over when
    it is not ``keys`` (all_violations' other windows); the emitted
    rows carry ``keys`` either way. ``ties``, ``carry`` and
    ``chunk_rows`` serve the ``keys`` window only."""
    if carry is not None and chunk_rows is not None:
        raise ValueError("carry and chunk_rows are mutually exclusive")
    part, idx = window or keys[:2]
    entry_t = "struct<constraint_id:string,reason:string,severity:string>"
    mono_cols = [c.column for c in cs if isinstance(c, Monotonic)]
    alt_cols = [c.column for c in cs if isinstance(c, Alternation)]
    # columns whose PREVIOUS value the pass lags over (Monotonic's
    # comparison, Alternation's repeat check) — one lag per distinct
    # column even when both kinds name it
    lag_cols = list(dict.fromkeys([*mono_cols, *alt_cols]))
    # Precedence/OpeningRole/Alternation columns need exact values
    # (isin/equality semantics — a capped prefix would change them),
    # same as Monotonic
    seq_cols = [
        c.column
        for c in cs
        if isinstance(c, (Precedence, OpeningRole, Alternation))
    ]
    full_cols = list(dict.fromkeys([*mono_cols, *seq_cols]))
    # ---- map-side stage: keys + window + bounded ties + mono columns +
    # the row family's violation array, all computed BEFORE the exchange
    base = list(dict.fromkeys([*keys, part, idx]))
    pre_cols = [F.col(k) for k in base]
    for t in ties:
        if t in base:
            continue
        if t in full_cols:
            # a Monotonic column doubling as a tie must keep its full
            # value — prefix comparison would change mono semantics
            pre_cols.append(F.col(t))
        else:
            pre_cols.append(
                _tie_display(F.col(t), df.schema[t].dataType).alias(t)
            )
    pre_cols += [
        F.col(m) for m in full_cols if m not in base and m not in ties
    ]
    if row_cs:
        # defect-proportional: NULL (not an empty array) for clean rows,
        # so the >99% clean majority ships 1 null bit through the
        # exchange and sort instead of an empty-array header, and never
        # allocates the struct array at all (see violation_entries_guarded)
        pre_cols.append(
            violation_entries_guarded(row_cs, cast_to=entry_t).alias("_rv")
        )
    wpart = [part]
    if chunk_rows is not None:
        chunk = F.coalesce(
            F.expr(f"`{idx}` div {int(chunk_rows)}").cast("long"),
            F.lit(_NULL_CHUNK),
        )
        if chunk_convs is not None:
            # conversations not routed are one chunk each
            routed = F.col(part).isin(*chunk_convs)
            chunk = F.when(routed, chunk).otherwise(F.lit(0).cast("long"))
        pre_cols.append(chunk.alias("_chunk"))
        wpart.append("_chunk")
    pre = df.select(*pre_cols)
    carriers = carry
    if chunk_rows is not None:
        src = pre if chunk_convs is None else pre.filter(routed)
        carriers = _chunk_carriers(src, cs, ties, keys)
    carried = carriers is not None
    if carried:
        from ocsf_validator_spark.convstate import attach_carriers

        pre = attach_carriers(
            pre, carriers, cs, ties, keys, semi=carry is not None
        )
    # ---- reduce-side windows, over the bounded columns only ------------
    tie_order = [F.col(t).asc_nulls_last() for t in ties]
    if carried:
        # the carrier sorts FIRST within its (conv, idx) group, so the
        # first in-order real row's lag is the carried boundary and a
        # boundary-key re-append ranks after the carried occurrences
        tie_order = [F.col("_cr").desc(), *tie_order]
    w = Window.partitionBy(*wpart).orderBy(F.col(idx).asc(), *tie_order)
    # a Unique without first_seen_order ranks its duplicates in any
    # order, as unique_violations does
    w2 = Window.partitionBy(*wpart, idx).orderBy(*(tie_order or [F.lit(1)]))
    prev_idx = F.lag(F.col(idx)).over(w)
    cols: dict = {"_prev_idx": prev_idx}
    for m in lag_cols:
        cols[f"_prev_{m}"] = F.lag(F.col(m)).over(w)
    prec_cs = [c for c in cs if isinstance(c, Precedence)]
    open_cs = [c for c in cs if isinstance(c, OpeningRole)]
    for c in prec_cs:
        # running prereq count over STRICTLY EARLIER rows — same window
        # spec (partition, order), different frame: rides the one
        # exchange + sort the pass already pays for. A carrier row
        # contributes its carried "prereq seen" bit, so increment-1
        # prereqs reach increment-2 triggers.
        ind = F.when(F.col(c.column).isin(*c.prereq), F.lit(1)).otherwise(
            F.lit(0)
        )
        if carried:
            ind = F.when(
                F.col("_cr"),
                F.coalesce(
                    F.col(f"_cr_seen_{c.seen_slug}").cast("int"), F.lit(0)
                ),
            ).otherwise(ind)
        cols[f"_prior_{c.seen_slug}"] = F.sum(ind).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
    if open_cs:
        # row_number rides the same WindowExec; with carry, a carried
        # conversation's opening was checked when its first increment
        # ran — suppress via the per-conversation carrier flag
        cols["_rn1"] = F.row_number().over(w)
        if carried:
            cols["_c_has"] = F.max(F.col("_cr").cast("int")).over(
                Window.partitionBy(*wpart)
            )
    if carry is not None:
        # the carried boundary idx and lowest prereq idxs, visible on
        # every real row of the conversation (full unordered frame;
        # same partitioning as w, so no extra exchange)
        whole = Window.partitionBy(part)
        cols["_c_bound"] = F.max(F.when(F.col("_cr"), F.col(idx))).over(whole)
        for c in prec_cs:
            cols[f"_c_pre_{c.seen_slug}"] = F.max(
                F.col(f"_cr_pre_{c.seen_slug}")
            ).over(whole)
    has_unique = any(isinstance(c, Unique) for c in cs)
    if has_unique:
        first_seen_str = F.concat_ws(
            "|", *[F.col(t).cast("string") for t in ties]
        )
        if carry is not None:
            # running SUM of per-row weights instead of row_number: the
            # carrier weighs its carried tail count, real rows weigh 1,
            # so a boundary-key re-append ranks tail_count+1 — the rank
            # the full run would print. Explicit ROWS frame: the default
            # RANGE frame would merge tie-equal peers into one sum.
            cols["_occ"] = F.sum(F.col("_cr_n")).over(
                w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        else:
            cols["_occ"] = F.row_number().over(w2)
        # the first-seen peer string is only ever DISPLAYED for rows of
        # multi-row (conv, idx) groups (occ > 1 is impossible in a
        # singleton) — guard the per-row string build so the >99%
        # singleton rows never allocate it (measured 2.3s/8M rows
        # unguarded vs ~1.0s guarded). "this row's (conv, idx) group
        # has >1 rows" falls out of the sort order already paid for:
        # the neighbor above or below shares idx iff the group is a
        # duplicate group — lag/lead ride the SAME WindowExec as
        # _prev_idx (one spec, offset frames), no extra window pass.
        # first() without ignoreNulls still returns the FIRST row's
        # value for duplicate groups, where the guard is true on every
        # row of the group.
        # eqNullSafe: a duplicate group keyed by a NULL idx (possible
        # when required.turn_idx fires alongside the dup) must still
        # build its peer string — plain == would yield NULL there and
        # silently blank the reason. At partition edges lag/lead are
        # NULL, making the guard over-inclusive for a NULL-idx edge
        # row — harmless (an unused string is built, nothing else).
        in_dup_group = F.lag(F.col(idx)).over(w).eqNullSafe(F.col(idx)) | (
            F.lead(F.col(idx)).over(w).eqNullSafe(F.col(idx))
        )
        base_first = F.first(F.when(in_dup_group, first_seen_str)).over(w2)
        if carry is not None:
            # a carried group's TRUE first-seen is the string persisted
            # when the key was first observed, not the carrier's NULL
            # ties (full-frame max over the group: non-NULL only on
            # carried groups, so uncarried groups keep base_first).
            # Chunk carriers need neither: their idx is below every idx
            # of their chunk, so they never share a (conv, idx) group.
            cols["_first"] = F.coalesce(
                F.max(F.col("_cr_first")).over(Window.partitionBy(part, idx)),
                base_first,
            )
        else:
            cols["_first"] = base_first
    staged = pre.select(*pre.columns, *[v.alias(k) for k, v in cols.items()])
    if carried:
        # carriers exist to be lagged against / summed over — they emit
        # nothing themselves (their own lag is NULL, their occ is the
        # carried count; both would be false reports)
        staged = staged.filter(~F.col("_cr"))
    # real rows BELOW the carried boundary are out-of-order appends:
    # suppress the dup/gap legs (their lag context is wrong — the full
    # run would sort these rows into ordinal position) and report the
    # streaming operator's conservative out-of-order instead
    below_bound = (
        F.col("_c_bound").isNotNull() & (F.col(idx) < F.col("_c_bound"))
        if carry is not None
        else F.lit(False)
    )
    occ = F.col("_occ") if has_unique else F.lit(1)
    legs = []
    key_repr = F.concat_ws(",", *[F.col(k).cast("string") for k in keys])
    for c in cs:
        if isinstance(c, Unique):
            legs.append(
                (
                    occ > 1,
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.concat(
                            F.lit("duplicate key ("),
                            key_repr,
                            F.lit(") occurrence "),
                            occ.cast("string"),
                            F.lit("; first seen "),
                            F.col("_first"),
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
        elif isinstance(c, TurnOrdering):
            expected = F.coalesce(F.col("_prev_idx") + F.lit(1), F.lit(0))
            is_dup = F.col("_prev_idx").isNotNull() & (
                F.col(idx) == F.col("_prev_idx")
            )
            is_gap = F.col(idx) > expected
            if carry is not None:
                legs.append(
                    (
                        below_bound,
                        F.struct(
                            F.lit(c.constraint_id).alias("constraint_id"),
                            F.concat(
                                F.lit(f"out-of-order {idx} "),
                                F.col(idx).cast("string"),
                                F.lit(": already past "),
                                F.col("_c_bound").cast("string"),
                            ).alias("reason"),
                            F.lit(c.severity.name).alias("severity"),
                        ),
                    )
                )
            legs.append(
                (
                    (is_dup | is_gap) & ~below_bound,
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.when(
                            is_dup,
                            F.concat(
                                F.lit(f"duplicate {idx} "),
                                F.col(idx).cast("string"),
                            ),
                        )
                        .otherwise(
                            F.concat(
                                F.lit(f"{idx} gap: expected "),
                                expected.cast("string"),
                                F.lit(" got "),
                                F.col(idx).cast("string"),
                            )
                        )
                        .alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
        elif isinstance(c, Monotonic):
            prev_m = F.col(f"_prev_{c.column}")
            bad = (
                (F.col(c.column) <= prev_m)
                if c.strict
                else (F.col(c.column) < prev_m)
            )
            legs.append(
                (
                    prev_m.isNotNull() & bad,
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.concat(
                            F.lit(f"{c.column} not monotonic: "),
                            F.col(c.column).cast("string"),
                            F.lit(" after "),
                            prev_m.cast("string"),
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
        elif isinstance(c, Precedence):
            prior = F.coalesce(F.col(f"_prior_{c.seen_slug}"), F.lit(0))
            # a trigger below the carried boundary sorts before the
            # carrier, so its prior count holds only this sliver's rows:
            # the carried prereqs count when they rank strictly before it
            carried_before = (
                F.coalesce(
                    F.col(f"_c_pre_{c.seen_slug}") < F.col(idx), F.lit(False)
                )
                if carry is not None
                else F.lit(False)
            )
            legs.append(
                (
                    (F.col(c.column) == F.lit(c.trigger))
                    & (prior == 0)
                    & ~(below_bound & carried_before),
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.lit(
                            f"{c.column} '{c.trigger}' with no prior "
                            f"{'|'.join(c.prereq)}"
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
        elif isinstance(c, OpeningRole):
            is_first = F.col("_rn1") == 1
            if carried:
                is_first = is_first & (
                    F.coalesce(F.col("_c_has"), F.lit(0)) == 0
                )
            legs.append(
                (
                    is_first
                    & (
                        F.col(c.column).isNull()
                        | ~F.col(c.column).isin(*c.allowed)
                    ),
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.concat(
                            F.lit("conversation opens with "),
                            F.coalesce(
                                F.col(c.column).cast("string"), F.lit("NULL")
                            ),
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
        elif isinstance(c, Alternation):
            # repeat of the preceding turn's value — the lag is the same
            # WindowExec as Monotonic's; with carry, the carrier's value
            # is the prior increment's last, so a boundary-straddling
            # repeat fires exactly as in a fresh full run
            prev_a = F.col(f"_prev_{c.column}")
            bad_a = prev_a.isNotNull() & (F.col(c.column) == prev_a)
            if c.scope:
                bad_a = bad_a & F.col(c.column).isin(*c.scope)
            legs.append(
                (
                    bad_a,
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.concat(
                            F.lit(f"consecutive {c.column} '"),
                            F.col(c.column).cast("string"),
                            F.lit("'"),
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
            )
    # same defect-proportional guard as the row leg: the array of group
    # violation structs is only built (and only non-NULL) when one of
    # the already-computed window conditions actually fired
    if legs:
        gguard = None
        for cond, _ in legs:
            gguard = cond if gguard is None else gguard | cond
        group_arr = F.when(
            gguard,
            F.array_compact(
                F.array(*[F.when(c_, s_).cast(entry_t) for c_, s_ in legs])
            ),
        )
    else:
        group_arr = F.lit(None).cast(f"array<{entry_t}>")
    staged = staged.select(*staged.columns, group_arr.alias("_gv"))
    if row_cs and legs:
        # both sides are NULL-for-clean now; concat(NULL, x) is NULL,
        # so branch instead of coalescing into per-row empty arrays
        entries = (
            F.when(F.col("_rv").isNull(), F.col("_gv"))
            .when(F.col("_gv").isNull(), F.col("_rv"))
            .otherwise(F.concat(F.col("_rv"), F.col("_gv")))
        )
    elif row_cs:
        entries = F.col("_rv")
    else:
        entries = F.col("_gv")
    return staged.select(*keys, F.explode(entries).alias("_v")).select(
        F.col("_v.constraint_id").alias("constraint_id"),
        *keys,
        F.col("_v.reason").alias("reason"),
        F.col("_v.severity").alias("severity"),
    )


def fd_violations(
    df: DataFrame,
    suite: ConstraintSet,
    keys: Sequence[str] = DEFAULT_KEYS,
    carry: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """All FunctionalDependency constraints, one leg each (their
    grouping keys are arbitrary, so unlike the conv-window family the
    legs share nothing). Unresolvable columns are skipped here and
    reported by dataset_findings, like every other family.

    ``carry`` maps constraint_id -> carried group-state frame
    (fd_group_state schema) from prior ``--incremental`` runs: an
    increment's rows then validate against the CARRIED canonical, so a
    group whose dependent disagrees with what an earlier increment
    established fires instead of silently passing within-increment."""
    out = _empty(df, keys)
    for c in suite.key_level():
        if not _runs(df, c, keys):
            continue
        if isinstance(c, GroupMetricBound):
            out = out.unionByName(_gm_leg(df, c, keys))
        elif isinstance(c, ClosingRole):
            out = out.unionByName(_closing_leg(df, c, keys))
        else:
            prior = carry.get(c.constraint_id) if carry else None
            out = out.unionByName(_fd_leg(df, c, keys, prior=prior))
    return out


def _closing_leg(
    df: DataFrame, c: ClosingRole, keys: Sequence[str]
) -> DataFrame:
    """One ClosingRole check: the conversation's LAST turn (max over a
    (order, value-display) struct — deterministic under order ties, the
    larger display value winning, matching the SQL replay's DESC NULLS
    LAST) must have the column in the allowed set. One partial-agg
    exchange on the conversation key; emission is one row per violating
    conversation, keyed at its last turn."""
    src = df.filter(F.expr(c.where)) if c.where else df
    dt = _resolve_path(df.schema, c.column)
    last = (
        src.groupBy(F.col(c.partition_by))
        .agg(
            F.max(
                F.struct(
                    F.col(c.order_by).alias("_o"),
                    _tie_display(F.col(c.column), dt)
                    .cast("string")
                    .alias("_v"),
                )
            ).alias("_last")
        )
        .select(
            F.col(c.partition_by),
            F.col("_last._o").alias("_o"),
            F.col("_last._v").alias("_v"),
        )
    )
    allowed = list(c.allowed)
    bad = last.filter(
        F.col("_v").isNull() | ~F.col("_v").isin(*allowed)
    )
    reason = F.concat(
        F.lit(f"conversation closes with {c.column}="),
        F.coalesce(F.col("_v"), F.lit("<null>")),
        F.lit(f"; allowed closers: {','.join(allowed)}"),
    )
    out_cols = [F.lit(c.constraint_id).alias("constraint_id")]
    for k in keys:
        if k == c.partition_by:
            out_cols.append(F.col(c.partition_by))
        elif k == c.order_by:
            out_cols.append(F.col("_o").alias(k))
        else:
            out_cols.append(F.lit(None).cast(df.schema[k].dataType).alias(k))
    return bad.select(
        *out_cols,
        reason.alias("reason"),
        F.lit(c.severity.name).alias("severity"),
    )


def _gm_leg(
    df: DataFrame, c: GroupMetricBound, keys: Sequence[str]
) -> DataFrame:
    """One stratified metric bound: per group of ``by``, the metric of
    ``column`` must land in [lo, hi]. One partial-agg exchange on the
    group key (map-side combined to |groups|); findings only for
    offending groups — defect-proportional output with NULL row keys
    (dataset-style) and the group named in the reason."""
    src = df.filter(F.expr(c.where)) if c.where else df
    by = list(c.by)
    dep_dt = _resolve_path(df.schema, c.column)
    by_dts = [_resolve_path(df.schema, b) for b in by]
    proj = src.select(
        *[F.col(b).alias(f"_g{i}") for i, b in enumerate(by)],
        F.col(c.column).alias("_dep"),
    )
    dep = F.col("_dep")
    if c.metric == "null_rate":
        aggs = [
            F.sum(dep.isNull().cast("long")).alias("_m"),
            F.count(F.lit(1)).alias("_n"),
        ]
    elif c.metric == "row_count":
        aggs = [F.count(F.lit(1)).alias("_m")]
    elif c.metric == "distinct_count":
        aggs = [F.count_distinct(dep).alias("_m")]
    elif c.metric == "min":
        aggs = [F.min(dep).alias("_m")]
    else:  # "max": spec.METRICS is checked at construction
        aggs = [F.max(dep).alias("_m")]
    grp = proj.groupBy(*[f"_g{i}" for i in range(len(by))]).agg(*aggs)
    m = F.col("_m")
    if c.metric == "null_rate":
        # exact-integer x-product compare, the MetricBound discipline
        below = (
            m < F.lit(float(c.lo)) * F.col("_n")
            if c.lo is not None
            else F.lit(False)
        )
        above = (
            m > F.lit(float(c.hi)) * F.col("_n")
            if c.hi is not None
            else F.lit(False)
        )
        shown = F.concat(
            m.cast("string"), F.lit("/"), F.col("_n").cast("string")
        )
    else:
        below = m < F.lit(c.lo) if c.lo is not None else F.lit(False)
        above = m > F.lit(c.hi) if c.hi is not None else F.lit(False)
        if c.metric in ("min", "max") and isinstance(
            dep_dt, (T.DoubleType, T.FloatType)
        ):
            shown = F.format_string("%.6f", m.cast("double"))
        else:
            shown = m.cast("string")
    # extrema of an all-NULL group: nothing to bound (MetricBound rule)
    breach = F.when(m.isNull(), F.lit(False)).otherwise(below | above)
    disp = lambda col, dt: F.coalesce(  # noqa: E731
        _tie_display(col, dt).cast("string"), F.lit("<null>")
    )
    by_repr = F.concat_ws(
        ",", *[disp(F.col(f"_g{i}"), by_dts[i]) for i in range(len(by))]
    )
    bound_txt = F.when(below, F.lit(f" below min {c.lo}")).otherwise(
        F.lit(f" above max {c.hi}")
    )
    reason = F.concat(
        F.lit(f"{c.metric}({c.column}) by ({','.join(by)}=("),
        by_repr,
        F.lit(")) = "),
        shown,
        bound_txt,
    )
    nulls = [F.lit(None).cast(df.schema[k].dataType).alias(k) for k in keys]
    return grp.filter(breach).select(
        F.lit(c.constraint_id).alias("constraint_id"),
        *nulls,
        reason.alias("reason"),
        F.lit(c.severity.name).alias("severity"),
    )


def fd_group_state(df: DataFrame, c: FunctionalDependency) -> DataFrame:
    """Per-group FD state for the incremental carry: one row per
    determinant group — ``(_d0.._dn, _canon, _null)`` with _canon the
    group's minimum non-null dependent and _null whether any NULL
    dependent was seen. Bounded by |groups| (the state's intrinsic
    size), built by the same partial-agg exchange as the check."""
    src = df.filter(F.expr(c.where)) if c.where else df
    det = list(c.determinants)
    proj = src.select(
        *[F.col(d).alias(f"_d{i}") for i, d in enumerate(det)],
        F.col(c.column).alias("_dep"),
    )
    return proj.groupBy(*[f"_d{i}" for i in range(len(det))]).agg(
        F.min(F.col("_dep")).alias("_canon"),
        F.max(F.col("_dep").isNull().cast("int")).alias("_null"),
    )


def merge_fd_state(
    prior: "DataFrame | None", new: DataFrame
) -> DataFrame:
    """Fold one increment's FD group state into the accumulated state.
    The carried canonical is STICKY — the first increment to establish
    a non-null canonical for a group keeps it (first-seen-wins across
    increments, the same conservative contract as the conversation
    boundary state: already-emitted verdicts are never retroactively
    contradicted by a later, lexicographically-smaller value). An
    all-NULL group's canonical upgrades to the first non-null arrival;
    the null flag is monotone."""
    if prior is None:
        return new
    det = [c for c in new.columns if c.startswith("_d")]
    p = prior.select(
        *[F.col(d).alias(f"_p{d}") for d in det],
        F.col("_canon").alias("_pcanon"),
        F.col("_null").alias("_pnull"),
    )
    cond = new[det[0]].eqNullSafe(p[f"_p{det[0]}"])
    for d in det[1:]:
        cond = cond & new[d].eqNullSafe(p[f"_p{d}"])
    j = new.join(p, cond, "full")
    return j.select(
        *[F.coalesce(new[d], p[f"_p{d}"]).alias(d) for d in det],
        F.coalesce(p["_pcanon"], new["_canon"]).alias("_canon"),
        F.greatest(
            F.coalesce(p["_pnull"], F.lit(0)),
            F.coalesce(new["_null"], F.lit(0)),
        ).alias("_null"),
    )


def _fd_leg(
    df: DataFrame,
    c: FunctionalDependency,
    keys: Sequence[str],
    prior: "DataFrame | None" = None,
) -> DataFrame:
    """One FD check: ``determinants -> column``.

    Shape at scale: project to (keys, determinants, dependent) FIRST —
    the scan prunes to exactly the referenced columns and struct paths
    become plain columns, so the one exchange this check intrinsically
    needs (partial-agg groupBy on the determinants, map-side combine
    collapsing to |groups| rows) never carries the table's wide body.
    The violating-group set is defect-proportional; the join-back is
    null-safe on every determinant (a NULL determinant is its own
    group, mirroring the groupBy), and AQE broadcasts it when small.
    Violations = rows whose dependent differs null-safely from the
    group's canonical (minimum non-null) value; reasons display capped
    values (TIE_DISPLAY_LEN) so text-typed columns never put unbounded
    strings in the violation sink."""
    src = df.filter(F.expr(c.where)) if c.where else df
    det = list(c.determinants)
    dep_dt = _resolve_path(df.schema, c.column)
    det_dts = [_resolve_path(df.schema, d) for d in det]
    proj = src.select(
        *keys,
        *[F.col(d).alias(f"_d{i}") for i, d in enumerate(det)],
        F.col(c.column).alias("_dep"),
    )
    agg = proj.groupBy(*[f"_d{i}" for i in range(len(det))]).agg(
        F.countDistinct(F.col("_dep")).alias("_nd"),
        F.max(F.col("_dep").isNull().cast("int")).alias("_null"),
        F.min(F.col("_dep")).alias("_canon"),
    )
    if prior is not None:
        # incremental carry: this increment's rows validate against the
        # MERGED canonical (carried sticky canonical, or the increment's
        # own when the group is new / was all-NULL). A group is bad iff
        # some increment row differs from that canonical: more than one
        # value within the increment, or a single increment value that
        # disagrees with the carried one.
        p = prior.select(
            *[F.col(f"_d{i}").alias(f"_p{i}") for i in range(len(det))],
            F.col("_canon").alias("_pcanon"),
        )
        cond = agg["_d0"].eqNullSafe(p["_p0"])
        for i in range(1, len(det)):
            cond = cond & agg[f"_d{i}"].eqNullSafe(p[f"_p{i}"])
        m = agg.join(p, cond, "left")
        canon_m = F.coalesce(p["_pcanon"], agg["_canon"])
        single_val = F.when(agg["_nd"] == 1, agg["_canon"])  # else NULL
        bad = ((agg["_nd"] + agg["_null"]) > 1) | ~single_val.eqNullSafe(
            canon_m
        )
        grp = m.filter(bad).select(
            *[agg[f"_d{i}"].alias(f"_g{i}") for i in range(len(det))],
            agg["_nd"],
            agg["_null"],
            canon_m.alias("_canon"),
            p["_pcanon"].isNotNull().alias("_carried"),
        )
    else:
        grp = (
            agg.filter((F.col("_nd") + F.col("_null")) > 1)
            # rename the group side: grp derives from proj, and a
            # same-lineage join on identically-named columns is ambiguous
            .select(
                *[
                    F.col(f"_d{i}").alias(f"_g{i}")
                    for i in range(len(det))
                ],
                "_nd",
                "_null",
                "_canon",
            )
        )
    cond = proj["_d0"].eqNullSafe(grp["_g0"])
    for i in range(1, len(det)):
        cond = cond & proj[f"_d{i}"].eqNullSafe(grp[f"_g{i}"])
    j = proj.join(grp, cond, "inner").filter(
        ~proj["_dep"].eqNullSafe(grp["_canon"])
    )
    disp = lambda col, dt: F.coalesce(  # noqa: E731
        _tie_display(col, dt).cast("string"), F.lit("<null>")
    )
    det_repr = F.concat_ws(
        ",", *[disp(proj[f"_d{i}"], det_dts[i]) for i in range(len(det))]
    )
    # within-run reasons count the group's values; groups whose
    # canonical CAME FROM carried state name the contract instead (the
    # increment can't know the all-time value count, and must not
    # pretend to) — groups new to this increment keep the batch-run
    # reason verbatim
    count_tail = F.concat(
        F.lit("; "),
        (grp["_nd"] + grp["_null"]).cast("string"),
        F.lit(" values"),
    )
    tail = (
        F.when(grp["_carried"], F.lit("; cross-increment")).otherwise(
            count_tail
        )
        if prior is not None
        else count_tail
    )
    reason = F.concat(
        F.lit(f"fd ({','.join(det)}=("),
        det_repr,
        F.lit(f")) -> {c.column}: found "),
        disp(proj["_dep"], dep_dt),
        F.lit("; expected "),
        disp(grp["_canon"], dep_dt),
        tail,
    )
    return j.select(
        F.lit(c.constraint_id).alias("constraint_id"),
        *[proj[k] for k in keys],
        reason.alias("reason"),
        F.lit(c.severity.name).alias("severity"),
    )


def _observations(suite: ConstraintSet, df: DataFrame) -> list[tuple]:
    """The dataset-level observation table: ``(alias, constraint,
    value, merge)`` per EnumCoverage declared value and per mergeable
    MetricBound (``value`` is None for metrics). ``merge`` re-aggregates
    partial results: "max" for coverage flags, "sum" for null counts,
    "min" or "max" for extrema. row_count needs no aggregate (it is
    n_rows) and distinct_count has no mergeable form."""
    ds = [c for c in suite.dataset_level() if _runs(df, c)]
    cov = [c for c in ds if isinstance(c, EnumCoverage)]
    mb = [
        c for c in ds
        if isinstance(c, MetricBound) and c.metric in ("null_rate", "min", "max")
    ]
    return [
        (f"_cov{i}_{j}", c, v, "max")
        for i, c in enumerate(cov)
        for j, v in enumerate(c.values)
    ] + [
        (f"_mb{i}", c, None, "sum" if c.metric == "null_rate" else c.metric)
        for i, c in enumerate(mb)
    ]


def _observation_agg(c, value) -> Column:
    col = F.col(c.column)
    if isinstance(c, EnumCoverage):
        # one int flag per declared value — never collect_set, which
        # would force the stats scan onto the sort-based object
        # aggregation path (see stats.bucketed_probe_stats)
        return F.max(F.when(col == F.lit(value), F.lit(1)).otherwise(F.lit(0)))
    if c.metric == "null_rate":
        return F.sum(col.isNull().cast("long"))
    return F.min(col) if c.metric == "min" else F.max(col)


def observation_aggs(suite: ConstraintSet, df: DataFrame) -> dict:
    """``{alias: (aggregate, merge)}`` for every dataset-level
    observation of ``suite`` on ``df``: one max-merged int flag per
    (EnumCoverage, declared value), and per MetricBound the null count
    (sum-merged) or extremum (min/max-merged). Every aggregate is a
    mergeable pure-codegen scalar, so the runner hands them to
    stats.bucketed_probe_stats and they ride its stats scan; fold the
    resulting rows with fold_observations."""
    return {
        a: (_observation_agg(c, v), merge)
        for a, c, v, merge in _observations(suite, df)
    }


def fold_observations(
    suite: ConstraintSet, df: DataFrame, rows
) -> tuple[dict, dict]:
    """Fold rows carrying ``n_rows`` and observation_aggs' aliases (one
    per stats bucket, or one global row) into ``(observed_enums,
    observed_metrics)`` for dataset_findings. ``observed_enums`` is
    ``{column: observed declared values}``, the union over every
    coverage constraint on the column. ``observed_metrics`` is
    ``{constraint_id: value}`` plus ``"__n_rows"``; an all-NULL column's
    extremum is a present None. An alias a row does not carry folds as
    NULL."""
    rows = [r.asDict() for r in rows]
    n = sum(int(r["n_rows"]) for r in rows)
    ds = [c for c in suite.dataset_level() if _runs(df, c)]
    enums: dict[str, set] = {
        c.column: set() for c in ds if isinstance(c, EnumCoverage)
    }
    metrics: dict = {"__n_rows": n}
    for c in ds:
        if isinstance(c, MetricBound) and c.metric == "row_count":
            metrics[c.constraint_id] = n
    for a, c, v, merge in _observations(suite, df):
        got = [r[a] for r in rows if r.get(a) is not None]
        if isinstance(c, EnumCoverage):
            if 1 in got:
                enums[c.column].add(v)
        elif merge == "sum":
            metrics[c.constraint_id] = sum(got)
        else:
            metrics[c.constraint_id] = (min if merge == "min" else max)(
                got, default=None
            )
    return enums, metrics


def dataset_findings(
    df: DataFrame,
    suite: ConstraintSet,
    keys: Sequence[str] = DEFAULT_KEYS,
    include_coverage: bool = True,
    observed_enums: dict | None = None,
    observed_metrics: dict | None = None,
) -> DataFrame:
    """Schema audit (unknown/missing columns — reference
    validators.py:106-158's table-level survival), the "not evaluated"
    report, enum coverage (reference validate_unused_attrs,
    validators.py:169-198) and the dataset-level gates. Emitted with
    NULL row keys, like the reference errors that carry a file but no
    attribute trail.

    Every constraint of every kind is either evaluated or reported here
    as "column(s) ... do not resolve in schema; constraint not
    evaluated", never both and never neither: this one loop and every
    evaluator (the row, window, key and residual legs, the observation
    table and the gates below) decide by the same rule, ``_runs``.

    ALL EnumCoverage constraints share ONE lazy aggregation leg built
    from observation_aggs' int flags, one per declared value, so the
    partials stay tiny no matter the column's true cardinality.
    ``include_coverage=False`` skips the data scan entirely (used by the
    runner's driver-only schema audit); ``observed_enums`` and
    ``observed_metrics`` (fold_observations' output) supply the
    observations precomputed on another scan (the runner piggybacks
    them on the stats pass, so coverage and mergeable metric bounds
    cost zero extra scans)."""
    spark = df.sparkSession
    schema = _violation_schema(df, keys)
    rows: list[tuple] = []
    nulls = tuple(None for _ in keys)
    for c in suite.dataset_level():
        if isinstance(c, AllowedColumns):
            present = set(df.columns)
            for col in sorted(present - set(c.allowed)):
                rows.append(
                    (c.constraint_id, *nulls, f"unknown column {col}", c.severity.name)
                )
            for col in sorted(set(c.required) - present):
                rows.append(
                    (
                        c.constraint_id,
                        *nulls,
                        f"missing required column {col}",
                        c.severity.name,
                    )
                )
    # a constraint that cannot run (_runs, the rule every evaluator
    # selects by) is itself a reportable defect — never a silent skip:
    # the user who declared NotNull("meta.width") against a schema
    # without it gets a finding, not a false PASS (reference reports
    # missing attrs the same way)
    for c in suite.constraints:
        missing = _unresolved(df, c, keys)
        if missing:
            rows.append(
                (
                    c.constraint_id,
                    *nulls,
                    f"column(s) {','.join(missing)} do not resolve in "
                    "schema; constraint not evaluated",
                    c.severity.name,
                )
            )

    def runnable(kind) -> list:
        return [
            c for c in suite.dataset_level()
            if isinstance(c, kind) and _runs(df, c)
        ]

    # a coverage constraint with no declared values has nothing to miss
    cov = [c for c in runnable(EnumCoverage) if c.values]
    cov_leg = None
    if cov and include_coverage:
        if observed_enums is None:
            # LAZY coverage leg: observation_aggs' flag per (constraint,
            # declared value), with the never-observed findings
            # exploding straight out of the one agg row, so they ride
            # the CALLER's job instead of costing every suite build a
            # separate collect job during plan construction.
            flags = [
                (a, c, v)
                for a, c, v, _ in _observations(suite, df)
                if isinstance(c, EnumCoverage)
            ]
            entries = [
                F.when(
                    F.coalesce(F.col(a), F.lit(0)) == 0,
                    F.struct(
                        F.lit(c.constraint_id).alias("constraint_id"),
                        F.lit(
                            f"enum value '{v}' never observed in {c.column}"
                        ).alias("reason"),
                        F.lit(c.severity.name).alias("severity"),
                    ),
                )
                for a, c, v in flags
            ]
            cov_leg = (
                df.agg(*[_observation_agg(c, v).alias(a) for a, c, v in flags])
                .select(
                    F.explode(F.array_compact(F.array(*entries))).alias("_e")
                )
                .select(
                    F.col("_e.constraint_id").alias("constraint_id"),
                    *[
                        F.lit(None).cast(schema[k].dataType).alias(k)
                        for k in keys
                    ],
                    F.col("_e.reason").alias("reason"),
                    F.col("_e.severity").alias("severity"),
                )
            )
        else:
            for c in cov:
                seen = observed_enums.get(c.column, set())
                for v in c.values:
                    if v not in seen:
                        rows.append(
                            (
                                c.constraint_id,
                                *nulls,
                                f"enum value '{v}' never observed in {c.column}",
                                c.severity.name,
                            )
                        )
    mb = runnable(MetricBound)
    if mb and include_coverage:
        # observed_metrics (fold_observations' {constraint_id: value}
        # + "__n_rows": the runner's zero-extra-scan path, aggregates
        # piggybacked on the stats pass). Constraints NOT in it (e.g.
        # distinct_count, which has no mergeable per-bucket form) fall
        # through to the shared agg job.
        om = dict(observed_metrics or {})
        pending = [c for c in mb if c.constraint_id not in om]
        if pending or "__n_rows" not in om:
            # ONE shared narrow aggregation job for every remaining
            # MetricBound (the EnumCoverage discipline): row count, the
            # pending observation aggregates (folded like the runner's
            # stats rows) and exact count_distinct. All are
            # partial-aggregatable (count_distinct plans via expand +
            # two-level agg), so the exchange carries one tiny row per
            # partition.
            ids = {c.constraint_id for c in pending}
            distinct = [c for c in pending if c.metric == "distinct_count"]
            row = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                *[
                    _observation_agg(c, v).alias(a)
                    for a, c, v, _ in _observations(suite, df)
                    if isinstance(c, MetricBound) and c.constraint_id in ids
                ],
                *[
                    F.count_distinct(F.col(c.column)).alias(f"_d{i}")
                    for i, c in enumerate(distinct)
                ],
            ).collect()[0]
            om = {**fold_observations(suite, df, [row])[1], **om}
            for i, c in enumerate(distinct):
                om[c.constraint_id] = row[f"_d{i}"]
        n = int(om["__n_rows"])
        vals = {i: om.get(c.constraint_id) for i, c in enumerate(mb)}
        for i, c in enumerate(mb):
            if c.metric == "null_rate":
                # exact integer arithmetic, never a float division: the
                # verdict is bit-deterministic at any parallelism and
                # SQL-replayable (nulls <=> bound * n as IEEE products
                # of exact ints with a literal)
                nulls_n = int(vals.get(i) or 0)
                if c.lo is not None and nulls_n < float(c.lo) * n:
                    rows.append((
                        c.constraint_id, *nulls,
                        f"null_rate({c.column}) = {nulls_n}/{n} below "
                        f"min {c.lo}", c.severity.name,
                    ))
                if c.hi is not None and nulls_n > float(c.hi) * n:
                    rows.append((
                        c.constraint_id, *nulls,
                        f"null_rate({c.column}) = {nulls_n}/{n} above "
                        f"max {c.hi}", c.severity.name,
                    ))
                continue
            v = n if c.metric == "row_count" else vals.get(i)
            if v is None:
                # extrema of an all-NULL column: nothing to bound —
                # emptiness/nullness is null_rate's or row_count's job
                continue
            if c.lo is not None and v < c.lo:
                rows.append((
                    c.constraint_id, *nulls,
                    f"{c.metric}({c.column}) = {v} below min {c.lo}",
                    c.severity.name,
                ))
            if c.hi is not None and v > c.hi:
                rows.append((
                    c.constraint_id, *nulls,
                    f"{c.metric}({c.column}) = {v} above max {c.hi}",
                    c.severity.name,
                ))
    qb = runnable(QuantileBound)
    if qb and include_coverage:
        # exact order statistics via histogram narrowing; all bounds on
        # one column share a single exact_quantiles pass. %.6f render
        # so a SQL replay prints the identical reason.
        from ocsf_validator_spark.pipeline.quantiles import exact_quantiles

        by_col: dict[str, list] = {}
        for c in qb:
            by_col.setdefault(c.column, []).append(c)
        for col_name, cs_ in by_col.items():
            got = {
                float(r["q"]): float(r["value"])
                for r in exact_quantiles(
                    df,
                    col_name,
                    qs=tuple(sorted({float(c.q) for c in cs_})),
                    # suite inputs are typically derived views (the
                    # transcripts row_number window): evaluate that
                    # upstream once across the passes
                    persist=True,
                ).collect()
            }
            for c in cs_:
                v = got.get(float(c.q))
                if v is None:
                    continue  # empty/all-NULL column: nothing to bound
                if c.lo is not None and v < float(c.lo):
                    rows.append((
                        c.constraint_id, *nulls,
                        f"quantile({c.q}, {c.column}) = {v:.6f} "
                        f"below min {c.lo}", c.severity.name,
                    ))
                if c.hi is not None and v > float(c.hi):
                    rows.append((
                        c.constraint_id, *nulls,
                        f"quantile({c.q}, {c.column}) = {v:.6f} "
                        f"above max {c.hi}", c.severity.name,
                    ))
    # a DriftGate column may be a SQL value expression (the baseline
    # loader records e.g. "cast(length(text)/50 as long)"): it reads no
    # named column, so it always runs and an invalid one raises
    dg = runnable(DriftGate)
    if dg and include_coverage:
        from ocsf_validator_spark import drift as _drift

        for c in dg:
            cur = _drift.histogram(df, c.column, c.bin_expr)
            ref = local_df(
                spark,
                [(int(k), int(v)) for k, v in c.baseline.items()],
                "bin bigint, cnt bigint",
            )
            if c.metric == "psi":
                val = _drift.psi_from_histograms(cur, ref)
                shown = f"{val:.4f}"
            else:
                val = _drift.emd_from_histograms(cur, ref)
                shown = f"{val:.6f}"
            if not math.isnan(val) and val >= float(c.threshold):
                rows.append((
                    c.constraint_id, *nulls,
                    f"{c.metric}({c.column}) = {shown} above threshold "
                    f"{c.threshold} vs recorded baseline",
                    c.severity.name,
                ))
    vg = runnable(VolumeGate)
    if vg and include_coverage:
        from ocsf_validator_spark.drift import volume_anomaly

        for c in vg:
            series = volume_anomaly(
                df, ts_col=c.column, granularity=c.granularity, k=int(c.k)
            ).collect()  # bounded: one row per time bucket
            for r in series:
                if not r.anomaly:
                    continue
                b = r.bucket.strftime("%Y-%m-%d %H:%M:%S")
                rows.append((
                    c.constraint_id, *nulls,
                    f"volume({c.granularity}, {c.column}) bucket {b} = "
                    f"{r.cnt} outside [{r.lo:.6f}, {r.hi:.6f}] "
                    f"(median {r.median:.6f}, mad {r.mad:.6f})",
                    c.severity.name,
                ))
    out = local_df(spark, rows, schema)
    if cov_leg is not None:
        out = out.unionByName(cov_leg)
    return out


def residual_violations(
    df: DataFrame, suite: ConstraintSet, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Residual complex rules (spec.PandasCheck) in ONE Arrow-batched
    mapInPandas pass — the leg for constraints no Column expression can
    state (reference validate_metaschemas, validators.py:278-314). All
    registered checks share the scan; only the referenced columns cross
    into Python (column-pruned projection); output is violation rows
    only, so the Arrow return path is defect-proportional."""
    import pandas as pd

    cs = [c for c in suite.residual_level() if _runs(df, c, keys)]
    if not cs:
        return _empty(df, keys)
    need = list(dict.fromkeys([*keys, *(col for c in cs for col in c.columns)]))
    # each path must surface in pandas under its DECLARED dotted name
    # (a bare select of 'meta.width' yields a column called 'width', and
    # two paths sharing a leaf collide). A dotted SPARK column name is
    # not an option either — mapInPandas re-parses dots as struct access
    # — so alias to a dot-free name and rename back inside the batch.
    safe = {p: p.replace(".", "__dot__") for p in need}
    need_cols = [F.col(p).alias(safe[p]) for p in need]
    unsafe = {v: k for k, v in safe.items()}
    specs = [(c.constraint_id, c.check, c.reason, c.severity.name) for c in cs]
    schema = _violation_schema(df, keys)

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            pdf = pdf.rename(columns=unsafe)
            for cid, fn, static_reason, sev in specs:
                mask, reasons = fn(pdf)
                if mask is None or not bool(mask.any()):
                    continue
                sub = pdf.loc[mask]
                out = {"constraint_id": cid}
                for k in keys:
                    out[k] = sub[k]
                out["reason"] = (
                    reasons.loc[sub.index]
                    if reasons is not None
                    else static_reason
                )
                out["severity"] = sev
                yield pd.DataFrame(out)

    return df.select(*need_cols).mapInPandas(run, schema)


def window_route(df: DataFrame, carry: DataFrame | None = None) -> str:
    """How ``all_violations`` plans the conversation window over ``df``:
    ``"in_place"`` when ``localframe.one_task(df)`` holds, so
    ``df.coalesce(1)`` satisfies the window's and the coverage
    aggregate's distributions and the suite runs as one scan-to-sink
    stage with no exchange, else ``"exchange"``. With ``carry`` it is
    always ``"exchange"``: the carried state's carrier rows reach the
    window through its exchange. Deciding runs no job."""
    return "in_place" if carry is None and one_task(df) else "exchange"


def skew_chunk_rows(spark: SparkSession, n_rows: int) -> int:
    """Rows per chunk of a skew-routed conversation: one shuffle task's
    share of the input, ceil(n_rows / spark.sql.shuffle.partitions).
    The runner routes conversations above 4x this figure, so every
    routed conversation splits into at least four chunks."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, -(-int(n_rows) // max(parts, 1)))


def all_violations(
    df: DataFrame,
    suite: ConstraintSet,
    keys: Sequence[str] = DEFAULT_KEYS,
    include_coverage: bool = True,
    observed_enums: dict | None = None,
    skewed_convs: Sequence[str] | None = None,
    ordered_partitions: int | None = None,
    carry: DataFrame | None = None,
    observed_metrics: dict | None = None,
    fd_carry: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Full suite in as few scans as possible. Each window of the group
    family runs as one fused pass (``_window_groups``), and the row
    family rides the pass of the conversation window ``keys``: for the
    transcript suite, ONE scan of the input for every per-row and
    per-conversation constraint, plus the tiny bounded coverage agg
    (itself skippable via ``observed_enums``). Each other window adds
    one fused pass with its own exchange, and each Unique off that
    window's ranking one key-level leg.

    ``skewed_convs`` (picked by the runner's stats-scan skew probe)
    are conversations too large for one window task. They stay on the
    same fused window, split into turn_idx chunks of skew_chunk_rows
    rows, each seeded by a carrier row (see fused_group_violations).
    The plan stays lazy: it adds one small aggregate exchange and builds
    with no job, given ``observed_metrics["__n_rows"]`` (else one count
    job sizes the chunks). ``ordered_partitions`` is accepted and
    unused: the benchmark's traced decomposition still passes it.

    ``carry`` (incremental runs and carried streams): convstate
    boundary-state table, seeded into the conversation window's fused
    pass (see fused_group_violations). A suite holding a constraint the
    carry cannot serve raises ``ValueError`` (convstate.check_carried).
    With carry, skewed conversations are not chunked: the carried
    out-of-order bound and opening suppression are per conversation.

    A small input (``window_route`` is ``"in_place"``, the rule of
    ``localframe.one_task``) is planned as ``df.coalesce(1)``, so the
    whole suite runs in one task with no exchange, where Spark would
    have scanned it in two or more tasks and AQE could have kept two or
    more reducers. Its ``skewed_convs`` are not chunked: one task has
    nothing to balance. Deciding runs no job."""
    if carry is not None:
        from ocsf_validator_spark.convstate import check_carried

        check_carried(suite, keys)
    in_place = window_route(df, carry) == "in_place"
    if in_place:
        df = df.coalesce(1)
    groups, uniques = _window_groups(suite, keys, df)
    conv = groups.pop((keys[0], keys[1]), None)
    if conv:
        row_cs = [c for c in suite.row_level() if _runs(df, c, keys)]
        chunk_rows = None
        if skewed_convs and carry is None and not in_place:
            n = (observed_metrics or {}).get("__n_rows")
            chunk_rows = skew_chunk_rows(
                df.sparkSession, df.count() if n is None else n
            )
        main = fused_group_violations(
            df,
            *conv,
            keys,
            row_cs=row_cs,
            carry=carry,
            chunk_rows=chunk_rows,
            chunk_convs=list(skewed_convs) if chunk_rows else None,
        )
    else:
        main = row_violations(df, suite, keys)
    for window, (cs, ties) in groups.items():
        main = main.unionByName(
            fused_group_violations(df, cs, ties, keys, window=window)
        )
    if suite.residual_level():
        main = main.unionByName(residual_violations(df, suite, keys))
    for c in uniques:
        main = main.unionByName(unique_violations(df, c, keys))
    if suite.key_level():
        main = main.unionByName(fd_violations(df, suite, keys, carry=fd_carry))
    return main.unionByName(
        dataset_findings(df, suite, keys, include_coverage, observed_enums, observed_metrics)
    )


def cap_violations(
    viol: DataFrame,
    per_constraint: int,
    keys: Sequence[str] = DEFAULT_KEYS,
) -> DataFrame:
    """Deterministic per-constraint cap on violation DETAIL rows for the
    sink — the 10^12-row guard: one pathological constraint (say a
    dictionary went stale and ref.role now fails every row) would emit
    violations proportional to the table, and writing them all makes
    the ERROR SINK the job's bottleneck. Verdict counts stay exact (the
    runner counts the uncapped frame); only the browsable detail rows
    are bounded.

    Result = for each constraint, the globally smallest
    ``per_constraint`` rows by (keys..., reason) — a total order, so
    the kept set is reproducible across runs and partitionings (ties
    beyond the full sort key are byte-identical rows).

    The body is the plain ``row_number() OVER (PARTITION BY
    constraint_id ORDER BY ...) <= per_constraint`` filter. Catalyst
    plans it as ``WindowGroupLimit`` twice: ``Partial`` keeps the
    smallest ``per_constraint`` rows per constraint inside each input
    partition before the exchange, ``Final`` ranks that bounded set
    after it. So the exchange carries at most partitions x cap rows per
    constraint, not every detail row of a hot constraint to one reducer
    as a bare window would. Spark drops
    the ``Partial`` stage when the limit exceeds
    ``spark.sql.optimizer.windowGroupLimitThreshold``; the session
    (``session.get_spark``) raises that threshold to the int maximum
    because the cap is user-set.
    """
    sort_cols = [*(k for k in keys if k in viol.columns), "reason"]
    rank = F.row_number().over(
        Window.partitionBy("constraint_id").orderBy(
            *[F.col(c).asc_nulls_first() for c in sort_cols]
        )
    )
    return (
        viol.withColumn("_rk", rank)
        .filter(F.col("_rk") <= per_constraint)
        .drop("_rk")
    )


def failing(threshold: Severity) -> Column:
    """Whether a violation row's ``severity`` is at or above
    ``threshold``: the rows that fail a run and quarantine their key."""
    return F.col("severity").isin([s.name for s in Severity if s >= threshold])


def quarantine_keys(
    viol: DataFrame,
    threshold: Severity = Severity.ERROR,
    keys: Sequence[str] = DEFAULT_KEYS,
) -> DataFrame:
    """Distinct row keys named by at least one violation at or above
    ``threshold``. Dataset-level findings (NULL keys — coverage,
    schema audit) name no row and quarantine nothing."""
    out = viol.filter(failing(threshold))
    for k in keys:
        out = out.filter(F.col(k).isNotNull())
    return out.select(*keys).distinct()


def split_quarantine(
    df: DataFrame,
    viol: DataFrame,
    threshold: Severity = Severity.ERROR,
    keys: Sequence[str] = DEFAULT_KEYS,
) -> tuple[DataFrame, DataFrame]:
    """Route input rows by verdict: ``(clean, quarantined)`` where a row
    is quarantined iff its key is named by >= 1 violation at or above
    ``threshold`` (ERROR by default; pass WARNING for strict mode).
    Clean rows flow on to the consumer; quarantined rows land in a side
    table for repair/reprocessing — the standard production topology,
    where a handful of bad records must not block a 100 TB ingest.

    Key-level, not row-level, on purpose: a duplicate (conv_id,
    turn_idx) key sends BOTH copies to quarantine (the violation names
    the key, and "the first copy" is not a safe survivor when ordering
    itself is what failed).

    Scale shape: the quarantine key set is defect-proportional and
    pre-shrunk by ``distinct()``, so AQE plans the semi/anti joins
    against it as broadcasts on healthy data; no shuffle of the input
    beyond the joins themselves, and full rows (``text``) move only
    into the sinks they were already destined for.
    """
    bad = quarantine_keys(viol, threshold, keys)
    key_list = list(keys)
    return (
        df.join(bad, key_list, "left_anti"),
        df.join(bad, key_list, "left_semi"),
    )


def top_offending_groups(
    viol: DataFrame,
    group_col: str = "conv_id",
    k: int = 20,
) -> DataFrame:
    """Triage report: the k groups (conversations) with the most
    violations — (group, n_violations, n_constraints), ranked
    (n_violations DESC, group ASC) so the order is total. Runs over the
    defect-proportional violations frame, never the input table: one
    partial-agg exchange on the group key (count + exact distinct
    constraint over a tiny per-group constraint set), then
    TakeOrderedAndProject — no global single-reducer window. Dataset
    findings (NULL group) are excluded; they have no group to triage."""
    return (
        viol.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.count_distinct(F.col("constraint_id")).alias("n_constraints"),
        )
        .orderBy(F.col("n_violations").desc(), F.col(group_col).asc())
        .limit(k)
    )
