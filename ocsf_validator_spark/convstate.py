"""Cross-batch conversation state, shared by ``runner --incremental``
and ``validate_stream(..., stateful_ordering=True)``.

A run that validates only an appended sliver (an increment, a stream
micro-batch) would otherwise miss a (conv_id, turn_idx) key duplicating
one from an EARLIER sliver, or a turn gap / ts regression straddling
the boundary. This module persists each conversation's BOUNDARY
SUMMARY next to the checkpoint and seeds the next sliver's fused window
with it (``all_violations(carry=...)``). The skew route seeds each
turn_idx chunk of a large conversation with the same kind of carrier
(violations._chunk_carriers).

State per conversation (one narrow row):

- ``_c_prev_idx``    — turn_idx of the last row in (turn_idx, ties)
                       order (the full-run window's lag for the next
                       sliver's first row)
- ``_c_prev_<col>``  — that last row's value of each Monotonic or
                       Alternation column
- ``_c_seen_<slug>`` / ``_c_pre_<slug>`` — per Precedence constraint,
                       whether a prereq was seen, and its lowest turn_idx
- ``_c_tail_count``  — occurrences of the boundary key
                       (conv, _c_prev_idx): the Unique occurrence-rank
                       offset for re-appends of that key
- ``_c_tail_first``  — the boundary key's FIRST-seen tie display string
                       (what the full run would print as "first seen")
- ``_c_last_ts``     — the conversation's newest ``ts`` (a stream's
                       idle GC reads it)

Semantics contract: appends that arrive in order — every new turn_idx
>= the carried boundary — reproduce the fresh-full-run violations
row-for-row (pinned by tests/test_incremental_state.py, for increments
and for a stream). An out-of-order append (turn_idx BELOW the carried
boundary) is reported conservatively as ``out-of-order turn_idx t:
already past p`` on each such row; a re-append of a non-boundary key
from an earlier sliver surfaces through that same report rather than
as a Unique occurrence (boundary-only state cannot rank it — the
nightly full run is ground truth). A conversation resuming after the
idle GC dropped its state is validated from fresh state (a gap from 0).

Commit protocol: ``commit`` writes snapshot directories keyed by a
commit id (an increment's snapshot id, a stream's batch id), so a
replay overwrites its own. They become current only when a ledger
part-file naming them lands by rename: the runner adds the pointer
lines to the part-file recording the increment's files, so ledger and
state can never disagree (stale state would fabricate gap reports for
turns the missing increment already delivered); a stream writes
``state-<batch id>.files`` (``publish``), and batch N reads the newest
one below N, so a replayed batch reads what its first attempt read.

Scale notes (10^12 turns): the state table carries one narrow row per
conversation (live ones, under a stream's idle GC) — at deployment
scale it lives bucketed by hash(conv_id) next to the transcript table
(or as an Iceberg MERGE target), so the merge and the carry join are
co-partitioned, zero-exchange on the state side.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from ocsf_validator_spark.checkpoint import ledger_lines, record_files
from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import (
    Alternation,
    ConstraintSet,
    FunctionalDependency,
    Monotonic,
    Precedence,
    Unique,
)

CARRY_PREV_IDX = "_c_prev_idx"
CARRY_COUNT = "_c_tail_count"
CARRY_FIRST = "_c_tail_first"
CARRY_LAST_TS = "_c_last_ts"
EVENT_TS = "ts"  # the event-time column the idle GC reads


def carry_mono_col(column: str) -> str:
    return f"_c_prev_{column}"


def carry_seen_col(c: Precedence) -> str:
    """Per-Precedence-constraint 'prereq seen in any prior increment'
    bit (0/1). Monotone under merge (greatest) — once a conversation
    has seen a prereq, later increments can never unsee it."""
    return f"_c_seen_{c.seen_slug}"


# the carried prereq idx of a NULL turn_idx row: the window sorts NULL
# first, so it ranks before every trigger
_NULL_IDX = -(2**63)


def carry_pre_col(c: Precedence) -> str:
    """Per-Precedence-constraint lowest turn_idx of a prereq row in any
    prior sliver (NULL: none). Merged by least. A trigger appended
    BELOW the carried boundary is not ordered after the carried rows by
    the window, so it fires unless this ranks strictly before it."""
    return f"_c_pre_{c.seen_slug}"


def carries_ts(df: DataFrame) -> bool:
    """Whether ``df`` has the timestamp ``ts`` column the state carries
    as ``_c_last_ts``."""
    return EVENT_TS in df.columns and isinstance(
        df.schema[EVENT_TS].dataType, (TimestampType, TimestampNTZType)
    )


def boundary_state(
    df: DataFrame,
    cs: list,
    ties: list[str],
    keys=("conv_id", "turn_idx"),
) -> DataFrame:
    """Per-conversation boundary summary of ``df`` (one increment).

    One narrow scan: project (keys, bounded ties, mono columns), one
    conv-hash shuffle + sort (the same sort order as the fused window
    pass, so "last row" means exactly what the full run's lag would
    see), then window aggregates — last row's idx and mono values over
    the full frame, the boundary key's group count, and its first-seen
    tie string. Output is one row per conversation. With a timestamp
    ``ts`` column it also carries the conversation's newest ``ts``
    (``_c_last_ts``), which the idle GC reads.
    """
    from ocsf_validator_spark.violations import _tie_display

    part, idx = keys[0], keys[1]
    # Alternation needs the conversation's last value carried exactly
    # like Monotonic does (both are lag checks) — one carry column per
    # distinct column even when both kinds name it
    mono_cols = list(
        dict.fromkeys(
            c.column for c in cs if isinstance(c, (Monotonic, Alternation))
        )
    )
    prec_cs = [c for c in cs if isinstance(c, Precedence)]
    full_cols = list(
        dict.fromkeys([*mono_cols, *[c.column for c in prec_cs]])
    )
    proj = [F.col(part), F.col(idx)]
    for t in ties:
        if t in (part, idx):
            continue
        if t in full_cols:
            proj.append(F.col(t))
        else:
            proj.append(_tie_display(F.col(t), df.schema[t].dataType).alias(t))
    proj += [F.col(m) for m in full_cols if m not in (part, idx, *ties)]
    last_ts = []
    if carries_ts(df):
        proj.append(F.col(EVENT_TS).alias(CARRY_LAST_TS))
        last_ts = [CARRY_LAST_TS]
    pre = df.select(*proj)
    tie_order = [F.col(t).asc_nulls_last() for t in ties]
    w = Window.partitionBy(part).orderBy(F.col(idx).asc(), *tie_order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w2o = Window.partitionBy(part, idx).orderBy(*tie_order)
    w2f = Window.partitionBy(part, idx)  # no order -> whole-group frame
    tie_str = F.concat_ws("|", *[F.col(t).cast("string") for t in ties])
    staged = pre.select(
        part,
        idx,
        F.last(F.col(idx)).over(wf).alias("_last_idx"),
        *[F.last(F.col(m)).over(wf).alias(carry_mono_col(m)) for m in mono_cols],
        *[
            F.max(
                F.when(F.col(c.column).isin(*c.prereq), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .over(wf)
            .alias(carry_seen_col(c))
            for c in prec_cs
        ],
        *[
            F.min(
                F.when(
                    F.col(c.column).isin(*c.prereq),
                    F.coalesce(F.col(idx).cast("long"), F.lit(_NULL_IDX)),
                )
            )
            .over(wf)
            .alias(carry_pre_col(c))
            for c in prec_cs
        ],
        F.count(F.lit(1)).over(w2f).alias("_grp_n"),
        F.first(tie_str).over(w2o).alias("_grp_first"),
        *[F.max(c).over(wf).alias(c) for c in last_ts],
    )
    # keep only the boundary key's rows (identical summary values on
    # each), then collapse to one row per conversation
    at_tail = staged.filter(F.col(idx).eqNullSafe(F.col("_last_idx")))
    return at_tail.groupBy(part).agg(
        F.min("_last_idx").alias(CARRY_PREV_IDX),
        *[F.min(carry_mono_col(m)).alias(carry_mono_col(m)) for m in mono_cols],
        *[F.min(carry_seen_col(c)).alias(carry_seen_col(c)) for c in prec_cs],
        *[F.min(carry_pre_col(c)).alias(carry_pre_col(c)) for c in prec_cs],
        F.min("_grp_n").alias(CARRY_COUNT),
        F.min("_grp_first").alias(CARRY_FIRST),
        *[F.min(c).alias(c) for c in last_ts],
    )


def attach_carriers(
    pre: DataFrame,
    state: DataFrame,
    cs: list,
    ties: list[str],
    keys=("conv_id", "turn_idx"),
    semi: bool = True,
) -> DataFrame:
    """Union one CARRIER row per carried conversation into the fused
    window pass's map-side projection (``pre`` — keys + bounded ties +
    mono columns [+ the row-leg array]). The carrier stands in for the
    prior increments' last row, so the window's ordinary lag/occurrence
    machinery reproduces the full-run boundary semantics with no second
    code path:

    - idx  = carried ``_c_prev_idx``  -> the first in-order real row's
      lag sees exactly what the full run's lag would
    - mono = carried ``_c_prev_<col>`` -> same for Monotonic lags
    - ties = NULL — irrelevant, because the seeded window orders by
      (idx, _cr DESC, ties): the carrier sorts FIRST within its
      (conv, idx) group regardless of tie values
    - _cr_n = carried tail count -> a running SUM over the dup-group
      window (instead of row_number) makes a re-append of the boundary
      key rank as occurrence tail_count+1, exactly the full-run rank
    - _cr_first = carried first-seen tie string -> coalesced over the
      group so the duplicate reason prints the TRUE first occurrence
    - _rv = NULL -> carriers never fire row-level legs

    Only conversations PRESENT in the increment get a carrier (semi
    join) — at scale the state table is bucketed by hash(conv_id) next
    to the transcripts, so this probe is co-partitioned. Carrier rows
    are filtered out after the window columns are computed; they emit
    nothing themselves.

    The chunked window seeds each chunk the same way: its state carries
    a ``_chunk`` column (copied into ``pre``'s) and is derived from
    ``pre`` itself, so ``semi=False`` skips the presence probe."""
    part, idx = keys[0], keys[1]
    mono_cols = list(
        dict.fromkeys(
            c.column for c in cs if isinstance(c, (Monotonic, Alternation))
        )
    )
    prec_cs = [c for c in cs if isinstance(c, Precedence)]
    if semi:
        state = state.join(pre.select(part).distinct(), part, "semi")
    sel = []
    for c in pre.columns:
        dt = pre.schema[c].dataType
        if c in (part, "_chunk"):
            sel.append(F.col(c))
        elif c == idx:
            sel.append(F.col(CARRY_PREV_IDX).cast(dt).alias(idx))
        elif c in mono_cols:
            # state persisted before this constraint existed has no
            # carry column — NULL (the lag check is then conservative
            # at the boundary, exactly like an uncarried conversation)
            sel.append(
                F.col(carry_mono_col(c)).cast(dt).alias(c)
                if carry_mono_col(c) in state.columns
                else F.lit(None).cast(dt).alias(c)
            )
        else:  # tie display columns and the row-leg array
            sel.append(F.lit(None).cast(dt).alias(c))
    # carried 'prereq seen' bits: 0 on real rows, the persisted bit on
    # carriers (state written before the constraint existed -> 0); and
    # the lowest carried prereq idx, NULL on real rows (state written
    # before it was carried: a seen bit ranks before every trigger)
    seen, pre_idx = [], []
    for c in prec_cs:
        bit = (
            F.col(carry_seen_col(c))
            if carry_seen_col(c) in state.columns
            else F.lit(0)
        )
        seen.append((f"_cr_seen_{c.seen_slug}", bit))
        pre_idx.append(
            (
                f"_cr_pre_{c.seen_slug}",
                F.col(carry_pre_col(c))
                if carry_pre_col(c) in state.columns
                else F.when(bit == 1, F.lit(_NULL_IDX)),
            )
        )
    carriers = state.select(
        *sel,
        F.lit(True).alias("_cr"),
        F.col(CARRY_COUNT).cast("long").alias("_cr_n"),
        F.col(CARRY_FIRST).cast("string").alias("_cr_first"),
        *[v.cast("int").alias(k) for k, v in seen],
        *[v.cast("long").alias(k) for k, v in pre_idx],
    )
    real = pre.select(
        *pre.columns,
        F.lit(False).alias("_cr"),
        F.lit(1).cast("long").alias("_cr_n"),
        F.lit(None).cast("string").alias("_cr_first"),
        *[F.lit(0).alias(k) for k, _ in seen],
        *[F.lit(None).cast("long").alias(k) for k, _ in pre_idx],
    )
    return real.unionByName(carriers)


def merge_state(prior: DataFrame | None, new: DataFrame, part: str = "conv_id") -> DataFrame:
    """Fold one increment's boundary summaries into the accumulated
    state. Per conversation:

    - only one side present  -> that side
    - new boundary above prior -> the new summary (the boundary moved)
    - same boundary key      -> prior's first-seen + summed tail count
                                (more copies of the same key landed),
                                new side's mono values (they are the
                                later rows in full-run order)
    - new boundary BELOW prior (out-of-order append) -> prior stands
      (the conservative contract: the boundary never moves backwards)
    - ``_c_last_ts``: the later of the two, ``_c_pre_*`` the lower,
      whichever boundary wins

    A column the prior state lacks (written before its constraint, or
    the carried ts, existed) merges as NULL on the prior side.
    """
    if prior is None:
        return new
    data_cols = [c for c in new.columns if c != part]
    p = prior.select(
        part,
        *[
            (F.col(c) if c in prior.columns else F.lit(None))
            .cast(new.schema[c].dataType)
            .alias(f"_p{c}")
            for c in data_cols
        ],
    )
    j = p.join(new, part, "full")
    nidx, pidx = F.col(CARRY_PREV_IDX), F.col(f"_p{CARRY_PREV_IDX}")
    advanced = pidx.isNull() | (nidx.isNotNull() & (nidx > pidx))
    same = nidx.eqNullSafe(pidx)
    out = [F.col(part)]
    for c in data_cols:
        if c == CARRY_COUNT:
            merged = (
                F.when(advanced, F.col(c))
                .when(same, F.col(c) + F.col(f"_p{c}"))
                .otherwise(F.col(f"_p{c}"))
            )
        elif c == CARRY_FIRST:
            # first-seen belongs to the EARLIEST occurrence: prior wins
            # whenever the boundary key is unchanged
            merged = (
                F.when(advanced, F.col(c))
                .when(same, F.col(f"_p{c}"))
                .otherwise(F.col(f"_p{c}"))
            )
        elif c == CARRY_LAST_TS:
            merged = F.greatest(F.col(c), F.col(f"_p{c}"))
        elif c.startswith("_c_pre_"):
            merged = F.least(F.col(c), F.col(f"_p{c}"))
        elif c.startswith("_c_seen_"):
            # monotone bit: once any increment saw a prereq, it stays
            # seen — independent of which side's boundary wins
            merged = F.greatest(
                F.coalesce(F.col(c), F.lit(0)),
                F.coalesce(F.col(f"_p{c}"), F.lit(0)),
            )
        else:
            merged = (
                F.when(advanced | same, F.col(c)).otherwise(F.col(f"_p{c}"))
            )
        out.append(merged.alias(c))
    return j.select(*out)


def _safe(tag: str) -> str:
    return "".join(ch if ch.isalnum() or ch in "-_." else "_" for ch in tag)


def write_state(state: DataFrame, checkpoint_dir: str, tag: str) -> str:
    """Write a state snapshot directory (data-only; it becomes current
    only when a ledger part-file naming it is committed). ``tag`` keys
    the snapshot to its commit so a replay overwrites the SAME
    uncommitted directory instead of leaking orphans."""
    out = os.path.join(checkpoint_dir, "convstate", _safe(tag))
    state.write.mode("overwrite").parquet(out)
    return out


def write_fd_state(
    state: DataFrame, checkpoint_dir: str, constraint_id: str, tag: str
) -> str:
    """Write one FD constraint's group-state snapshot
    (violations.fd_group_state schema), keyed by constraint_id AND
    commit tag, like ``write_state``."""
    out = os.path.join(
        checkpoint_dir, "fdstate", _safe(f"{constraint_id}__{tag}")
    )
    state.write.mode("overwrite").parquet(out)
    return out


_IDLE_UNITS_MS = dict(
    millisecond=1, second=1000, minute=60_000, hour=3_600_000, day=86_400_000
)
_IDLE_TERM = r"(\d+(?:\.\d+)?)\s*(millisecond|second|minute|hour|day)s?"


def idle_timeout_ms(text: str) -> int:
    """Milliseconds in a sum of ``<number> <unit>`` terms (``"2 hours"``,
    ``"1.5 hours"``, ``"1 hour 30 minutes"``); any other text, or less
    than 1 ms, raises ``ValueError``."""
    total = sum(
        float(n) * _IDLE_UNITS_MS[u] for n, u in re.findall(_IDLE_TERM, text)
    )
    if not re.fullmatch(rf"\s*(?:{_IDLE_TERM}\s*)+", text) or total < 1:
        raise ValueError(f"bad idle timeout: {text!r}")
    return int(total)


def check_carried(suite: ConstraintSet, keys=("conv_id", "turn_idx")) -> None:
    """Raise ``ValueError`` naming each constraint of ``suite`` that the
    carried state cannot serve: a group-level constraint over another
    window than ``keys``, and a Unique that the fused pass of that
    window does not rank (other keys, or another first_seen_order; see
    violations._window_groups). A carried run (``runner
    --incremental``, ``validate_stream(stateful_ordering=True)``)
    refuses such a suite: it would judge those constraints from the
    new sliver alone."""
    from ocsf_validator_spark.violations import _window_groups

    groups, uniques = _window_groups(suite, keys)
    home = (keys[0], keys[1])
    off = [c for w, (cs, _) in groups.items() if w != home for c in cs]
    if off or uniques:
        raise ValueError(
            f"carried state serves window constraints over ({home[0]}, "
            f"{home[1]}) only; not carried: "
            + ", ".join(c.constraint_id for c in [*off, *uniques])
        )


def commit(
    df: DataFrame,
    suite: ConstraintSet,
    checkpoint_dir: str,
    commit_id,
    carry: DataFrame | None = None,
    fd_carry: "dict[str, DataFrame] | None" = None,
    keys=("conv_id", "turn_idx"),
    stale_before_us: int | None = None,
) -> "tuple[str | None, dict[str, str]]":
    """Fold ``df``'s boundary summaries into ``carry`` and each FD
    constraint's group state into its ``fd_carry`` entry, and write the
    snapshots tagged ``commit_id``. Returns ``(state_dir, fd_dirs)``
    (no ``state_dir`` when no constraint that runs on ``df`` is over
    the ``keys`` window) for the caller to make current: the runner in
    its file ledger, a stream with ``publish``. A suite the carry
    cannot serve raises ``ValueError`` (``check_carried``).
    ``stale_before_us`` (the idle GC) drops conversations whose
    ``_c_last_ts`` is before that epoch-microsecond bound, in the plan
    that writes the state."""
    from ocsf_validator_spark.violations import (
        _runs,
        _window_groups,
        fd_group_state,
        merge_fd_state,
    )

    check_carried(suite, keys)
    state_dir = None
    conv = _window_groups(suite, keys, df)[0].get((keys[0], keys[1]))
    if conv:
        merged = merge_state(carry, boundary_state(df, *conv, keys))
        if stale_before_us is not None and CARRY_LAST_TS in merged.columns:
            merged = merged.filter(
                F.col(CARRY_LAST_TS).isNull()
                | (F.unix_micros(CARRY_LAST_TS) >= F.lit(stale_before_us))
            )
        state_dir = write_state(merged, checkpoint_dir, tag=str(commit_id))
    fd_dirs = {}
    for c in suite.key_level():
        if not isinstance(c, FunctionalDependency) or not _runs(df, c, keys):
            continue  # other key-level kinds carry no state
        prior = (fd_carry or {}).get(c.constraint_id)
        fd_dirs[c.constraint_id] = write_fd_state(
            merge_fd_state(prior, fd_group_state(df, c)),
            checkpoint_dir,
            c.constraint_id,
            tag=str(commit_id),
        )
    return state_dir, fd_dirs


_STREAM_COMMIT = re.compile(r"state-(\d+)\.files")


def _ledger(checkpoint_dir: str, below: int | None = None) -> list[str]:
    """Ledger part-file names in commit order; with ``below``, only a
    stream's state commits numbered below it."""
    if not os.path.isdir(checkpoint_dir):
        return []
    return sorted(
        name
        for name in os.listdir(checkpoint_dir)
        if name.endswith(".files")
        and (
            below is None
            or ((m := _STREAM_COMMIT.fullmatch(name)) and int(m[1]) < below)
        )
    )


def _pointers(
    checkpoint_dir: str, names: list[str]
) -> "tuple[str | None, dict[str, str]]":
    """The snapshots the part-files ``names`` point at, read in order:
    the newest ``conv_state`` line, and the ``fd_state`` maps MERGED per
    constraint (newest wins per key): a run with a SUBSET of the FD
    constraints (edited flags, a column unresolvable under schema drift)
    commits only that subset's pointers, and the others' state must
    survive."""
    conv, fd = None, {}
    for d in ledger_lines(checkpoint_dir, names):
        conv = d.get("conv_state", conv)
        fd.update(d.get("fd_state", {}))
    return conv, fd


def latest_state_dir(checkpoint_dir: str, below: int | None = None) -> str | None:
    """The committed conversation-state snapshot: the newest ledger
    part-file's ``conv_state`` line; with ``below``, the newest of a
    stream's commits numbered below it."""
    return _pointers(checkpoint_dir, _ledger(checkpoint_dir, below))[0]


def latest_fd_state_dirs(
    checkpoint_dir: str, below: int | None = None
) -> dict[str, str]:
    """constraint_id -> committed FD state snapshot dir (see
    ``_pointers``); ``below`` as in ``latest_state_dir``."""
    return _pointers(checkpoint_dir, _ledger(checkpoint_dir, below))[1]


def read_state(
    spark: SparkSession, checkpoint_dir: str, below: int | None = None
) -> DataFrame | None:
    path = latest_state_dir(checkpoint_dir, below)
    if path is None or not os.path.isdir(path):
        return None
    return read_parquet(spark, path)


def read_fd_states(
    spark: SparkSession, checkpoint_dir: str, below: int | None = None
) -> dict[str, DataFrame]:
    out = {}
    for cid, path in latest_fd_state_dirs(checkpoint_dir, below).items():
        if os.path.isdir(path):
            out[cid] = read_parquet(spark, path)
    return out


def publish(
    checkpoint_dir: str,
    batch_id: int,
    state_dir: str | None,
    fd_dirs: dict[str, str],
) -> str:
    """Make a stream batch's ``commit`` current: ledger part-file
    ``state-<batch_id>.files`` (a replay replaces its own), naming what
    the batch read overlaid with what it wrote — a whole snapshot, so
    ``gc_state`` may drop every older one."""
    conv, fd = _pointers(checkpoint_dir, _ledger(checkpoint_dir, batch_id))
    return record_files(
        checkpoint_dir,
        [],
        state_dir=state_dir or conv,
        fd_state={**fd, **fd_dirs} or None,
        name=f"state-{int(batch_id):012d}.files",
    )


def gc_state(checkpoint_dir: str, below: int | None = None) -> list[str]:
    """Prune superseded state snapshots: every convstate/fdstate data
    directory no committed pointer that is still current names (older
    commits' snapshots, or orphans of a crashed attempt). Returns the
    removed paths. Without ``below`` (the runner's ``--gc-state``,
    after the increment's ledger commit) the whole ledger's pointers
    are current. With ``below`` (a stream at the start of that batch,
    which Spark runs only after committing the ones before it) the
    stream's commits older than the newest below it go too, and what
    that one and any at or above ``below`` (a replayed batch's first
    attempt) name is kept."""
    import shutil

    removed: list[str] = []
    if below is None:
        current = [_ledger(checkpoint_dir)]
    else:
        for name in _ledger(checkpoint_dir, below)[:-1]:
            os.remove(os.path.join(checkpoint_dir, name))
            removed.append(os.path.join(checkpoint_dir, name))
        current = [[name] for name in _ledger(checkpoint_dir)]
    keep = set()
    for names in current:
        conv, fd = _pointers(checkpoint_dir, names)
        keep |= {os.path.abspath(p) for p in (conv, *fd.values()) if p}
    for sub in ("convstate", "fdstate"):
        root = os.path.join(checkpoint_dir, sub)
        if not os.path.isdir(root):
            continue
        for name in sorted(os.listdir(root)):
            path = os.path.abspath(os.path.join(root, name))
            if path not in keep:
                shutil.rmtree(path)
                removed.append(path)
    return removed
