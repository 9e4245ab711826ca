"""Cross-increment conversation state for ``--incremental`` runs.

An incremental run validates only the appended sliver, so without
carried state a (conv_id, turn_idx) key duplicating one from a PRIOR
increment, or a turn gap / ts regression straddling the increment
boundary, is silently missed. The streaming leg already solves exactly
this with per-conversation carried state
(streaming.stateful_ordering_violations); this module is the batch-side
equivalent: persist each conversation's BOUNDARY SUMMARY into the
checkpoint, and seed the next increment's fused window checks with it.
The skew route seeds each turn_idx chunk of a large conversation with
the same kind of carrier (violations._chunk_carriers).

State per conversation (one narrow row):

- ``_c_prev_idx``    — turn_idx of the last row in (turn_idx, ties)
                       order (the full-run window's lag for the next
                       increment's first row)
- ``_c_prev_<col>``  — that last row's value of each Monotonic column
- ``_c_tail_count``  — occurrences of the boundary key
                       (conv, _c_prev_idx): the Unique occurrence-rank
                       offset for re-appends of that key
- ``_c_tail_first``  — the boundary key's FIRST-seen tie display string
                       (what the full run would print as "first seen")

Semantics contract (matches the streaming leg's): appends that arrive
in order — every new turn_idx >= the carried boundary — reproduce the
fresh-full-run violations row-for-row (pinned by
tests/test_incremental_state.py). An out-of-order append (turn_idx
BELOW the carried boundary) is reported conservatively as
``out-of-order turn_idx t: already past p`` on each such row, exactly
like the streaming operator; and a re-append of a
non-boundary key from a prior increment surfaces through that same
out-of-order report rather than as a Unique occurrence (boundary-only
state cannot rank it — the nightly full run is ground truth, the same
contract streaming documents for post-eviction resumes).

Scale notes (10^12 turns): the state table carries ONE narrow row per
conversation ever seen — at deployment scale it lives bucketed by
hash(conv_id) next to the transcript table (or as an Iceberg MERGE
target) so the per-increment merge and the carry join are both
co-partitioned, zero-exchange on the state side. Commit is atomic WITH
the increment's file ledger: the state snapshot directory is written
first (data-only, unreferenced), then the ledger part-file naming it is
renamed into place — a crash between increments can never leave the
ledger and the state disagreeing (stale state would fabricate gap
reports for turns the missing increment already delivered).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.spec import Alternation, Monotonic, Precedence, Unique

CARRY_PREV_IDX = "_c_prev_idx"
CARRY_COUNT = "_c_tail_count"
CARRY_FIRST = "_c_tail_first"


def carry_mono_col(column: str) -> str:
    return f"_c_prev_{column}"


def carry_seen_col(c: Precedence) -> str:
    """Per-Precedence-constraint 'prereq seen in any prior increment'
    bit (0/1). Monotone under merge (greatest) — once a conversation
    has seen a prereq, later increments can never unsee it."""
    return f"_c_seen_{c.seen_slug}"


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
    tie string. Output is one row per conversation.
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
        F.count(F.lit(1)).over(w2f).alias("_grp_n"),
        F.first(tie_str).over(w2o).alias("_grp_first"),
    )
    # keep only the boundary key's rows (identical summary values on
    # each), then collapse to one row per conversation
    at_tail = staged.filter(F.col(idx).eqNullSafe(F.col("_last_idx")))
    return at_tail.groupBy(part).agg(
        F.min("_last_idx").alias(CARRY_PREV_IDX),
        *[F.min(carry_mono_col(m)).alias(carry_mono_col(m)) for m in mono_cols],
        *[F.min(carry_seen_col(c)).alias(carry_seen_col(c)) for c in prec_cs],
        F.min("_grp_n").alias(CARRY_COUNT),
        F.min("_grp_first").alias(CARRY_FIRST),
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
    # carriers (state written before the constraint existed -> 0)
    seen = [
        (
            f"_cr_seen_{c.seen_slug}",
            F.col(carry_seen_col(c))
            if carry_seen_col(c) in state.columns
            else F.lit(0),
        )
        for c in prec_cs
    ]
    carriers = state.select(
        *sel,
        F.lit(True).alias("_cr"),
        F.col(CARRY_COUNT).cast("long").alias("_cr_n"),
        F.col(CARRY_FIRST).cast("string").alias("_cr_first"),
        *[v.cast("int").alias(k) for k, v in seen],
    )
    real = pre.select(
        *pre.columns,
        F.lit(False).alias("_cr"),
        F.lit(1).cast("long").alias("_cr_n"),
        F.lit(None).cast("string").alias("_cr_first"),
        *[F.lit(0).alias(k) for k, _ in seen],
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
    """
    if prior is None:
        return new
    data_cols = [c for c in new.columns if c != part]
    p = prior.select(
        part, *[F.col(c).alias(f"_p{c}") for c in data_cols]
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


def write_state(state: DataFrame, checkpoint_dir: str, tag: str) -> str:
    """Write a state snapshot directory (data-only; it becomes current
    only when a ledger part-file referencing it is committed — see
    checkpoint.record_files). ``tag`` keys the snapshot to its
    increment so a re-validation after a partial crash overwrites the
    SAME uncommitted directory instead of leaking orphans."""
    safe = "".join(ch if ch.isalnum() or ch in "-_." else "_" for ch in tag)
    out = os.path.join(checkpoint_dir, "convstate", safe)
    state.write.mode("overwrite").parquet(out)
    return out


def latest_state_dir(checkpoint_dir: str) -> str | None:
    """The committed state snapshot: the ``conv_state`` line of the
    newest ledger part-file that carries one (ledger files are named
    files-<time_ns>-<uuid> so lexical order is commit order)."""
    if not os.path.isdir(checkpoint_dir):
        return None
    best = None
    for name in sorted(os.listdir(checkpoint_dir)):
        if not name.endswith(".files"):
            continue
        with open(os.path.join(checkpoint_dir, name)) as f:
            for line in f:
                if line.strip():
                    d = json.loads(line)
                    if "conv_state" in d:
                        best = d["conv_state"]
    return best


def read_state(spark: SparkSession, checkpoint_dir: str) -> DataFrame | None:
    path = latest_state_dir(checkpoint_dir)
    if path is None or not os.path.isdir(path):
        return None
    return read_parquet(spark, path)


# --- FunctionalDependency group-state carry (same ledger discipline as
# the conversation boundary state: data directories become current only
# when the ledger part-file referencing them commits) -----------------


def write_fd_state(
    state: DataFrame, checkpoint_dir: str, constraint_id: str, tag: str
) -> str:
    """Write one FD constraint's group-state snapshot
    (violations.fd_group_state schema). Keyed by constraint_id AND
    increment tag so a crash re-validation overwrites the same
    uncommitted directory."""
    safe = "".join(
        ch if ch.isalnum() or ch in "-_." else "_"
        for ch in f"{constraint_id}__{tag}"
    )
    out = os.path.join(checkpoint_dir, "fdstate", safe)
    state.write.mode("overwrite").parquet(out)
    return out


def latest_fd_state_dirs(checkpoint_dir: str) -> dict[str, str]:
    """constraint_id -> committed state snapshot dir. MERGED per key
    across ledger part-files in commit order (newest pointer wins per
    constraint): a run executed with a SUBSET of the FD constraints
    (edited flags, a column temporarily unresolvable under schema
    drift) commits only that subset's pointers, and a whole-map
    replacement would silently drop the other constraints' carried
    state — re-opening exactly the cross-increment blind spot the
    carry exists to close."""
    if not os.path.isdir(checkpoint_dir):
        return {}
    best: dict[str, str] = {}
    for name in sorted(os.listdir(checkpoint_dir)):
        if not name.endswith(".files"):
            continue
        with open(os.path.join(checkpoint_dir, name)) as f:
            for line in f:
                if line.strip():
                    d = json.loads(line)
                    if "fd_state" in d:
                        best.update(d["fd_state"])
    return best


def read_fd_states(
    spark: SparkSession, checkpoint_dir: str
) -> dict[str, DataFrame]:
    out = {}
    for cid, path in latest_fd_state_dirs(checkpoint_dir).items():
        if os.path.isdir(path):
            out[cid] = read_parquet(spark, path)
    return out


def gc_state(checkpoint_dir: str) -> list[str]:
    """Prune superseded state snapshots: every convstate/fdstate data
    directory NOT referenced by the CURRENT committed pointers (older
    increments' snapshots, or orphans from a crash whose retry
    committed a different tag). The keep-set derives from the same
    ledger lines the readers use, so anything removable is by
    definition unreachable. Returns the removed paths. Run AFTER the
    increment's ledger commit (the runner's ``--gc-state`` does)."""
    import shutil

    keep: set[str] = set()
    cur = latest_state_dir(checkpoint_dir)
    if cur:
        keep.add(os.path.abspath(cur))
    keep |= {
        os.path.abspath(p)
        for p in latest_fd_state_dirs(checkpoint_dir).values()
    }
    removed: list[str] = []
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
