"""Skew-aware equi-join: explicit key salting for the case AQE's
skew-join can't fix.

AQE splits an oversized SHUFFLE PARTITION of a sort-merge join at
runtime, which handles most skew (and stays enabled everywhere in this
engine). It cannot help when a SINGLE KEY's rows must meet a
non-broadcastable build side: every row of the hot key still lands in
one task because the join key IS the partition key. The classic fix is
to widen the key: the probe side gets a deterministic salt derived from
one of its own high-cardinality columns, the build side is replicated
once per salt value, and the join runs on (key, salt) — the hot key's
rows now spread over ``num_salts`` tasks.

Cost model at the 100 TB design point: the build side is shipped
``num_salts`` times (choose the smallest salt count that caps the hot
key's per-task rows), the probe side pays nothing extra, and the
output is identical to the plain join. Use broadcast when the build
side fits (no salt needed), AQE alone when the skew is partition-level
rather than key-level, and this when one key dominates.

The reference has no join surface (single-threaded dict-walking
linter); this is engine-brief surface, same tier as the dedup/ANN
pipeline ops.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_from: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` (large, key-skewed probe side) to ``right``
    (build side too big to broadcast, small enough to replicate
    ``num_salts`` times) on the equality of ``on`` — result identical
    to ``left.join(right, on, how)``.

    ``salt_from`` names a LEFT column whose values vary WITHIN a hot
    key (a row id, timestamp, or any near-unique column); the salt is
    ``pmod(xxhash64(salt_from), num_salts)`` — deterministic, so runs
    and retries place every row identically. The right side explodes
    to one copy per salt value and the join runs shuffle-hash on
    ``on + [salt]`` (hinted: broadcasting a replicated build side
    would silently undo the point of salting on small test inputs).

    Only ``inner`` and ``left`` joins are supported: under build-side
    replication an unmatched RIGHT row would surface once per salt,
    so right/full outer semantics cannot be preserved — ask for the
    mirror-image call instead.
    """
    keys = list(on)
    if not keys:
        raise ValueError("salted_join requires at least one key column")
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join preserves semantics only for inner/left joins, got {how!r}"
        )
    for c in (_SALT,):
        if c in left.columns or c in right.columns:
            raise ValueError(f"column {c!r} already exists on an input")

    l = left.withColumn(
        _SALT, F.pmod(F.xxhash64(F.col(salt_from)), F.lit(num_salts))
    )
    r = right.withColumn(
        _SALT,
        F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<bigint>")),
    )
    out = l.join(r.hint("shuffle_hash"), keys + [_SALT], how)
    return out.drop(_SALT)


def pick_num_salts(
    hot_key_rows: int,
    target_rows_per_task: int = 2_000_000,
    max_salts: int = 256,
) -> int:
    """Smallest salt count that caps the hottest key's per-task rows.

    Output-partition math: on (key, salt) the hot key's rows hash over
    ``S`` distinct shuffle partitions of ~``hot_key_rows / S`` rows
    each, so ``S = ceil(hot / target)`` is the minimum that brings the
    straggler task under ``target_rows_per_task`` — and every extra
    salt beyond that only buys more build-side replication (the build
    side ships S times). ``max_salts`` bounds that replication cost:
    past it, the right fix is a smaller build side (pre-aggregate /
    semi-join filter), not more copies. S=1 means "not skewed enough
    to salt" — callers should fall back to the plain join.
    """
    if max_salts < 1:
        raise ValueError(f"max_salts must be >= 1, got {max_salts}")
    if target_rows_per_task < 1:
        raise ValueError(
            f"target_rows_per_task must be >= 1, got {target_rows_per_task}"
        )
    if hot_key_rows <= target_rows_per_task:
        return 1
    return min(max_salts, -(-hot_key_rows // target_rows_per_task))


def probe_hot_key_rows(df: DataFrame, on: Sequence[str]) -> int:
    """Row count of the hottest join key on the probe side: one
    key-column-pruned scan with map-side partial aggregation, then a
    1-row global max — the same bounded-output discipline as the
    runner's skew probe (stats.bucketed_probe_stats, which collects only
    conversations above its floor). NULL keys are excluded (they
    never match an equi-join, so they cannot make a hot task)."""
    probe = df.select(*on).na.drop(how="any", subset=list(on))
    row = (
        probe.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_m"))
        .collect()[0]["_m"]
    )
    return int(row or 0)


def salted_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_from: str,
    how: str = "inner",
    target_rows_per_task: int = 2_000_000,
    max_salts: int = 256,
    hot_key_rows: int | None = None,
) -> DataFrame:
    """salted_join with the salt factor derived from the data instead
    of a caller constant: probe the hottest key's row count (or accept
    it precomputed via ``hot_key_rows`` — production pipelines reuse
    the stats pass they already ran), size S with pick_num_salts, and
    skip salting entirely when no key exceeds the per-task target
    (plain join — let broadcast/AQE handle the un-skewed case)."""
    hot = (
        probe_hot_key_rows(left, list(on))
        if hot_key_rows is None
        else hot_key_rows
    )
    s = pick_num_salts(hot, target_rows_per_task, max_salts)
    if s == 1:
        if how not in ("inner", "left"):
            raise ValueError(
                f"salted_join preserves semantics only for inner/left joins, got {how!r}"
            )
        return left.join(right, list(on), how)
    return salted_join(left, right, on, salt_from, num_salts=s, how=how)
