"""Skew-immune conversation-ordered checks: the chunked fused window.

The fused window pass in violations.py partitions by conv_id, so one
conversation is one task, and a pathological conversation (at the design
point, 10^8 turns) serializes that task. The skew route splits such a
conversation into ``turn_idx div W`` chunks and partitions the same
window by (conv_id, chunk). Each chunk is seeded with one carrier row
built by a lazy aggregate over the chunks: the previous chunk's last
row (the TurnOrdering, Monotonic and Alternation lags), the Precedence
prereq-seen bits of every earlier chunk, and carrier presence (which
suppresses OpeningRole after the first chunk). Duplicate
(conv_id, turn_idx) keys never straddle a chunk, so Unique needs no
carry. The whole route is one JVM plan: no Python stage, no eager job.

``all_violations(..., skewed_convs=...)`` chunks only the routed
conversations. This module's entry point chunks every conversation, so
equivalence with the unchunked window can be pinned on any input
(tests/test_ordered.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ocsf_validator_spark.violations import fused_group_violations


def scalable_group_violations(
    df: DataFrame,
    cs: list,
    ties: list[str],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    row_cs: Sequence = (),
) -> DataFrame:
    """violations.fused_group_violations with every conversation split
    into turn_idx chunks of the input's rows over ``num_partitions``
    (default: twice the default parallelism); sizing the chunks costs
    one count job.

    ``row_cs``: row-level constraints evaluated on the same scan."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    chunk_rows = max(1, -(-df.count() // parts))
    return fused_group_violations(
        df, cs, ties, keys, row_cs=row_cs, chunk_rows=chunk_rows
    )
