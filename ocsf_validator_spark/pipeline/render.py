"""Conversation rendering: assemble validated transcript turns into
ordered training-text documents (the SFT-export step).

This is the operator that connects the validation surface to the
training-data surface: after the constraint suite has passed a corpus of
(conv_id, turn_idx, role, text) turns, rendering flattens each
conversation into one deterministic text document ("role: text" lines in
turn order) plus the columns the downstream pipeline ops key on — a
whitespace token count (feeds pack_sequences / plan_shards / the
token-budget selector) and a content key (feeds exact_duplicates for
conversation-level dedup).

Scale notes (the 100 TB design point):

- ONE exchange, keyed on ``conv_id`` — intrinsic to the semantics
  (assembly requires every turn of a conversation on one machine; this
  is the minimal data movement any engine must do). The aggregation is
  an ObjectHashAggregate over ``collect_list``: partial aggregation
  collapses per-task rows before the shuffle, so the exchange carries
  one partial list per (task, conv) — same bytes as the turn text, but
  a fraction of the row count.
- No window, no join, no UDF: sort-within-conversation happens on the
  collected array (``array_sort`` over a (turn_idx, text) struct), which
  is a per-group in-memory sort of an already-assembled conversation,
  not a shuffle-side sort.
- The skew hazard is a single giant conversation. Upstream constraint
  validation bounds it (MaxLen per turn + the suite's turn-count
  stats), and the runner's skew probe (the heavy-hitter conversations
  stats.bucketed_probe_stats collects on its stats scan) names them if
  a corpus legitimately contains million-turn conversations.
- Determinism: turns order by (turn_idx, rendered-turn-text), so even a
  defective duplicate-turn_idx conversation renders identically across
  engines, partitionings, and retries.

Reference parity: the reference validates transcripts but never emits
them; this is engine-extension surface (SURVEY §2.10b) motivated by the
north rule's training-pipeline framing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def render_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    turn_sep: str = "\n",
    role_sep: str = ": ",
) -> DataFrame:
    """One row per conversation: ``(conv_id, n_turns, rendered,
    n_tokens, content_key)``.

    ``rendered`` is ``{role}{role_sep}{text}`` per turn, joined by
    ``turn_sep`` in ``(order_col, turn-text)`` order; NULL role/text
    render as ''. ``n_tokens`` is the engine's whitespace token count
    (textstats convention: ``size(split(s, ' '))``). ``content_key`` is
    ``md5(rendered)`` — equal keys ⇔ equal rendered conversations, so
    feeding this frame to ``dedup.exact_duplicates(text_col="rendered")``
    is conversation-level dedup.
    """
    turn = F.concat(
        F.coalesce(F.col(role_col), F.lit("")),
        F.lit(role_sep),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    packed = df.select(
        F.col(conv_col),
        F.struct(F.col(order_col).alias("i"), turn.alias("s")).alias("_t"),
    )
    agg = packed.groupBy(conv_col).agg(
        F.array_sort(F.collect_list("_t")).alias("_ts"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    rendered = F.array_join(F.expr("transform(_ts, x -> x.s)"), turn_sep)
    return (
        agg.select(F.col(conv_col), F.col("n_turns"), rendered.alias("rendered"))
        .select(
            conv_col,
            "n_turns",
            "rendered",
            F.expr("size(split(rendered, ' '))").cast("bigint").alias("n_tokens"),
            F.md5(F.col("rendered")).alias("content_key"),
        )
    )


def conv_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level exact dedup over the rendered content key:
    one row per conversation with its duplicate-group size and a
    deterministic keep flag (lexicographic-min conv_id survives) — the
    SFT-set screen for whole conversations ingested twice under
    different ids.

    Scale shape: rides render_conversations' single conversation
    exchange, then ONE more exchange on the content key over the
    already conversation-collapsed frame (|convs| narrow rows, the
    rendered text itself never re-shuffles — only its md5). Group
    sizes are duplication-proportional; the keep rule is order-free.
    """
    from pyspark.sql import Window

    r = render_conversations(
        df, conv_col, order_col, role_col, text_col
    ).select(conv_col, "n_turns", "content_key")
    w = Window.partitionBy("content_key")
    return r.select(
        conv_col,
        "n_turns",
        "content_key",
        F.count(F.lit(1)).over(w).alias("group_n"),
        (F.col(conv_col) == F.min(conv_col).over(w)).alias("keep"),
    )
