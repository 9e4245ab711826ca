"""Byte-pair-encoding vocabulary induction and application — the
tokenizer-training leg of a training-data pipeline (Sennrich et al.
2016, arXiv:1508.07909; the word-frequency formulation every public
implementation uses).

Spark shape (10^12-turn design point):

- **Learning** runs over the WORD-FREQUENCY table, never the corpus:
  one corpus scan builds (word, freq) — the classic BPE reduction —
  and each merge iteration is a narrow pair-count aggregation over
  that table (|vocab| rows, fixed-width), an argmax collect of ONE
  row, and a map-side string rewrite. The corpus is touched exactly
  once no matter how many merges are learned.
- **Application** is pure column algebra: per word, symbols are
  space-joined and each merge is a string `replace` with boundary
  guards — `replace` substitutes non-overlapping occurrences
  left-to-right in both Spark and DuckDB, which IS BPE's leftmost-
  first overlap rule, so token counts are engine-exact and
  oracle-replayable with the merge list frozen as literals (the
  ivf_frozen pattern: regenerate with tools/freeze_bpe.py).

Determinism: the argmax merge pick breaks count ties lexicographically
on (a, b) — reproducible at any parallelism; the word count and pair
count aggregations are integer sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import release_checkpoint

# end-of-word marker (the Sennrich '</w>' convention, shortened): kept
# out of the merge alphabet by using a char that never appears in the
# lowercase word tokens the splitter produces
EOW = "_"


def _word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase regex words — ONE corpus scan."""
    return (
        df.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _spaced(col: Column) -> Column:
    """'cat' -> 'c a t _' (space-separated symbols + end-of-word)."""
    return F.concat(
        F.concat_ws(" ", F.split(col, "")), F.lit(" " + EOW)
    )


def _merge_sql(expr: str, a: str, b: str) -> str:
    """One BPE merge as a guarded string replace over the spaced form:
    occurrences of 'a b' between token boundaries become 'ab'. The
    leading/trailing sentinel spaces make every boundary explicit, so
    the replace can never join across token edges; replace's
    non-overlapping left-to-right substitution is BPE's own overlap
    rule. Identical builtin semantics in Spark and DuckDB."""
    return (
        f"trim(replace(concat(' ', {expr}, ' '), ' {a} {b} ', ' {a}{b} '))"
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges. The corpus is scanned once (word
    counts, persisted); each iteration aggregates adjacent-pair counts
    over the |vocab|-row word table weighted by freq, collects the
    single argmax row (ties -> lexicographically smallest pair), and
    rewrites the word table map-side. Stops early when the best pair's
    count falls below ``min_freq``."""
    # eager localCheckpoint, not persist: each merge REWRITES the word
    # table, and a persist chain keeps every iteration's full lineage —
    # 16 merges deep that is an analysis/codegen blowup (measured: OOM
    # on a 1g driver). The checkpoint pins the |vocab|-row table and
    # truncates lineage to one replace per iteration; the corpus is
    # still scanned exactly once.
    words = (
        _word_counts(df, text_col)
        .select(_spaced(F.col("w")).alias("s"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            best = (
                words.select(
                    F.col("freq"),
                    F.explode(
                        F.expr(
                            "transform(slice(split(s, ' '), 1, "
                            "size(split(s, ' ')) - 1), (t, i) -> "
                            "struct(t as a, element_at(split(s, ' '), i + 2)"
                            " as b))"
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["n"] < min_freq:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            rewritten = words.select(
                F.expr(_merge_sql("s", a, b)).alias("s"), "freq"
            ).localCheckpoint(eager=True)
            release_checkpoint(words)
            words = rewritten
    finally:
        release_checkpoint(words)
    return merges


def bpe_token_count_col(
    text_col: str, merges: list[tuple[str, str]], words_expr: str | None = None
) -> Column:
    """Tokens per row under the learned merges — pure column algebra:
    per word the spaced form runs the merge chain (one replace per
    merge, expression depth = |merges|), token count falls out of the
    remaining separator count; the per-row total is an integer fold.
    No UDF, no shuffle. ``words_expr`` substitutes an already-computed
    word-array column/expression for the default regex tokenization
    (so a caller needing the word array for other columns tokenizes
    once)."""
    inner = "concat(concat_ws(' ', split(w, '')), ' ', '{eow}')".format(
        eow=EOW
    )
    expr = inner
    for a, b in merges:
        expr = _merge_sql(expr, a, b)
    per_word = f"size(split({expr}, ' '))"
    arr = words_expr or f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
    return F.expr(f"aggregate({arr}, 0L, (acc, w) -> acc + {per_word})")


def bpe_token_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token totals under the learned BPE: (group, n_docs,
    bpe_tokens, ws_tokens, compression = bpe/ws rounded 6) — the
    before/after table a tokenizer change is judged on. One
    partial-agg scan; ratios divide exact longs."""
    # tokenize ONCE into a real child column: the merge-chain fold and
    # the whitespace count both read the `_ws` attribute instead of
    # each re-running regexp_extract_all(lower(text)) — identical
    # values, one regex pass per row instead of two
    base = df.select(
        F.col(group_col),
        F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
        ).alias("_ws"),
    )
    bpe = bpe_token_count_col(text_col, merges, words_expr="_ws")
    ws = F.expr("size(_ws)").cast("bigint")
    out = (
        base.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(bpe, F.lit(0))).alias("bpe_tokens"),
            F.sum(F.coalesce(ws, F.lit(0))).alias("word_tokens"),
        )
    )
    return out.select(
        group_col,
        "n_docs",
        "bpe_tokens",
        "word_tokens",
        F.when(
            F.col("word_tokens") > 0,
            F.round(F.col("bpe_tokens") / F.col("word_tokens"), 6),
        ).alias("tokens_per_word"),
    )
