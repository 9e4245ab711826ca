"""Independent references for the benchmark's output checks, computed
with DuckDB over the same parquet the library read.

The transcript rules below restate the default ``transcript_suite`` in
SQL. They are written from the suite's documented semantics, not from
the library's code, so a wrong count on either side shows as a failed
operation.
"""

from __future__ import annotations

import duckdb

ROLES = "('system', 'user', 'assistant', 'tool', 'function')"
TOOLS = "('search', 'browser', 'python', 'bash', 'none')"

# constraint id -> (severity, row predicate)
ROW_RULES = {
    "required.conv_id": ("FATAL", "conv_id IS NULL"),
    "required.turn_idx": ("FATAL", "turn_idx IS NULL"),
    "required.role": ("ERROR", "role IS NULL"),
    "required.text": ("ERROR", "text IS NULL"),
    "required.ts": ("ERROR", "ts IS NULL"),
    "required.tool_when_tool_role": ("ERROR", "role = 'tool' AND tool IS NULL"),
    "ref.role": ("ERROR", f"role NOT IN {ROLES}"),
    "ref.tool": ("ERROR", f"tool NOT IN {TOOLS}"),
    "deprecated.role": ("WARNING", "role = 'function'"),
    "max_len.text": ("ERROR", "length(text) > 65536"),
    "range.turn_idx": ("ERROR", "turn_idx < 0"),
}
# per-conversation rules, over turns ordered by turn_idx
WINDOW_RULES = {
    "unique.conv_turn": ("ERROR", "_rn > 1"),
    "order.turn_idx": (
        "ERROR",
        "(_prev_idx IS NOT NULL AND turn_idx = _prev_idx)"
        " OR turn_idx > coalesce(_prev_idx + 1, 0)",
    ),
    "monotonic.ts": ("ERROR", "_prev_ts IS NOT NULL AND ts < _prev_ts"),
}
# dataset level: one finding per enum value never observed
COVERAGE_RULES = {
    "coverage.role": ("WARNING", "role", ("system", "user", "assistant", "tool")),
    "coverage.tool": ("WARNING", "tool", ("search", "browser", "python", "bash", "none")),
}
SCHEMA_RULE = ("schema.columns", "FATAL")


def _counts(glob: str, per_file: bool, coverage: bool) -> dict[str, int]:
    part = "filename, conv_id" if per_file else "conv_id"
    rules = {**ROW_RULES, **WINDOW_RULES}
    sums = ",\n".join(
        f"count_if({pred}) AS \"{cid}\"" for cid, (_, pred) in rules.items()
    )
    sql = f"""
        WITH t AS (
            SELECT *,
                lag(turn_idx) OVER w AS _prev_idx,
                lag(ts) OVER w AS _prev_ts,
                row_number() OVER (PARTITION BY {part}, turn_idx ORDER BY ts, role, text) AS _rn
            FROM read_parquet('{glob}', filename = true)
            WINDOW w AS (PARTITION BY {part} ORDER BY turn_idx)
        )
        SELECT {sums} FROM t"""
    con = duckdb.connect()
    try:
        row = con.execute(sql).fetchone()
        out = dict(zip(rules, (int(v) for v in row)))
        if coverage:
            for cid, (_, col, values) in COVERAGE_RULES.items():
                seen = {
                    r[0]
                    for r in con.execute(
                        f"SELECT DISTINCT {col} FROM read_parquet('{glob}')"
                    ).fetchall()
                }
                out[cid] = sum(v not in seen for v in values)
    finally:
        con.close()
    return out


def batch_expected(glob: str) -> tuple[dict[str, tuple[int, bool]], int]:
    """Per-constraint ``(violation_count, pass)`` and the exit code a
    batch run of the default suite must report on ``glob``."""
    counts = _counts(glob, per_file=False, coverage=True)
    severity = {cid: sev for cid, (sev, *_) in {**ROW_RULES, **WINDOW_RULES, **COVERAGE_RULES}.items()}
    cid, sev = SCHEMA_RULE
    counts[cid], severity[cid] = 0, sev
    table = {
        c: (n, not (n > 0 and severity[c] in ("ERROR", "FATAL")))
        for c, n in counts.items()
    }
    code = 0
    for c, (n, ok) in table.items():
        if severity[c] == "FATAL" and n > 0:
            return table, 2
        if not ok:
            code = 1
    return table, code


def stream_expected(glob: str) -> dict[str, int]:
    """Violation rows per constraint when every file is validated as its
    own micro-batch (windows scoped to the file; no coverage leg)."""
    return {c: n for c, n in _counts(glob, per_file=True, coverage=False).items() if n}
