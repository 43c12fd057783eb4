"""Engine-independent expected outputs, computed with DuckDB straight
from the parquet inputs and compared with what the program wrote.

The SQL restates the transcript rule set (``pipeline.TRANSCRIPT_RULES``),
the uniqueness and referential checks, the sequence grammar and the
per-conversation health gate from their documented semantics; it shares
no code with the program."""

from __future__ import annotations

import duckdb

ROLES = ("system", "user", "assistant", "tool")
CATALOG = ("search", "calculator", "python", "browser", "sql",
           "file_read", "file_write", "legacy_exec")
TRANSITIONS = (
    ("system", "user"), ("system", "assistant"), ("user", "assistant"),
    ("user", "user"), ("assistant", "user"), ("assistant", "assistant"),
    ("assistant", "tool"), ("tool", "assistant"), ("tool", "tool"),
)
FIRST_ROLES = ("system", "user")


def _lit(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


#: (field, rule, predicate) of the per-row rule cascade
RULES = [
    ("conv_id", "required", "conv_id IS NULL"),
    ("conv_id", "regex", "NOT regexp_full_match(conv_id, 'conv-[0-9]{8}')"),
    ("turn_idx", "required", "turn_idx IS NULL"),
    ("turn_idx", "min", "turn_idx < 0"),
    ("turn_idx", "max", "turn_idx > 100000"),
    ("role", "required", "role IS NULL"),
    ("role", "allowed", f"role NOT IN ({_lit(ROLES)})"),
    ("text", "required", "text IS NULL"),
    ("text", "maxlength", "length(text) > 20000"),
    ("text", "empty", "length(text) = 0"),
    ("tool", "dependencies", "tool IS NOT NULL AND NOT coalesce(role = 'tool', false)"),
    ("ts", "required", "ts IS NULL"),
]

_PAIRS = _lit(f"{a}>{b}" for a, b in TRANSITIONS)

#: one row per turn with every sequence rule as a 0/1 column or gap size
_SEQ = f"""
WITH w AS (
  SELECT conv_id, turn_idx, role, ts,
    lag(role) OVER o AS prev_role, lag(ts) OVER o AS prev_ts,
    lag(turn_idx) OVER o AS prev_idx, row_number() OVER o AS rn
  FROM t
  WINDOW o AS (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST,
               ts NULLS FIRST, role NULLS FIRST, text NULLS FIRST)
)
SELECT conv_id,
  (prev_role IS NOT NULL AND role IS NOT NULL
   AND prev_role || '>' || role NOT IN ({_PAIRS}))::INT AS transition,
  (role IS NULL)::INT AS null_state,
  coalesce(ts < prev_ts, false)::INT AS ts_regression,
  (rn = 1 AND coalesce(role NOT IN ({_lit(FIRST_ROLES)}), false))::INT AS first_state,
  (rn > 1 AND turn_idx IS NOT DISTINCT FROM prev_idx)::INT AS dup_idx,
  coalesce(turn_idx < 0 AND (prev_idx IS NULL OR turn_idx <> prev_idx), false)::INT
    AS below_start,
  CASE WHEN turn_idx >= 0 AND (prev_idx IS NULL OR prev_idx < 0) THEN turn_idx
       WHEN turn_idx >= 0 AND prev_idx >= 0 THEN greatest(0, turn_idx - prev_idx - 1)
       ELSE 0 END AS gap
FROM w
"""

_SEQ_SINK = [  # (sink field, sink rule, column of _SEQ)
    ("role", "seq_transition", "transition"),
    ("role", "seq_null_state", "null_state"),
    ("ts", "seq_ts_regression", "ts_regression"),
    ("role", "seq_first_state", "first_state"),
    ("turn_idx", "seq_dup_idx", "dup_idx"),
    ("turn_idx", "seq_below_start", "below_start"),
]


def _connect(files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{_lit(files)}])")
    return con


def expected_rule_counts(files: list[str]) -> dict:
    """(field, rule) -> violation rows that ``all_violations`` must emit."""
    con = _connect(files)
    sums = ", ".join(f"count(*) FILTER (WHERE {p})" for _, _, p in RULES)
    row = con.execute(f"SELECT {sums} FROM t").fetchone()
    out = {(f, r): n for (f, r, _), n in zip(RULES, row)}
    out[("(conv_id,turn_idx)", "unique")] = con.execute(
        "SELECT count(*) FROM (SELECT 1 FROM t GROUP BY conv_id, turn_idx "
        "HAVING count(*) > 1)").fetchone()[0]
    out[("tool", "referential")] = con.execute(
        f"SELECT count(*) FROM t WHERE tool NOT IN ({_lit(CATALOG)})").fetchone()[0]
    cols = ", ".join(f"sum({c})" for _, _, c in _SEQ_SINK)
    row = con.execute(f"SELECT {cols}, count(*) FILTER (WHERE gap > 0) "
                      f"FROM ({_SEQ})").fetchone()
    for (f, r, _), n in zip(_SEQ_SINK, row):
        out[(f, r)] = n
    out[("turn_idx", "seq_idx_gap")] = row[-1]
    con.close()
    return {k: int(v) for k, v in out.items() if v}


def expected_health(files: list[str]) -> dict:
    """Totals of the per-conversation health gate."""
    con = _connect(files)
    row = con.execute(f"""
      SELECT count(*), sum(n), sum(d), sum(m), sum(b), sum(tr), sum(ns), sum(tsr),
             sum(fs), count(*) FILTER (WHERE d + m + b + tr + ns + tsr + fs = 0)
      FROM (SELECT conv_id, count(*) n, sum(dup_idx) d, sum(gap) m,
                   sum(below_start) b, sum(transition) tr, sum(null_state) ns,
                   sum(ts_regression) tsr, sum(first_state) fs
            FROM ({_SEQ}) GROUP BY conv_id)""").fetchone()
    con.close()
    return dict(zip(HEALTH_KEYS, (int(v) for v in row)))


HEALTH_KEYS = ("convs", "turns", "n_dup_idx", "n_missing", "n_below_start",
               "n_transition", "n_null_state", "n_ts_regression",
               "n_first_state", "kept")


def sink_rule_counts(sink_dir: str) -> dict:
    """(field, rule) rollup of a violations parquet sink."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rows = con.execute(
        f"SELECT field, rule, count(*) FROM read_parquet('{sink_dir}/*.parquet') "
        "GROUP BY ALL").fetchall()
    con.close()
    return {(f, r): int(n) for f, r, n in rows}


def failing_rows_per_file(files: list[str]) -> dict:
    """input file -> (rows, rows breaking at least one cascade rule)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = " OR ".join(f"coalesce({p}, false)" for _, _, p in RULES)
    rows = con.execute(
        f"SELECT filename, count(*), count(*) FILTER (WHERE {bad}) "
        f"FROM read_parquet([{_lit(files)}], filename = true) GROUP BY filename"
    ).fetchall()
    con.close()
    return {f: (int(n), int(k)) for f, n, k in rows}


def count_conversations(files: list[str]) -> int:
    con = _connect(files)
    n = con.execute("SELECT count(DISTINCT conv_id) FROM t").fetchone()[0]
    con.close()
    return int(n)
