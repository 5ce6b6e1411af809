"""DuckDB oracle SQL generation.

Every pipeline query exposed through ``__spark_entry__.queries()`` has an
ANSI-SQL twin built here that DuckDB runs over the same parquet tables.
The transcripts derivation, the routing predicate (the SAME compact regex
string — RE2 and Python ``re`` agree on it, asserted in tests), the field
extraction, and the JSON serialization are all re-computed independently
by DuckDB, so the comparison genuinely cross-checks the Spark pipeline
rather than replaying its outputs.
"""

from __future__ import annotations

from elb_pipeline.aggregate import N_BUCKETS
from elb_pipeline.dialects import ALB_FIELDS, ALB_PATTERN, CLASSIC_FIELDS, CLASSIC_PATTERN
from elb_pipeline.enrich import ROLE_DIM_ROWS, ROLES, TOOL_DIM_ROWS, TOOLS
from elb_pipeline.goldens import TEXT_POOL


def _sq(s: str) -> str:
    """SQL single-quoted literal (standard escaping: '' for ')."""
    return "'" + s.replace("'", "''") + "'"


def _str_list(values: list[str]) -> str:
    return "[" + ", ".join(_sq(v) for v in values) + "]"


def pool_cte() -> str:
    rows = ",\n    ".join(f"({i}, {_sq(line)})" for i, line in enumerate(TEXT_POOL))
    return f"pool(idx, line) AS (VALUES\n    {rows})"


def transcripts_cte() -> str:
    """Transcripts derivation — textual twin of synth.transcripts_from_events."""
    n = len(TEXT_POOL)
    return f"""transcripts AS (
  SELECT
    concat('conv-', lpad(CAST(e.user_id AS VARCHAR), 6, '0')) AS conv_id,
    CAST(row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id) - 1 AS INT) AS turn_idx,
    ({_str_list(ROLES)})[CAST(e.event_id % {len(ROLES)} AS INT) + 1] AS role,
    p.line AS text,
    ({_str_list(TOOLS)})[CAST(e.event_id % {len(TOOLS)} AS INT) + 1] AS tool,
    e.ts AS ts
  FROM events e
  JOIN pool p ON p.idx = CAST(e.event_id % {n} AS INT)
)"""


def sink_expr(text: str = "text") -> str:
    return (
        f"CASE WHEN regexp_full_match({text}, {_sq(ALB_PATTERN)}) THEN 'alb' "
        f"WHEN regexp_full_match({text}, {_sq(CLASSIC_PATTERN)}) THEN 'classic_lb' "
        f"ELSE 'malformed' END"
    )


def routed_cte() -> str:
    return f"routed AS (\n  SELECT t.*, {sink_expr('t.text')} AS sink FROM transcripts t\n)"


def with_prelude(body: str) -> str:
    """WITH pool, transcripts, routed AS (...) {body}"""
    return f"WITH {pool_cte()},\n{transcripts_cte()},\n{routed_cte()}\n{body}"


def conv_bucket_sql() -> str:
    # textually identical expression to aggregate.conv_bucket
    return f"CAST(substring(conv_id, 6) AS INT) % {N_BUCKETS}"


def fields_ok_sql(dialect) -> str:
    """Leading-well-formed-field count as pure SQL: the cumulative prefix
    predicates are monotone (prefix k ⇒ prefix k-1), so summing the 0/1
    matches equals the max matching k — the same quantity
    deadletter.fields_ok_arrow computes by vectorized binary search, here
    recomputed independently by DuckDB's RE2."""
    terms = []
    for k in range(1, len(dialect.parts) + 1):
        pat = "^(?:" + "".join(dialect.parts[:k]) + ")"
        terms.append(f"(CASE WHEN regexp_matches(text, {_sq(pat)}) THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def role_dim_cte() -> str:
    rows = ", ".join(
        f"({_sq(r)}, {_sq(g)}, {str(h).lower()})" for r, g, h in ROLE_DIM_ROWS
    )
    return f"dim_role(role, role_group, is_human) AS (VALUES {rows})"


def tool_dim_cte() -> str:
    rows = ", ".join(
        f"({_sq(t)}, {_sq(f)}, {str(io).lower()})" for t, f, io in TOOL_DIM_ROWS
    )
    return f"dim_tool(tool, tool_family, is_io) AS (VALUES {rows})"


def alb_extract_cte() -> str:
    """alb_ext: per alb-routed row, all 33 fields via RE2 group extraction."""
    names = _str_list(ALB_FIELDS)
    return (
        "alb_ext AS (\n"
        "  SELECT conv_id, turn_idx, "
        f"regexp_extract(text, {_sq(ALB_PATTERN)}, {names}) AS x\n"
        "  FROM routed WHERE sink = 'alb'\n)"
    )


def classic_extract_cte() -> str:
    names = _str_list(CLASSIC_FIELDS)
    return (
        "clb_ext AS (\n"
        "  SELECT conv_id, turn_idx, "
        f"regexp_extract(text, {_sq(CLASSIC_PATTERN)}, {names}) AS x\n"
        "  FROM routed WHERE sink = 'classic_lb'\n)"
    )


def alb_field_select() -> str:
    """SELECT list mapping the extract struct to output column names.

    Optional tid: missing group extracts as '' in DuckDB → NULL (tid can
    never legitimately be empty: it is TID_+32 chars or '-'). All other
    fields keep '' verbatim (http_version / actions_executed may be empty).
    """
    cols = [f'x."{f}" AS "{f}"' for f in ALB_FIELDS if f != "tid"]
    cols.append("nullif(x.tid, '') AS tid")
    return ", ".join(cols)


def classic_field_select() -> str:
    return ", ".join(f'x."{f}" AS "{f}"' for f in CLASSIC_FIELDS)


def alb_json_expr() -> str:
    """DuckDB to_json twin of jsonout.arrow_ndjson for ALB rows (key order +
    tid omission)."""
    base = ", ".join(f'"{f}" := x."{f}"' for f in ALB_FIELDS if f != "tid")
    with_tid = base + ", tid := x.tid"
    return (
        f"CASE WHEN nullif(x.tid, '') IS NULL THEN to_json(struct_pack({base})) "
        f"ELSE to_json(struct_pack({with_tid})) END"
    )


def classic_json_expr() -> str:
    body = ", ".join(f'"{f}" := x."{f}"' for f in CLASSIC_FIELDS)
    return f"to_json(struct_pack({body}))"
