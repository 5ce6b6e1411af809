"""NDJSON serialization — byte-identical to the reference's serde output.

The reference emits one compact JSON object per parsed line with keys in
struct declaration order (serde derive, alb.rs:8-86 / classic_lb.rs:8-46)
and omits the optional ``tid`` key when absent (alb.rs:81-85). Byte
equality with the reference is asserted on every golden vector through the
production operator (tests/test_golden_vectors_spark.py) and against the
DuckDB ``to_json`` oracle twins (oracle.alb_json_expr/classic_json_expr).
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc


# ---------------------------------------------------------------------------
# Arrow-side NDJSON assembly (the hot sink path)
#
# Building the JSON line inside the Arrow batch means only ONE string column
# crosses back to the JVM instead of 33 — measured, that boundary crossing
# (Arrow→UnsafeRow conversion) dominates the sink write at scale. Escaping
# is serde_json-compatible: `\` → `\\`, `"` → `\"`; control characters
# (which the grammars admit inside quoted fields, e.g. a literal TAB in a
# user agent) are rare and routed through a per-row ``json.dumps`` fallback
# so the fast path never emits invalid JSON. Byte-equality with the
# reference's serde output is asserted on every golden vector.
# ---------------------------------------------------------------------------

_CONTROL_RE = "[\\x00-\\x1f]"


def _escape(arr: pa.Array) -> pa.Array:
    arr = pc.replace_substring(arr, pattern="\\", replacement="\\\\")
    return pc.replace_substring(arr, pattern='"', replacement='\\"')


def _fallback_rows(
    fields: list[str], children: list[pa.Array], idx: list[int]
) -> dict[int, str]:
    out = {}
    for i in idx:
        d = {}
        for name, col in zip(fields, children):
            v = col[i].as_py()
            if v is not None:
                d[name] = v
        out[i] = json.dumps(d, separators=(",", ":"), ensure_ascii=False)
    return out


def arrow_ndjson(
    fields: list[str],
    children: list[pa.Array],
    optional_last: bool = False,
) -> pa.Array:
    """Compact NDJSON per row from parallel string arrays (C++-side).

    ``optional_last``: the final field (ALB tid) is omitted when null.
    All other fields must be non-null (true for routed rows by grammar).
    """
    base_fields, base_children = fields, children
    tid = None
    if optional_last:
        base_fields, base_children = fields[:-1], children[:-1]
        tid = children[-1]

    parts: list = []
    for k, (name, col) in enumerate(zip(base_fields, base_children)):
        parts.append(pa.scalar(('{"' if k == 0 else '","') + f'{name}":"'))
        parts.append(_escape(col))
    parts.append(pa.scalar('"'))

    n = len(children[0])
    body = pc.binary_join_element_wise(*parts, pa.scalar(""))
    if tid is not None:
        with_tid = pc.binary_join_element_wise(
            pa.scalar(',"tid":"'), _escape(tid), pa.scalar('"}'), pa.scalar("")
        )
        suffix = pc.if_else(pc.is_valid(tid), with_tid, pa.scalar("}"))
    else:
        suffix = pa.array(["}"] * n, pa.string())
    out = pc.binary_join_element_wise(body, suffix, pa.scalar(""))

    # control-char rows (valid per grammar, need \uXXXX escapes) → fallback
    has_ctl = pa.array([False] * n, pa.bool_())
    for col in base_children:
        m = pc.fill_null(pc.match_substring_regex(col, pattern=_CONTROL_RE), False)
        has_ctl = pc.or_(has_ctl, m)
    if pc.any(has_ctl).as_py():
        idx = [i for i, v in enumerate(has_ctl.to_pylist()) if v]
        patched = _fallback_rows(fields, children, idx)
        vals = out.to_pylist()
        for i, s in patched.items():
            vals[i] = s
        out = pa.array(vals, pa.string())
    return out
