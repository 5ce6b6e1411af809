"""Dead-letter diagnostics — failed-position for malformed lines.

The reference walks a dense DFA byte-by-byte and reports the index of the
first byte at which the line can no longer lead to any match
(``try_find_failed_position``, parse.rs:22-41; rendered to stderr with an
underline, main.rs:230-245). Two-level reproduction here, both vectorized
enough to run inside the fused Arrow parse stage:

1. ``fields_ok`` — how many leading *fields* of each dialect's grammar are
   well-formed. Computed with a **vectorized binary search** over the
   cumulative prefix patterns (prefix k matches ⇒ prefix k-1 matches, so
   the predicate is monotone in k): ~log2(33) RE2 match passes over the
   malformed subset instead of 33 (or a per-row Python loop, as in round 1).

2. ``failed_position`` — the BYTE-exact reference semantics: the smallest
   L such that no extension of line[:L+1] can match the full anchored
   pattern, found by bisection over the monotone DFA-alive predicate
   ``regex.fullmatch(pattern, prefix, partial=True)`` (the ``regex``
   module's partial matching is exactly "some completion could match" —
   the dead-state test of parse.rs:30-33). Patterns and lines are matched
   as *bytes* so positions agree with the reference byte-for-byte,
   asserted on the reference's negative golden vectors. The bisection
   starts at the greedy field-prefix match end (a proven-alive lower
   bound), so it runs O(log residual) partial matches per dead letter —
   and only on dead letters, mirroring the reference's error fast-path
   asymmetry (alb.rs:199-203 allocates only on failure).

``nearest_dialect`` is the dialect with the most well-formed leading
fields (ties resolve to ALB, the reference CLI's default dialect,
main.rs:29-30) — our per-row analog of the reference's fixed per-run
dialect choice (main.rs:82-85).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import regex as _regex
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from elb_pipeline.dialects import ALB, CLASSIC, Dialect, _rewrite_capture_groups
from elb_pipeline.parse import _arrow_map, _per_distinct

DIAG_SCHEMA = [
    T.StructField("nearest_dialect", T.StringType(), True),
    T.StructField("fields_ok", T.IntegerType(), True),
    T.StructField("failed_position", T.IntegerType(), True),
]

_PARTIAL_CACHE: dict[str, "_regex.Pattern[bytes]"] = {}
_PREFIX_CACHE: dict[tuple[str, int], str] = {}


def _partial_rx(d: Dialect) -> "_regex.Pattern[bytes]":
    rx = _PARTIAL_CACHE.get(d.name)
    if rx is None:
        rx = _PARTIAL_CACHE[d.name] = _regex.compile(d.pattern.encode())
    return rx


def _prefix_pattern(d: Dialect, k: int) -> str:
    """Anchored pattern matching lines whose first k fields are well-formed."""
    key = (d.name, k)
    pat = _PREFIX_CACHE.get(key)
    if pat is None:
        pat = _PREFIX_CACHE[key] = "^(?:" + "".join(d.parts[:k]) + ")"
    return pat


def fields_ok_arrow(text: pa.Array, d: Dialect) -> np.ndarray:
    """Vectorized binary search: per row, the max k such that the line's
    first k fields match ``d``'s grammar. Monotone in k, so ~log2(K)
    RE2 passes over (subsets of) the array. Null text → 0."""
    n = len(text)
    k_max = len(d.parts)
    lo = np.zeros(n, dtype=np.int32)  # prefix lo is known to match (0 = trivially)
    hi = np.full(n, k_max, dtype=np.int32)  # max still possible
    valid = pc.is_valid(text).to_numpy(zero_copy_only=False)
    hi[~valid] = 0
    while True:
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi + 1) >> 1
        for m in np.unique(mid[active]):
            rows = active & (mid == m)
            mask = pa.array(rows)
            sub = text.filter(mask)
            ok_sub = pc.fill_null(
                pc.match_substring_regex(sub, pattern=_prefix_pattern(d, int(m))),
                False,
            ).to_numpy(zero_copy_only=False)
            idx = np.flatnonzero(rows)
            lo[idx[ok_sub]] = m
            hi[idx[~ok_sub]] = m - 1
    return lo


def greedy_prefix_ends_arrow(
    text: pa.Array, d: Dialect, ks: np.ndarray, rows: np.ndarray
) -> np.ndarray:
    """For every row index in ``rows`` (whose fields_ok is ``ks[row]``),
    the BYTE offset where the greedy match of its k-field prefix ends (0
    when k = 0). One RE2 extract pass per distinct k over just that k's
    subset; the matched prefix's byte length is the end offset
    (``binary_length`` counts bytes on utf8 arrays). Any consumed
    prefix is a proven-alive lower bound for the dead-byte bisection, so
    RE2-vs-backtracker greedy-end differences cannot change the result."""
    n = len(text)
    ends = np.zeros(n, dtype=np.int64)
    rows_pos = rows[ks[rows] > 0]
    for k in np.unique(ks[rows_pos]):
        sel = np.zeros(n, dtype=bool)
        sel[rows_pos[ks[rows_pos] == k]] = True
        sub = text.filter(pa.array(sel))
        # RE2's extract_regex rejects unnamed groups: only ``p`` captures
        prefix = _rewrite_capture_groups("".join(d.parts[: int(k)]), lambda: "(?:")
        pat = "^(?P<p>(?:" + prefix + "))"
        ext = pc.extract_regex(sub, pattern=pat)
        lens = pc.fill_null(
            pc.binary_length(pc.struct_field(ext, "p")), 0
        ).to_numpy(zero_copy_only=False)
        ends[np.flatnonzero(sel)] = lens
    return ends


def failed_position_bytes(line: bytes, d: Dialect, start: int = 0) -> int:
    """Reference ``try_find_failed_position`` semantics (parse.rs:22-41):
    the index of the first byte whose consumption makes the full anchored
    pattern unmatchable; len(line) if every byte is consistent but EOI
    kills it (truncated line). Bisection over the monotone alive
    predicate ``fullmatch(..., partial=True)``."""
    fm = _partial_rx(d).fullmatch  # bound once — this runs per dead letter
    n = len(line)
    if fm(line, 0, n, partial=True) is not None:
        return n  # all bytes alive; the line is a truncated prefix (EOI dies)
    # smallest L in (start, n] with alive(L) false, then position = L - 1
    lo, hi = start, n  # alive(lo) True, alive(hi) False
    while hi - lo > 1:
        mid = (lo + hi) >> 1
        if fm(line, 0, mid, partial=True) is not None:
            lo = mid
        else:
            hi = mid
    return hi - 1


def diagnose_arrow(text: pa.Array, positions: bool = True) -> list[pa.Array]:
    """(nearest_dialect, fields_ok, failed_position) arrays for a batch of
    malformed lines.

    nearest_dialect + fields_ok are fully vectorized (RE2 binary search per
    dialect, ~log2(33) passes). failed_position is the only remaining
    per-row step — the DFA-alive bisection needs the ``regex`` module's
    partial matching, which has no batch API — but its alive-lower-bound
    (the greedy prefix end) is now computed vectorized too, so the per-row
    residue is ~log2(residual bytes) C-level partial matches and zero
    per-row regex compilation/encode work. ``positions=False`` skips it
    entirely (null column) for hot paths that only need routing stats:
    the reference renders positions as stderr underline art
    (main.rs:230-245), so at 100 TB they are a diagnostic to sample, not a
    column to materialize for every dead letter.

    Diagnosis is a pure per-line function: repeated dead-letter lines
    (retried requests, templated probes, the deterministic fixtures) are
    diagnosed once per batch (``parse._per_distinct``); null lines get
    null results.
    """
    if not isinstance(text, pa.Array):
        text = pa.array(text, pa.string())
    return _per_distinct(lambda u: _diagnose_unique(u, positions), text)


def _diagnose_unique(text: pa.Array, positions: bool) -> list[pa.Array]:
    n = len(text)
    alb_k = fields_ok_arrow(text, ALB)
    clb_k = fields_ok_arrow(text, CLASSIC)
    valid = pc.is_valid(text).to_numpy(zero_copy_only=False)
    # ties resolve to ALB — the reference CLI's default dialect
    # (main.rs:29-30); also keeps the rule SQL-expressible for the oracle.
    use_clb = clb_k > alb_k
    fields_ok = np.where(use_clb, clb_k, alb_k).astype(np.int32)
    dialects = pc.if_else(
        pa.array(valid),
        pc.if_else(pa.array(use_clb), pa.scalar(CLASSIC.name), pa.scalar(ALB.name)),
        pa.scalar(None, pa.string()),
    )
    vmask = pa.array(valid)
    fields_ok_col = pc.if_else(vmask, pa.array(fields_ok), pa.scalar(None, pa.int32()))
    if not positions:
        return [dialects, fields_ok_col, pa.nulls(n, pa.int32())]

    rows_v = np.flatnonzero(valid)
    starts = np.zeros(n, dtype=np.int64)
    for d, rows_d in (
        (ALB, rows_v[~use_clb[rows_v]]),
        (CLASSIC, rows_v[use_clb[rows_v]]),
    ):
        if len(rows_d):
            starts += greedy_prefix_ends_arrow(text, d, fields_ok, rows_d)
    raw_lines = text.cast(pa.binary()).to_pylist()  # bytes, no per-row encode
    pos = np.zeros(n, dtype=np.int32)
    for i in rows_v:
        d = CLASSIC if use_clb[i] else ALB
        pos[i] = failed_position_bytes(raw_lines[i], d, int(starts[i]))
    return [
        dialects,
        fields_ok_col,
        pc.if_else(vmask, pa.array(pos), pa.scalar(None, pa.int32())),
    ]


def with_diagnosis(df: DataFrame, positions: bool = True) -> DataFrame:
    """Append (nearest_dialect, fields_ok, failed_position) to a frame of
    (presumed malformed) lines — standalone variant of the diagnosis that
    ``parse.routed_json_both(with_diag=True)`` fuses into the hot path.

    ``positions=False`` skips the per-row byte-exact bisection and emits a
    null ``failed_position`` column (same passthrough as the fused path's
    ``diag_positions`` gate) — use it whenever the consumer only needs
    nearest_dialect/fields_ok, otherwise the most expensive diagnosis step
    runs for a column that is immediately discarded."""
    return _arrow_map(
        df, None, DIAG_SCHEMA, lambda text: (None, diagnose_arrow(text, positions))
    )
