"""Vectorized parse + route stage (pure-Arrow, RE2).

The reference parses row-at-a-time with a compiled linear-time regex and
reused capture buffers (alb.rs:199-243, classic_lb.rs:109-139). The
Spark-native equivalent here is a family of **pure-Arrow** ``mapInArrow``
operators built on pyarrow's C++ RE2 engine — zero Python objects per
row, field values living in Arrow buffers end to end. This is the closest
Spark analog of the reference's zero-copy design (RE2 is the same
linear-time engine family as Rust's ``regex``).

Every operator is a short body over two helpers:

- ``_arrow_map`` — the one ``mapInArrow`` call: it selects the
  passthrough columns + text BEFORE the Python map (Catalyst cannot
  column-prune through it), owns the output schema, pins the worker's
  native pools and applies the optional in-batch keep filter, so dropped
  rows never cross back to the JVM.
- ``_per_distinct`` — the one batch hash-consing step: a per-line kernel
  runs on the DISTINCT lines of a batch only and its results are
  scattered back to every row.

Routing-only operators stay match-only (RE2's capture-free DFA path);
extraction and NDJSON assembly run only on the rows they keep. All fields
stay strings with "-"/"-1" sentinels verbatim, exactly like the reference
(it never converts types — README.md:28). ``dialects.parse_line`` is the
engine-independent row-at-a-time reference the tests compare against.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elb_pipeline.dialects import (
    ALB_FIELDS,
    ALB_NAMED_PATTERN,
    CLASSIC_FIELDS,
    CLASSIC_NAMED_PATTERN,
    SINK_ALB,
    SINK_CLASSIC,
    SINK_MALFORMED,
)
from elb_pipeline.jsonout import arrow_ndjson

_NULL_STR = pa.scalar(None, pa.string())

_log = logging.getLogger(__name__)


class ParseAbort(RuntimeError):
    """Raised inside the fused operator in fail-fast mode on the first
    malformed line — the reference's ParseLogError::InvalidLogFormat
    (parse.rs:7-10) surfaced through a failing Spark task."""


# Machine-matchable sentinel embedded in every ParseAbort message: job.py
# recognizes the abort inside the py4j-wrapped task-failure text by this
# token (robust to traceback formatting changes), not by the human prefix.
PARSE_ABORT_SENTINEL = "ELB_PARSE_ABORT::"


_POOLS_PINNED = False


def _pin_worker_pools() -> None:
    """Pin per-worker native thread pools to 1.

    Every Spark task slot runs its own Python worker; if each worker also
    spins up pyarrow's default CPU/IO pools (= machine cores each), a
    32-slot executor explodes into ~32×32 runnable threads and the Arrow
    kernels start context-switch-thrashing instead of computing. One
    worker == one core is the contract here; parallelism is Spark's job.
    """
    global _POOLS_PINNED
    if _POOLS_PINNED:
        return
    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception as exc:
        _log.warning("arrow thread pools not pinned: %s: %s", type(exc).__name__, exc)
    try:
        # Keep jemalloc from handing freed batch memory back to the kernel
        # between Arrow batches: with 32 workers munmap'ing ~30MB per batch,
        # the TLB-shootdown IPIs put every core into ~90% system time
        # (measured via vmstat on this box). Retaining the pool turns that
        # into cheap in-process reuse.
        pa.jemalloc_set_decay_ms(-1)
    except Exception as exc:
        _log.warning("jemalloc decay not disabled: %s: %s", type(exc).__name__, exc)
    import os

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    _POOLS_PINNED = True


def _as_string_array(text: pa.Array) -> pa.Array:
    if isinstance(text, pa.ChunkedArray):
        text = text.combine_chunks()
    if text.type != pa.string():
        text = text.cast(pa.string())
    if text.offset:
        # a zero-copy slice: some kernels (pyarrow 16's if_else on strings)
        # emit invalid offsets for it, so copy it to its own buffers once
        text = pa.concat_arrays([text])
    return text


# ---------------------------------------------------------------------------
# the two helpers every operator is built on
# ---------------------------------------------------------------------------


def _dict_unique(text: pa.Array) -> tuple[pa.Array | None, pa.Array]:
    """Batch-level hash-consing of the input lines: ``(indices, uniques)``
    when the batch carries real redundancy, else ``(None, text)``.

    ``dictionary_encode`` is a single C++ hash pass (~2% of the extract
    cost). Real log corpora repeat lines heavily (health checks, retries,
    templated requests), and the deterministic golden-pool fixtures are an
    extreme case; on an all-unique batch the 2× guard below skips the
    machinery, so the worst case costs one hash pass. Null lines get a
    null index."""
    enc = text.dictionary_encode()
    uniq = enc.dictionary
    if len(uniq) * 2 >= len(text):
        return None, text
    return enc.indices, uniq


def _per_distinct(
    fn: Callable[[pa.Array], list[pa.Array]],
    text: pa.Array,
    fill: list | None = None,
) -> list[pa.Array]:
    """``fn(text)`` — a pure per-line kernel returning aligned arrays —
    evaluated once per DISTINCT line of the batch and scattered back to
    every row with one ``take``. A null line's slots come back null, or
    ``fill[i]`` for output ``i`` where given (the operator's value for a
    null line: 'malformed', or its mask bit)."""
    idx, uniq = _dict_unique(text)
    outs = fn(uniq)
    if idx is None:
        return outs
    fill = fill or [None] * len(outs)
    return [
        c.take(idx) if f is None else pc.fill_null(c.take(idx), f)
        for c, f in zip(outs, fill)
    ]


def _arrow_map(
    df: DataFrame,
    passthrough: list[str] | None,
    out_fields: list[T.StructField],
    per_batch: Callable[[pa.Array], tuple[pa.Array | None, list[pa.Array]]],
) -> DataFrame:
    """The one Python map: emits ``passthrough + out_fields``.

    ``passthrough`` (guide §4.1: pass only the columns the function needs,
    both ways): exactly those columns + ``text`` are selected BEFORE the
    map and the text does not cross back; ``None`` keeps every input
    column, text included. ``per_batch(text)`` returns ``(keep, outs)``:
    ``keep`` is a row mask applied to the passthrough columns inside the
    batch (``None`` keeps every row) and ``outs`` are aligned to the kept
    rows."""
    if passthrough is None:
        src, n_pass = df, len(df.columns)
        text_idx = df.columns.index("text")
    else:
        src = df.select(*passthrough, "text")
        n_pass = text_idx = len(passthrough)
    schema = T.StructType(src.schema.fields[:n_pass] + out_fields)
    names = schema.fieldNames()

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            keep, outs = per_batch(_as_string_array(batch.column(text_idx)))
            if keep is not None:
                batch = batch.filter(keep)
            yield pa.RecordBatch.from_arrays(
                [*batch.columns[:n_pass], *outs], names=names
            )

    return src.mapInArrow(gen, schema)


def _string_field(name: str, nullable: bool = True) -> T.StructField:
    return T.StructField(name, T.StringType(), nullable)


# ---------------------------------------------------------------------------
# per-distinct-line kernels
# ---------------------------------------------------------------------------


def _alb_match(text: pa.Array) -> pa.Array:
    return pc.fill_null(
        pc.match_substring_regex(text, pattern=ALB_NAMED_PATTERN), False
    )


def _clb_match(text: pa.Array) -> pa.Array:
    return pc.fill_null(
        pc.match_substring_regex(text, pattern=CLASSIC_NAMED_PATTERN), False
    )


def _sink_of(alb_ok: pa.Array, clb_ok: pa.Array) -> pa.Array:
    return pc.if_else(
        alb_ok,
        pa.scalar(SINK_ALB),
        pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
    )


def _sink_mask_unique(text: pa.Array, sink: str) -> pa.Array:
    alb_ok = _alb_match(text)
    if sink == SINK_ALB:
        return alb_ok
    clb_ok = _clb_match(text)
    if sink == SINK_CLASSIC:
        return pc.and_(clb_ok, pc.invert(alb_ok))
    return pc.invert(pc.or_(alb_ok, clb_ok))


def _extract_alb_children_u(text: pa.Array) -> list[pa.Array]:
    ext = pc.extract_regex(text, pattern=ALB_NAMED_PATTERN)
    children = list(ext.flatten())  # flatten propagates no-match nulls
    # optional tid extracts as '' when absent — normalize to null (a real
    # tid is TID_+32 chars or '-', never empty; cf. alb.rs:81-85,188)
    tid_i = len(ALB_FIELDS) - 1
    children[tid_i] = pc.if_else(
        pc.equal(children[tid_i], pa.scalar("")), _NULL_STR, children[tid_i]
    )
    return [c.cast(pa.string()) if c.type != pa.string() else c for c in children]


def _extract_clb_children_u(text: pa.Array) -> list[pa.Array]:
    ext = pc.extract_regex(text, pattern=CLASSIC_NAMED_PATTERN)
    return [
        c.cast(pa.string()) if c.type != pa.string() else c for c in ext.flatten()
    ]


# dialect → (field names, struct-field prefix, per-distinct extraction)
_DIALECTS = {
    SINK_ALB: (ALB_FIELDS, "alb_", _extract_alb_children_u),
    SINK_CLASSIC: (CLASSIC_FIELDS, "clb_", _extract_clb_children_u),
}


def _dialect(dialect: str):
    if dialect not in _DIALECTS:
        raise ValueError(f"no extractable fields for dialect {dialect!r}")
    return _DIALECTS[dialect]


def _sink_mask(text: pa.Array, sink: str) -> pa.Array:
    # null text routes to malformed: its mask bit is True only for that sink
    (mask,) = _per_distinct(
        lambda u: [_sink_mask_unique(u, sink)], text, [sink == SINK_MALFORMED]
    )
    return mask


def _scatter(kept: pa.Array, mask: pa.BooleanArray) -> pa.Array:
    """Scatter ``kept`` (len == mask.sum()) back to full length, null where
    mask is false. take() with null indices is the Arrow-native scatter."""
    m = pc.fill_null(mask, False).to_numpy(zero_copy_only=False)
    pos = np.cumsum(m) - 1
    idx = pa.array(np.where(m, pos, 0), pa.int64(), mask=~m)
    return kept.take(idx)


def _route_json_unique(text: pa.Array) -> list[pa.Array]:
    """[sink, json] aligned to ``text`` — the per-distinct-line body of
    :func:`route_json_arrow`.

    Work per line: one capture-free ALB MATCH over every row (RE2's DFA
    path — measured ~1/15th the cost of the 33-group extraction, so
    validity is decided before any capture work), one Classic extract over
    only the non-ALB remainder (extraction doubles as the validity test
    there — the 18-group Classic pattern extracts faster than the ALB match
    runs), one 33-group ALB extract over only the matching rows, and
    C++-side NDJSON assembly on the matching subsets. json is null for
    malformed rows."""
    alb_ok = _alb_match(text)
    rest_mask = pc.invert(alb_ok)
    clb_ext_rest = pc.extract_regex(
        text.filter(rest_mask), pattern=CLASSIC_NAMED_PATTERN
    )
    clb_ok_rest = pc.is_valid(clb_ext_rest)
    clb_ok = pc.fill_null(_scatter(clb_ok_rest, rest_mask), False)

    json_col = pa.nulls(len(text), pa.string())
    if pc.any(alb_ok).as_py():
        children = _extract_alb_children_u(text.filter(alb_ok))
        js = arrow_ndjson(list(ALB_FIELDS), children, optional_last=True)
        json_col = pc.if_else(alb_ok, _scatter(js, alb_ok), json_col)
    if pc.any(clb_ok_rest).as_py():
        kept = clb_ext_rest.filter(clb_ok_rest)
        js = arrow_ndjson(list(CLASSIC_FIELDS), list(kept.flatten()))
        json_col = pc.if_else(clb_ok, _scatter(js, clb_ok), json_col)
    return [_sink_of(alb_ok, clb_ok), json_col]


def route_sink_arrow(text: pa.Array) -> pa.Array:
    """sink array for one Arrow string array — 'alb'|'classic_lb'|'malformed'.

    Uses capture-free matching (RE2's fast path). Precedence mirrors the
    reference's per-dialect dispatch; the grammars are anchored and
    disjoint, so the second match rejects ALB rows at the first byte.
    Null text → 'malformed'. Repeated lines in a batch are routed once.
    """
    (sink,) = _per_distinct(
        lambda u: [_sink_of(_alb_match(u), _clb_match(u))],
        _as_string_array(text),
        [SINK_MALFORMED],
    )
    return sink


def route_json_arrow(text: pa.Array) -> tuple[pa.Array, pa.Array]:
    """(sink, json) for one Arrow string array, both dialects, one pass.

    Repeated lines are parsed ONCE per batch; per-distinct work is
    _route_json_unique. json is null for malformed rows."""
    sink, json_col = _per_distinct(
        _route_json_unique, _as_string_array(text), [SINK_MALFORMED, None]
    )
    return sink, json_col


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def with_sink(df: DataFrame, passthrough: list[str] | None = None) -> DataFrame:
    """Add only the ``sink`` routing column (the cheap path — use this for
    anything that doesn't read extracted fields). With ``passthrough``
    only ``passthrough + [sink]`` cross back: the text bytes dominate the
    Arrow→UnsafeRow conversion on the return hop."""
    return _arrow_map(
        df,
        passthrough,
        [_string_field("sink")],
        lambda text: (None, [route_sink_arrow(text)]),
    )


def routed_filter(df: DataFrame, sink: str) -> DataFrame:
    """Keep only the rows routing to ``sink`` — filtering happens INSIDE the
    Arrow batch, so non-matching rows never cross back to the JVM."""
    return _arrow_map(df, None, [], lambda text: (_sink_mask(text, sink), []))


def routed_struct(
    df: DataFrame,
    dialect: str,
    passthrough: list[str],
    fields: list[str] | None = None,
) -> DataFrame:
    """Fused route → keep only ``dialect`` rows → extract fields, in ONE
    Arrow pass. Emits ``passthrough + parsed`` where ``parsed`` holds the
    dialect's ``fields`` (default: all) as ``alb_*``/``clb_*`` — the text
    never crosses back, and queries that read 1-2 fields
    (latency_percentiles, url_domain_topk) cross exactly those instead of
    all 33. A capture-free match decides validity (DFA — ~1/15th the cost
    of the 33-group extraction); extraction then runs once per DISTINCT
    kept line."""
    all_names, prefix, extract_u = _dialect(dialect)
    fields = list(fields) if fields is not None else list(all_names)
    pick = [all_names.index(f) for f in fields]
    struct_names = [f"{prefix}{f}" for f in fields]
    parsed = T.StructField(
        "parsed", T.StructType([_string_field(n) for n in struct_names]), True
    )

    def per_batch(text: pa.Array):
        mask = _sink_mask(text, dialect)
        children = _per_distinct(extract_u, text.filter(mask))
        struct = pa.StructArray.from_arrays(
            [children[i] for i in pick], names=struct_names
        )
        return mask, [struct]

    return _arrow_map(df, passthrough, [parsed], per_batch)


def routed_dialect_json(
    df: DataFrame, dialect: str, passthrough: list[str]
) -> DataFrame:
    """The per-dialect sink operator: route → keep only ``dialect`` rows →
    extract fields → assemble the reference-exact NDJSON line, all inside
    one Arrow pass, emitting ``passthrough + [json]``. Validity comes from
    a capture-free match; extraction AND serialization then run once per
    DISTINCT kept line."""
    all_names, _, extract_u = _dialect(dialect)

    def json_u(text: pa.Array) -> list[pa.Array]:
        children = extract_u(text)
        return [
            arrow_ndjson(list(all_names), children, optional_last=dialect == SINK_ALB)
        ]

    def per_batch(text: pa.Array):
        mask = _sink_mask(text, dialect)
        return mask, _per_distinct(json_u, text.filter(mask))

    return _arrow_map(df, passthrough, [_string_field("json")], per_batch)


def routed_json_both(
    df: DataFrame,
    keep_malformed_text: bool = True,
    passthrough: list[str] | None = None,
    with_diag: bool = False,
    diag_positions: bool = True,
    fail_fast: bool = False,
) -> DataFrame:
    """THE pipeline hot path: one ``mapInArrow`` stage that routes every
    line, extracts+serializes both valid dialects, and emits
    ``(passthrough..., sink, json, mal_text)`` — the raw ``text`` column
    does NOT cross back to the JVM except for the malformed minority
    (``mal_text``, for the dead-letter sink; null for valid rows).
    ``passthrough`` defaults to every column but the text.

    ``with_diag`` additionally emits the dead-letter diagnosis columns
    (nearest_dialect, fields_ok, failed_position — deadletter.py), computed
    inside the same pass on ONLY the malformed rows (the reference's
    error fast-path asymmetry: diagnosis work scales with the dead-letter
    rate, not the input, alb.rs:199-203 / main.rs:230-245).
    """
    from elb_pipeline.deadletter import DIAG_SCHEMA, diagnose_arrow

    if passthrough is None:
        passthrough = [c for c in df.columns if c != "text"]
    out_fields = [
        _string_field("sink", nullable=False),
        _string_field("json"),
        _string_field("mal_text"),
    ]
    if with_diag:
        out_fields += DIAG_SCHEMA

    def per_batch(text: pa.Array):
        sink, json_col = route_json_arrow(text)
        mal_mask = pc.equal(sink, pa.scalar(SINK_MALFORMED))
        if fail_fast and pc.any(mal_mask).as_py():
            # reference strict semantics: abort at the FIRST malformed
            # line mid-stream (main.rs:194-203), with the reference's
            # error text (parse.rs:8). Earlier batches' output may
            # already be emitted — exactly like the CLI, which has
            # already written parsed lines to stdout when it aborts.
            first = text.filter(mal_mask)[0].as_py()
            raise ParseAbort(f"{PARSE_ABORT_SENTINEL}Invalid log line: {first}")
        if keep_malformed_text:
            mal = pc.if_else(mal_mask, text, _NULL_STR)
        else:
            mal = pa.nulls(len(text), pa.string())
        outs = [sink, json_col, mal]
        if with_diag:
            diag = diagnose_arrow(text.filter(mal_mask), positions=diag_positions)
            outs += [_scatter(c, mal_mask) for c in diag]
        return None, outs

    return _arrow_map(df, passthrough, out_fields, per_batch)


def alb_field(name: str) -> Column:
    return F.col(f"parsed.alb_{name}").alias(name)


def classic_field(name: str) -> Column:
    return F.col(f"parsed.clb_{name}").alias(name)
