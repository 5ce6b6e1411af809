"""Vectorized parse + route stage (pure-Arrow, RE2).

The reference parses row-at-a-time with a compiled linear-time regex and
reused capture buffers (alb.rs:199-243, classic_lb.rs:109-139). The
Spark-native equivalent here is a family of **pure-Arrow** ``mapInArrow``
operators built on pyarrow's C++ RE2 engine — zero Python objects per
row, field values living in Arrow buffers end to end. This is the closest
Spark analog of the reference's zero-copy design (RE2 is the same
linear-time engine family as Rust's ``regex``).

Operator split — measured on this container (8M rows, local[32]):

================================  ==========  =============================
operator                          wall (8M)    use
================================  ==========  =============================
``with_sink``                       ~3 s      routing only (match, no
                                              captures → RE2 DFA path)
``with_parsed`` (52-col struct)    ~68 s      full both-dialect struct;
                                              golden tests / wide queries
================================  ==========  =============================

The split matters because Catalyst cannot column-prune through a Python
map operator: whatever the UDF emits is materialized into JVM rows. A
pipeline that only routes/aggregates must not pay for 52 string columns
per row — so routing emits one column, and extraction is deferred to the
sink writes where the fields are genuinely consumed.

A pandas implementation (``parse_route_batch`` / ``with_parsed_pandas``)
is kept as the engine-independent reference: tests assert the Arrow path
is byte-identical to it, and both match the reference's golden vectors.

All fields stay strings with "-"/"-1" sentinels verbatim, exactly like
the reference (it never converts types — README.md:28).
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elb_pipeline.dialects import (
    ALB,
    ALB_FIELDS,
    ALB_NAMED_PATTERN,
    CLASSIC,
    CLASSIC_FIELDS,
    CLASSIC_NAMED_PATTERN,
    SINK_ALB,
    SINK_CLASSIC,
    SINK_MALFORMED,
)

ALB_COLS = [f"alb_{f}" for f in ALB_FIELDS]
CLB_COLS = [f"clb_{f}" for f in CLASSIC_FIELDS]
PARSED_FIELDS = ["sink", *ALB_COLS, *CLB_COLS]
PARSED_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType(), True) for name in PARSED_FIELDS]
)

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
    return text


def _dict_unique(text: pa.Array) -> tuple[pa.Array | None, pa.Array]:
    """Batch-level hash-consing of the input lines: ``(indices, uniques)``
    when the batch carries real redundancy, else ``(None, text)``.

    Routing/extraction/serialization are pure per-line functions, so a
    batch with repeated lines only needs each DISTINCT line parsed once —
    ``dictionary_encode`` is a single C++ hash pass (~2% of the extract
    cost), and ``take`` scatters the per-unique results back. Real log
    corpora repeat lines heavily (health checks, retries, templated
    requests), and the deterministic golden-pool fixtures are an extreme
    case; on an all-unique batch the 2× guard below skips the machinery,
    so the worst case costs one hash pass. Null lines get a null index —
    callers fill the scattered result's nulls with the malformed/None
    value for their operator."""
    enc = text.dictionary_encode()
    uniq = enc.dictionary
    if len(uniq) * 2 >= len(text):
        return None, text
    return enc.indices, uniq


# ---------------------------------------------------------------------------
# routing — match-only (RE2 DFA, no capture extraction)
# ---------------------------------------------------------------------------


def _route_sink_unique(text: pa.Array) -> pa.Array:
    alb_ok = pc.fill_null(
        pc.match_substring_regex(text, pattern=ALB_NAMED_PATTERN), False
    )
    clb_ok = pc.fill_null(
        pc.match_substring_regex(text, pattern=CLASSIC_NAMED_PATTERN), False
    )
    return pc.if_else(
        alb_ok,
        pa.scalar(SINK_ALB),
        pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
    )


def route_sink_arrow(text: pa.Array) -> pa.Array:
    """sink array for one Arrow string array — 'alb'|'classic_lb'|'malformed'.

    Uses capture-free matching (RE2's fast path). Precedence mirrors the
    reference's per-dialect dispatch; the grammars are anchored and
    disjoint, so the second match rejects ALB rows at the first byte.
    Null text → 'malformed'. Repeated lines in a batch are routed once
    (_dict_unique hash-consing).
    """
    text = _as_string_array(text)
    idx, uniq = _dict_unique(text)
    sink = _route_sink_unique(uniq)
    if idx is None:
        return sink
    return pc.fill_null(sink.take(idx), pa.scalar(SINK_MALFORMED))


def with_sink(
    df: DataFrame,
    text_col: str = "text",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Add only the ``sink`` routing column (the cheap path — use this for
    anything that doesn't read extracted fields).

    ``passthrough`` (guide §4.1: pass only the columns the function needs,
    both ways): select exactly those columns + ``text_col`` BEFORE the
    Python map — Catalyst cannot prune through it — and emit only
    ``passthrough + [sink]``, so the text bytes never cross BACK to the
    JVM for consumers that don't read them (measured: the text column
    dominates the Arrow→UnsafeRow conversion on the return hop)."""
    if passthrough is None:
        src = df
        keep = [f.name for f in df.schema.fields]
        keep_idx = list(range(len(df.schema.fields)))
        text_idx = df.columns.index(text_col)
        out_fields = list(df.schema.fields)
    else:
        src = df.select(*passthrough, text_col)
        keep = list(passthrough)
        keep_idx = list(range(len(passthrough)))
        text_idx = len(passthrough)
        out_fields = [src.schema[c] for c in passthrough]
    out_schema = T.StructType(
        out_fields + [T.StructField("sink", T.StringType(), True)]
    )
    names = [*keep, "sink"]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            sink = route_sink_arrow(batch.column(text_idx))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in keep_idx] + [sink], names=names
            )

    return src.mapInArrow(gen, out_schema)


# ---------------------------------------------------------------------------
# fused route + filter (+ extract + NDJSON) — the sink hot path
# ---------------------------------------------------------------------------


def _sink_mask_unique(text: pa.Array, sink: str) -> pa.Array:
    alb_ok = pc.fill_null(
        pc.match_substring_regex(text, pattern=ALB_NAMED_PATTERN), False
    )
    if sink == SINK_ALB:
        return alb_ok
    clb_ok = pc.fill_null(
        pc.match_substring_regex(text, pattern=CLASSIC_NAMED_PATTERN), False
    )
    if sink == SINK_CLASSIC:
        return pc.and_(clb_ok, pc.invert(alb_ok))
    return pc.invert(pc.or_(alb_ok, clb_ok))


def _sink_mask(text: pa.Array, sink: str) -> pa.Array:
    idx, uniq = _dict_unique(text)
    mask = _sink_mask_unique(uniq, sink)
    if idx is None:
        return mask
    # null text routes to malformed: its scattered mask slot is null
    return pc.fill_null(mask.take(idx), sink == SINK_MALFORMED)


def routed_filter(df: DataFrame, sink: str, text_col: str = "text") -> DataFrame:
    """Keep only the rows routing to ``sink`` — filtering happens INSIDE the
    Arrow batch, so non-matching rows never cross back to the JVM."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            idx = batch.schema.get_field_index(text_col)
            mask = _sink_mask(_as_string_array(batch.column(idx)), sink)
            yield batch.filter(mask)

    return df.mapInArrow(gen, df.schema)


def routed_struct(
    df: DataFrame,
    dialect: str,
    passthrough: list[str],
    fields: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Fused route → keep only ``dialect`` rows → extract fields, in ONE
    Arrow pass: replaces a with_sink → JVM filter → per-dialect extract
    chain (two Python-worker waves, with the text and every other column
    crossing back to the JVM between them) for queries that read parsed
    fields. Emits ``passthrough + parsed`` where ``parsed`` holds the
    dialect's ``fields`` (default: all) — the text never crosses back,
    and queries that read 1-2 fields (latency_percentiles,
    url_domain_topk) cross exactly those instead of all 33."""
    if dialect == SINK_ALB:
        all_names, prefix = ALB_FIELDS, "alb_"
    elif dialect == SINK_CLASSIC:
        all_names, prefix = CLASSIC_FIELDS, "clb_"
    else:
        raise ValueError(f"no extractable fields for dialect {dialect!r}")
    fields = list(fields) if fields is not None else list(all_names)
    pick = [all_names.index(f) for f in fields]
    struct_names = [f"{prefix}{f}" for f in fields]
    struct_schema = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in struct_names]
    )
    src = df.select(*passthrough, text_col)
    n_pass = len(passthrough)
    out_schema = T.StructType(
        [src.schema[c] for c in passthrough]
        + [T.StructField("parsed", struct_schema, True)]
    )
    names = [*passthrough, "parsed"]

    extract = (
        _extract_alb_children if dialect == SINK_ALB else _extract_clb_children
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            # capture-free match decides validity (DFA — ~1/15th the cost
            # of the 33-group extraction); extraction then runs once per
            # DISTINCT kept line (_dict_unique inside the extract helper)
            text = _as_string_array(batch.column(n_pass))
            mask = _sink_mask(text, dialect)
            kept = batch.filter(mask)
            children = extract(_as_string_array(kept.column(n_pass)))
            parsed = pa.StructArray.from_arrays(
                [children[i] for i in pick], names=struct_names
            )
            yield pa.RecordBatch.from_arrays(
                [*kept.columns[:n_pass], parsed], names=names
            )

    return src.mapInArrow(gen, out_schema)


def routed_dialect_json(
    df: DataFrame,
    dialect: str,
    text_col: str = "text",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """The fused sink operator: route → keep only ``dialect`` rows → extract
    fields → assemble the reference-exact NDJSON line — all inside one Arrow
    pass, emitting the input columns + one ``json`` string column.

    This is the hot path for sink writes: compared to chaining a routing
    map, a JVM filter, a 33-column struct crossing, and JVM ``to_json``,
    only the final JSON string crosses the Python↔JVM boundary (measured
    ~5× faster end-to-end at 32 cores on 8M rows).

    ``passthrough``: select exactly those columns + text before the map
    and emit ``passthrough + [json]`` — the text does not cross back
    (guide §4.1); validity comes from the extraction itself (one RE2
    pass for the ALB side instead of match + extract).
    """
    from elb_pipeline.jsonout import arrow_ndjson

    if dialect == SINK_ALB:
        fields, optional_last = ALB_FIELDS, True
    elif dialect == SINK_CLASSIC:
        fields, optional_last = CLASSIC_FIELDS, False
    else:
        raise ValueError(f"no JSON output for dialect {dialect!r}")

    if passthrough is None:
        src = df
        n_keep = len(df.columns)
        keep_cols = list(range(n_keep))
        text_idx = df.columns.index(text_col)
        out_fields = list(df.schema.fields)
        names = [*df.columns, "json"]
    else:
        src = df.select(*passthrough, text_col)
        n_keep = len(passthrough)
        keep_cols = list(range(n_keep))
        text_idx = n_keep
        out_fields = [src.schema[c] for c in passthrough]
        names = [*passthrough, "json"]
    out_schema = T.StructType(
        out_fields + [T.StructField("json", T.StringType(), True)]
    )

    extract_u = (
        _extract_alb_children_u if dialect == SINK_ALB else _extract_clb_children_u
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            # match decides validity (capture-free DFA), then extraction
            # AND serialization run once per DISTINCT kept line — the
            # assembled JSON is scattered back with one take()
            text = _as_string_array(batch.column(text_idx))
            mask = _sink_mask(text, dialect)
            kept = batch.filter(mask)
            if kept.num_rows == 0:
                js = pa.array([], pa.string())
            else:
                ktext = _as_string_array(kept.column(text_idx))
                idx, uniq = _dict_unique(ktext)
                js = arrow_ndjson(
                    list(fields), extract_u(uniq), optional_last=optional_last
                )
                if idx is not None:
                    js = js.take(idx)
            yield pa.RecordBatch.from_arrays(
                [kept.column(i) for i in keep_cols] + [js], names=names
            )

    return src.mapInArrow(gen, out_schema)


# ---------------------------------------------------------------------------
# fused BOTH-dialect route + extract + NDJSON — ONE Arrow pass, one stage
# ---------------------------------------------------------------------------


def _scatter(kept: pa.Array, mask: pa.BooleanArray) -> pa.Array:
    """Scatter ``kept`` (len == mask.sum()) back to full length, null where
    mask is false. take() with null indices is the Arrow-native scatter."""
    m = pc.fill_null(mask, False).to_numpy(zero_copy_only=False)
    pos = np.cumsum(m) - 1
    idx = pa.array(np.where(m, pos, 0), pa.int64(), mask=~m)
    return kept.take(idx)


def _route_json_unique(text: pa.Array) -> tuple[pa.Array, pa.Array]:
    """(sink, json) aligned to ``text`` — the per-distinct-line body of
    :func:`route_json_arrow`.

    Work per line: one capture-free ALB MATCH over every row (RE2's DFA
    path — measured ~1/15th the cost of the 33-group extraction, so
    validity is decided before any capture work), one 33-group ALB
    extract over only the matching rows, one Classic extract over only
    the non-ALB remainder (extraction doubles as the validity test there
    — the 18-group Classic pattern extracts faster than the ALB match
    runs), and C++-side NDJSON assembly on the matching subsets. json is
    null for malformed rows."""
    from elb_pipeline.jsonout import arrow_ndjson

    n = len(text)
    alb_ok = pc.fill_null(
        pc.match_substring_regex(text, pattern=ALB_NAMED_PATTERN), False
    )
    rest_mask = pc.invert(alb_ok)

    text_rest = text.filter(rest_mask)
    clb_ext_rest = pc.extract_regex(text_rest, pattern=CLASSIC_NAMED_PATTERN)
    clb_ok_rest = pc.is_valid(clb_ext_rest)
    clb_ok = (
        pc.fill_null(_scatter(clb_ok_rest, rest_mask), False)
        if n
        else pa.array([], pa.bool_())
    )

    sink = pc.if_else(
        alb_ok,
        pa.scalar(SINK_ALB),
        pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
    )

    json_col = pa.nulls(n, pa.string())
    if pc.any(alb_ok).as_py():
        alb_ext = pc.extract_regex(
            text.filter(alb_ok), pattern=ALB_NAMED_PATTERN
        )
        children = list(alb_ext.flatten())
        tid_i = len(ALB_FIELDS) - 1
        children[tid_i] = pc.if_else(
            pc.equal(children[tid_i], pa.scalar("")), _NULL_STR, children[tid_i]
        )
        js = arrow_ndjson(list(ALB_FIELDS), children, optional_last=True)
        json_col = pc.if_else(alb_ok, _scatter(js, alb_ok), json_col)
    if pc.any(clb_ok_rest).as_py():
        kept = clb_ext_rest.filter(clb_ok_rest)
        js = arrow_ndjson(list(CLASSIC_FIELDS), list(kept.flatten()))
        json_col = pc.if_else(clb_ok, _scatter(js, clb_ok), json_col)
    return sink, json_col


def route_json_arrow(text: pa.Array) -> tuple[pa.Array, pa.Array]:
    """(sink, json) for one Arrow string array, both dialects, one pass.

    Repeated lines are parsed ONCE per batch (_dict_unique hash-consing —
    route/extract/serialize are pure per-line functions); per-distinct
    work is _route_json_unique. json is null for malformed rows."""
    text = _as_string_array(text)
    idx, uniq = _dict_unique(text)
    sink, json_col = _route_json_unique(uniq)
    if idx is None:
        return sink, json_col
    return (
        pc.fill_null(sink.take(idx), pa.scalar(SINK_MALFORMED)),
        json_col.take(idx),
    )


def routed_json_both(
    df: DataFrame,
    text_col: str = "text",
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

    ``with_diag`` additionally emits the dead-letter diagnosis columns
    (nearest_dialect, fields_ok, failed_position — deadletter.py), computed
    inside the same pass on ONLY the malformed rows (the reference's
    error fast-path asymmetry: diagnosis work scales with the dead-letter
    rate, not the input, alb.rs:199-203 / main.rs:230-245).

    Replaces the round-1 three-stage shape (with_sink + 2×
    routed_dialect_json): one Python-worker wave instead of three, and
    ~2.5× less regex work per line.
    """
    cols = passthrough if passthrough is not None else [
        c for c in df.columns if c != text_col
    ]
    src = df.select(*cols, text_col)
    out_fields = [src.schema[c] for c in cols] + [
        T.StructField("sink", T.StringType(), False),
        T.StructField("json", T.StringType(), True),
        T.StructField("mal_text", T.StringType(), True),
    ]
    names = [*cols, "sink", "json", "mal_text"]
    if with_diag:
        out_fields += [
            T.StructField("nearest_dialect", T.StringType(), True),
            T.StructField("fields_ok", T.IntegerType(), True),
            T.StructField("failed_position", T.IntegerType(), True),
        ]
        names += ["nearest_dialect", "fields_ok", "failed_position"]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            text = _as_string_array(batch.column(len(cols)))
            sink, json_col = route_json_arrow(text)
            mal_mask = pc.equal(sink, pa.scalar(SINK_MALFORMED))
            if fail_fast and pc.any(mal_mask).as_py():
                # reference strict semantics: abort at the FIRST malformed
                # line mid-stream (main.rs:194-203), with the reference's
                # error text (parse.rs:8). Earlier batches' output may
                # already be emitted — exactly like the CLI, which has
                # already written parsed lines to stdout when it aborts.
                first = text.filter(mal_mask)[0].as_py()
                raise ParseAbort(
                    f"{PARSE_ABORT_SENTINEL}Invalid log line: {first}"
                )
            if keep_malformed_text:
                mal = pc.if_else(mal_mask, text, _NULL_STR)
            else:
                mal = pa.nulls(len(text), pa.string())
            extra: list[pa.Array] = []
            if with_diag:
                from elb_pipeline.deadletter import diagnose_arrow

                kept = text.filter(mal_mask)
                if len(kept):
                    extra = [
                        _scatter(c, mal_mask)
                        for c in diagnose_arrow(kept, positions=diag_positions)
                    ]
                else:
                    extra = [
                        pa.nulls(len(text), pa.string()),
                        pa.nulls(len(text), pa.int32()),
                        pa.nulls(len(text), pa.int32()),
                    ]
            yield pa.RecordBatch.from_arrays(
                [*batch.columns[: len(cols)], sink, json_col, mal, *extra],
                names=names,
            )

    return src.mapInArrow(gen, T.StructType(out_fields))


# ---------------------------------------------------------------------------
# per-dialect extraction
# ---------------------------------------------------------------------------


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


def _extract_alb_children(text: pa.Array) -> list[pa.Array]:
    idx, uniq = _dict_unique(text)
    children = _extract_alb_children_u(uniq)
    if idx is None:
        return children
    return [c.take(idx) for c in children]


def _extract_clb_children(text: pa.Array) -> list[pa.Array]:
    idx, uniq = _dict_unique(text)
    children = _extract_clb_children_u(uniq)
    if idx is None:
        return children
    return [c.take(idx) for c in children]


# ---------------------------------------------------------------------------
# full both-dialect struct (golden tests, wide queries)
# ---------------------------------------------------------------------------


def parse_arrow_text(text: pa.Array) -> tuple[pa.Array, pa.StructArray]:
    """(sink, full 52-field parsed struct) for one Arrow string array."""
    text = _as_string_array(text)
    alb = pc.extract_regex(text, pattern=ALB_NAMED_PATTERN)
    clb = pc.extract_regex(text, pattern=CLASSIC_NAMED_PATTERN)
    alb_ok = pc.is_valid(alb)
    clb_ok = pc.and_(pc.is_valid(clb), pc.invert(alb_ok))

    sink = pc.if_else(
        alb_ok,
        pa.scalar(SINK_ALB),
        pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
    )

    alb_children = list(alb.flatten())
    tid_i = len(ALB_FIELDS) - 1
    alb_children[tid_i] = pc.if_else(
        pc.equal(alb_children[tid_i], pa.scalar("")), _NULL_STR, alb_children[tid_i]
    )
    # enforce routing precedence on the classic side (disjoint grammars,
    # but null-out classic fields for rows already routed to alb)
    clb_children = [pc.if_else(alb_ok, _NULL_STR, c) for c in clb.flatten()]

    children = [sink, *alb_children, *clb_children]
    children = [
        c.cast(pa.string()) if c.type != pa.string() else c for c in children
    ]
    return sink, pa.StructArray.from_arrays(children, names=PARSED_FIELDS)


def with_parsed(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add full ``parsed`` struct (both dialects) + top-level ``sink``."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("parsed", PARSED_SCHEMA, True),
            T.StructField("sink", T.StringType(), True),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            idx = batch.schema.get_field_index(text_col)
            sink, parsed = parse_arrow_text(batch.column(idx))
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, parsed, sink],
                names=[*batch.schema.names, "parsed", "sink"],
            )

    return df.mapInArrow(gen, out_schema)


# ---------------------------------------------------------------------------
# pandas path (engine-independent reference implementation)
# ---------------------------------------------------------------------------

_N_ALB = len(ALB_FIELDS)
_N_CLB = len(CLASSIC_FIELDS)
_N_COLS = 1 + _N_ALB + _N_CLB
_ALB_SLICE = slice(1, 1 + _N_ALB)
_CLB_SLICE = slice(1 + _N_ALB, _N_COLS)


def parse_route_batch(text: pd.Series) -> pd.DataFrame:
    """Parse + route one batch with Python ``re`` (pure pandas).

    ``rx.match(...).groups()`` in a tight loop measures ~20× faster than
    ``Series.str.extract`` for these 33-group patterns, but per-row
    PyObject churn collapses under full-machine parallelism (57k →
    18k rows/s/core at 32 workers); kept as the reference implementation
    the Arrow path is asserted against, and for pandas-level unit tests.
    """
    # fullmatch, not match: Python's $ also matches before a trailing
    # newline — fullmatch keeps the Python path byte-agreeing with RE2
    # (Arrow path, DuckDB oracle) on "line\n\n" inputs.
    alb_match = ALB.regex.fullmatch
    clb_match = CLASSIC.regex.fullmatch
    n = len(text)
    sinks = np.empty(n, dtype=object)
    alb_pos: list[int] = []
    alb_groups: list[tuple] = []
    clb_pos: list[int] = []
    clb_groups: list[tuple] = []
    for i, x in enumerate(text):
        m = alb_match(x) if isinstance(x, str) else None
        if m is not None:
            sinks[i] = SINK_ALB
            alb_pos.append(i)
            alb_groups.append(m.groups())
            continue
        m = clb_match(x) if isinstance(x, str) else None
        if m is not None:
            sinks[i] = SINK_CLASSIC
            clb_pos.append(i)
            clb_groups.append(m.groups())
        else:
            sinks[i] = SINK_MALFORMED
    arr = np.full((n, _N_COLS), None, dtype=object)
    arr[:, 0] = sinks
    if alb_pos:
        arr[np.asarray(alb_pos), _ALB_SLICE] = np.array(alb_groups, dtype=object)
    if clb_pos:
        arr[np.asarray(clb_pos), _CLB_SLICE] = np.array(clb_groups, dtype=object)
    return pd.DataFrame(arr, columns=PARSED_FIELDS, index=text.index)


_parse_udf = F.pandas_udf(parse_route_batch, PARSED_SCHEMA)


def with_parsed_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """pandas-UDF variant of :func:`with_parsed` (for benchmarks/tests)."""
    return df.withColumn("parsed", _parse_udf(F.col(text_col))).withColumn(
        "sink", F.col("parsed.sink")
    )


def alb_field(name: str) -> Column:
    return F.col(f"parsed.alb_{name}").alias(name)


def classic_field(name: str) -> Column:
    return F.col(f"parsed.clb_{name}").alias(name)
