"""Per-conversation document assembly: the chunked two-stage form must
equal a plain-Python (direct, single-stage) reconstruction — including
on a skewed fixture where one hot conversation spans many stage-1
chunks. The cross-engine face of the same claim is the driver oracle
(``conversation_assembly``: Spark runs the CHUNKED form, DuckDB
recomputes the DIRECT ``string_agg``)."""

from __future__ import annotations

import hashlib

import pytest

from elb_pipeline.aggregate import assemble_conversations_chunked


@pytest.fixture(scope="module")
def skewed(spark):
    # hot conversation: 533 turns (spans many chunk=7 segments, including
    # a partial tail chunk); cold ones: 1..4 turns; turn numbering starts
    # at 0 or 1 and has gaps, so chunk boundaries don't align with counts
    rows = []
    for i in range(533):
        rows.append(("hot", 3 * i + 1, f"hot turn {i} text"))
    for c in range(9):
        for i in range((c % 4) + 1):
            rows.append((f"cold-{c}", i, f"cold {c} turn {i}"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).repartition(8)  # scatter each conversation across input partitions
    return rows, df


def _expected(rows):
    by_conv: dict = {}
    for c, i, t in rows:
        by_conv.setdefault(c, []).append((i, t))
    out = {}
    for c, parts in by_conv.items():
        parts.sort()
        doc = "\n".join(t for _, t in parts)
        out[c] = (
            len(parts),
            len(doc),
            hashlib.md5(doc.encode()).hexdigest(),
        )
    return out


def _collect(df):
    return {
        r["conv_id"]: (r["n_turns"], r["n_chars"], r["doc_md5"])
        for r in df.collect()
    }


def test_chunked_matches_direct_small_chunks(skewed):
    rows, df = skewed
    got = _collect(assemble_conversations_chunked(df, chunk=7))
    assert got == _expected(rows)
    # default chunk (1024): hot conv has max turn_idx 1597 → 2 chunks
    assert _collect(assemble_conversations_chunked(df)) == got


def test_chunked_two_shuffle_shape(skewed):
    # stage 1 groups on (conv_id, seg), stage 2 on conv_id — two hash
    # aggregates, two exchanges, NO sort-based global ordering
    _, df = skewed
    plan = assemble_conversations_chunked(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
