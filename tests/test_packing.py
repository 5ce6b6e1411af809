"""Sequence packing + per-language quota: invariants the oracle-parity
test can't see (the packing arithmetic's internal consistency, a quota
cap that actually binds) — the DuckDB value parity itself runs in
tests/test_entry_oracle.py like every other oracled query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elb_pipeline.packing import (
    SEQ_LEN,
    lang_quota,
    n_tokens_expr,
    sequence_pack,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def packed(docs):
    df = sequence_pack(docs).cache()
    yield df
    # unpersist, or the session-wide cache substitutes an InMemoryRelation
    # into test_plans' identical plan and doubles its explain output
    df.unpersist()


def test_every_sequence_full_except_last(packed):
    max_seq = packed.agg(F.max("seq_id")).first()[0]
    bad = packed.where(
        (F.col("seq_id") != max_seq) & (F.col("n_tokens") != SEQ_LEN)
    ).count()
    assert bad == 0
    last = packed.where(F.col("seq_id") == max_seq).first()
    assert 1 <= last["n_tokens"] <= SEQ_LEN


def test_sequence_ids_contiguous_from_zero(packed):
    n = packed.count()
    mn, mx = packed.agg(F.min("seq_id"), F.max("seq_id")).first()
    assert (mn, mx) == (0, n - 1)


def test_total_tokens_conserved(packed, docs):
    total_docs = docs.select(n_tokens_expr().alias("nt")).agg(
        F.sum("nt")
    ).first()[0]
    total_seqs = packed.agg(F.sum("n_tokens")).first()[0]
    assert total_seqs == total_docs


def test_doc_ranges_nest_across_sequences(packed):
    """Packing in doc_id order: a sequence's first_doc must not precede
    the previous sequence's last_doc (boundary docs straddle, so equality
    is expected; inversion would mean the order broke)."""
    rows = sorted(packed.collect(), key=lambda r: r["seq_id"])
    for prev, cur in zip(rows, rows[1:]):
        assert cur["first_doc"] >= prev["last_doc"]
        assert cur["first_doc"] <= cur["last_doc"]


def test_lang_quota_cap_binds(docs):
    # at sf0.001 every language exceeds the quota — the cap must bind
    rows = lang_quota(docs).collect()
    per_lang = {}
    for r in rows:
        per_lang[r[0]] = per_lang.get(r[0], 0) + 1
    assert per_lang and all(n == 40 for n in per_lang.values()), per_lang
