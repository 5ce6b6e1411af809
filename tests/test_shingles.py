"""``dedup._shingles()`` — the one Spark definition of word-3-gram shingles
every dedup path and shingling driver query uses — against its Python
twin, plus a plan guard that keeps the per-row work linear in the word
count."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod
from elb_pipeline.dedup import _shingles, doc_pool, with_signatures
from tests.conftest import SF_DIR

CASES = [
    "",
    "a",
    "a b",
    "a b c",
    "a  b c",
    " a b c ",
    None,
    " ".join(f"w{i % 37}" for i in range(300)),
]


def _py_shingles(text: str | None) -> list[str]:
    if text is None:
        return []
    ws = text.split(" ")
    return [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]


def test_shingles_match_python_twin(spark):
    df = spark.createDataFrame(
        list(enumerate(CASES)), "doc_id long, text string"
    )
    got = {r.doc_id: r.sh for r in df.select("doc_id", _shingles().alias("sh")).collect()}
    for i, text in enumerate(CASES):
        assert got[i] == _py_shingles(text), f"case {text!r}"


def _balanced_spans(plan: str, opener: str) -> list[str]:
    """Every ``opener(...)`` call in ``plan``, up to its matching paren."""
    spans = []
    for m in re.finditer(re.escape(opener), plan):
        depth = 0
        for end in range(m.end() - 1, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        spans.append(plan[m.start() : end + 1])
    return spans


def _assert_splits_outside_lambdas(df):
    """A split inside the transform lambda re-splits the text once per
    shingle, which makes shingling quadratic in the word count."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lambdas = _balanced_spans(plan, "lambdafunction(")
    assert lambdas, "no lambda in the plan — guard is vacuous"
    assert "split(" in plan
    inner = [span for span in lambdas if "split(" in span]
    assert not inner, f"split( inside a lambda: {inner[0][:200]}"


def test_signature_plan_splits_outside_lambdas(spark):
    pool = doc_pool(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    _assert_splits_outside_lambdas(with_signatures(pool))


@pytest.mark.parametrize(
    "query", ["ngram_profile", "repetition_scores", "doc_fingerprint"]
)
def test_query_plan_splits_outside_lambdas(spark, query):
    """The driver queries that shingle documents use the same linear
    ``_shingles()``."""
    _assert_splits_outside_lambdas(entry_mod.queries()[query](spark, SF_DIR))

