"""Cross-path dedup parity: the AllPairs prefix-filter join is proved
recall-COMPLETE against a brute-force all-pairs Jaccard oracle (feasible at
sf0.001: ~170k candidate pairs), and the other two near-dup paths (banded
MinHash-LSH, df-capped rare-shingle) are proved sound subsets of it.

This is the test that pins the semantics triangle:

    brute force == prefix_jaccard_pairs  (exactness, by AllPairs theorem)
    rare_shingle_pairs  <=  prefix       (df-cap clique blind spot is the
                                          ONLY gap — measured 10 pairs at
                                          sf0.001, all in one 5-doc clique)
    minhash_lsh pairs   <=  prefix       (LSH verifies exact Jaccard on
                                          candidates, so no false pairs)
"""

from __future__ import annotations

import os

import pytest

from elb_pipeline.dedup import (
    JACCARD_THRESHOLD,
    _SHINGLES_SQL,
    doc_pool,
    doc_pool_cte,
    prefix_jaccard_pairs,
    rare_shingle_pairs,
    with_signatures,
)
from tests.conftest import SF_DIR


def _brute_force_sql() -> str:
    """All-pairs exact Jaccard over doc_pool — the ground truth (O(n^2),
    test-scale only)."""
    sh_expr = _SHINGLES_SQL.replace("ws", "string_split(text, ' ')")
    jac = (
        "CAST(length(list_intersect(a.shs, b.shs)) AS DOUBLE) / "
        "length(list_distinct(a.shs || b.shs))"
    )
    return (
        f"WITH {doc_pool_cte()}, "
        f"sets AS (SELECT doc_id, list_distinct({sh_expr}) AS shs "
        "FROM doc_pool WHERE length(string_split(text, ' ')) >= 3) "
        f"SELECT a.doc_id AS a_id, b.doc_id AS b_id, round({jac}, 4) AS jaccard "
        "FROM sets a JOIN sets b ON a.doc_id < b.doc_id "
        f"WHERE round({jac}, 4) >= {JACCARD_THRESHOLD}"
    )


@pytest.fixture(scope="module", autouse=True)
def cache(tmp_path_factory):
    """Every path here writes its materialized tables into a fresh cache."""
    mp = pytest.MonkeyPatch()
    path = tmp_path_factory.mktemp("cache")
    mp.setenv("ELB_MAT_CACHE", str(path))
    yield path
    mp.undo()


@pytest.fixture(scope="module")
def pool(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return doc_pool(docs)


def _assert_reads_signature_table(cache):
    """The exact paths project their shingle rows and verify sets from the
    materialized signature table and write no shingle table of their own."""
    entries = sorted(os.listdir(cache))
    assert any(e.startswith("minhash_sigs_parity-v") for e in entries), entries
    assert not [e for e in entries if e.startswith(("shingle_rows_", "shingle_sets_"))]


@pytest.fixture(scope="module")
def truth(duck):
    rows = duck.execute(_brute_force_sql()).fetchall()
    pairs = {(a, b, j) for a, b, j in rows}
    assert pairs, "brute-force oracle found no near-dup pairs — fixture broken"
    return pairs


def _pairs(df) -> set:
    return {(r.a_id, r.b_id, r.jaccard) for r in df.collect()}


def test_prefix_filter_is_exact(pool, truth, cache):
    got = _pairs(prefix_jaccard_pairs(pool, cache_key="parity"))
    assert got == truth, (
        f"prefix filter diverges from brute force: "
        f"missing={sorted(truth - got)[:5]} extra={sorted(got - truth)[:5]}"
    )
    _assert_reads_signature_table(cache)


def test_rare_path_is_sound_subset(pool, truth, cache):
    got = _pairs(rare_shingle_pairs(pool, cache_key="parity"))
    assert got <= truth, f"rare path emitted false pairs: {sorted(got - truth)[:5]}"
    _assert_reads_signature_table(cache)
    # the documented blind spot: any miss must be inside a dup clique wider
    # than RARE_DF_MAX — i.e. both endpoints of a missed pair appear in
    # OTHER true pairs (no isolated pair is ever missed)
    clique_docs = {d for a, b, _ in truth for d in (a, b)}
    for a, b, _ in truth - got:
        assert a in clique_docs and b in clique_docs


def test_lsh_path_is_sound_subset(spark, truth):
    import __spark_entry__ as entry_mod

    got = _pairs(entry_mod.queries()["minhash_lsh_pairs"](spark, SF_DIR))
    assert got <= truth, f"LSH emitted false pairs: {sorted(got - truth)[:5]}"


def test_cached_paths_equal_uncached(pool, tmp_path, monkeypatch):
    """With a ``cache_key`` both exact-Jaccard paths take their shingle
    rows and verify sets from the materialized signature table; they must
    return the same pairs as when that table is the lazy, never-written
    ``with_signatures`` frame, and write no shingle table of their own."""
    import elb_pipeline.dedup as dedup_mod

    cache = tmp_path / "cache"
    monkeypatch.setenv("ELB_MAT_CACHE", str(cache))
    paths = (prefix_jaccard_pairs, rare_shingle_pairs)
    cached_rows = [_pairs(path(pool, cache_key="parity")) for path in paths]
    _assert_reads_signature_table(cache)

    written = sorted(os.listdir(cache))
    monkeypatch.setattr(
        dedup_mod, "materialized_signatures", lambda pool, cache_key: with_signatures(pool)
    )
    for path, got in zip(paths, cached_rows):
        assert got == _pairs(path(pool, cache_key="parity")), path.__name__
    assert sorted(os.listdir(cache)) == written
