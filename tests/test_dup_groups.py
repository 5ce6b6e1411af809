"""``dedup.dup_groups`` — min-label propagation over verified pairs —
against a Python union-find, and the Spark job count of its fixpoint loop."""

from __future__ import annotations

import pytest

from elb_pipeline.dedup import dup_groups


def _path(n: int, start: int = 0) -> list[tuple[int, int]]:
    return [(start + i, start + i + 1) for i in range(n - 1)]


GRAPHS = {
    "path16": _path(16),
    "pairs10": [(2 * i, 2 * i + 1) for i in range(10)],
    # the path's far end is its min id; the star hangs off a large id
    "path_and_star": _path(6, start=100) + [(50, 60 + i) for i in range(8)],
}


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "a_id long, b_id long")


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("ELB_MAT_CACHE", str(tmp_path / "cache"))


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_groups_match_union_find(spark, cache, name):
    pairs = GRAPHS[name]
    groups = dup_groups(_pairs_df(spark, pairs), cache_key=name)
    got = {r.doc_id: r.group_id for r in groups.collect()}
    assert got == _union_find(pairs)


def test_path_job_count(spark, cache):
    """A 16-node path needs 15 propagation rounds; each round's fixpoint
    check scans that round's checkpoint instead of joining it against the
    previous labels, which keeps the whole call under 100 Spark jobs."""
    sc = spark.sparkContext
    pairs = _pairs_df(spark, GRAPHS["path16"])
    sc.setLocalProperty("spark.jobGroup.id", "dup_groups-path16")
    try:
        groups = dup_groups(pairs, cache_key="path16")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("dup_groups-path16"))
    assert {r.group_id for r in groups.collect()} == {0}
    assert 0 < n_jobs <= 100, f"{n_jobs} Spark jobs for a 16-node path"
