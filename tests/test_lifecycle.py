"""Persist lifecycle: queries must not leak persisted RDDs into a
long-lived session (VERDICT r2 #4). Materialized intermediates go through
matcache (parquet write + read-back); the only transient persists
(dup_groups' pairs/edges) are unpersisted before the function returns."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in m.keySet().toArray()}


def test_no_new_persisted_rdds_after_queries(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    before = _persistent_ids(spark)
    for name in ("minhash_lsh_pairs", "simhash_near_dup", "embedding_near_dup"):
        qs[name](spark, SF_DIR).count()
    after = _persistent_ids(spark)
    assert after - before == set(), f"leaked persisted RDDs: {after - before}"


def test_dup_groups_unpersists_inputs(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    before = _persistent_ids(spark)
    qs["minhash_lsh_groups"](spark, SF_DIR).count()
    # dup_groups materializes its converged labels to parquet and releases
    # EVERYTHING it persisted (pairs/edges caches + every iteration's
    # localCheckpoint) — nothing may survive the call.
    leaked = _persistent_ids(spark) - before
    assert leaked == set(), f"persisted RDDs leaked by dup_groups: {leaked}"


def test_dup_groups_leaves_foreign_caches_alone(spark):
    """The cleanup sweep is scoped to RDDs dup_groups itself created: a
    cache persisted by another query/thread sharing the session must
    survive the call (ADVICE r3 — a blanket since-entry diff would
    silently unpersist it and cause surprise recomputation)."""
    import __spark_entry__ as entry_mod

    foreign = spark.range(100).persist()
    foreign.count()  # actually materialized
    try:
        qs = entry_mod.queries()
        qs["minhash_lsh_groups"](spark, SF_DIR).count()
        assert foreign.storageLevel.useMemory, "foreign cache was unpersisted"
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        ids = {k for k in jmap.keySet().toArray()}
        assert any(
            jmap.get(i) is not None and jmap.get(i).getStorageLevel().useMemory()
            for i in ids
        ), "foreign cache no longer persisted on the context"
    finally:
        foreign.unpersist()


def test_matcache_params_token_busts_stale_cache(spark, tmp_path, monkeypatch):
    """Changing the algorithm params must MISS the old cache entry instead
    of serving parquet computed by the previous version of the logic
    (ADVICE r3): same key + different params → different directory."""
    from elb_pipeline.matcache import cached

    monkeypatch.setenv("ELB_MAT_CACHE", str(tmp_path / "cache"))
    got1 = cached(spark, "k", ("threshold", 0.5), lambda: spark.range(3).toDF("x"))
    assert sorted(r["x"] for r in got1.collect()) == [0, 1, 2]

    def v2():  # "new logic" produces different rows
        return spark.range(5).toDF("x")

    # same params → cache HIT: still the old 3 rows
    hit = cached(spark, "k", ("threshold", 0.5), v2)
    assert hit.count() == 3
    # changed params → MISS: the new frame is materialized
    miss = cached(spark, "k", ("threshold", 0.7), v2)
    assert miss.count() == 5


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["doc_pool", "dup_groups"])
def test_keyed_second_call_is_cache_hit(spark, tmp_path, monkeypatch, name):
    """A second call with the same key never calls its builder and runs
    no Spark job beyond reading the cached directory back (parquet schema
    inference is itself one job) — for the eager dup_groups fixpoint loop
    as much as for the lazy doc pool."""
    from elb_pipeline import dedup, matcache

    monkeypatch.setenv("ELB_MAT_CACHE", str(tmp_path / "cache"))
    builds = []

    def spy(spark_, key, params, build):
        def counted():
            builds.append(key)
            return build()

        return matcache.cached(spark_, key, params, counted)

    monkeypatch.setattr(dedup, "cached", spy)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a_id long, b_id long")

    def call():
        if name == "doc_pool":
            return dedup.materialized_doc_pool(docs, "hit")
        return dedup.dup_groups(pairs, cache_key="hit")

    out = []
    group = f"hit-{tmp_path.name}"
    n_miss = _jobs_in(spark, f"{group}-miss", lambda: out.append(call()))
    n_hit = _jobs_in(spark, f"{group}-hit", lambda: out.append(call()))
    path = matcache.cache_path(f"{name}_hit", dedup.algo_params())
    n_read = _jobs_in(spark, f"{group}-read", lambda: spark.read.parquet(path))
    assert builds == [f"{name}_hit"]
    assert n_hit == n_read < n_miss, (n_miss, n_hit, n_read)
    assert sorted(out[1].collect()) == sorted(out[0].collect())
