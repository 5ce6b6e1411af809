"""Source-mixture sampler: the invariants the oracle-parity test can't
see (rate algebra, binding source, determinism) plus the plan audit —
value parity itself runs in tests/test_entry_oracle.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from elb_pipeline.mixture import source_mixture, source_rates
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def mix(docs):
    return source_mixture(docs).toPandas().sort_values("source")


def test_binding_source_keeps_everything(mix):
    """≥1 source sits at rate 1.0 (it bounds the achievable budget) and
    the hash gate — frac ∈ [0,1) — keeps all of its docs and tokens."""
    binding = mix[mix["rate_6"] == 1.0]
    assert len(binding) >= 1
    assert (binding["n_kept"] == binding["n_total"]).all()
    assert (binding["tok_kept"] == binding["tok_total"]).all()


def test_rate_algebra_recovers_constant_budget(docs):
    """r = w·B/T  ⇒  r·T/w is the SAME budget B for every source — an
    exact algebraic identity of the decomposition, not a statistical one.
    Recompute w from the source-name weight rule and invert."""
    rates = source_rates(docs).toPandas()
    u = rates["source"].str.slice(3).astype(int) % 3 + 1
    w = u / u.sum()
    budget = rates["rate"] * rates["tok_total"] / w
    assert np.allclose(budget, budget.iloc[0], rtol=1e-12)
    # and B really is the min over T/w (the binding source's capacity)
    assert np.isclose(budget.iloc[0], (rates["tok_total"] / w).min())


def test_kept_never_exceeds_total(mix):
    assert (mix["n_kept"] <= mix["n_total"]).all()
    assert (mix["tok_kept"] <= mix["tok_total"]).all()
    assert (mix["rate_6"] <= 1.0).all() and (mix["rate_6"] > 0.0).all()


def test_deterministic_across_runs(docs, mix):
    again = source_mixture(docs).toPandas().sort_values("source")
    assert mix.reset_index(drop=True).equals(again.reset_index(drop=True))


def test_curriculum_buckets_are_exact_quartiles(docs):
    """With no ties at the cut points (sf0.001 has 500 distinct-ish
    lengths), the four buckets must split the corpus into exact quarters;
    bucket ranges must be disjoint and ordered."""
    from elb_pipeline.mixture import curriculum_bins

    rows = {
        r["bucket"]: r
        for r in curriculum_bins(docs).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    n = docs.count()
    sizes = [rows[b]["n_docs"] for b in range(4)]
    # discrete quantiles: each bucket within one tie-group of n/4
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= max(1, n // 50)
    for b in range(3):
        assert rows[b]["max_chars"] < rows[b + 1]["min_chars"]


def test_curriculum_ties_stay_together(spark):
    """All docs sharing one n_chars value land in ONE bucket (the lookup
    is per-value): force heavy ties and check no value straddles."""
    from elb_pipeline.mixture import bucket_lut

    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("n_chars"),  # 7 distinct values, ~143 each
    )
    lut = bucket_lut(d).collect()
    assert len(lut) == 7  # one row per value — a value maps to one bucket
    buckets = [r["bucket"] for r in sorted(lut, key=lambda r: r["n_chars"])]
    assert buckets == sorted(buckets) and set(buckets) <= {0, 1, 2, 3}


def test_mixture_plan_broadcasts_rates(spark):
    """The S-row rates side must broadcast (never sort-merge the corpus)
    and the only SinglePartition exchange feeds the per-source aggregate
    (the O(#sources) budget arithmetic), not a corpus scan."""
    import io
    import contextlib

    import __spark_entry__ as entry_mod

    df = entry_mod.q_source_mixture(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    lines = p.splitlines()
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert len(single) == 1, p
    assert "HashAggregate" in lines[single[0] + 1], p


def test_leakproof_split_no_pair_straddles(spark):
    """The load-bearing property: no verified near-dup pair may straddle
    splits. Negative control: the NAIVE per-doc hash split DOES straddle
    on the same pairs — proving the group-representative key is what
    prevents the leak, not luck."""
    import __spark_entry__ as entry_mod
    from elb_pipeline.dedup import (
        doc_pool,
        materialized_signatures,
        verified_pairs,
    )
    from elb_pipeline.mixture import hash_frac

    split = entry_mod.q_leakproof_split(spark, SF_DIR)
    pool = doc_pool(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    _, key = entry_mod._doc_pool(spark, SF_DIR)
    pairs = verified_pairs(materialized_signatures(pool, cache_key=key)).select(
        "a_id", "b_id"
    )
    a = split.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
        "split", "a_split"
    )
    b = split.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
        "split", "b_split"
    )
    joined = pairs.join(a, "a_id").join(b, "b_id")
    assert joined.where(F.col("a_split") != F.col("b_split")).count() == 0
    # negative control: naive split on the raw doc_id hash leaks
    frac = hash_frac(F.col("doc_id"))
    naive = pool.select(
        "doc_id",
        F.when(frac < 0.8, "train")
        .when(frac < 0.9, "val")
        .otherwise("test")
        .alias("split"),
    )
    na = naive.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
        "split", "a_split"
    )
    nb = naive.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
        "split", "b_split"
    )
    leaked = (
        pairs.join(na, "a_id").join(nb, "b_id")
        .where(F.col("a_split") != F.col("b_split"))
        .count()
    )
    assert leaked > 0, "fixture has no cross-split pairs to guard against"
    # and the proportions stay in a loose 80/10/10 band
    dist = {r["split"]: r["count"] for r in split.groupBy("split").count().collect()}
    n = sum(dist.values())
    assert 0.7 < dist["train"] / n < 0.9
    assert dist.get("val", 0) > 0 and dist.get("test", 0) > 0


def test_curriculum_plan_no_nested_loop(spark):
    """The bucket lookup joins on the REAL key n_chars: BroadcastHashJoin,
    never the BroadcastNestedLoopJoin a folded constant-key join (or
    crossJoin) would plan; the only SinglePartition exchange feeds the
    O(distinct-values) CDF window."""
    import io
    import contextlib

    import __spark_entry__ as entry_mod

    df = entry_mod.q_curriculum_bins(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert p.count("Exchange SinglePartition") == 1, p
