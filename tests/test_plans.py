"""Physical-plan audits: the properties that make these operators hold at
100 TB must be visible in the optimized plan, not just asserted in prose.

- dimension joins broadcast (never sort-merge-shuffle the fact side)
- parquet scans prune columns (ReadSchema) and push filters
- aggregations are partial-first (two HashAggregate levels)
- the fused Arrow operator receives only the columns it was given
- every parse-family query keeps the Arrow-boundary shape pinned in
  plans/r06/ (MapInArrow count, scan columns, Arrow input/output columns)
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "plans", "r06")

PARSE_FAMILY = [
    "parse_route_counts",
    "route_sets",
    "parse_alb_fields",
    "parse_classic_fields",
    "latency_percentiles",
    "url_domain_topk",
    "alb_json_lines",
    "classic_json_lines",
    "enrich_rollup",
    "agg_sink_day_bucket",
    "agg_salted",
    "dead_letter_rows",
    "dead_letter_diag",
    "ndjson_ordered_lines",
    "ndjson_sharded_lines",
]


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def arrow_boundary(plan: str) -> tuple[int, list[str], list[str]]:
    """(MapInArrow count, ReadSchema lines, MapInArrow Arguments lines) of a
    formatted plan, with expression ids stripped so plans captured at any
    scale or session compare equal."""
    plan = re.sub(r"#\d+", "", plan)
    nodes = [n for n in plan.split("\n\n") if re.match(r"\(\d+\) MapInArrow\b", n)]
    args = [l for n in nodes for l in n.splitlines() if l.startswith("Arguments:")]
    schemas = [l for l in plan.splitlines() if l.startswith("ReadSchema:")]
    return len(nodes), schemas, args


@pytest.mark.parametrize("name", PARSE_FAMILY)
def test_parse_family_plan_matches_r06(spark, name):
    """No parse-family query gains or loses a MapInArrow, widens its scan,
    or changes the columns that cross the Arrow boundary either way."""
    with open(os.path.join(PLANS_DIR, f"{name}_after.txt")) as fh:
        want = arrow_boundary(fh.read())
    got = arrow_boundary(plan_of(entry_mod.queries()[name](spark, SF_DIR)))
    assert want[0] > 0
    assert got == want


def test_enrich_joins_are_broadcast(spark):
    p = plan_of(entry_mod.q_enrich_rollup(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_enrich_dims_are_local_tables(spark):
    """Both dims broadcast a JVM LocalTableScan: no scan of a Python-backed
    RDD, so building the broadcasts starts no Python worker."""
    p = plan_of(entry_mod.q_enrich_rollup(spark, SF_DIR), "extended")
    assert p.count("LocalTableScan") >= 2
    assert "ExistingRDD" not in p and "applySchemaToPythonRDD" not in p


def test_orders_customer_join_is_broadcast(spark):
    p = plan_of(entry_mod.q_orders_customer_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_tpch_q1_filter_pushdown(spark):
    p = plan_of(entry_mod.q_tpch_q1(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_doc_quality_scan_prunes_columns(spark):
    # the documents table has (doc_id, text, lang, source, n_chars); the
    # query reads 3 of them — the scan must not fetch the rest
    p = plan_of(entry_mod.q_doc_quality(spark, SF_DIR))
    assert "source" not in p.split("ReadSchema")[1].splitlines()[0]
    assert "n_chars" not in p.split("ReadSchema")[1].splitlines()[0]


def test_aggregates_are_partial_first(spark):
    # partial (map-side) + final HashAggregate pair around the exchange
    p = plan_of(entry_mod.q_agg_sink_day_bucket(spark, SF_DIR))
    assert p.count("HashAggregate") >= 2


def test_fused_operator_input_is_pruned(spark):
    """routed_json_both selects its passthrough + text BEFORE the Python
    map, so the parquet scan reads only those columns even though Catalyst
    cannot prune THROUGH the map operator itself."""
    from elb_pipeline.parse import routed_json_both
    from elb_pipeline.synth import transcripts_cached

    t = transcripts_cached(spark, SF_DIR)
    routed = routed_json_both(t, passthrough=["conv_id", "ts"])
    p = plan_of(routed.groupBy("sink").count())
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "conv_id" in read_schema
    for unused in ("role", "tool", "turn_idx"):
        assert unused not in read_schema


def test_sharded_export_has_no_single_partition_exchange(spark):
    """ndjson_sharded_lines is the SCALE-OUT ordered export: its window
    partitions by shard, so the plan must contain no single-partition
    exchange (the ordered single-stream variant has one by design)."""
    p = plan_of(entry_mod.q_ndjson_sharded_lines(spark, SF_DIR), mode="simple")
    assert "SinglePartition" not in p
    ordered = plan_of(
        entry_mod.q_ndjson_ordered_lines(spark, SF_DIR), mode="simple"
    )
    assert "SinglePartition" in ordered  # the contrast that motivates it


def test_sequence_pack_prefix_sum_is_sharded(spark):
    """The two-phase prefix sum: the corpus-side cumsum window partitions
    by shard (parallel), and the plan's ONLY SinglePartition exchange
    feeds the O(n_shards)-row subtotal prefix — its child must be the
    shard HashAggregate, never a scan or the doc-level window."""
    p = plan_of(entry_mod.q_sequence_pack(spark, SF_DIR), mode="simple")
    lines = p.splitlines()
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert len(single) == 1, p
    assert "HashAggregate" in lines[single[0] + 1], p
    # corpus cumsum runs under a shard-partitioned window, broadcast-joined
    assert "windowspecdefinition(shard" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_lang_quota_window_prunes_map_side(spark):
    """Spark 4's WindowGroupLimit must plant the Partial (map-side)
    top-QUOTA prune BELOW the exchange — the property that makes the
    direct per-lang window skew-resistant (packing.py docstring). If an
    upgrade ever drops the rule, this trips and lang_quota needs a manual
    two-stage prune (rank within (lang, input partition), then re-rank
    the survivors)."""
    p = plan_of(entry_mod.q_lang_quota(spark, SF_DIR), mode="simple")
    lines = p.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exchange = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert len(partial) == 1 and len(exchange) == 1, p
    assert partial[0] > exchange[0], p  # deeper in the tree = before the shuffle


def test_sessions_batch_single_shuffle_on_conv_id(spark):
    """Batch sessionization: both windows and the final groupBy share the
    conv_id partitioning — exactly ONE exchange in the plan."""
    p = plan_of(
        entry_mod.q_conversation_sessions_batch(spark, SF_DIR), mode="simple"
    )
    assert p.count("Exchange") == 1, p


def test_incremental_dedup_probes_with_the_batch_only(spark):
    """dedup_incremental's near layer keeps the verified pairs whose b_id
    is a batch doc. That filter must reach the probe-side signature scans
    of both the band join (sig columns) and the verify join (sh), so no
    corpus x corpus candidate is formed; the index sides read every row."""
    p = plan_of(entry_mod.q_dedup_incremental(spark, SF_DIR), mode="simple")
    scans = [
        l for l in p.splitlines() if "FileScan parquet" in l and "minhash_sigs_" in l
    ]
    batch = [l for l in scans if "GreaterThanOrEqual(doc_id,100000)" in l]
    assert len(scans) == 4, p
    assert sorted("sig0" in l for l in batch) == [False, True], p


def test_no_cartesian_anywhere_in_suite(spark):
    """No query may plan a CartesianProduct or BroadcastNestedLoopJoin on
    the fact side (the IVF pivot cross-join is an intentional broadcast
    NLJ against a 7-row side — allowed)."""
    allowed_nlj = {"ann_ivf_topk", "ann_ivf_recall"}
    for name, fn in entry_mod.queries().items():
        if name in allowed_nlj or name == "file_corpus_route_counts":
            continue
        p = plan_of(fn(spark, SF_DIR), mode="simple")
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
