"""Per-sink aggregation — bucketed, day-partitioned, skew-salted.

The reference never aggregates (one output per input line); these are the
target-mandated aggregate stages. Design notes for scale:

- ``conv_bucket`` uses the numeric suffix of conv_id ('conv-%06d'), which
  is engine-portable (identical in Spark and the DuckDB oracle) — the
  production job may equally use ``crc32``/``xxhash64``; bucket choice only
  affects layout, not counts.
- Spark's hash aggregate is automatically partial (map-side combine) +
  final, so the plain groupBy already avoids shuffling raw rows — only
  per-(sink, bucket, day) partials cross the wire.
- ``salted_sink_day_bucket_counts`` demonstrates the two-stage salted
  pattern for pathologically hot conversations at 10^12-turn scale: stage 1
  aggregates on (keys + salt) spreading one hot key over ``N_SALTS``
  reducers, stage 2 re-aggregates without the salt. Results are provably
  identical to the direct aggregation (asserted by the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 16
N_SALTS = 8


def conv_bucket() -> Column:
    # substring(conv_id, 6) strips the 'conv-' prefix; 1-indexed in both
    # Spark SQL and DuckDB, so the oracle expression is textually identical.
    return (F.expr("CAST(substring(conv_id, 6) AS INT)") % N_BUCKETS).alias(
        "conv_bucket"
    )


def ts_day() -> Column:
    return F.to_date(F.col("ts")).alias("ts_day")


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink routed-row counts — the headline routing aggregate."""
    return routed.groupBy("sink").agg(F.count("*").alias("n"))


def sink_day_bucket_counts(routed: DataFrame) -> DataFrame:
    """Counts per (sink, conv_id bucket, ts day)."""
    return routed.groupBy("sink", conv_bucket(), ts_day()).agg(
        F.count("*").alias("n")
    )


def salted_sink_day_bucket_counts(routed: DataFrame) -> DataFrame:
    """Two-stage salted aggregation — identical result, skew-resistant.

    Stage 1 groups by (sink, bucket, day, salt) where salt spreads each hot
    conversation across ``N_SALTS`` partitions; stage 2 sums the partials.
    """
    salt = F.pmod(F.crc32(F.concat_ws("#", "conv_id", "turn_idx")), F.lit(N_SALTS))
    stage1 = routed.groupBy(
        "sink", conv_bucket(), ts_day(), salt.alias("_salt")
    ).agg(F.count("*").alias("partial_n"))
    return stage1.groupBy("sink", "conv_bucket", "ts_day").agg(
        F.sum("partial_n").alias("n")
    )


# ---------------------------------------------------------------------------
# per-conversation document assembly (transcript -> training doc)
# ---------------------------------------------------------------------------
#
# Turning turn-level rows back into one ordered document per conversation
# is the step a transcript pipeline runs right before tokenization — and,
# unlike the count aggregates above, it is a REAL skew victim: the
# aggregation state is O(rows of the key) (collect_list), so Spark's
# map-side partial combine does NOT collapse a hot conversation the way it
# collapses hot count keys (the honest reason the salted COUNT variant
# shows no wall delta under skew — see BENCH/skew_bench_r5.json). The
# chunked two-stage form below is the salting analog that actually helps
# here: stage 1 groups on (conv_id, turn_idx range chunk), so a hot
# conversation's sort/assembly work spreads over n_chunks tasks and
# per-task aggregation state is bounded by the chunk size; stage 2 merges
# the few pre-assembled chunk strings in chunk order. Results are provably
# identical to a direct single-stage sort of each conversation (ties
# impossible across chunks: equal turn_idx => same chunk; within a chunk
# the sort is by the full (turn_idx, text) struct) — asserted cross-engine
# by the driver oracle (DuckDB recomputes the DIRECT string_agg) and
# in-engine against a plain-Python assembly by
# tests/test_aggregate_assembly.py.


ASSEMBLY_CHUNK = 1024  # turns per stage-1 chunk (bounds per-task agg state)


def assemble_conversations_chunked(
    t: DataFrame, chunk: int = ASSEMBLY_CHUNK
) -> DataFrame:
    """Two-stage range-salted assembly — identical output, skew-resistant.

    The salt is ``turn_idx div chunk``: contiguous ranges (unlike a modulo
    salt) so stage 2 concatenates pre-built chunk strings in chunk order
    instead of re-sorting every turn on one reducer."""
    seg = (F.col("turn_idx") / chunk).cast("long")
    s1 = (
        t.groupBy("conv_id", seg.alias("seg"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "text"))
            ).alias("part")
        )
        .select(
            "conv_id",
            "seg",
            F.concat_ws(
                "\n", F.transform("part", lambda x: x["text"])
            ).alias("seg_text"),
            F.size("part").alias("seg_turns"),
        )
    )
    s2 = s1.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seg", "seg_turns", "seg_text"))
        ).alias("segs")
    )
    doc = F.concat_ws("\n", F.transform("segs", lambda x: x["seg_text"]))
    return s2.select(
        "conv_id",
        F.aggregate(
            "segs", F.lit(0), lambda acc, x: acc + x["seg_turns"]
        ).alias("n_turns"),
        F.length(doc).alias("n_chars"),
        F.md5(doc).alias("doc_md5"),
    )
