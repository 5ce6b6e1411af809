"""Deterministic transcripts synthesis (FIXTURES.md §1).

Two generators, both fully deterministic (no wall clock, no RNG):

- ``transcripts_from_events`` — derives the transcripts table from the
  driver-provided ``events`` parquet using only engine-portable SQL
  expressions, so the identical derivation runs in DuckDB for the
  correctness oracle (see oracle.py).
- ``synth_transcripts`` — scale-out synthesis from ``spark.range`` for
  benchmarking: arbitrary row counts, hot-conversation skew (two conv_ids
  receive ~20% of all rows) to exercise salting, ts spread over several
  days, text drawn round-robin from the golden pool (≈81%% valid lines,
  the rest malformed — same mix a real dead-letter pipeline sees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elb_pipeline.enrich import ROLES, TOOLS
from elb_pipeline.goldens import TEXT_POOL

EPOCH = "2022-11-01 00:00:00"  # fixed; spans 3+ days via per-row offsets
N_SYNTH_CONVS = 10_000  # conversations the cold 80% of synth rows cycle over


def _pick(values: list[str], key) -> F.Column:
    return F.element_at(
        F.array(*[F.lit(v) for v in values]),
        (key % len(values)).cast("int") + 1,
    )


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts table derived 1:1 from events.parquet (SQL-portable).

    conv_id groups by user_id; turn_idx is the dense 0-based rank of
    event_id within the conversation (stable ordering key per input_hint);
    role/tool/text cycle deterministically on event_id.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("event_id")
    eid = F.col("event_id")
    return ev.select(
        F.concat(
            F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 6, "0")
        ).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        _pick(ROLES, eid).alias("role"),
        _pick(TEXT_POOL, eid).alias("text"),
        _pick(TOOLS, eid).alias("tool"),
        F.col("ts"),
    )


def transcripts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transcripts_from_events`` materialized once per sf_dir and read
    back from parquet — the production shape (transcripts are a TABLE, not
    a per-query window re-derivation). Queries that consume transcripts
    use this so per-query timings measure the operator, not the shared
    derivation; ``transcripts_build`` still exercises the derivation
    itself."""
    return spark.read.parquet(transcripts_cache_path(spark, sf_dir))


def transcripts_cache_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the transcripts table for ``sf_dir`` (if not already)
    and return its parquet path — for consumers that need the PATH, e.g.
    ``readStream`` sources. The path is keyed on a content fingerprint of
    the events input, so regenerated test data at the same path never
    serves a stale cache; it lives outside ``ELB_MAT_CACHE``, so a
    harness that points that at a fresh directory to time queries cold
    still reads the shared transcripts table."""
    import os

    from elb_pipeline.matcache import dir_fingerprint, write_once

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    fp = dir_fingerprint(os.path.join(sf_dir, "events.parquet"))
    return write_once(
        f"/tmp/elb_transcripts_cache_v3_{tag}_{fp}",
        lambda: transcripts_from_events(spark, sf_dir),
    )


def synth_transcripts(
    spark: SparkSession,
    n_rows: int,
    partitions: int | None = None,
) -> DataFrame:
    """Bench-scale synthetic transcripts from spark.range (no window, no
    shuffle — generation stays embarrassingly parallel).

    Skew: rows where id%5==0 (20%) collapse onto conv 0/1 — two hot
    conversations, the salting stress case.
    """
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)
    i = F.col("id")
    conv_num = F.when(i % 5 == 0, (i % 2).cast("int")).otherwise(
        (i % N_SYNTH_CONVS).cast("int")
    )
    return rng.select(
        F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        # not dense per conv, but unique within it — sufficient for keys
        (i / F.lit(N_SYNTH_CONVS)).cast("int").alias("turn_idx"),
        _pick(ROLES, i).alias("role"),
        _pick(TEXT_POOL, i * 7 + 3).alias("text"),
        _pick(TOOLS, i).alias("tool"),
        (
            F.to_timestamp(F.lit(EPOCH))
            + F.make_dt_interval(days=(i % 3).cast("int"), secs=(i % 86_400).cast("double"))
        ).alias("ts"),
    )
