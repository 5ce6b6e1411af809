"""Five-screen training-corpus curation, parameterized over the doc pool.

One function owns the composition — (1) exact dedup keep-min, (2)
MinHash-LSH near-dup representative filter, (3) benchmark-contamination
anti-join, (4) integer quality gate, (5) language/stopword gate — run by
the oracled driver query (__spark_entry__.q_training_corpus). Its
corpus-growth scaling is recorded in BENCH/dedup_scaling_r5.json (the
``corpus`` series, VERDICT r4 #7).

Scale shape (unchanged from the r4 flagship): every screen is a semi/anti
join on the narrow doc_id or a pushed-down predicate; candidate
generation stays the banded-LSH linear path; the contamination side is a
broadcast of the distinct benchmark shingles. No reference counterpart
(the reference never aggregates; this is a curation-pipeline op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elb_pipeline import dedup as D
from elb_pipeline.packing import n_tokens_expr

# quality/language screen constants (shared with the oracle SQL twins)
MIN_TOKENS = 30
MAX_CHARS_PER_TOKEN_X2 = 11  # 2*chars <= 11*tokens, i.e. mean len <= 5.5
MIN_STOPWORDS = 2
N_BENCH_DOCS = 10  # doc_id < 10 are the held-out benchmark docs

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]


def training_corpus(
    pool: DataFrame, documents: DataFrame, cache_key: str
) -> DataFrame:
    """Survivors (doc_id, n_tokens) of the five curation screens.

    ``pool``      — (doc_id, text) candidate docs (dedup.doc_pool shape).
    ``documents`` — the base table the pool was planted from; the lang tag
                    lives on the BASE row, and planted copies at
                    base_id + offset inherit it through the unwrap.
    ``cache_key`` — key of the pool's materialized signature, pair and
                    group tables. Both sides of the contamination screen
                    are projected from the signature table
                    (dedup.shingle_tables): the pool side is every row,
                    the benchmark side the rows of the base docs with
                    doc_id < N_BENCH_DOCS.
    """
    rows, _ = D.shingle_tables(pool, cache_key)
    sigs = D.materialized_signatures(pool, cache_key=cache_key)
    groups = D.dup_groups(
        D.materialized_verified_pairs(sigs, cache_key=cache_key),
        cache_key=cache_key,
    )

    exact_keep = (
        pool.groupBy(F.md5("text"), F.length("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near_drop = (
        groups.where(F.col("doc_id") != F.col("group_id")).select("doc_id")
    )
    bench_sh = (
        rows.where(F.col("doc_id") < N_BENCH_DOCS).select("s").distinct()
    )
    contaminated = (
        rows.distinct()
        .join(F.broadcast(bench_sh), "s")
        .select("doc_id")
        .distinct()
    )

    en_base_ids = documents.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("base_id")
    )

    n_tokens = n_tokens_expr()
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.array_intersect(F.split(F.col("text"), " "), sw))
    return (
        pool.join(exact_keep, "doc_id", "semi")
        .join(near_drop, "doc_id", "anti")
        .join(contaminated, "doc_id", "anti")
        .where(F.col("doc_id") >= N_BENCH_DOCS)
        .where(n_tokens >= MIN_TOKENS)
        .where(2 * F.length("text") <= MAX_CHARS_PER_TOKEN_X2 * n_tokens)
        .where(n_sw >= MIN_STOPWORDS)
        .withColumn("base_id", F.col("doc_id") % D.EXACT_OFFSET)
        .join(en_base_ids, "base_id", "semi")
        .select("doc_id", n_tokens.cast("int").alias("n_tokens"))
    )
