"""Five-screen training-corpus curation, parameterized over the doc pool.

One function owns the composition — (1) exact dedup keep-min, (2)
MinHash-LSH near-dup representative filter, (3) benchmark-contamination
anti-join, (4) integer quality gate, (5) language/stopword gate — so the
oracled driver query (__spark_entry__.q_training_corpus) and the
corpus-growth bench (BENCH/dedup_scaling.py's training_corpus series,
VERDICT r4 #7) run the IDENTICAL plan and cannot drift. The bench feeds
replica-strided doc ids, so everything that interprets an id (the
benchmark `< 10` screen, the planted-copy base_id unwrap) goes through a
caller-supplied ``raw_id`` column; the default is the id itself.

Scale shape (unchanged from the r4 flagship): every screen is a semi/anti
join on the narrow doc_id or a pushed-down predicate; candidate
generation stays the banded-LSH linear path; the contamination side is a
broadcast of the distinct benchmark shingles. No reference counterpart
(the reference never aggregates; this is a curation-pipeline op).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elb_pipeline import dedup as D

# quality/language screen constants (shared with the oracle SQL twins)
MIN_TOKENS = 30
MAX_CHARS_PER_TOKEN_X2 = 11  # 2*chars <= 11*tokens, i.e. mean len <= 5.5
MIN_STOPWORDS = 2
N_BENCH_DOCS = 10  # raw doc_id < 10 are the held-out benchmark docs

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]


def n_tokens_col() -> Column:
    """Whitespace token count via pure length arithmetic (no split array)."""
    return (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )


def training_corpus(
    pool: DataFrame,
    bench_sh: DataFrame,
    en_base_ids: DataFrame,
    cache_key: str,
    raw_id: Column | None = None,
    pool_shingles: DataFrame | None = None,
) -> DataFrame:
    """Survivors (doc_id, n_tokens) of the five curation screens.

    ``pool``        — (doc_id, text) candidate docs (dedup.doc_pool shape).
    ``bench_sh``    — one column ``s``: the distinct word-3-gram shingles
                      of the held-out benchmark docs (caller builds it so
                      the bench can use per-replica marked benchmarks).
    ``en_base_ids`` — one column ``base_id``: ids of docs tagged en (the
                      lang tag lives on the BASE row; planted copies at
                      base_id + offset inherit it through the unwrap).
    ``raw_id``      — expression recovering the un-replicated id from
                      ``doc_id`` (identity by default; the scaling bench
                      passes ``doc_id % REPLICA_STRIDE``).
    ``pool_shingles`` — optional (doc_id, s) override for the
                      contamination screen's pool side. The scaling bench
                      needs it because its in-text replica markers turn
                      every 3-gram into (2 real words + marker) — matching
                      on MARKED shingles contaminates ~everything (3-word
                      phrase matching degrades to 2-word, measured 5820 of
                      5840 docs at sf0.1) — so it supplies DEMARKED,
                      replica-prefixed shingles that restore the true
                      3-original-word semantics per replica. Default:
                      shingles of ``pool.text`` (production shape).
    """
    if raw_id is None:
        raw_id = F.col("doc_id")
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
    pool_sh = (
        pool_shingles
        if pool_shingles is not None
        else pool.select("doc_id", F.explode(D._shingles()).alias("s"))
    ).distinct()
    contaminated = (
        pool_sh.join(F.broadcast(bench_sh), "s").select("doc_id").distinct()
    )

    n_tokens = n_tokens_col()
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.array_intersect(F.split(F.col("text"), " "), sw))
    return (
        pool.join(exact_keep, "doc_id", "semi")
        .join(near_drop, "doc_id", "anti")
        .join(contaminated, "doc_id", "anti")
        .where(raw_id >= N_BENCH_DOCS)
        .where(n_tokens >= MIN_TOKENS)
        .where(2 * F.length("text") <= MAX_CHARS_PER_TOKEN_X2 * n_tokens)
        .where(n_sw >= MIN_STOPWORDS)
        .withColumn("base_id", raw_id % D.EXACT_OFFSET)
        .join(en_base_ids, "base_id", "semi")
        .select("doc_id", n_tokens.cast("int").alias("n_tokens"))
    )


def en_base_ids(documents: DataFrame) -> DataFrame:
    return (
        documents.where(F.col("lang") == "en")
        .select(F.col("doc_id").alias("base_id"))
    )
