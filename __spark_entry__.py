"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→route→enrich→aggregate query at
sf0.001. ``queries()`` exposes each implemented operator from SURVEY.md §2
(plus the training-data-pipeline extras) as (spark, sf_dir) → DataFrame;
``oracle_sql()`` gives the DuckDB twin for each. Column names/aliases match
pairwise so the driver's order-insensitive value-hash comparison holds.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elb_pipeline import dedup as D
from elb_pipeline import mixture as M
from elb_pipeline import oracle as O
from elb_pipeline import packing as P
from elb_pipeline import simsearch as S
from elb_pipeline.aggregate import (
    salted_sink_day_bucket_counts,
    sink_counts,
    sink_day_bucket_counts,
    ts_day,
)
from elb_pipeline.dialects import (
    ALB as O_ALB,
    ALB_FIELDS,
    CLASSIC as O_CLASSIC,
    CLASSIC_FIELDS,
    SINK_ALB,
    SINK_CLASSIC,
    SINK_MALFORMED,
)
from elb_pipeline.deadletter import with_diagnosis
from elb_pipeline.enrich import enrich
from elb_pipeline.parse import (
    alb_field,
    classic_field,
    routed_dialect_json,
    routed_filter,
    routed_json_both,
    routed_struct,
    with_sink,
)
from elb_pipeline.synth import transcripts_cached, transcripts_from_events


# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transcripts (materialized once per sf_dir) → routed (sink column
    only — field extraction is deferred to the queries that read fields)."""
    return with_sink(transcripts_cached(spark, sf_dir))


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→route→enrich→aggregate at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    routed = enrich(_routed(spark, sf_dir), spark)
    return (
        routed.groupBy("sink", "role_group", ts_day())
        .agg(F.count("*").alias("n"))
        .orderBy("sink", "role_group", "ts_day")
    )


# ---------------------------------------------------------------------------
# queries — pipeline operators
# ---------------------------------------------------------------------------

def q_transcripts_build(spark, sf_dir):
    return transcripts_from_events(spark, sf_dir)


def q_parse_route_counts(spark, sf_dir):
    # passthrough=[]: only the sink column crosses back from the Arrow
    # stage (guide §4.1 — the unread transcript columns and the text
    # dominated the return hop's Arrow→UnsafeRow conversion)
    return sink_counts(
        with_sink(transcripts_cached(spark, sf_dir), passthrough=[])
    )


def q_route_sets(spark, sf_dir):
    return with_sink(
        transcripts_cached(spark, sf_dir), passthrough=["conv_id", "turn_idx"]
    ).select("sink", "conv_id", "turn_idx")


def q_parse_alb_fields(spark, sf_dir):
    # fused route+filter+extract: one Arrow pass (extraction doubles as
    # the validity test), text never crosses back — replaces the
    # with_sink → JVM filter → with_dialect_struct chain (two passes)
    df = routed_struct(
        transcripts_cached(spark, sf_dir),
        SINK_ALB,
        passthrough=["conv_id", "turn_idx"],
    )
    return df.select("conv_id", "turn_idx", *[alb_field(f) for f in ALB_FIELDS])


def q_parse_classic_fields(spark, sf_dir):
    df = routed_struct(
        transcripts_cached(spark, sf_dir),
        SINK_CLASSIC,
        passthrough=["conv_id", "turn_idx"],
    )
    return df.select(
        "conv_id", "turn_idx", *[classic_field(f) for f in CLASSIC_FIELDS]
    )


def q_latency_percentiles(spark, sf_dir):
    """Per-status-code latency percentiles over the PARSED ALB fields —
    the field-level analytics the reference's JSON-out design never
    reaches. Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`) of target_processing_time, excluding the
    grammar's '-1' no-target sentinel; rounded so the cross-engine
    float compare is stable. At scale this is one partial-aggregable
    shuffle on a low-cardinality key."""
    # fused one-pass extract of exactly the two consumed fields — the
    # other 31 capture groups never cross the Python→JVM boundary
    df = routed_struct(
        transcripts_cached(spark, sf_dir),
        SINK_ALB,
        passthrough=[],
        fields=["elb_status_code", "target_processing_time"],
    )
    t = alb_field("target_processing_time").cast("double")
    g = (
        df.select(
            alb_field("elb_status_code"), t.alias("t")
        )
        .where(F.col("t") >= 0)
        .groupBy("elb_status_code")
    )
    return g.agg(
        F.count("*").alias("n"),
        F.round(F.percentile(F.col("t"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("t"), F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile(F.col("t"), F.lit(0.99)), 6).alias("p99"),
    )


def q_url_domain_topk(spark, sf_dir):
    """Top-10 request domains by hit count from the parsed ALB url field
    (host = scheme://<host-no-slash-colon>), deterministic tiebreak on
    domain so the limit boundary is engine-stable. TakeOrderedAndProject
    top-k — no global sort."""
    df = routed_struct(
        transcripts_cached(spark, sf_dir), SINK_ALB, passthrough=[], fields=["url"]
    )
    dom = F.regexp_extract(alb_field("url"), r"^[a-z]+://([^/:]+)", 1)
    return (
        df.select(dom.alias("domain"))
        .where(F.col("domain") != "")
        .groupBy("domain")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("domain"))
        .limit(10)
    )


def q_alb_json_lines(spark, sf_dir):
    # fused route+extract+NDJSON in one Arrow pass (byte parity with the
    # reference is golden-vector- and oracle-asserted); only
    # (conv_id, turn_idx, json) cross back
    return routed_dialect_json(
        transcripts_cached(spark, sf_dir),
        SINK_ALB,
        passthrough=["conv_id", "turn_idx"],
    )


def q_classic_json_lines(spark, sf_dir):
    return routed_dialect_json(
        transcripts_cached(spark, sf_dir),
        SINK_CLASSIC,
        passthrough=["conv_id", "turn_idx"],
    )


def q_enrich_rollup(spark, sf_dir):
    df = enrich(
        with_sink(
            transcripts_cached(spark, sf_dir), passthrough=["role", "tool"]
        ),
        spark,
    )
    return df.groupBy("sink", "role_group", "tool_family").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_human").cast("int")).alias("n_human"),
        F.sum(F.col("is_io").cast("int")).alias("n_io"),
    )


def q_agg_sink_day_bucket(spark, sf_dir):
    # ts_day as ISO string so the cross-engine comparison is type-unambiguous
    return sink_day_bucket_counts(
        with_sink(transcripts_cached(spark, sf_dir), passthrough=["conv_id", "ts"])
    ).withColumn("ts_day", F.col("ts_day").cast("string"))


def q_agg_salted(spark, sf_dir):
    return salted_sink_day_bucket_counts(
        with_sink(
            transcripts_cached(spark, sf_dir),
            passthrough=["conv_id", "turn_idx", "ts"],
        )
    ).withColumn("ts_day", F.col("ts_day").cast("string"))


def q_turn_order_check(spark, sf_dir):
    """Stable-(conv_id, turn_idx) invariant: turn_idx is dense 0..n-1."""
    t = transcripts_cached(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
        (F.max("turn_idx") == F.count("*") - 1).alias("dense"),
    )


def q_dead_letter_rows(spark, sf_dir):
    # filter INSIDE the Arrow batch: only the malformed minority's rows
    # (and text) ever cross back to the JVM
    return routed_filter(
        transcripts_cached(spark, sf_dir).select("conv_id", "turn_idx", "text"),
        SINK_MALFORMED,
    )


def q_dead_letter_diag(spark, sf_dir):
    """Vectorized failed-field diagnostics. nearest_dialect + fields_ok are
    oracle-checked (DuckDB recomputes the cumulative prefix predicates);
    the byte-exact failed_position (reference parse.rs:22-41 semantics) is
    covered by tests/test_deadletter.py against a linear DFA-alive walk."""
    df = routed_filter(
        transcripts_cached(spark, sf_dir).select("conv_id", "turn_idx", "text"),
        SINK_MALFORMED,
    )
    # positions=False: this query projects only nearest_dialect/fields_ok,
    # so the per-row byte-exact bisection would be computed and discarded
    return with_diagnosis(df, positions=False).select(
        "conv_id", "turn_idx", "nearest_dialect", "fields_ok"
    )


def q_file_corpus_route_counts(spark, sf_dir):
    """Raw-file ingestion (the reference CLI's actual input mode): recursive
    walk + per-dialect extension filter + empty-file skip + transparent
    gzip decode + line split, then route (main.rs:103-177, alb.rs:96,
    classic_lb.rs:56). Deterministic on-disk fixture; sf-independent."""
    from elb_pipeline.sources import (
        DEFAULT_CORPUS_ROOT,
        corpus_fixture,
        corpus_route_counts,
    )

    return corpus_route_counts(spark, corpus_fixture(DEFAULT_CORPUS_ROOT))


# ---------------------------------------------------------------------------
# queries — generic operator checks over the driver tables
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_events_per_user(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "event_id", "event_type", "value", "rk")
    )


def q_orders_customer_join(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_event_types_except(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    all_types = ev.select("event_type").distinct()
    big = ev.where(F.col("value") > 150).select("event_type").distinct()
    return all_types.exceptAll(big).distinct()


# ---------------------------------------------------------------------------
# queries — training-data pipeline ops (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup over doc_pool (documents + deterministically planted
    duplicates — the raw table is dup-free at every sf, which made this
    check vacuous in round 1). Groups on (md5(text), length(text)) — the
    100-TB shape: the shuffle rows carry a 32-char key instead of the full
    document text; length disambiguates the astronomically-unlikely md5
    collision. The oracle groups on the same key."""
    from elb_pipeline.dedup import doc_pool

    # plain (non-materialized) pool: this query is ONE streaming scan +
    # partial-first agg over it — paying the family's pool write here
    # would charge the shared table to the cheapest consumer
    d = doc_pool(_read(spark, sf_dir, "documents"))
    return (
        d.groupBy(F.md5("text").alias("k"), F.length("text").alias("len"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def q_doc_quality(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("len_chars"),
        n_tokens.alias("n_tokens"),
        F.round(F.length("text") / n_tokens, 4).alias("avg_token_len"),
    )


def q_lang_distribution(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


_MINHASH_SEEDS = ["#0", "#1", "#2", "#3"]


def _sig_expr(seed: str):
    # factory keeps the lambda single-arg: a two-param lambda would be
    # interpreted by F.transform as the (element, index) variant
    return F.array_min(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.md5(F.concat(t, F.lit(seed))),
        )
    )


def _minhash_sigs(df: DataFrame) -> DataFrame:
    sigs = [
        _sig_expr(seed).alias(f"sig{i}") for i, seed in enumerate(_MINHASH_SEEDS)
    ]
    return df.select("doc_id", *sigs)


def q_minhash_signatures(spark, sf_dir):
    return _minhash_sigs(_read(spark, sf_dir, "documents"))


def q_minhash_dup_groups(spark, sf_dir):
    """Exact-ish dedup: docs whose FULL 4-signature minhash agrees (a
    single band of width 4 — near-exact duplicates only; real banded
    LSH with recall for merely-similar docs is minhash_lsh_pairs/groups)."""
    sigs = _minhash_sigs(_read(spark, sf_dir, "documents"))
    return (
        sigs.groupBy("sig0", "sig1", "sig2", "sig3")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
        .select("keep_id", "n_docs")
    )


def _doc_pool(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """The materialized doc pool of ``sf_dir`` and the cache key every
    intermediate derived from it is written under: sf tag + a content
    fingerprint of documents.parquet (stale-proof)."""
    from elb_pipeline.matcache import dir_fingerprint

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    key = f"{tag}_{dir_fingerprint(f'{sf_dir}/documents.parquet')}"
    return D.materialized_doc_pool(_read(spark, sf_dir, "documents"), key), key


def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded MinHash LSH (4 bands × 2 rows, word-3-gram shingles) over
    doc_pool: candidate pairs from per-band bucket joins, verified with
    exact shingle-set Jaccard — the linear-cost near-dup path for 100 TB
    (dedup.py). Signatures are materialized to a parquet table (computed
    once, no persisted RDDs left behind)."""
    from elb_pipeline.dedup import materialized_signatures, materialized_verified_pairs

    pool, key = _doc_pool(spark, sf_dir)
    sigs = materialized_signatures(pool, cache_key=key)
    return materialized_verified_pairs(sigs, cache_key=key)


def q_minhash_lsh_groups(spark, sf_dir):
    """Duplicate components: connected components over the verified LSH
    pairs via iterative min-label propagation; group_id = min doc_id.
    dup_groups owns the persist lifecycle of its inputs (pairs/edges and
    its checkpoints are released once the groups table is written)."""
    from elb_pipeline.dedup import (
        dup_groups,
        materialized_signatures,
        materialized_verified_pairs,
    )

    pool, key = _doc_pool(spark, sf_dir)
    sigs = materialized_signatures(pool, cache_key=key)
    return dup_groups(materialized_verified_pairs(sigs, cache_key=key), cache_key=key)


def q_leakproof_split(spark, sf_dir):
    """Near-dup-aware train/val/test split. A naive per-doc hash split
    leaks: two near-duplicate docs can land in train AND val, and the
    model is then evaluated on (a copy of) its training data. This
    operator splits on the DUP-GROUP REPRESENTATIVE instead — split key =
    coalesce(group_id, doc_id) — so whole duplicate cliques move as one
    unit, by construction. The hash gate is the same RNG-free md5
    fraction as source_mixture (80/10/10 at 0.8/0.9 thresholds),
    reproducible across engines, runs and cluster sizes. Scale shape: the
    groups side holds only docs that appear in a verified near-dup pair
    (a small fraction of the corpus) → broadcast left join; everything
    else is one corpus scan. The DuckDB twin recomputes the dup groups
    through the shared recursive-CTE chain and the same coalesce+hash —
    the straddle-freedom is pytest-asserted with a naive-split negative
    control (tests/test_mixture.py)."""
    from elb_pipeline.dedup import (
        dup_groups,
        materialized_signatures,
        materialized_verified_pairs,
    )
    from elb_pipeline.mixture import hash_frac

    pool, key = _doc_pool(spark, sf_dir)
    groups = dup_groups(
        materialized_verified_pairs(
            materialized_signatures(pool, cache_key=key), cache_key=key
        ),
        cache_key=key,
    )
    keyed = (
        pool.select("doc_id")
        .join(F.broadcast(groups), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("group_id", "doc_id").alias("skey")
        )
    )
    frac = hash_frac(F.col("skey"))
    split = (
        F.when(frac < 0.8, "train").when(frac < 0.9, "val").otherwise("test")
    )
    return keyed.select("doc_id", split.alias("split"))


def q_dedup_incremental(spark, sf_dir):
    """Incremental corpus-refresh dedup: doc_pool's original documents
    (doc_id < EXACT_OFFSET) play the standing corpus, the planted
    exact/near clones (doc_id >= EXACT_OFFSET) play the incoming batch;
    every batch doc gets a status in {exact_corpus, exact_batch,
    near_corpus, near_batch, kept} under the greedy single-pass rule
    (dedup.incremental_dedup — the band join probes with the BATCH side
    only, so no corpus x corpus work; exact layer is a narrow-key
    semi-join). Reuses the same materialized signature table as the LSH
    queries (production: the corpus signature store is standing state)."""
    from elb_pipeline.dedup import (
        EXACT_OFFSET,
        incremental_dedup,
        materialized_signatures,
    )

    pool, key = _doc_pool(spark, sf_dir)
    sigs = materialized_signatures(pool, cache_key=key)
    return incremental_dedup(pool, sigs, EXACT_OFFSET)


def q_jaccard_rare_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via a rare-shingle inverted
    index (df in [2, RARE_DF_MAX]) — the deterministic, sketch-free dedup
    path beside MinHash-LSH. The df cap bounds every blocking bucket's
    self-join fanout to df² ≤ 16 rows, so common shingles cannot create
    skewed or quadratic buckets; verification touches candidates only.
    At sf0.01 it verifies the IDENTICAL 121-pair set the LSH path finds;
    the known recall gap (dup cliques wider than the cap have no blocking
    key — measured at sf0.001) is documented at dedup.rare_shingle_pairs,
    and the exact-recall prefix-filter variant is jaccard_prefix_pairs."""
    from elb_pipeline.dedup import rare_shingle_pairs

    pool, key = _doc_pool(spark, sf_dir)
    return rare_shingle_pairs(pool, cache_key=key)


def q_jaccard_prefix_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via the AllPairs prefix filter
    (Bayardo et al. WWW'07) — recall-COMPLETE by theorem, unlike both the
    probabilistic LSH path and the df-capped rare-shingle path (whose
    clique blind spot this closes; tests/test_dedup_parity.py proves
    equality to a brute-force all-pairs oracle at sf0.001). Blocking keys
    are each doc's n - ceil(t*n) + 1 globally-rarest shingles; the length
    filter is pushed into the candidate join, the PPJoin positional filter
    prunes at the pair aggregate, and the verify runs on 8-byte xxhash64
    set arrays (dedup.prefix_jaccard_pairs — see the module comment's
    measured scale lesson: the string-array form spilled >65 GB at 233k
    docs on a bigram-entropy corpus)."""
    from elb_pipeline.dedup import prefix_jaccard_pairs

    pool, key = _doc_pool(spark, sf_dir)
    return prefix_jaccard_pairs(pool, cache_key=key)


# BPE-ish token classes: letter runs, digit runs, single punctuation
_BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# single source of truth shared with the curation composition (its oracle
# twins below embed the same list via O._str_list)
from elb_pipeline.curation import EN_STOPWORDS as _EN_STOPWORDS


def q_token_count_bpe(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_TOKEN_RE}', 0)")).alias(
            "n_bpe_tokens"
        ),
    )


def q_lang_stopword_score(spark, sf_dir):
    """Language-ID heuristic: English stopword ratio per document."""
    d = _read(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    n_sw = F.size(F.array_intersect(words, sw))
    # ratio of distinct-stopword hits to token count (portable + determin.)
    n_tok = F.size(words)
    return d.select(
        "doc_id",
        "lang",
        n_sw.alias("n_stopword_kinds"),
        F.round(n_sw / n_tok, 4).alias("stopword_ratio"),
        (n_sw >= 3).alias("looks_english"),
    )


def q_embedding_near_dup(spark, sf_dir):
    """Near-duplicate pairs by embedding cosine, blocked by an SRP-LSH
    bucket (8 sign-projection bits → expected block size n/256, no
    skew-prone semantic blocking key, no all-pairs join). Runs over
    emb_pool — the table plus planted clones — so the comparison covers
    a non-empty result set (the raw table has no near-dups; round 1's
    green on 0 rows was vacuous). simsearch.py."""
    from elb_pipeline.simsearch import near_dup_pairs

    return near_dup_pairs(_read(spark, sf_dir, "embeddings"))


def q_ngram_profile(spark, sf_dir):
    """Per-document distinct word-3-gram (shingle) counts."""
    d = _read(spark, sf_dir, "documents")
    g = D._shingles()
    return d.select(
        "doc_id",
        F.size(g).alias("n_shingles"),
        F.size(F.array_distinct(g)).alias("n_distinct_shingles"),
    )


def q_repetition_scores(spark, sf_dir):
    """Gopher-style repetition quality filters: per-document duplicate-word
    fraction, most-frequent-word share, and duplicate-3-gram fraction, with
    a boolean gate. The word-mode is computed the scale-true way — explode
    → partial-combining count on (doc_id, word) → per-doc max — instead of
    an O(distinct × n) per-row lambda tower; the 3-gram ratios are cheap
    per-row array expressions (same shapes as vocab_topk / ngram_profile).
    Repetition screens are the standard LLM-corpus quality gate the
    length/stopword screens in training_corpus don't cover (Rae et al.,
    Gopher §A1.1)."""
    d = _read(spark, sf_dir, "documents")
    wstats = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_distinct_words"),
            F.max("c").alias("top_word_n"),
        )
    )
    g = D._shingles()
    gstats = d.select(
        "doc_id",
        F.size(g).alias("n_3grams"),
        F.size(F.array_distinct(g)).alias("n_distinct_3grams"),
    )
    dup3 = F.when(
        F.col("n_3grams") > 0,
        F.lit(1.0) - F.col("n_distinct_3grams") / F.col("n_3grams"),
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_word_n") / F.col("n_words")
    return (
        wstats.join(gstats, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("int").alias("n_words"),
            F.round(
                F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words"), 4
            ).alias("dup_word_frac"),
            F.round(top_frac, 4).alias("top_word_frac"),
            F.round(dup3, 4).alias("dup_3gram_frac"),
            ((top_frac > 0.2) | (dup3 > 0.3)).alias("repetitive"),
        )
    )


def q_unigram_logfreq(spark, sf_dir):
    """Unigram-frequency fluency score (the CCNet-style LM quality filter
    reduced to its corpus-statistics core): per doc, the mean
    floor(log2(corpus count)) of its words — documents made of common
    words score high, gibberish scores low. Designed INTEGER-EXACT so no
    cross-engine float drift is possible: floor(log2 n) = length(bin(n))-1
    on both engines, the mean ships as (sum, count, (100·sum) div count).
    The full -ln((cnt+1)/(total+V)) perplexity is a constant shift of
    this statistic (ln(total+V) − avg ln(cnt+1)), so thresholding on it
    is equivalent — and the constant needs no in-plan global scalar.
    Scale shape: one groupBy(word) for the frequency table (partial-first;
    vocab is sublinear in corpus), one join words→freq (broadcast at test
    scale; at 100 TB broadcast the top-V vocabulary with an OOV default
    bucket), one groupBy(doc_id) rollup."""
    d = _read(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("cnt"))
    lg = (F.length(F.bin(F.col("cnt"))) - 1).alias("lg")
    return (
        words.join(freq, "w")
        .select("doc_id", lg)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("lg").cast("long").alias("sum_log2_freq"),
            F.expr("CAST((100 * sum(lg)) div count(*) AS BIGINT)").alias(
                "mean_log2_x100"
            ),
        )
    )


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-shingle fingerprint: lexicographic-min md5 over word-3-grams
    (1-min sketch — two docs sharing the fingerprint are near-dup candidates)."""
    d = _read(spark, sf_dir, "documents")
    g = D._shingles()
    return d.select(
        "doc_id",
        F.array_min(F.transform(g, lambda s: F.md5(s))).alias("fingerprint"),
    )


def q_sequence_pack(spark, sf_dir):
    """Concat-and-chunk training-sequence packing manifest (packing.py):
    docs concatenated in doc_id order, chunked into SEQ_LEN-token
    sequences; one row per sequence. The global token offset is a
    TWO-PHASE distributed prefix sum (per-shard window cumsum + an O(S)
    prefix over shard subtotals broadcast back) — no corpus-wide
    Exchange SinglePartition, plan-asserted in tests/test_plans.py. The
    DuckDB twin recomputes the DIRECT single-stream cumsum, so the oracle
    proves the decomposition equals the direct form cross-engine. The
    max-doc_id keyspace bound is one O(1) scalar off a pruned scan (the
    sharded-export pattern, not a 1-row cross join)."""
    from elb_pipeline.packing import sequence_pack

    d = _read(spark, sf_dir, "documents")
    # empty-table guard (ADVICE r5): max() is None on an empty table; 0
    # keeps _arith_shard's arithmetic valid (any upper bound works)
    max_id = d.agg(F.max("doc_id")).first()[0] or 0
    # shard count follows the session's parallelism (the oracle twin is
    # invariant to the decomposition width; 8 would cap the cumsum stage)
    return sequence_pack(
        d, max_doc_id=max_id, n_shards=spark.sparkContext.defaultParallelism
    )


def q_lang_quota(spark, sf_dir):
    """Per-language quota cap — top-QUOTA docs per lang by (n_chars DESC,
    doc_id). Skew note (measured this round): Spark 4's WindowGroupLimit
    rule plants a PARTIAL map-side top-QUOTA prune below the exchange, so
    the direct window is already skew-resistant — a hand-rolled salted
    two-stage measured equal within noise, paid an extra (lang, pid)
    shuffle for pruning the optimizer does for free, and was deleted.
    Plan-asserted in tests/test_plans.py."""
    from elb_pipeline.packing import lang_quota

    return lang_quota(_read(spark, sf_dir, "documents"))


def q_source_mixture(spark, sf_dir):
    """Deterministic source-mixture sampler (mixture.py): per-source keep
    rates for the largest token budget achievable at the target mixture
    weights (w = u/sum_u, B = min(T/w), r = w*B/T), applied via an
    RNG-free md5 hash gate. Rate arithmetic stays in the plan (windows
    over the S-row per-source aggregate — O(#sources) single-partition
    work, the packing-prefix shape); rates broadcast back to the corpus
    scan. The DuckDB twin mirrors the exact float expression tree."""
    from elb_pipeline.mixture import source_mixture

    return source_mixture(_read(spark, sf_dir, "documents"))


def q_curriculum_bins(spark, sf_dir):
    """Curriculum quartile binning with SCALE-TRUE exact quantiles
    (mixture.py): the corpus collapses to its n_chars value distribution
    (bounded cardinality), the CDF walk runs over the O(distinct)-row
    aggregate, and the O(distinct)-row bucket LUT broadcast-equi-joins
    back on the real key n_chars — no O(rows)-buffer `percentile`
    aggregate, no constant-key BroadcastNestedLoopJoin (the suite-wide
    plan assertion forbids those). The DuckDB twin runs the identical CTE
    chain so neither engine's quantile built-in is trusted."""
    from elb_pipeline.mixture import curriculum_bins

    return curriculum_bins(_read(spark, sf_dir, "documents"))


_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def _hi_bit_filter(k: int):
    # factory keeps the lambda single-arg: a two-param lambda (even with a
    # default) is interpreted by F.filter as the (element, index) variant
    return lambda h: F.substring(h, k, 1).isin(*_HI_HEX)


def _simhash_col(hs, n, nbits: int):
    """nbits-wide SimHash from a precomputed md5-hex array ``hs`` (one md5
    per element — round 1 recomputed it per bit): bit k = majority of hex
    digit k's high bit across elements. md5 hex has 32 digits → nbits ≤ 32."""
    acc = F.lit(0).cast("long")
    for k in range(1, nbits + 1):
        ones = F.size(F.filter(hs, _hi_bit_filter(k)))
        acc = acc + F.when(ones * 2 > n, F.lit(1 << (k - 1)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


def q_simhash16(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    hs = F.transform(ws, lambda t: F.md5(t))
    return d.select(
        "doc_id", _simhash_col(hs, F.size(ws), 16).cast("int").alias("simhash16")
    )


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs over doc_pool: 32-bit SimHash of the word-
    3-gram shingle set (16 bits collide by chance at n=1000; tokens from
    a shared vocabulary make every doc similar), bucketed by hamming BAND
    (4 bands × 8 bits — docs within hamming distance 3 share ≥1 intact
    band), then verified with bit_count(xor) ≤ 3. Band-bucket joins keep
    the candidate set linear at 100 TB; no all-pairs comparison. The
    simhash itself is an Arrow-batched UDF (see dedup.py: the 32-wide
    expression tree falls out of codegen, 119 s → ~1 s), materialized to
    parquet so the two join sides don't recompute it and no persisted RDD
    outlives the query."""
    import inspect

    from elb_pipeline.dedup import _simhash32_batch, algo_params, simhash32
    from elb_pipeline.matcache import cached

    pool, key = _doc_pool(spark, sf_dir)
    hashed = cached(
        spark,
        f"simhash32_{key}",
        algo_params() + (inspect.getsource(_simhash32_batch),),
        lambda: pool.select("doc_id", simhash32(F.col("text")).alias("sh")),
    )
    bands = hashed.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("sh", 8 * b).bitwiseAND(F.lit(255)).alias("val"),
                )
                for b in range(4)
            ])
        ).alias("bv"),
    ).select("doc_id", "sh", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"), "band", "val")
    b = bands.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"), "band", "val")
    return (
        a.join(b, ["band", "val"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )


_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def q_text_normalize(spark, sf_dir):
    """Normalization pass a training pipeline runs before dedup/tokenize:
    lowercase + whitespace collapse + trim (engine-portable expressions)."""
    d = _read(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).alias("changed"),
        F.length(norm).alias("norm_len"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction over the transcripts' log lines: IPv4 addresses →
    '<IP>' (the grammars guarantee real hits), with a redaction count per
    turn. regexp_replace replaces ALL matches on both engines."""
    t = transcripts_cached(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        F.regexp_count(F.col("text"), F.lit(_IP_RE)).alias("n_ips"),
        F.regexp_replace(F.col("text"), _IP_RE, "<IP>").alias("scrubbed"),
    )


def q_vocab_topk(spark, sf_dir):
    """Vocabulary building: global token frequencies, top 50 (ties broken
    lexicographically) — the explode→groupBy shape whose shuffle is the
    token hash, uniform by construction."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling by lang: keep docs whose
    md5(doc_id) first hex digit < '3' (≈3/16 rate) — reproducible across
    engines and runs, no RNG."""
    d = _read(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(keep.cast("int")).alias("n_sampled"),
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination screen: per-document count of word-3-gram
    shingles shared with the 'benchmark set' (docs 0-9). At scale the
    benchmark shingle set is small → broadcast join; candidate docs are
    whatever overlaps, no all-pairs work."""
    from elb_pipeline.dedup import EXACT_OFFSET, shingle_tables

    # per-doc distinct shingle rows exploded from the materialized
    # signature table (the base documents are exactly the pool rows below
    # the planted-dup offset) instead of re-shingling the corpus — same
    # (doc_id, s) set by construction
    pool, key = _doc_pool(spark, sf_dir)
    rows, _ = shingle_tables(pool, key)
    shingled = rows.where(F.col("doc_id") < EXACT_OFFSET)
    bench = (
        shingled.where(F.col("doc_id") < 10).select("s").distinct()
    )
    return (
        shingled.where(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def q_training_corpus(spark, sf_dir):
    """Flagship curation composition: the FINAL training corpus after every
    screen the suite implements, in one query —
      (1) exact dedup: keep only the min doc_id per (md5(text), length);
      (2) near-dup dedup: drop every non-representative member of a
          MinHash-LSH dup component (representative = min id, dedup.py);
      (3) benchmark-contamination: drop docs sharing ANY word-3-gram
          shingle with the benchmark docs (raw doc_id < 10), and the
          benchmark docs themselves;
      (4) quality gate: >= 30 tokens AND 2*chars <= 11*tokens (mean token
          length <= 5.5 — integer arithmetic, no float thresholds);
      (5) language gate: lang = 'en' AND >= 2 distinct English stopwords.
    Output: (doc_id, n_tokens) of surviving pool docs. Scale shape: every
    screen is a broadcastable semi/anti join on doc_id or a pushed-down
    predicate; candidate generation stays the LSH/banding linear path —
    composing the screens adds NO new shuffle beyond the joins on the
    narrow id column. No reference counterpart (curation pipeline op).

    The composition itself lives in elb_pipeline.curation.training_corpus
    — the SAME builder the corpus-growth bench (BENCH/dedup_scaling.py
    training_corpus series, VERDICT r4 #7) runs on replica-strided pools,
    so the oracled query and the scaling evidence cannot drift apart.

    The survivor frame is materialized per (sf_dir fingerprint, curation
    params) — VERDICT r5 #4: ``corpus_sequences`` runs the same five
    screens in the same sweep, so the second pass reads the survivors
    table instead of re-curating (the signature/groups tables already
    work this way)."""
    import inspect

    from elb_pipeline import curation as C
    from elb_pipeline.matcache import cached

    pool, key = _doc_pool(spark, sf_dir)

    def build():
        # both shingle sides are exploded from the materialized signature
        # table: the benchmark side is its doc_id < 10 slice (the base
        # documents ARE the pool rows below the planted-dup offset), the
        # contamination side is the full pool — no re-shingling in either
        # screen
        rows, _ = D.shingle_tables(pool, key)
        return C.training_corpus(
            pool,
            rows.where(F.col("doc_id") < C.N_BENCH_DOCS).select("s").distinct(),
            C.en_base_ids(_read(spark, sf_dir, "documents")),
            cache_key=key,
            pool_shingles=rows,
        )

    return cached(
        spark,
        f"curation_surv_{key}",
        D.algo_params()
        + (
            C.MIN_TOKENS,
            C.MAX_CHARS_PER_TOKEN_X2,
            C.MIN_STOPWORDS,
            C.N_BENCH_DOCS,
            tuple(C.EN_STOPWORDS),
            inspect.getsource(C.training_corpus),
        ),
        build,
    )


def q_corpus_sequences(spark, sf_dir):
    """END-TO-END flagship: curate → pack in one query. The five-screen
    training_corpus survivors (doc_id, n_tokens) flow straight into the
    concat-and-chunk sequence packer — the final artifact a pretraining
    data pipeline ships: the 512-token training-sequence manifest of the
    CURATED corpus. The packer reuses the survivors' n_tokens column (no
    re-tokenization scan) and its two-phase distributed prefix sum; the
    doc_id keyspace bound comes from the raw table (an upper bound keeps
    the arithmetic shard monotone over any survivor subset — O(1) scalar
    off a pruned scan). The DuckDB twin composes the SAME curation CTE
    chain with the direct single-stream cumsum pack, so parity proves the
    whole curate→pack pipeline cross-engine in one check."""
    from elb_pipeline.packing import sequence_pack

    surv = q_training_corpus(spark, sf_dir)
    max_id = (
        _read(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0] or 0
    )
    return sequence_pack(
        surv,
        max_doc_id=max_id,
        n_shards=spark.sparkContext.defaultParallelism,
    )


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming.dedup_stream:
    ``dropDuplicatesWithinWatermark`` keyed on (md5(text), length)) driven
    to completion over the materialized transcripts table, memory sink.
    Returns the surviving rows' (fp, fp_len) WITHOUT a distinct — if the
    stream ever admitted a duplicate key the row count would exceed the
    oracle's batch DISTINCT and the driver check goes red, so dedup
    itself is what is being verified. WHICH duplicate row survives per
    key is nondeterministic (first-in-batch); the key set is not.
    Watermark horizon is sized to the corpus's event-time span — the
    operator's contract only dedups re-occurrences INSIDE the horizon
    (state is evicted when the watermark passes ts+delay)."""
    from elb_pipeline.streaming import dedup_stream, read_transcripts_stream
    from elb_pipeline.synth import transcripts_cache_path

    path = transcripts_cache_path(spark, sf_dir)
    lo, hi = spark.read.parquet(path).agg(F.min("ts"), F.max("ts")).first()
    span_h = int((hi - lo).total_seconds() // 3600) + 2
    # uncapped trigger: this is a bounded drain (processAllAvailable), so
    # one micro-batch does all the work — the per-batch state-commit and
    # planning overhead of the 8-file cap bought nothing here. The key
    # SET (what the oracle checks) is identical either way; WHICH row
    # survives per key was nondeterministic before and stays so.
    deduped = dedup_stream(
        read_transcripts_stream(spark, path, max_files_per_trigger=0),
        watermark=f"{span_h} hours",
    )
    name = "q_streaming_dedup_sink"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select(
        F.md5("text").alias("fp"),
        F.length("text").cast("int").alias("fp_len"),
    )


def q_media_inventory(spark, sf_dir):
    from elb_pipeline.multimodal import media_from_documents

    m = media_from_documents(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def q_media_features(spark, sf_dir):
    """Stubbed decode → deterministic md5-derived feature vectors. The
    oracle recomputes the same values from md5 hex digits in SQL, so this
    is a value-level check of the decode plumbing (round 1 was rows-only,
    and its sq-norm projection was constantly 1.0 — vacuous)."""
    from elb_pipeline.multimodal import decode_features, media_from_documents

    f = decode_features(media_from_documents(spark, sf_dir))
    return f.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("feat0"),
        F.round(F.element_at("features", 8), 6).alias("feat7"),
    )


def q_media_resize_plan(spark, sf_dir):
    from elb_pipeline.multimodal import media_from_documents, resize_meta

    return resize_meta(media_from_documents(spark, sf_dir))


def q_media_frame_sample(spark, sf_dir):
    from elb_pipeline.multimodal import media_from_documents, sample_frames

    return sample_frames(media_from_documents(spark, sf_dir))


def q_ndjson_ordered_lines(spark, sf_dir):
    """Order-preserving single-stream NDJSON export — the reference's
    stdin→stdout mode emits parsed lines in INPUT order (main.rs:89-101);
    the distributed analog is a total order on the stable turn key
    (conv_id, turn_idx). line_no embeds the sequence in the data so the
    driver's order-insensitive hash still proves the exact line ORDER
    matches the oracle's ORDER BY. The global window is intentionally
    single-partition: a totally-ordered single-stream export is a
    single-writer operation by definition (at scale you shard it per
    conv_id range — job.export_ndjson_ordered documents that)."""
    both = _both_json_lines(spark, sf_dir)
    w = Window.orderBy("conv_id", "turn_idx")
    return both.select(
        F.row_number().over(w).cast("long").alias("line_no"), "json"
    )


def _both_json_lines(spark, sf_dir):
    """(conv_id, turn_idx, json) for BOTH valid dialects from ONE fused
    Arrow pass (routed_json_both) — the union of the two per-dialect
    queries routed and extracted the same text twice (two Python-worker
    waves; ~2.5× the regex work)."""
    both = routed_json_both(
        transcripts_cached(spark, sf_dir),
        keep_malformed_text=False,
        passthrough=["conv_id", "turn_idx"],
    )
    return both.where(F.col("sink") != SINK_MALFORMED).select(
        "conv_id", "turn_idx", "json"
    )


N_ORDERED_SHARDS = 8
SESSION_GAP_SECONDS = 30 * 60


def q_ndjson_sharded_lines(spark, sf_dir):
    """SCALE-OUT ordered NDJSON export (VERDICT r3 #5): the single-stream
    variant's global total order, reproduced with NO single-partition
    stage. Shard = an order-preserving deterministic range partition of
    the conv_id keyspace (floor(conv_num·S/(max+1)) — monotone in the
    sort key, so concatenating shards 0..S-1 yields exactly the global
    (conv_id, turn_idx) sequence); line numbering runs per shard via a
    window PARTITIONED by shard (parallel, one shard per task). The
    arithmetic shard function (instead of repartitionByRange's sampled
    boundaries) is what makes the oracle twin possible — DuckDB recomputes
    identical shard ids and intra-shard line numbers. The file-writing
    face of this plan is job.export_ndjson_sharded (repartitionByRange),
    pytest-checked against the single-stream export's byte sequence."""
    both = _both_json_lines(spark, sf_dir)
    # UNBOUNDED suffix parse (substring(conv_id, 6) to end-of-string) on
    # BOTH engines — the r4 pair used substring(...,6,6) on the Spark side
    # only, which would silently diverge from the oracle's substr(id, 6)
    # the day conv numbers exceed 6 digits (ADVICE r4 #3)
    num = F.expr("CAST(substring(conv_id, 6) AS INT)")
    # keyspace bound from the CHEAP transcripts scan (one max over a
    # pruned column — O(1) driver scalar, same pattern as the ANN query
    # vector), not from the parsed frame: a cross-join against a 1-row
    # agg would plan a BroadcastNestedLoopJoin and re-run the whole parse
    mxv = (
        transcripts_cached(spark, sf_dir)
        .agg(F.max(F.expr("CAST(substring(conv_id, 6) AS INT)")))
        .first()[0]
    )
    # synth builds conv_id as 'conv-' || lpad(n, 6, '0'), which TRUNCATES
    # numbers wider than 6 digits — the shard key would then collide
    # silently on both engines (green-but-wrong). Guard like
    # dedup.assert_id_headroom does for planted doc ids.
    if mxv is None or mxv >= 999_999:
        raise ValueError(
            f"max conv number {mxv} is at the 6-digit lpad boundary: widen "
            "the conv_id format before sharding at this scale"
        )
    sharded = both.withColumn(
        "shard",
        F.least(
            F.floor(num * N_ORDERED_SHARDS / F.lit(mxv + 1)),
            F.lit(N_ORDERED_SHARDS - 1),
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("conv_id", "turn_idx")
    return sharded.select(
        "shard",
        F.row_number().over(w).cast("long").alias("shard_line_no"),
        "json",
    )


def q_conversation_sessions_batch(spark, sf_dir):
    """BATCH REPLAY of the event-time sessionization (VERDICT r3 #6): the
    same gap rule the streaming operator applies incrementally
    (streaming.conversation_sessions_event_time — a new session starts
    when a turn arrives more than GAP after the session's last event),
    expressed as lag/cumsum windows so DuckDB can recompute the exact
    session boundaries. Delegates to streaming.batch_session_replay — the
    SAME builder the streaming↔batch cross-validation test
    (tests/test_streaming.py::test_streaming_sessions_equal_batch_replay)
    compares against the stateful operator, so the oracled query and the
    streaming implementation cannot drift apart silently (VERDICT r4 #5).
    Distributed shape: both windows partition by conv_id — one shuffle,
    no global ordering anywhere."""
    from elb_pipeline.streaming import batch_session_replay

    t = transcripts_cached(spark, sf_dir)
    return batch_session_replay(t, SESSION_GAP_SECONDS)


def q_conversation_assembly(spark, sf_dir):
    """Per-conversation training-document assembly — the step before
    tokenization: each conversation's turns concatenated in turn order
    into ONE document, reported as (n_turns, n_chars, md5) so the compare
    stays narrow. Runs the CHUNKED two-stage form
    (aggregate.assemble_conversations_chunked — stage 1 pre-assembles
    turn_idx-range chunks so a hot conversation's sort/build work spreads
    over many tasks; the skew evidence is BENCH/skew_bench.py, VERDICT r4
    #8) while DuckDB recomputes the DIRECT single-stage string_agg — the
    oracle therefore proves the salted merge equals the direct
    aggregation cross-engine. No reference counterpart (the reference
    emits one output line per input line, main.rs:103-177; assembly is a
    training-pipeline op)."""
    from elb_pipeline.aggregate import assemble_conversations_chunked

    t = transcripts_cached(spark, sf_dir)
    return assemble_conversations_chunked(t.select("conv_id", "turn_idx", "text"))


def q_ann_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    qnorm = math.sqrt(sum(x * x for x in qvec))
    qcol = F.array(*[F.lit(x) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qcol, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"), lambda a: a.cast("double") * a.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (norm * F.lit(qnorm))
    # order by the UNROUNDED cosine (mirrors the oracle's ORDER BY) so the
    # row selected at the limit boundary can't differ past the 4th decimal
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round(F.col("cos"), 4).alias("cos_sim"))
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-pruned ANN: assign vectors to their nearest of 7 fixed pivots
    (broadcast cross-join), probe only the query's inverted list — the
    plan scans ~n/K rows instead of n (simsearch.py)."""
    from elb_pipeline.simsearch import ann_ivf_topk

    return ann_ivf_topk(_read(spark, sf_dir, "embeddings"))


ANN_N_PROBES = 2


def q_ann_ivf_recall(spark, sf_dir):
    """Recall of the MULTI-PROBE IVF scan (n_probes=2: the query probes
    its two nearest pivot cells — single-probe recall degrades for
    queries near a cell boundary) against the exact brute-force top-10.
    Fully LAZY (VERDICT r4 #1): one composed join+agg DataFrame, no
    .count()/createDataFrame at registry-build time — the driver controls
    execution.

    Recall calibration on THIS table: the driver's embeddings are
    near-uniform on the sphere (max pairwise cosine ≈ 0.5 — the 'top-10'
    are noise-level neighbors), so cell assignment carries no
    information and recall sits at the scan-fraction floor ≈ n_probes/K
    (measured at sf0.01: probes 1..7 → overlap 1,2,5,6,9,9,10 of 10).
    No pruning index can beat that floor on structureless data. The
    operator's actual contract — recall ≥ 0.9 at n_probes=2 when the
    IVF assumption (clustered vectors) holds, including boundary
    queries that single-probe misses — is asserted by
    tests/test_ivf_recall.py on a deterministically clustered corpus."""
    from elb_pipeline.simsearch import ann_ivf_topk

    exact = q_ann_cosine_topk(spark, sf_dir).select("vec_id")
    ivf = ann_ivf_topk(
        _read(spark, sf_dir, "embeddings"), n_probes=ANN_N_PROBES
    ).select("vec_id")
    return exact.join(ivf, "vec_id").agg(
        F.count("*").alias("n_overlap"),
        F.round(F.count("*") / 10.0, 4).alias("recall"),
        F.lit(ANN_N_PROBES).alias("n_probes"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts_build": q_transcripts_build,
        "parse_route_counts": q_parse_route_counts,
        "route_sets": q_route_sets,
        "parse_alb_fields": q_parse_alb_fields,
        "parse_classic_fields": q_parse_classic_fields,
        "latency_percentiles": q_latency_percentiles,
        "url_domain_topk": q_url_domain_topk,
        "alb_json_lines": q_alb_json_lines,
        "classic_json_lines": q_classic_json_lines,
        "enrich_rollup": q_enrich_rollup,
        "agg_sink_day_bucket": q_agg_sink_day_bucket,
        "agg_salted": q_agg_salted,
        "turn_order_check": q_turn_order_check,
        "dead_letter_rows": q_dead_letter_rows,
        "dead_letter_diag": q_dead_letter_diag,
        "ndjson_ordered_lines": q_ndjson_ordered_lines,
        "ndjson_sharded_lines": q_ndjson_sharded_lines,
        "conversation_sessions_batch": q_conversation_sessions_batch,
        "conversation_assembly": q_conversation_assembly,
        "file_corpus_route_counts": q_file_corpus_route_counts,
        "tpch_q1": q_tpch_q1,
        "top_events_per_user": q_top_events_per_user,
        "orders_customer_join": q_orders_customer_join,
        "event_types_except": q_event_types_except,
        "dedup_exact": q_dedup_exact,
        "doc_quality": q_doc_quality,
        "lang_distribution": q_lang_distribution,
        "minhash_signatures": q_minhash_signatures,
        "minhash_dup_groups": q_minhash_dup_groups,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_lsh_groups": q_minhash_lsh_groups,
        "leakproof_split": q_leakproof_split,
        "dedup_incremental": q_dedup_incremental,
        "jaccard_rare_pairs": q_jaccard_rare_pairs,
        "jaccard_prefix_pairs": q_jaccard_prefix_pairs,
        "simhash_near_dup": q_simhash_near_dup,
        "text_normalize": q_text_normalize,
        "pii_scrub": q_pii_scrub,
        "vocab_topk": q_vocab_topk,
        "stratified_sample": q_stratified_sample,
        "contamination_check": q_contamination_check,
        "training_corpus": q_training_corpus,
        "corpus_sequences": q_corpus_sequences,
        "streaming_dedup": q_streaming_dedup,
        "token_count_bpe": q_token_count_bpe,
        "lang_stopword_score": q_lang_stopword_score,
        "embedding_near_dup": q_embedding_near_dup,
        "ngram_profile": q_ngram_profile,
        "unigram_logfreq": q_unigram_logfreq,
        "repetition_scores": q_repetition_scores,
        "doc_fingerprint": q_doc_fingerprint,
        "sequence_pack": q_sequence_pack,
        "lang_quota": q_lang_quota,
        "source_mixture": q_source_mixture,
        "curriculum_bins": q_curriculum_bins,
        "simhash16": q_simhash16,
        "media_inventory": q_media_inventory,
        "media_features": q_media_features,
        "media_resize_plan": q_media_resize_plan,
        "media_frame_sample": q_media_frame_sample,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_recall": q_ann_ivf_recall,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — one per query above. Every query is oracled;
# byte-exact failed_position (partial-regex bisection) is the one facet not
# SQL-expressible — it is pytest-covered against a linear DFA-alive walk,
# while dead_letter_diag's nearest_dialect/fields_ok ARE oracled below.
# ---------------------------------------------------------------------------

_EXACT_ANN_SQL = (
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
    "SELECT vec_id, round(list_cosine_similarity(embedding, q.qe), 4) "
    "AS cos_sim FROM embeddings, q WHERE vec_id <> 0 "
    "ORDER BY list_cosine_similarity(embedding, q.qe) DESC, vec_id LIMIT 10"
)


def _simhash_sql(nbits: int, sql_type: str = "INT") -> str:
    """Hash-once SimHash as SQL over (ws, hs) columns — ws the element
    array, hs its per-element md5 hex array."""
    return (
        "CAST("
        + " + ".join(
            "(CASE WHEN 2 * length(list_filter(hs, "
            f"h -> substr(h, {k}, 1) IN "
            "('8','9','a','b','c','d','e','f'))) > length(ws) "
            f"THEN {1 << (k - 1)} ELSE 0 END)"
            for k in range(1, nbits + 1)
        )
        + f" AS {sql_type})"
    )


_TOKENIZE_SQL = (
    "string_split(text, ' ') AS ws, "
    "list_transform(string_split(text, ' '), t -> md5(t)) AS hs"
)


def _file_corpus_oracle_sql() -> str:
    """DuckDB independently re-reads the same gzip/plain log files
    (read_csv with quoting disabled = raw line reader) and re-routes."""
    from elb_pipeline.sources import DEFAULT_CORPUS_ROOT, corpus_fixture

    corpus_fixture(DEFAULT_CORPUS_ROOT)
    read = (
        "read_csv('{glob}', columns={{'text': 'VARCHAR'}}, delim=e'\\x01', "
        "header=false, quote='', escape='')"
    )
    alb_glob = f"{DEFAULT_CORPUS_ROOT}/alb/part-*.log.gz"
    clb_glob = f"{DEFAULT_CORPUS_ROOT}/classic/part-*.log"
    return (
        f"WITH alb_lines AS (SELECT text FROM {read.format(glob=alb_glob)}), "
        f"clb_lines AS (SELECT text FROM {read.format(glob=clb_glob)}) "
        f"SELECT 'alb_gz' AS corpus, {O.sink_expr('text')} AS sink, "
        "count(*) AS n FROM alb_lines GROUP BY 1, 2 "
        "UNION ALL "
        f"SELECT 'classic_plain' AS corpus, {O.sink_expr('text')} AS sink, "
        "count(*) AS n FROM clb_lines GROUP BY 1, 2"
    )


def _training_corpus_ctes() -> str:
    """CTE chain (sans WITH RECURSIVE prefix) of the five-screen curation
    oracle — shared by `training_corpus` and the packed `corpus_sequences`
    so the two DuckDB twins cannot drift apart."""
    sh = D._SHINGLES_SQL.replace("ws", "string_split(text, ' ')")
    return (
        f"{D.doc_pool_cte()}, {D.signatures_cte()}, "
        f"{D.lsh_candidates_cte()}, {D.verified_pairs_cte()}, "
        f"{D.dup_groups_cte()}, "
        "exact_keep AS (SELECT min(doc_id) AS doc_id FROM doc_pool "
        "GROUP BY md5(text), length(text)), "
        "near_drop AS (SELECT doc_id FROM groups WHERE doc_id != group_id), "
        f"pool_sh AS (SELECT DISTINCT doc_id, unnest({sh}) AS s "
        "FROM doc_pool), "
        f"bench AS (SELECT DISTINCT s FROM (SELECT unnest({sh}) AS s "
        "FROM documents WHERE doc_id < 10)), "
        "contaminated AS (SELECT DISTINCT p.doc_id FROM pool_sh p "
        "JOIN bench b ON p.s = b.s), "
        "tok AS (SELECT doc_id, text, "
        "length(text) - length(replace(text, ' ', '')) + 1 AS nt "
        "FROM doc_pool)"
    )


def _training_corpus_select() -> str:
    """Final SELECT of the curation oracle: the survivors (doc_id,
    n_tokens) — composable as a CTE body for downstream stages."""
    return (
        "SELECT t.doc_id, CAST(nt AS INT) AS n_tokens FROM tok t "
        "WHERE t.doc_id IN (SELECT doc_id FROM exact_keep) "
        "AND t.doc_id NOT IN (SELECT doc_id FROM near_drop) "
        "AND t.doc_id NOT IN (SELECT doc_id FROM contaminated) "
        "AND t.doc_id >= 10 AND nt >= 30 "
        "AND 2 * length(text) <= 11 * nt "
        "AND length(list_intersect(string_split(text, ' '), "
        + O._str_list(_EN_STOPWORDS)
        + ")) >= 2 "
        f"AND t.doc_id % {D.EXACT_OFFSET} IN "
        "(SELECT doc_id FROM documents WHERE lang = 'en')"
    )


def oracle_sql() -> dict[str, str]:
    pre = O.with_prelude  # WITH pool, transcripts, routed ...
    bucket = O.conv_bucket_sql()
    return {
        "transcripts_build": pre("SELECT * FROM transcripts"),
        "parse_route_counts": pre(
            "SELECT sink, count(*) AS n FROM routed GROUP BY sink"
        ),
        "route_sets": pre("SELECT sink, conv_id, turn_idx FROM routed"),
        "parse_alb_fields": pre(
            f", {O.alb_extract_cte()} "
            f"SELECT conv_id, turn_idx, {O.alb_field_select()} FROM alb_ext"
        ),
        "latency_percentiles": pre(
            f", {O.alb_extract_cte()}, "
            "lat AS (SELECT x.elb_status_code AS elb_status_code, "
            "CAST(x.target_processing_time AS DOUBLE) AS t FROM alb_ext) "
            "SELECT elb_status_code, CAST(count(*) AS BIGINT) AS n, "
            "round(quantile_cont(t, 0.5), 6) AS p50, "
            "round(quantile_cont(t, 0.95), 6) AS p95, "
            "round(quantile_cont(t, 0.99), 6) AS p99 "
            "FROM lat WHERE t >= 0 GROUP BY elb_status_code"
        ),
        "url_domain_topk": pre(
            f", {O.alb_extract_cte()}, "
            "doms AS (SELECT regexp_extract(x.url, '^[a-z]+://([^/:]+)', 1) "
            "AS domain FROM alb_ext) "
            "SELECT domain, CAST(count(*) AS BIGINT) AS n FROM doms "
            "WHERE domain != '' GROUP BY domain "
            "ORDER BY n DESC, domain LIMIT 10"
        ),
        "parse_classic_fields": pre(
            f", {O.classic_extract_cte()} "
            f"SELECT conv_id, turn_idx, {O.classic_field_select()} FROM clb_ext"
        ),
        "alb_json_lines": pre(
            f", {O.alb_extract_cte()} "
            f"SELECT conv_id, turn_idx, {O.alb_json_expr()} AS json FROM alb_ext"
        ),
        "classic_json_lines": pre(
            f", {O.classic_extract_cte()} "
            f"SELECT conv_id, turn_idx, {O.classic_json_expr()} AS json FROM clb_ext"
        ),
        "enrich_rollup": pre(
            f", {O.role_dim_cte()}, {O.tool_dim_cte()} "
            "SELECT r.sink, d.role_group, t.tool_family, count(*) AS n, "
            "CAST(sum(CAST(d.is_human AS INT)) AS BIGINT) AS n_human, "
            "CAST(sum(CAST(t.is_io AS INT)) AS BIGINT) AS n_io "
            "FROM routed r LEFT JOIN dim_role d USING (role) "
            "LEFT JOIN dim_tool t USING (tool) "
            "GROUP BY r.sink, d.role_group, t.tool_family"
        ),
        "agg_sink_day_bucket": pre(
            f"SELECT sink, {bucket} AS conv_bucket, "
            "CAST(CAST(ts AS DATE) AS VARCHAR) AS ts_day, "
            "count(*) AS n FROM routed GROUP BY 1, 2, 3"
        ),
        # salted two-stage aggregation must equal the direct aggregation
        "agg_salted": pre(
            f"SELECT sink, {bucket} AS conv_bucket, "
            "CAST(CAST(ts AS DATE) AS VARCHAR) AS ts_day, "
            "count(*) AS n FROM routed GROUP BY 1, 2, 3"
        ),
        "turn_order_check": pre(
            "SELECT conv_id, count(*) AS n_turns, min(turn_idx) AS min_turn, "
            "max(turn_idx) AS max_turn, max(turn_idx) = count(*) - 1 AS dense "
            "FROM transcripts GROUP BY conv_id"
        ),
        "dead_letter_rows": pre(
            "SELECT conv_id, turn_idx, text FROM routed WHERE sink = 'malformed'"
        ),
        "dead_letter_diag": pre(
            ", diag AS (SELECT conv_id, turn_idx, "
            f"{O.fields_ok_sql(O_ALB)} AS ka, {O.fields_ok_sql(O_CLASSIC)} AS kc "
            "FROM routed WHERE sink = 'malformed') "
            "SELECT conv_id, turn_idx, "
            "CASE WHEN kc > ka THEN 'classic_lb' ELSE 'alb' END AS nearest_dialect, "
            "CAST(greatest(ka, kc) AS INT) AS fields_ok FROM diag"
        ),
        "ndjson_ordered_lines": pre(
            f", {O.alb_extract_cte()}, {O.classic_extract_cte()}, "
            f"both_sinks AS (SELECT conv_id, turn_idx, {O.alb_json_expr()} AS json "
            "FROM alb_ext "
            f"UNION ALL SELECT conv_id, turn_idx, {O.classic_json_expr()} "
            "AS json FROM clb_ext) "
            "SELECT row_number() OVER (ORDER BY conv_id, turn_idx) AS line_no, "
            "json FROM both_sinks"
        ),
        "ndjson_sharded_lines": pre(
            f", {O.alb_extract_cte()}, {O.classic_extract_cte()}, "
            f"both_sinks AS (SELECT conv_id, turn_idx, {O.alb_json_expr()} AS json "
            "FROM alb_ext "
            f"UNION ALL SELECT conv_id, turn_idx, {O.classic_json_expr()} "
            "AS json FROM clb_ext), "
            "mx AS (SELECT max(CAST(substr(conv_id, 6) AS INT)) AS mx "
            "FROM transcripts), "
            "sharded AS (SELECT conv_id, turn_idx, json, "
            "CAST(least(floor(CAST(substr(conv_id, 6) AS INT) "
            f"* {N_ORDERED_SHARDS} / (mx + 1)), {N_ORDERED_SHARDS - 1}) AS INT) "
            "AS shard FROM both_sinks, mx) "
            "SELECT shard, row_number() OVER ("
            "PARTITION BY shard ORDER BY conv_id, turn_idx) AS shard_line_no, "
            "json FROM sharded"
        ),
        "conversation_sessions_batch": pre(
            ", stamped AS (SELECT conv_id, turn_idx, epoch_us(ts) AS us "
            "FROM transcripts), "
            "flagged AS (SELECT conv_id, turn_idx, us, "
            "CASE WHEN us - lag(us) OVER ("
            "PARTITION BY conv_id ORDER BY us, turn_idx) "
            f"> {SESSION_GAP_SECONDS * 1_000_000} THEN 1 ELSE 0 END AS new_sess "
            "FROM stamped), "
            "sessed AS (SELECT conv_id, us, "
            "CAST(sum(new_sess) OVER (PARTITION BY conv_id "
            "ORDER BY us, turn_idx ROWS UNBOUNDED PRECEDING) AS BIGINT) "
            "AS session_idx FROM flagged) "
            "SELECT conv_id, session_idx, count(*) AS n_turns, "
            "min(us) AS session_start_us, max(us) AS session_end_us "
            "FROM sessed GROUP BY conv_id, session_idx"
        ),
        "conversation_assembly": pre(
            ", asm AS (SELECT conv_id, count(*) AS nt, "
            "string_agg(text, chr(10) ORDER BY turn_idx) AS doc "
            "FROM transcripts GROUP BY conv_id) "
            "SELECT conv_id, CAST(nt AS INT) AS n_turns, "
            "CAST(length(doc) AS INT) AS n_chars, md5(doc) AS doc_md5 "
            "FROM asm"
        ),
        "file_corpus_route_counts": _file_corpus_oracle_sql(),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "top_events_per_user": (
            "SELECT user_id, event_id, event_type, value, rk FROM ("
            "SELECT *, row_number() OVER ("
            "PARTITION BY user_id ORDER BY value DESC, event_id) AS rk "
            "FROM events) WHERE rk <= 3"
        ),
        "orders_customer_join": (
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment"
        ),
        "event_types_except": (
            "SELECT DISTINCT event_type FROM events "
            "EXCEPT "
            "SELECT DISTINCT event_type FROM events WHERE value > 150"
        ),
        "dedup_exact": (
            f"WITH {D.doc_pool_cte()} "
            "SELECT min(doc_id) AS keep_id, count(*) AS n_copies "
            "FROM doc_pool GROUP BY md5(text), length(text)"
        ),
        "minhash_lsh_pairs": (
            f"WITH {D.doc_pool_cte()}, {D.signatures_cte()}, "
            f"{D.lsh_candidates_cte()}, {D.verified_pairs_cte()} "
            "SELECT a_id, b_id, jaccard FROM pairs"
        ),
        "minhash_lsh_groups": (
            f"WITH RECURSIVE {D.doc_pool_cte()}, {D.signatures_cte()}, "
            f"{D.lsh_candidates_cte()}, {D.verified_pairs_cte()}"
            + D.dup_groups_sql_tail()
        ),
        "leakproof_split": (
            f"WITH RECURSIVE {D.doc_pool_cte()}, {D.signatures_cte()}, "
            f"{D.lsh_candidates_cte()}, {D.verified_pairs_cte()}, "
            f"{D.dup_groups_cte()}, "
            "k AS (SELECT p.doc_id, "
            "coalesce(g.group_id, p.doc_id) AS skey "
            "FROM doc_pool p LEFT JOIN groups g USING (doc_id)) "
            "SELECT doc_id, CASE WHEN f < 0.8 THEN 'train' "
            "WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split FROM "
            f"(SELECT doc_id, {M.sql_frac('skey')} AS f FROM k)"
        ),
        "simhash_near_dup": (
            f"WITH {D.doc_pool_cte()}, "
            "shingled AS (SELECT doc_id, "
            f"{D._SHINGLES_SQL} AS sg "
            "FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM doc_pool)), "
            "tok AS (SELECT doc_id, sg AS ws, "
            "list_transform(sg, s -> md5(s)) AS hs FROM shingled), "
            f"sh AS (SELECT doc_id, {_simhash_sql(32, 'BIGINT')} AS sh FROM tok), "
            "bands AS (SELECT doc_id, sh, t.b, (sh >> CAST(8 * t.b AS INT)) & 255 AS val "
            "FROM sh, range(4) t(b)) "
            "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, "
            "CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming "
            "FROM bands a JOIN bands b ON a.b = b.b AND a.val = b.val "
            "AND a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.sh, b.sh)) <= 3"
        ),
        "doc_quality": (
            "SELECT doc_id, lang, length(text) AS len_chars, "
            "length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens, "
            "round(length(text) / (length(text) - length(replace(text, ' ', '')) + 1), 4)"
            " AS avg_token_len FROM documents"
        ),
        "lang_distribution": (
            "SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars "
            "FROM documents GROUP BY lang"
        ),
        "minhash_signatures": (
            "SELECT doc_id, "
            + ", ".join(
                "list_min(list_transform(string_split(text, ' '), "
                f"t -> md5(t || '{seed}'))) AS sig{i}"
                for i, seed in enumerate(_MINHASH_SEEDS)
            )
            + " FROM documents"
        ),
        "minhash_dup_groups": (
            "WITH sigs AS (SELECT doc_id, "
            + ", ".join(
                "list_min(list_transform(string_split(text, ' '), "
                f"t -> md5(t || '{seed}'))) AS sig{i}"
                for i, seed in enumerate(_MINHASH_SEEDS)
            )
            + " FROM documents) "
            "SELECT min(doc_id) AS keep_id, count(*) AS n_docs FROM sigs "
            "GROUP BY sig0, sig1, sig2, sig3 HAVING count(*) > 1"
        ),
        "token_count_bpe": (
            "SELECT doc_id, CAST(length(regexp_extract_all(text, "
            f"'{_BPE_TOKEN_RE}')) AS INT) AS n_bpe_tokens FROM documents"
        ),
        "lang_stopword_score": (
            "WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws "
            "FROM documents) "
            "SELECT doc_id, lang, "
            "CAST(length(list_intersect(ws, "
            + O._str_list(_EN_STOPWORDS)
            + ")) AS INT) AS n_stopword_kinds, "
            "round(length(list_intersect(ws, "
            + O._str_list(_EN_STOPWORDS)
            + ")) / length(ws), 4) AS stopword_ratio, "
            "length(list_intersect(ws, "
            + O._str_list(_EN_STOPWORDS)
            + ")) >= 3 AS looks_english "
            "FROM w"
        ),
        "embedding_near_dup": S.near_dup_pairs_sql(),
        "ann_ivf_topk": S.ann_ivf_sql(),
        "ann_ivf_recall": (
            f"WITH exact AS ({_EXACT_ANN_SQL}), ivf AS ({{ivf}}) "
            "SELECT count(*) AS n_overlap, round(count(*) / 10.0, 4) AS recall, "
            f"{ANN_N_PROBES} AS n_probes "
            "FROM exact JOIN ivf USING (vec_id)"
        ).format(ivf=S.ann_ivf_sql(n_probes=ANN_N_PROBES)),
        "dedup_incremental": D.incremental_dedup_sql(D.EXACT_OFFSET),
        "jaccard_rare_pairs": D.rare_shingle_pairs_sql(),
        "jaccard_prefix_pairs": D.prefix_jaccard_pairs_sql(),
        "repetition_scores": (
            "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
            "FROM documents), "
            "wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w), "
            "ws AS (SELECT doc_id, sum(c) AS n_words, "
            "count(*) AS n_distinct_words, max(c) AS top_word_n "
            "FROM wc GROUP BY doc_id), "
            "g AS (SELECT doc_id, "
            + D._SHINGLES_SQL.replace("ws", "string_split(text, ' ')")
            + " AS gs FROM documents), "
            "gs AS (SELECT doc_id, length(gs) AS n_3grams, "
            "length(list_distinct(gs)) AS n_distinct_3grams FROM g) "
            "SELECT ws.doc_id, CAST(n_words AS INT) AS n_words, "
            "round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 4) "
            "AS dup_word_frac, "
            "round(CAST(top_word_n AS DOUBLE) / n_words, 4) AS top_word_frac, "
            "round(CASE WHEN n_3grams > 0 THEN "
            "1.0 - CAST(n_distinct_3grams AS DOUBLE) / n_3grams "
            "ELSE 0.0 END, 4) AS dup_3gram_frac, "
            "(CAST(top_word_n AS DOUBLE) / n_words > 0.2) OR "
            "(CASE WHEN n_3grams > 0 THEN "
            "1.0 - CAST(n_distinct_3grams AS DOUBLE) / n_3grams "
            "ELSE 0.0 END > 0.3) AS repetitive "
            "FROM ws JOIN gs ON ws.doc_id = gs.doc_id"
        ),
        "ngram_profile": (
            "WITH g AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) "
            "SELECT doc_id, "
            "CAST(length([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] "
            "FOR i IN range(1, greatest(length(ws) - 2, 0) + 1)]) AS INT) AS n_shingles, "
            "CAST(length(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] "
            "FOR i IN range(1, greatest(length(ws) - 2, 0) + 1)])) AS INT) "
            "AS n_distinct_shingles FROM g"
        ),
        "doc_fingerprint": (
            "WITH g AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) "
            "SELECT doc_id, "
            "list_min([md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) "
            "FOR i IN range(1, greatest(length(ws) - 2, 0) + 1)]) AS fingerprint "
            "FROM g"
        ),
        "unigram_logfreq": (
            "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
            "FROM documents), "
            "f AS (SELECT w, count(*) AS cnt FROM w GROUP BY w), "
            "j AS (SELECT doc_id, length(bin(cnt)) - 1 AS lg "
            "FROM w JOIN f USING (w)) "
            "SELECT doc_id, count(*) AS n_words, "
            "CAST(sum(lg) AS BIGINT) AS sum_log2_freq, "
            "CAST((100 * sum(lg)) // count(*) AS BIGINT) AS mean_log2_x100 "
            "FROM j GROUP BY doc_id"
        ),
        "sequence_pack": P.sequence_pack_sql(),
        "lang_quota": P.lang_quota_sql(),
        "source_mixture": M.source_mixture_sql(),
        "curriculum_bins": M.curriculum_bins_sql(),
        "simhash16": (
            f"WITH w AS (SELECT doc_id, {_TOKENIZE_SQL} FROM documents) "
            f"SELECT doc_id, {_simhash_sql(16)} AS simhash16 FROM w"
        ),
        "text_normalize": (
            "SELECT doc_id, "
            "trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm_text, "
            "trim(regexp_replace(lower(text), ' +', ' ', 'g')) <> text AS changed, "
            "CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS INT)"
            " AS norm_len FROM documents"
        ),
        "pii_scrub": pre(
            "SELECT conv_id, turn_idx, "
            f"CAST(length(regexp_extract_all(text, '{_IP_RE}')) AS INT) AS n_ips, "
            f"regexp_replace(text, '{_IP_RE}', '<IP>', 'g') AS scrubbed "
            "FROM transcripts"
        ),
        "vocab_topk": (
            "SELECT token, count(*) AS n FROM ("
            "SELECT unnest(string_split(text, ' ')) AS token FROM documents) "
            "GROUP BY token ORDER BY n DESC, token LIMIT 50"
        ),
        "stratified_sample": (
            "SELECT lang, count(*) AS n_total, "
            "CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) "
            "IN ('0','1','2') THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled "
            "FROM documents GROUP BY lang"
        ),
        "streaming_dedup": pre(
            "SELECT DISTINCT md5(text) AS fp, "
            "CAST(length(text) AS INT) AS fp_len FROM transcripts"
        ),
        "training_corpus": (
            f"WITH RECURSIVE {_training_corpus_ctes()} "
            f"{_training_corpus_select()}"
        ),
        "corpus_sequences": (
            f"WITH RECURSIVE {_training_corpus_ctes()}, "
            f"surv AS ({_training_corpus_select()}), "
            + P.sequence_pack_tail_sql("surv", "n_tokens")
        ),
        "contamination_check": (
            "WITH shingled AS (SELECT DISTINCT doc_id, unnest("
            + D._SHINGLES_SQL.replace("ws", "string_split(text, ' ')")
            + ") AS s FROM documents), "
            "bench AS (SELECT DISTINCT s FROM shingled WHERE doc_id < 10) "
            "SELECT a.doc_id, count(*) AS n_overlap FROM shingled a "
            "JOIN bench b ON a.s = b.s WHERE a.doc_id >= 10 GROUP BY a.doc_id"
        ),
        "media_inventory": (
            "SELECT doc_id AS media_id, "
            "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind, "
            "CAST(octet_length(encode(text)) AS INT) AS n_bytes, "
            "CAST((n_chars % 64 + 1) * 16 AS INT) AS width, "
            "CAST((n_chars % 48 + 1) * 16 AS INT) AS height, "
            "CAST(8000 + (n_chars % 5) * 8000 AS INT) AS sample_rate, "
            "CAST(n_chars % 30 + 2 AS INT) AS n_frames "
            "FROM documents"
        ),
        "media_features": (
            "WITH raw AS (SELECT doc_id AS media_id, "
            "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind, "
            "CAST(octet_length(encode(text)) AS INT) AS n_bytes, "
            + ", ".join(
                f"CAST(concat('0x', substr(md5(text), {4 * i + 1}, 4)) AS INTEGER)"
                f" / 65535.0 AS r{i}"
                for i in range(8)
            )
            + " FROM documents), "
            "n AS (SELECT *, sqrt("
            + " + ".join(f"r{i} * r{i}" for i in range(8))
            + ") AS nrm FROM raw) "
            "SELECT media_id, kind, n_bytes, "
            "round(r0 / nrm, 6) AS feat0, round(r7 / nrm, 6) AS feat7 FROM n"
        ),
        "media_resize_plan": (
            "WITH m AS (SELECT doc_id AS media_id, "
            "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind, "
            "CAST((n_chars % 64 + 1) * 16 AS INT) AS width, "
            "CAST((n_chars % 48 + 1) * 16 AS INT) AS height FROM documents) "
            "SELECT media_id, width, height, "
            "round(CASE WHEN greatest(width, height) > 256 "
            "THEN 256.0 / greatest(width, height) ELSE 1.0 END, 4) AS scale, "
            "CAST(floor(width * (CASE WHEN greatest(width, height) > 256 "
            "THEN 256.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_width, "
            "CAST(floor(height * (CASE WHEN greatest(width, height) > 256 "
            "THEN 256.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_height "
            "FROM m WHERE kind = 'image'"
        ),
        "media_frame_sample": (
            "WITH m AS (SELECT doc_id AS media_id, "
            "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind, "
            "CAST(n_chars % 30 + 2 AS INT) AS n_frames FROM documents) "
            "SELECT media_id, n_frames, "
            "CAST(unnest(range(0, n_frames, 5)) AS INT) AS frame_idx "
            "FROM m WHERE kind = 'video'"
        ),
        "ann_cosine_topk": _EXACT_ANN_SQL,
    }
