"""Training-sequence packing and per-group quota capping.

Two curation-pipeline operators downstream of dedup/quality screens:

``sequence_pack`` — concat-and-chunk packing, the canonical pretraining
step: documents are concatenated in stable doc_id order into one token
stream, then chunked into fixed-length training sequences of ``SEQ_LEN``
tokens (documents may straddle a boundary — exactly how pretraining data
loaders pack). The hard part at scale is the global running token offset:
a naive ``Window.orderBy(doc_id)`` cumsum plans an
``Exchange SinglePartition`` — one task sorts the corpus. This operator
computes it as the classic two-phase distributed prefix sum instead:

  phase 1  shard docs by an order-preserving arithmetic range partition
           of the doc_id keyspace (monotone in the sort key — the same
           device as the sharded NDJSON export); per-shard cumsum via a
           window PARTITIONED by shard (parallel, one shard per task).
           The shard count S follows the session (``defaultParallelism``)
           and the keyspace bound is the input's own ``max(doc_id)``;
  phase 2  per-shard subtotals (a partial-first groupBy down to S rows)
           → exclusive prefix over the S-row aggregate (the only
           single-partition window, over S rows — O(shards), the same
           shape AQE itself uses for statistics) → broadcast-joined back.

``global_start = shard_prefix + within_shard_cumsum - n_tokens`` then
never needed a global sort. Everything downstream (sequence spans, the
per-sequence rollup) is one hash shuffle on seq_id.

``lang_quota`` — keep at most LANG_QUOTA docs per language by a
deterministic priority order. The naive worry: ``row_number`` over
``partitionBy(lang)`` shuffles every row of a hot language into one task
— the windowed analog of the skewed aggregation
(BENCH/skew_bench_r5.json).
Measured finding (this round): Spark 4's ``WindowGroupLimit`` rule
already solves it for rank-limit filters — the optimizer inserts a
PARTIAL WindowGroupLimit below the exchange, pruning each map task to
its local top QUOTA per language before any shuffle, so at most QUOTA·P
rows of a hot language ever move. We therefore ship the DIRECT window
(one shuffle, map-side pruned) and plan-assert the Partial
WindowGroupLimit is present. A manual two-stage decomposition (rank
within (lang, input-partition-id), then re-rank the survivors) measured
equal within noise (BENCH/window_skew_r5.json) and was deleted: it pays
an EXTRA shuffle on (lang, pid) for pruning the optimizer already does.
If the plan assertion ever trips, lang_quota needs that two-stage prune.

No reference counterpart (the reference emits one line per input line,
src/main.rs:103-177; packing/quota are training-pipeline operators).
DuckDB twins recompute both single-stage (__spark_entry__.oracle_sql) —
the oracle therefore proves the distributed decompositions equal the
direct forms cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SEQ_LEN = 512  # tokens per packed training sequence
LANG_QUOTA = 40  # max docs kept per language


def n_tokens_expr() -> Column:
    """Whitespace token count via length arithmetic (no split array);
    matches the oracle's length(text) - length(replace(text,' ','')) + 1."""
    return (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    ).cast("long")


def _arith_shard(key: Column, max_key: int, n_shards: int) -> Column:
    """Order-preserving arithmetic range shard: monotone in ``key`` so
    shard-order concatenation reproduces the global key order. Balance
    assumes roughly uniform key density (true for synth doc ids; at 100 TB
    you would feed the real key histogram in — monotonicity, which
    correctness rests on, holds regardless)."""
    return F.least(
        F.floor(key * n_shards / F.lit(max_key + 1)), F.lit(n_shards - 1)
    ).cast("int")


def doc_token_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, start, fin): each doc's half-open token interval
    [start, fin] in the concatenated doc_id-ordered token stream, via the
    two-phase prefix sum described in the module docstring. If ``docs``
    already carries an ``n_tokens`` column (e.g. the curated-corpus
    survivors), it is used as-is; otherwise it is derived from ``text``.
    There is one shard per core of the session (``defaultParallelism``),
    and the keyspace bound is ``max(doc_id)`` of ``docs`` — one scalar
    job. Any upper bound would do: the arithmetic shard stays monotone
    for every subset of ids."""
    # empty-frame guard: max() is None on no rows; 0 keeps the shard
    # arithmetic valid
    max_doc_id = docs.agg(F.max("doc_id")).first()[0] or 0
    n_shards = docs.sparkSession.sparkContext.defaultParallelism
    nt = (
        F.col("n_tokens").cast("long")
        if "n_tokens" in docs.columns
        else n_tokens_expr()
    )
    d = docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        _arith_shard(F.col("doc_id"), max_doc_id, n_shards).alias("shard"),
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = d.withColumn("cum_in_shard", F.sum("n_tokens").over(w_in))
    # S-row aggregate → exclusive prefix. The orderBy window here IS
    # single-partition — over n_shards rows, the O(S) scalar side
    # computation of the decomposition, not a corpus-wide sort.
    w_sh = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixes = (
        d.groupBy("shard")
        .agg(F.sum("n_tokens").alias("subtotal"))
        .select(
            "shard",
            (F.sum("subtotal").over(w_sh) - F.col("subtotal")).alias(
                "shard_prefix"
            ),
        )
    )
    start = F.col("shard_prefix") + F.col("cum_in_shard") - F.col("n_tokens")
    return within.join(F.broadcast(prefixes), "shard").select(
        "doc_id",
        "n_tokens",
        start.alias("start"),
        (start + F.col("n_tokens") - 1).alias("fin"),
    )


def sequence_pack(docs: DataFrame) -> DataFrame:
    """Per-sequence packing manifest: (seq_id, n_docs, n_tokens, first_doc,
    last_doc). A doc spanning a boundary contributes to every sequence it
    touches; every sequence holds exactly ``SEQ_LEN`` tokens except the
    last. The explode is bounded by ceil(doc_len/SEQ_LEN) rows per doc."""
    # n_tokens > 0 guard (ADVICE r5): a pre-supplied zero-token row would
    # make fin < start and sequence() default to step -1, silently
    # emitting phantom descending seq_ids; all current callers derive
    # nt >= 1, so this filter drops nothing today — it turns a latent
    # wrong-answer path into a no-op.
    spans = doc_token_spans(docs).where(F.col("n_tokens") > 0)
    # INTEGER division (`div`), not floor(double /): token offsets at
    # 10^12-turn scale can pass 2^53, where double division mis-bins the
    # boundary doc; the DuckDB twin's `//` is integer division already
    first_seq = F.expr(f"start div {SEQ_LEN}")
    last_seq = F.expr(f"fin div {SEQ_LEN}")
    per_seq = spans.select(
        "doc_id",
        "start",
        "fin",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * SEQ_LEN
    seq_hi = seq_lo + (SEQ_LEN - 1)
    tok_in_seq = (
        F.least(F.col("fin"), seq_hi) - F.greatest(F.col("start"), seq_lo) + 1
    )
    return per_seq.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(tok_in_seq).alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# spans → per-sequence rollup, shared by both DuckDB twins below: the
# relation ``c`` carries (doc_id, nt, start) in the single-stream order
_PACK_ROLLUP_SQL = (
    "e AS (SELECT doc_id, start, start + nt - 1 AS fin FROM c), "
    "x AS (SELECT doc_id, start, fin, "
    f"unnest(generate_series(start // {SEQ_LEN}, fin // {SEQ_LEN})) "
    "AS seq_id FROM e) "
    "SELECT seq_id, count(*) AS n_docs, "
    f"CAST(sum(least(fin, (seq_id + 1) * {SEQ_LEN} - 1) - "
    f"greatest(start, seq_id * {SEQ_LEN}) + 1) AS BIGINT) AS n_tokens, "
    "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
    "FROM x GROUP BY seq_id"
)


def sequence_pack_sql() -> str:
    """DuckDB twin: the direct single-stream form (plain cumsum window) —
    proving the two-phase decomposition equals it."""
    return (
        "WITH d AS (SELECT doc_id, CAST(length(text) - "
        "length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt "
        "FROM documents), "
        "c AS (SELECT doc_id, nt, "
        "CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt "
        "AS BIGINT) AS start FROM d), " + _PACK_ROLLUP_SQL
    )


def sequence_pack_tail_sql(src: str, nt: str) -> str:
    """DuckDB CTE TAIL packing relation ``src`` (must expose ``doc_id``
    and the token-count expression ``nt``) — compose after
    ``WITH ..., {src} AS (...), `` to pack any upstream pipeline stage
    (e.g. the curated-corpus survivors) with the direct single-stream
    cumsum the two-phase Spark plan must equal."""
    return (
        f"c AS (SELECT doc_id, CAST({nt} AS BIGINT) AS nt, "
        f"CAST(sum({nt}) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) "
        f"- {nt} AS BIGINT) AS start FROM {src}), " + _PACK_ROLLUP_SQL
    )


def lang_quota(docs: DataFrame) -> DataFrame:
    """Top-``LANG_QUOTA`` docs per language by (n_chars DESC, doc_id) — the
    direct window, which Spark 4's WindowGroupLimit rule makes
    skew-resistant (Partial map-side prune below the exchange,
    plan-asserted in tests/test_plans.py — see module docstring).
    Output: (lang, doc_id, n_chars, rank)."""
    pri = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    w = Window.partitionBy("lang").orderBy(*pri)
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= LANG_QUOTA)
    )


def lang_quota_sql() -> str:
    return (
        "SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rank FROM ("
        "SELECT lang, doc_id, n_chars, row_number() OVER ("
        "PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn "
        f"FROM documents) WHERE rn <= {LANG_QUOTA}"
    )
