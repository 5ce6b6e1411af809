"""Text deduplication operators (exact, MinHash-LSH banded, SimHash) with
their DuckDB oracle twins.

The driver's ``documents`` table is duplicate-free (500 distinct texts at
every sf), which made round-1's dedup checks vacuously green. Every
operator here therefore runs over ``doc_pool``: the documents table plus
deterministically planted duplicates derived from it —

- exact dups:  doc_id+100000, same text,            for doc_id % 11 == 0
- near dups:   doc_id+200000, text + 4-token tail,  for doc_id % 13 == 0

Both derivations are single deterministic expressions, so the DuckDB
oracle re-plants the same pool independently and the comparison covers
real non-empty duplicate sets.

Scale notes (100 TB):
- banded MinHash-LSH is the linear-cost path: per row b·r shingle-min
  hashes (one md5 per shingle per seed), candidate pairs come from b
  bucket-joins on band keys (shuffle on band hash — uniform by
  construction), and only candidates pay the exact-Jaccard verification.
  No all-pairs block ever forms.
- connected components uses iterative min-label propagation (a driver
  loop of self-joins — Pregel shape). A seed round labels each node with
  min(node, min neighbor); each further round is one edge join plus one
  aggregate on doc_id that also carries the previous label, so the
  convergence check scans that round's checkpoint with no join. Rounds
  grow linearly with component diameter; dup components are tiny (dup
  cliques), so it converges in ≈ 2-3 rounds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elb_pipeline.matcache import cached

EXACT_MOD = 11
NEAR_MOD = 13
EXACT_OFFSET = 100_000
NEAR_OFFSET = 200_000
NEAR_TAIL = " zq near dup marker"

N_BANDS = 4
ROWS_PER_BAND = 2
N_SIGS = N_BANDS * ROWS_PER_BAND  # 8 minhash signatures
JACCARD_THRESHOLD = 0.5


def algo_params() -> tuple:
    """Everything the signature/pair/group derivation depends on — folded
    into every matcache key (``matcache.params_token``) so changing any
    constant or the minhash/md5 kernel busts the cache instead of silently
    serving parquet computed by the previous version of the logic."""
    import inspect

    from elb_pipeline import md5vec

    return (
        N_SIGS,
        N_BANDS,
        ROWS_PER_BAND,
        JACCARD_THRESHOLD,
        EXACT_MOD,
        NEAR_MOD,
        EXACT_OFFSET,
        NEAR_OFFSET,
        NEAR_TAIL,
        inspect.getsource(_minhash_batch),
        inspect.getsource(md5vec),
    )


# ---------------------------------------------------------------------------
# shared pool (Spark + SQL twins)
# ---------------------------------------------------------------------------

_HEADROOM_OK: set[tuple] = set()


def assert_id_headroom(table: DataFrame, id_col: str, offset: int) -> None:
    """Planted-duplicate ids live at ``base_id + offset``; if the base table
    ever grows past ``offset`` rows the planted ids would collide with real
    ones and silently corrupt dup groups on BOTH engines (green-but-wrong).
    One cheap max() scan guards that, memoized per (input files, column,
    offset) — every dedup/similarity query pools the same table, and one
    extra Spark job per query is pure fixed overhead."""
    key = (tuple(sorted(table.inputFiles())), id_col, offset)
    if key[0] and key in _HEADROOM_OK:
        return
    mx = table.agg(F.max(id_col)).first()[0]
    if mx is not None and mx >= offset:
        raise ValueError(
            f"max({id_col}) = {mx} >= planted-dup offset {offset}: raise the "
            "offset (and its oracle CTE twin) before running dedup at this scale"
        )
    _HEADROOM_OK.add(key)


def doc_pool(documents: DataFrame) -> DataFrame:
    assert_id_headroom(documents, "doc_id", EXACT_OFFSET)
    base = documents.select("doc_id", "text")
    exact = (
        documents.where(F.col("doc_id") % EXACT_MOD == 0)
        .select((F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "text")
    )
    near = (
        documents.where(F.col("doc_id") % NEAR_MOD == 0)
        .select(
            (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(NEAR_TAIL)).alias("text"),
        )
    )
    pool = base.unionByName(exact).unionByName(near)
    # The test tables arrive as ONE tiny parquet partition, so every
    # downstream per-row stage (minhash/simhash UDFs, shingle explode)
    # would otherwise run on <=3 cores. One cheap shuffle spreads the
    # pool across the session's parallelism; at production scale the
    # input already has real partitioning and AQE coalesces this away.
    return pool.repartition(
        documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def materialized_doc_pool(documents: DataFrame, cache_key: str) -> DataFrame:
    """``doc_pool`` materialized once per input fingerprint. The dedup,
    similarity and curation queries all consume the pool; each was
    re-running the 3-way union + spreading repartition (plus its shuffle)
    from the single-file test table (~0.4 s each at sf0.1). The parquet
    read-back keeps the spread partitioning. Production analog: the dedup
    input IS a real table — the pool only exists to synthesize a
    dup-bearing corpus from the dup-free driver fixture, so materializing
    it mirrors the production shape the same way transcripts_cached does
    for the parse family."""
    return cached(
        documents.sparkSession,
        f"doc_pool_{cache_key}",
        algo_params(),
        lambda: doc_pool(documents),
    )


def doc_pool_cte() -> str:
    return (
        "doc_pool AS ("
        "SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT doc_id + {EXACT_OFFSET}, text FROM documents "
        f"WHERE doc_id % {EXACT_MOD} = 0 "
        f"UNION ALL SELECT doc_id + {NEAR_OFFSET}, text || '{NEAR_TAIL}' "
        f"FROM documents WHERE doc_id % {NEAR_MOD} = 0)"
    )


# ---------------------------------------------------------------------------
# MinHash signatures (word-3-gram shingles) + banded LSH + Jaccard verify
#
# Shingles, not raw tokens: documents drawn from a shared vocabulary have
# near-identical token SETS (token-level Jaccard ≳0.5 for most pairs —
# measured 108k/586k pairs passing on the sf0.01 pool), while 3-gram
# shingle sets are order-sensitive and distinctive, so only genuine
# duplicates/near-duplicates collide.
# ---------------------------------------------------------------------------

def _shingles():
    """Array of word-3-gram strings (engine-portable: 1-based indexing).

    The split is bound once outside the lambda: zipping three shifted
    slices keeps the per-row work linear in the word count, where an
    ``element_at(split(text), i)`` lambda re-splits the text per shingle."""
    ws = F.split(F.col("text"), " ")
    n = F.size(ws) - 2
    grams = F.transform(
        F.arrays_zip(
            F.slice(ws, 1, n).alias("w0"),
            F.slice(ws, 2, n).alias("w1"),
            F.slice(ws, 3, n).alias("w2"),
        ),
        lambda z: F.concat_ws(" ", z["w0"], z["w1"], z["w2"]),
    )
    # slice() rejects a negative length — guard short docs to empty
    return F.when(F.size(ws) >= 3, grams).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = (
    "[ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] "
    "FOR i IN range(1, greatest(length(ws) - 2, 0) + 1)]"
)
# the same list straight off a ``text`` column
_TEXT_SHINGLES_SQL = _SHINGLES_SQL.replace("ws", "string_split(text, ' ')")


def _flatten_counts(lists) -> tuple[list, "object"]:
    """Flatten a sequence of shingle lists into one array + per-row count
    (empty/None rows contribute nothing). Shared by both sketch kernels so
    the hash work runs once per UNIQUE shingle in the batch, not once per
    occurrence — documents drawn from a shared vocabulary repeat shingles
    heavily, and the per-doc reductions then run as numpy ``reduceat``
    over the flattened (code → unique) indirection."""
    import numpy as np

    flat: list = []
    cnt = np.zeros(len(lists), dtype=np.int64)
    for j, s in enumerate(lists):
        if s is not None and len(s):
            cnt[j] = len(s)
            flat.extend(s)
    return flat, cnt


def _seg_starts(cnt):
    """reduceat segment starts for the non-empty rows of ``cnt``."""
    import numpy as np

    ne = cnt[cnt > 0]
    starts = np.zeros(len(ne), dtype=np.int64)
    if len(ne) > 1:
        starts[1:] = np.cumsum(ne)[:-1]
    return starts


def _minhash_batch(sh: pd.Series) -> pd.Series:
    """All N_SIGS minhashes per row in one Arrow-batched pass:
    min(md5(shingle + '#i')) per seed i — identical values to the
    declarative ``array_min(transform(sh, s -> md5(s || '#i')))`` tower
    (which falls out of whole-stage codegen; see round-2 notes) and to the
    DuckDB oracle twin (signatures_cte).

    Vectorized shape (VERDICT r4 #4 closes the last frontier): shingles
    are factorized so each UNIQUE shingle is hashed once per seed — by
    the numpy-batched MD5 (md5vec.md5_seeded_digests_cat: the
    padded-message scatter is built once per cache-sized chunk, the 64
    rounds run as chunk-wide uint32 vector ops per seed; bit-identical to
    hashlib, parity-pinned in tests/test_md5vec.py), fed straight from
    the Arrow dictionary-encode buffers (dict_encode_bytes — C-level
    factorize, no per-unique ``str.encode``). The per-document minimum
    runs as ``np.minimum.reduceat`` over digest RANKS (lexicographic
    byte order == hexdigest string order, so the winner is exactly the
    oracle's ``list_min`` hex). No Python-per-shingle work remains."""
    import numpy as np

    from elb_pipeline.md5vec import (
        dict_encode_bytes,
        hex32,
        lex_ranks,
        md5_seeded_digests_cat,
    )

    lists = list(sh)
    flat, cnt = _flatten_counts(lists)
    out: list = [None] * len(lists)
    if not flat:
        return pd.Series(out)
    codes, cat, u_starts, u_lens = dict_encode_bytes(flat)
    n_u = len(u_lens)
    seeds = [f"#{i}".encode() for i in range(N_SIGS)]
    digests = md5_seeded_digests_cat(cat, u_starts, u_lens, seeds)
    starts = _seg_starts(cnt)
    ne_rows = np.flatnonzero(cnt > 0)
    mins_per_seed = []
    for i in range(N_SIGS):
        d = digests[i]
        ranks = lex_ranks(d)
        inv = np.empty(n_u, dtype=np.int64)
        inv[ranks] = np.arange(n_u)  # rank → unique index
        min_ranks = np.minimum.reduceat(ranks[codes], starts)
        mins_per_seed.append(hex32(d[inv[min_ranks]]))
    # (n_docs, N_SIGS) ascii → one vectorized unicode cast + tolist
    # (per-element bytes.decode was ~40% of the kernel wall at 20k docs)
    rows = np.stack(mins_per_seed, axis=1).astype("U32").tolist()
    for pos, row in enumerate(ne_rows):
        out[row] = rows[pos]
    return pd.Series(out)


_minhash_udf = F.pandas_udf(_minhash_batch, T.ArrayType(T.StringType()))


def with_signatures(pool: DataFrame) -> DataFrame:
    sigs = [F.col("_mh")[i].alias(f"sig{i}") for i in range(N_SIGS)]
    return (
        pool.select("doc_id", _shingles().alias("sh"))
        .withColumn("_mh", _minhash_udf(F.col("sh")))
        .select("doc_id", "sh", *sigs)
    )


def materialized_signatures(pool: DataFrame, cache_key: str) -> DataFrame:
    """Signatures computed ONCE and materialized — the b band joins and the
    Jaccard verification all reuse this frame, and without materialization
    each branch would re-evaluate the 8 minhash lambda expressions from
    scratch (measured ~10× recompute, 82 s → ~10 s at sf0.1). The frame is
    written to parquet and read back (matcache.cached) — the 100-TB shape,
    and it leaves NO persisted RDDs behind in a long-lived session."""
    return cached(
        pool.sparkSession,
        f"minhash_sigs_{cache_key}",
        algo_params(),
        lambda: with_signatures(pool),
    )


def signatures_cte() -> str:
    sigs = ", ".join(
        f"list_min(list_transform(sh, s -> md5(s || '#{i}'))) AS sig{i}"
        for i in range(N_SIGS)
    )
    return (
        "shingled AS (SELECT doc_id, text, "
        f"{_SHINGLES_SQL} AS sh "
        "FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM doc_pool)), "
        f"sigs AS (SELECT doc_id, text, sh, {sigs} FROM shingled)"
    )


def _band_key(b: int):
    cols = [F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
    return F.md5(F.concat(*cols))


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (a_id, b_id) candidate pairs: two docs agreeing on ALL
    rows of at least one band.

    ONE bucket self-join over the exploded (band_idx, band_key) rows —
    prefixing the key with the band index keeps buckets from different
    bands distinct, so a single equi-join replaces N_BANDS separate
    join+union stages: one shuffle over b·n small rows instead of b
    shuffles (and b fewer scheduler rounds — measured ~2× at sf0.1)."""
    keyed = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{b}:"), _band_key(b)) for b in range(N_BANDS)
            ])
        ).alias("bk"),
    )
    left = keyed.select(F.col("doc_id").alias("a_id"), "bk")
    right = keyed.select(F.col("doc_id").alias("b_id"), "bk")
    return (
        left.join(right, "bk")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _band_match_sql(b: int) -> str:
    """SQL twin of ``_band_key``: ``a`` and ``b`` agree on all of band b."""
    rows = range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
    keys = ["md5(" + " || ".join(f"{s}.sig{i}" for i in rows) + ")" for s in "ab"]
    return " = ".join(keys)


def lsh_candidates_cte() -> str:
    parts = [
        f"SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a "
        f"JOIN sigs b ON {_band_match_sql(b)} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS)
    ]
    return "cands AS (" + " UNION ".join(parts) + ")"


def _jaccard_sql(col: str, is_set: bool) -> str:
    """Exact Jaccard of the ``a.<col>`` and ``b.<col>`` shingle lists
    (SQL twin of ``_jaccard_verify``); lists that may repeat a shingle
    (``is_set`` False) are made distinct first."""
    a, b = f"a.{col}", f"b.{col}"
    sa, sb = (a, b) if is_set else (f"list_distinct({a})", f"list_distinct({b})")
    return (
        f"CAST(length(list_intersect({sa}, {sb})) AS DOUBLE) / "
        f"length(list_distinct({a} || {b}))"
    )


def _verify_sql(table: str, col: str, is_set: bool) -> str:
    """The verify step over ``cands``: each candidate joined to both sides'
    shingle lists in ``table`` and kept when its rounded Jaccard passes."""
    jac = _jaccard_sql(col, is_set)
    return (
        f"SELECT c.a_id, c.b_id, round({jac}, 4) AS jaccard FROM cands c "
        f"JOIN {table} a ON a.doc_id = c.a_id JOIN {table} b ON b.doc_id = c.b_id "
        f"WHERE round({jac}, 4) >= {JACCARD_THRESHOLD}"
    )


def _shingle_sets(sigs: DataFrame) -> DataFrame:
    """``(doc_id, hs)``: each doc's DISTINCT shingles as 8-byte ``xxhash64``
    values, projected from a signature frame's ``sh`` column."""
    return sigs.select(
        "doc_id",
        F.transform(F.array_distinct("sh"), lambda x: F.xxhash64(x)).alias("hs"),
    )


def _jaccard_verify(cands: DataFrame, sets_: DataFrame) -> DataFrame:
    """The exact-Jaccard verify of every Spark pair path (LSH
    ``verified_pairs``, ``rare_shingle_pairs``, ``prefix_jaccard_pairs``):
    ``cands(a_id, b_id)`` checked against the docs' shingle SETS, shipped
    as 8-byte ``xxhash64`` arrays instead of the raw shingle strings. Set
    sizes (hence Jaccard) are identical to the string form absent an
    intra-pair 64-bit collision (~|union|^2 / 2^65 ≈ 1e-16 per pair — the
    DuckDB twins verify on plain strings, so any collision would surface
    as an oracle mismatch). The byte win is the scale story: the candidate
    join's intermediates carry ~8 B/shingle instead of the ~30 B/shingle
    strings — at 233k docs the string form's verify stage spilled >65 GB
    and died on ENOSPC; the hashed form fits (recorded in
    BENCH/dedup_scaling_r5.json ``prefix``). ``sets_`` is a
    ``_shingle_sets`` frame."""
    a = sets_.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("a_sh"))
    b = sets_.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("b_sh"))
    jac = F.size(F.array_intersect("a_sh", "b_sh")) / F.size(
        F.array_union("a_sh", "b_sh")
    )
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def verified_pairs(sigs: DataFrame) -> DataFrame:
    """LSH candidates that pass the exact shingle-set Jaccard check —
    ``_jaccard_verify`` over the signature table's hashed shingle sets,
    the one verify every Spark pair path shares."""
    return _jaccard_verify(lsh_candidate_pairs(sigs), _shingle_sets(sigs))


def materialized_verified_pairs(sigs: DataFrame, cache_key: str) -> DataFrame:
    """``verified_pairs`` materialized per input fingerprint — the pair
    set is consumed by four registry queries (lsh_pairs, lsh_groups,
    leakproof_split via dup_groups, the curation screens), each of which
    was re-running the band join + exact-Jaccard verify from scratch
    (measured ~1-2 s per consumer at sf0.1). Same lifecycle as the
    signature table: computed once, written as a real parquet table, no
    persisted RDDs left behind."""
    return cached(
        sigs.sparkSession,
        f"verified_pairs_{cache_key}",
        algo_params(),
        lambda: verified_pairs(sigs),
    )


def verified_pairs_cte() -> str:
    return f"pairs AS ({_verify_sql('sigs', 'sh', is_set=False)})"


# ---------------------------------------------------------------------------
# Incremental (corpus-refresh) dedup: curate a NEW batch against an existing
# immutable corpus — the production shape of every periodic corpus refresh.
# Greedy single-pass semantics (the convention incremental pipelines use):
# a batch doc is dropped if its content already exists in the corpus
# (exactly or near), or if an earlier (smaller-id) batch doc carries the
# same content; "earlier" wins regardless of whether the earlier doc was
# itself dropped — equivalent content is in the corpus through whatever
# dropped it. Status precedence: exact_corpus > exact_batch > near_corpus
# > near_batch > kept.
# ---------------------------------------------------------------------------


def incremental_dedup(pool: DataFrame, sigs: DataFrame, split_id: int) -> DataFrame:
    """Per-batch-doc dedup status against the corpus (docs with
    ``doc_id < split_id``) — returns (doc_id, status) for EVERY batch doc.

    100-TB shape: the exact layer joins on the narrow (md5, length) key —
    a semi-join against the corpus key set plus a partial-combining
    min-per-key over the batch; the near layer IS verified_pairs, kept to
    pairs whose larger id is a batch doc. The optimizer pushes that filter
    onto the probe side of the band join and of the verify join
    (tests/test_plans.py), so the work is |batch| band rows probing the
    corpus index — NO corpus x corpus pairs are generated (at refresh
    scale corpus >> batch, so that asymmetry is the whole game). Jaccard
    verify touches candidates only. ``sigs`` is the materialized signature
    table of corpus + batch (production: the corpus side is the standing
    signature store — it carries no document text, which is why the exact
    layer keys off ``pool``; only the batch rows are newly computed)."""
    is_batch = F.col("doc_id") >= F.lit(split_id)
    keys = pool.select(
        "doc_id", F.md5("text").alias("h"), F.length("text").alias("l")
    )
    corpus_keys = keys.where(~is_batch).select("h", "l").distinct()
    batch_keys = keys.where(is_batch)
    exact_corpus = batch_keys.join(corpus_keys, ["h", "l"], "semi").select(
        "doc_id", F.lit(True).alias("x_corpus")
    )
    firsts = batch_keys.groupBy("h", "l").agg(F.min("doc_id").alias("first_id"))
    exact_batch = (
        batch_keys.join(firsts, ["h", "l"])
        .where(F.col("doc_id") > F.col("first_id"))
        .select("doc_id", F.lit(True).alias("x_batch"))
    )

    # a_id < b_id, so a batch doc's partner is corpus or an earlier batch doc
    near = (
        verified_pairs(sigs)
        .where(F.col("b_id") >= F.lit(split_id))
        .groupBy("b_id")
        .agg(F.max(F.col("a_id") < F.lit(split_id)).alias("n_corpus"))
        .select(
            F.col("b_id").alias("doc_id"), "n_corpus", F.lit(True).alias("n_any")
        )
    )

    status = (
        F.when(F.col("x_corpus"), F.lit("exact_corpus"))
        .when(F.col("x_batch"), F.lit("exact_batch"))
        .when(F.coalesce(F.col("n_corpus"), F.lit(False)), F.lit("near_corpus"))
        .when(F.coalesce(F.col("n_any"), F.lit(False)), F.lit("near_batch"))
        .otherwise(F.lit("kept"))
    )
    return (
        batch_keys.select("doc_id")
        .join(exact_corpus, "doc_id", "left")
        .join(exact_batch, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select("doc_id", status.alias("status"))
    )


def incremental_dedup_sql(split_id: int) -> str:
    """Full DuckDB twin (standalone statement; same greedy semantics)."""
    band_joins = [
        f"SELECT a.doc_id AS other_id, b.doc_id AS b_id FROM sigs a "
        f"JOIN sigs b ON {_band_match_sql(bnd)} "
        f"WHERE b.doc_id >= {split_id} "
        f"AND (a.doc_id < {split_id} OR a.doc_id < b.doc_id)"
        for bnd in range(N_BANDS)
    ]
    return (
        f"WITH {doc_pool_cte()}, {signatures_cte()}, "
        "bd AS (SELECT doc_id, md5(text) AS h, length(text) AS l "
        "FROM doc_pool), "
        f"corpus_keys AS (SELECT DISTINCT h, l FROM bd WHERE doc_id < {split_id}), "
        f"batch AS (SELECT * FROM bd WHERE doc_id >= {split_id}), "
        "firsts AS (SELECT h, l, min(doc_id) AS first_id FROM batch "
        "GROUP BY h, l), "
        "icands AS (" + " UNION ".join(band_joins) + "), "
        "inear AS (SELECT c.b_id, "
        f"bool_or(a.doc_id < {split_id}) AS n_corpus "
        "FROM (SELECT DISTINCT other_id, b_id FROM icands) c "
        "JOIN sigs a ON a.doc_id = c.other_id "
        "JOIN sigs b ON b.doc_id = c.b_id "
        f"WHERE round({_jaccard_sql('sh', is_set=False)}, 4) >= {JACCARD_THRESHOLD} "
        "GROUP BY c.b_id) "
        "SELECT batch.doc_id, "
        "CASE WHEN EXISTS (SELECT 1 FROM corpus_keys ck "
        "WHERE ck.h = batch.h AND ck.l = batch.l) THEN 'exact_corpus' "
        "WHEN batch.doc_id > f.first_id THEN 'exact_batch' "
        "WHEN i.n_corpus THEN 'near_corpus' "
        "WHEN i.b_id IS NOT NULL THEN 'near_batch' "
        "ELSE 'kept' END AS status "
        "FROM batch JOIN firsts f ON f.h = batch.h AND f.l = batch.l "
        "LEFT JOIN inear i ON i.b_id = batch.doc_id"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via a rare-shingle inverted index — the deterministic
# (sketch-free) complement to the banded MinHash path. Candidate recall is
# exact over "pairs sharing at least one rare shingle": near-duplicates at
# Jaccard >= 0.5 share most of their shingles, so unless EVERY shared
# shingle is globally common the pair surfaces. At sf0.01 the rare path and
# the LSH path verify the IDENTICAL 121-pair set (cap 4: 11,137 candidates
# out of ~17M possible pairs; cap 2 drops to 92 true pairs, cap 8 quadruples
# candidates with zero new true pairs — measured, see q_jaccard_rare_pairs).
#
# KNOWN BLIND SPOT (measured at sf0.001): a duplicate CLIQUE larger than
# RARE_DF_MAX makes every shared shingle's df exceed the cap, so the whole
# clique has no blocking key and its pairs are missed (sf0.001: 119 rare vs
# 129 LSH pairs — the 10 missing are all inside one 5-doc clique). The
# exact, blind-spot-free variant is prefix_jaccard_pairs below (AllPairs
# prefix filter); the df-capped form is kept for its HARD per-bucket fanout
# bound (df^2 <= 16), which the prefix filter cannot guarantee.
# ---------------------------------------------------------------------------

RARE_DF_MAX = 4  # doc-frequency cap on blocking shingles


def shingle_tables(pool: DataFrame, cache_key: str) -> tuple[DataFrame, DataFrame]:
    """``(doc_id, s)`` rows of each doc's DISTINCT word-3-gram shingles and
    the ``(doc_id, hs)`` hashed sets of ``_shingle_sets``. Both are narrow
    projections of the materialized signature table's ``sh`` column, so
    the shingles are computed once per input fingerprint and no extra
    table is written."""
    sigs = materialized_signatures(pool, cache_key=cache_key)
    return (
        sigs.select("doc_id", F.explode(F.array_distinct("sh")).alias("s")),
        _shingle_sets(sigs),
    )


def rare_shingle_pairs(pool: DataFrame, cache_key: str) -> DataFrame:
    """Near-duplicate pairs (exact shingle-set Jaccard >= JACCARD_THRESHOLD)
    blocked on shingles with document frequency in [2, RARE_DF_MAX].

    100-TB shape: the inverted index is one explode + partial-combining
    count per shingle; the df cap bounds the bucket self-join fanout to
    df^2 <= 16 rows per shingle, so no shingle — however common — can
    create a skewed or quadratic bucket (common shingles are simply not
    blocking keys). Everything downstream of the explode is narrow
    (doc_id, shingle) equi-joins; the Jaccard verify touches candidates
    only. No sketch — the trade vs MinHash-LSH is a bigger candidate set at
    equal threshold, and a deterministic (not probabilistic) recall gap:
    dup cliques wider than RARE_DF_MAX are invisible (see module comment;
    prefix_jaccard_pairs is the exact-recall variant).

    Shingle rows and verify sets come from the signature table
    materialized under ``cache_key`` (``shingle_tables``)."""
    sh, sets_ = shingle_tables(pool, cache_key)
    rare = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= RARE_DF_MAX))
        .select("s")
    )
    keyed = sh.join(rare, "s")
    cands = (
        keyed.select(F.col("doc_id").alias("a_id"), "s")
        .join(keyed.select(F.col("doc_id").alias("b_id"), "s"), "s")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _jaccard_verify(cands, sets_)


# shared by the rare-shingle and prefix-filter twins: doc_pool's shingle
# rows, and the verify of ``cands`` against each doc's shingle set
_SHINGLE_ROWS_CTE = (
    f"sh AS (SELECT DISTINCT doc_id, unnest({_TEXT_SHINGLES_SQL}) AS s FROM doc_pool), "
)
_SETS_VERIFY_TAIL_SQL = (
    f"sets AS (SELECT doc_id, list_distinct({_TEXT_SHINGLES_SQL}) AS shs "
    "FROM doc_pool) " + _verify_sql("sets", "shs", is_set=True)
)


def rare_shingle_pairs_sql() -> str:
    """Full DuckDB twin (standalone statement over doc_pool)."""
    return (
        f"WITH {doc_pool_cte()}, {_SHINGLE_ROWS_CTE}"
        "rare AS (SELECT s FROM sh GROUP BY s "
        f"HAVING count(*) BETWEEN 2 AND {RARE_DF_MAX}), "
        "cands AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
        "FROM sh a JOIN rare USING (s) JOIN sh b USING (s) "
        "WHERE a.doc_id < b.doc_id), " + _SETS_VERIFY_TAIL_SQL
    )


# ---------------------------------------------------------------------------
# Exact prefix-filter Jaccard join (AllPairs, Bayardo et al. WWW'07).
#
# THE exact-recall set-similarity join: order every doc's shingles by a
# canonical global order (df ascending, shingle ascending) and index only
# the first  p = n - ceil(t*n) + 1  of them. Theorem: if J(x,y) >= t, the
# two prefixes share a shingle — proof: if the globally-smallest shared
# shingle w is outside prefix(x), every shared shingle sits in x's last
# ceil(t*n_x)-1 positions, so overlap < t*n_x <= overlap. So the prefix
# self-join has NO recall gap, closing rare_shingle_pairs' clique blind
# spot (a K-wide dup clique simply yields K-row buckets — output-sized,
# since the clique genuinely has K^2/2 true pairs).
#
# The trade vs the df-capped form: bucket fanout is no longer HARD-bounded
# (a boilerplate shingle that ranks early in many docs' orders makes a
# wide bucket). In exchange, rarest-first ordering plus the pre-join
# length filter (t*n_a <= n_b <= n_a/t) is far MORE selective in practice:
# at sf0.01 the candidate set is 732 pairs vs 11,137 for the capped form,
# for the same 121 verified pairs (measured via the DuckDB twins' cands
# CTEs) — the capped form's sole remaining advantage is the worst-case
# df^2 <= 16 bound.
#
# SCALE LESSON (BENCH/dedup_scaling_r5.json ``prefix``, 233k docs): on
# an ORGANIC corpus the length filter alone is nearly vacuous — same-length
# docs sharing one mid-rarity shingle produced 407k candidates per 5,840
# docs (2.4% of all pairs), and verifying them by shipping ~1.5 KB
# shingle-STRING arrays through two joins spilled >65 GB and died on
# ENOSPC. Two recall-preserving fixes landed: (1) the PPJoin POSITIONAL
# filter (Xiao et al., WWW'08) — for each prefix match at positions
# (p_a, p_b) the remaining-overlap bound is 1 + min(n_a-p_a, n_b-p_b),
# and the pair is viable only if the bound at its best match reaches the
# required overlap ceil(t/(1+t)*(n_a+n_b)); recall-safe because the
# globally-smallest shared shingle w is in both prefixes (AllPairs
# theorem) and every shared shingle sits at-or-after w in both orders, so
# ub(w) >= true overlap. Cuts candidates 2.5x (407k -> 162k per replica).
# (2) verify on 8-byte xxhash64 arrays, not strings (_jaccard_verify).
# ---------------------------------------------------------------------------


def prefix_jaccard_pairs(pool: DataFrame, cache_key: str) -> DataFrame:
    """Exact near-duplicate pairs (shingle-set Jaccard >= JACCARD_THRESHOLD)
    via the AllPairs prefix filter — deterministic AND recall-complete.

    100-TB shape: one explode + partial-combining df count, one window
    rank partitioned by doc_id (well-distributed key), one equi-join on
    prefix shingles with the length filter pushed into the join AND the
    PPJoin positional filter applied at the pair-aggregation (see the
    module comment's scale lesson — without it the organic-corpus
    candidate set is 2.5x larger and the string-array verify spilled the
    disk at 233k docs), Jaccard verify on candidates only over 8-byte
    hashed shingle sets. All shuffles are on doc_id or shingle; no
    all-pairs stage exists at any width.

    Shingle rows and verify sets come from the signature table
    materialized under ``cache_key`` (``shingle_tables``)."""
    t = JACCARD_THRESHOLD
    sh, sets_ = shingle_tables(pool, cache_key)
    dfs = sh.groupBy("s").agg(F.count("*").alias("df"))
    order_w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = (
        sh.join(dfs, "s")
        .select(
            "doc_id",
            "s",
            F.row_number().over(order_w).alias("pos"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
        )
    )
    pre = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    ).select("doc_id", "s", "pos", "n")
    a = pre.select(
        F.col("doc_id").alias("a_id"), "s",
        F.col("pos").alias("a_pos"), F.col("n").alias("a_n"),
    )
    b = pre.select(
        F.col("doc_id").alias("b_id"), "s",
        F.col("pos").alias("b_pos"), F.col("n").alias("b_n"),
    )
    # remaining-overlap upper bound contributed by this prefix match: the
    # matched shingle plus everything after it in BOTH canonical orders
    ub = F.lit(1) + F.least(
        F.col("a_n") - F.col("a_pos"), F.col("b_n") - F.col("b_pos")
    )
    matches = (
        a.join(b, "s")
        .where(
            (F.col("a_id") < F.col("b_id"))
            # length filter: J >= t forces t*|x| <= |y| and t*|y| <= |x|
            & (F.lit(t) * F.col("a_n") <= F.col("b_n"))
            & (F.lit(t) * F.col("b_n") <= F.col("a_n"))
        )
        .select("a_id", "b_id", "a_n", "b_n", ub.alias("ub"))
    )
    # J >= t  <=>  overlap >= t/(1+t) * (n_a + n_b); a pair is viable only
    # if its best match's bound reaches that (recall-safe: the smallest
    # shared shingle's bound always does — see module comment)
    alpha = F.ceil(F.lit(t / (1 + t)) * (F.col("a_n") + F.col("b_n")))
    cands = (
        matches.groupBy("a_id", "b_id")
        .agg(
            F.max("ub").alias("best_ub"),
            F.first("a_n").alias("a_n"),
            F.first("b_n").alias("b_n"),
        )
        .where(F.col("best_ub") >= alpha)
        .select("a_id", "b_id")
    )
    return _jaccard_verify(cands, sets_)


def prefix_jaccard_pairs_sql() -> str:
    """Full DuckDB twin (standalone statement over doc_pool)."""
    t = JACCARD_THRESHOLD
    return (
        f"WITH {doc_pool_cte()}, {_SHINGLE_ROWS_CTE}"
        "dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s), "
        "ranked AS (SELECT doc_id, sh.s, "
        "row_number() OVER (PARTITION BY doc_id ORDER BY df, sh.s) AS pos, "
        "count(*) OVER (PARTITION BY doc_id) AS n "
        "FROM sh JOIN dfs USING (s)), "
        f"pre AS (SELECT doc_id, s, n FROM ranked "
        f"WHERE pos <= n - ceil({t} * n) + 1), "
        "cands AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
        "FROM pre a JOIN pre b USING (s) "
        "WHERE a.doc_id < b.doc_id "
        f"AND {t} * a.n <= b.n AND {t} * b.n <= a.n), " + _SETS_VERIFY_TAIL_SQL
    )


# ---------------------------------------------------------------------------
# 32-bit shingle SimHash — vectorized pandas UDF
#
# The pure-expression form (32 × lambda list_filter over the md5 array)
# measured 119 s for 5,840 docs at local[32]: the expression tree is too
# large for whole-stage codegen and every bit's filter re-evaluates the
# hash array in interpreted mode. The Arrow-batched UDF computes the
# identical value (bit k = majority of md5-hex-digit-k high bits across
# word-3-gram shingles) in ~1 s — deterministic and engine-portable, so
# the DuckDB oracle still recomputes it independently from the SQL form.
# ---------------------------------------------------------------------------

def _simhash32_batch(text: pd.Series) -> pd.Series:
    """Vectorized (VERDICT r3 #4): word-3-gram shingles are factorized so
    each UNIQUE shingle is md5-hashed once into a 32-bit row of the
    unique→bits matrix; per-document bit counts are one
    ``np.add.reduceat`` over the flattened occurrence codes (multiplicity
    preserved — each occurrence votes), and the majority threshold + bit
    packing are pure numpy. Values identical to the per-row form (bit k =
    majority of md5-hex-digit-k high bits across shingles) and to the
    DuckDB oracle recomputation. It splits the text by the ``_shingles()``
    rule itself: taking ``_shingles()`` lists over Arrow measured ~13%
    slower on ``q_simhash_near_dup`` (sf0.01, 4 vCPUs, 12 rounds)."""
    import numpy as np

    from elb_pipeline.md5vec import dict_encode_bytes, md5_seeded_digests_cat

    n_rows = len(text)
    lists: list = [None] * n_rows
    for j, t in enumerate(text):
        if not isinstance(t, str):
            continue
        ws = t.split(" ")
        if len(ws) < 3:
            continue
        lists[j] = [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
    flat, cnt = _flatten_counts(lists)
    out = np.zeros(n_rows, dtype=np.int64)
    if not flat:
        return pd.Series(out)
    codes, cat, u_starts, u_lens = dict_encode_bytes(flat)
    d = md5_seeded_digests_cat(cat, u_starts, u_lens, [b""])[0]  # (n_u, 16) uint8
    bits_u = np.empty((len(u_lens), 32), dtype=np.uint8)
    bits_u[:, 0::2] = (d >> 7) & 1  # high nibble's high bit → odd digits
    bits_u[:, 1::2] = (d >> 3) & 1  # low nibble's high bit → even digits
    # per-doc vote counts: 32 one-dimensional add.reduceat passes over
    # the gathered occurrence column. Replaces r4's cumsum-diff, whose
    # (occurrences × 32) int64 cumulative array transiently cost 256 B
    # per shingle occurrence (ADVICE r4 #4: hundreds of MB per worker on
    # long-document batches) — these passes peak at O(occurrences) bytes
    # and stay on numpy's fast contiguous 1-D inner loop (the 2-D axis-0
    # reduceat pathology measured ~40 s where this takes ~0.3 s).
    ne = cnt[cnt > 0]
    starts = _seg_starts(cnt)
    counts = np.empty((len(ne), 32), dtype=np.int64)
    for k in range(32):
        col = bits_u[:, k][codes]  # one uint8 gather per bit column
        counts[:, k] = np.add.reduceat(col, starts, dtype=np.int64)
    weights = np.int64(1) << np.arange(32, dtype=np.int64)
    vals = ((2 * counts > ne[:, None]) * weights).sum(axis=1)
    out[np.flatnonzero(cnt > 0)] = vals
    return pd.Series(out)


simhash32 = F.pandas_udf(_simhash32_batch, T.LongType())


# ---------------------------------------------------------------------------
# connected components → dup groups
# ---------------------------------------------------------------------------

def dup_groups(pairs: DataFrame, cache_key: str) -> DataFrame:
    """(doc_id, group_id) for every doc in a verified pair; group_id is the
    min doc_id of its connected component (iterative min-label
    propagation — one round per hop from a component's min id to its
    farthest node, plus the round that finds no change).

    The converged label table is written once under ``cache_key``
    (matcache.cached), so every consumer of the same groups table
    (lsh_groups, leakproof_split, training_corpus, corpus_sequences)
    reads the parquet instead of re-running label propagation, and the
    eager fixpoint loop only runs on a cache miss. EVERY RDD this call
    persisted — the pairs/edges caches and each iteration's
    lineage-truncating localCheckpoint — is released after the write,
    so a long-lived session accumulates no storage. That is also the
    100-TB shape: the group table is a real table every downstream
    consumer reads, not driver-session cache state."""
    sc = pairs.sparkSession.sparkContext
    owned_rdd_ids: set = set()  # ids of the RDDs THIS call persists
    held: list[DataFrame] = []  # the persisted pairs/edges frames

    def _lc(df: DataFrame) -> DataFrame:
        """localCheckpoint with the persisted-RDD id recorded as OURS —
        the checkpoint RDD has no DataFrame handle to unpersist through,
        and a blanket since-entry sweep would also release caches other
        threads persisted concurrently on the shared session. The id is
        read off the checkpointed plan itself (the ``LogicalRDD`` the
        analyzed plan wraps IS the persisted RDD), not by diffing the
        global persistent-RDD map — the diff was TOCTOU-racy under
        concurrent sessions (ADVICE r4 #2: a foreign cache persisted
        between the snapshots got attributed to this call and unpersisted
        at the end)."""
        out = df.localCheckpoint()
        owned_rdd_ids.add(out._jdf.queryExecution().analyzed().rdd().id())
        return out

    def build() -> DataFrame:
        held.append(pairs.persist())  # read twice (both edge directions)
        edges = (
            pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
            .unionByName(
                pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
            )
            .distinct()
            .persist()  # every iteration joins against edges — compute once
        )
        held.append(edges)
        # seed = the first round from identity labels, label(node) =
        # min(node, min neighbor); checkpointing it materializes edges, so
        # pairs is done
        labels = _lc(
            edges.groupBy("src")
            .agg(F.least("src", F.min("dst")).alias("label"))
            .withColumnRenamed("src", "node")
        )
        pairs.unpersist()
        while True:
            # neighbor-min pass: label(node) ← min(label(node), min over
            # neighbors' labels), with the node's previous label carried
            # as min(old) so the fixpoint check is a scan of the
            # checkpoint, not a join. localCheckpoint truncates the
            # lineage each round — otherwise iteration k replays all k-1
            # previous rounds (and the whole candidate derivation) from
            # scratch. At scale each round is one shuffle and the loop is
            # a driver-side fixpoint check.
            nbr = (
                edges.join(labels, edges.dst == labels.node)
                .select(edges.src.alias("node"), "label", F.lit(None).alias("old"))
            )
            labels = _lc(
                labels.select("node", "label", F.col("label").alias("old"))
                .unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            )
            # labels only ever decrease, so "changed" is "decreased"
            if labels.where(F.col("label") < F.col("old")).limit(1).count() == 0:
                break
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("group_id")
        )

    try:
        return cached(
            pairs.sparkSession, f"dup_groups_{cache_key}", algo_params(), build
        )
    finally:
        for df in held:
            df.unpersist()
        # release exactly the checkpoint RDDs THIS call created (tracked
        # in _lc above); the result reads parquet, so none of them back it.
        jmap = sc._jsc.getPersistentRDDs()
        for rdd_id in owned_rdd_ids:
            jrdd = jmap.get(rdd_id)
            if jrdd is not None:
                jrdd.unpersist(False)


def dup_groups_cte() -> str:
    """Recursive transitive closure → min reachable id per node, as a
    composable ``groups(doc_id, group_id)`` CTE (the oracle twin of the
    iterative propagation; needs WITH RECURSIVE upstream)."""
    return (
        "sym AS (SELECT a_id AS src, b_id AS dst FROM pairs "
        "UNION SELECT b_id, a_id FROM pairs), "
        "reach AS (SELECT src, dst FROM sym "
        "UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src), "
        "groups AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id "
        "FROM reach GROUP BY src)"
    )


def dup_groups_sql_tail() -> str:
    return ", " + dup_groups_cte() + " SELECT doc_id, group_id FROM groups"
