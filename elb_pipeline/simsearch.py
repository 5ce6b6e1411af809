"""Embedding similarity search: SRP-LSH near-duplicate pairs and
IVF-pruned approximate nearest neighbor, with DuckDB oracle twins.

The driver's ``embeddings`` table has no near-duplicates (max pairwise
cosine ≈ 0.51 at every sf), which made round-1's near-dup check vacuously
green (0 rows on both engines). Operators here run over ``emb_pool``:
the table plus deterministically planted near-dup clones
(vec_id+100000, every element +0.01 — cosine ≈ 0.999 to its source),
derived identically by Spark and DuckDB so the oracle comparison covers
real matches.

Blocking is a sign-random-projection (SRP) LSH bucket, NOT a semantic
label: bit j of the bucket is the sign of ⟨e, r_j⟩ against 8 fixed
integer projection vectors (deterministic, engine-portable constants).
Cosine-similar vectors agree on most signs, so near-dups land in the same
bucket with high probability while the expected bucket size is n/2^8 —
the self-join cost is Σ|bucket|², not |label block|² (round 1 blocked on
the data's ``label`` column: one hot label ⇒ O(n²), the named
scale-killer).

IVF ANN: vectors are assigned to their nearest of K fixed pivot vectors
(taken from the data at fixed ids); a query probes only its own pivot's
inverted list — at scale the pivot assignment is a broadcast cross-join
(K tiny) and the probe scans ~n/K rows instead of n. Recall is checked
against the exact scan (``ann_ivf_recall``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EMB_DIM = 64
N_PROJ = 8  # SRP bucket bits
CLONE_MOD = 10
CLONE_OFFSET = 100_000
CLONE_DELTA = 0.01
NEAR_DUP_THRESHOLD = 0.99
PIVOT_IDS = [5, 76, 147, 218, 289, 360, 431]  # K=7 fixed pivots
TOPK = 10
QUERY_ID = 0  # vec_id whose neighbours the ANN scan returns

# deterministic integer projection vectors, shared verbatim by the Spark
# and SQL builders: r_j[k] = ((k+1)·(2j+3)) mod 97 − 48 ∈ [−48, 48]
PROJECTIONS: list[list[int]] = [
    [((k + 1) * (2 * j + 3)) % 97 - 48 for k in range(EMB_DIM)]
    for j in range(N_PROJ)
]


# ---------------------------------------------------------------------------
# pool (Spark + SQL twins)
# ---------------------------------------------------------------------------

def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def emb_pool(embeddings: DataFrame) -> DataFrame:
    from elb_pipeline.dedup import assert_id_headroom

    assert_id_headroom(embeddings, "vec_id", CLONE_OFFSET)
    base = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    )
    clones = (
        embeddings.where(F.col("vec_id") % CLONE_MOD == 0)
        .select(
            (F.col("vec_id") + CLONE_OFFSET).alias("vec_id"),
            "label",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") + F.lit(CLONE_DELTA)
            ).alias("e"),
        )
    )
    # spread the single-file test table across cores (cf. dedup.doc_pool)
    return base.unionByName(clones).repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )


def emb_pool_cte() -> str:
    to_d = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    clone = (
        f"list_transform(embedding, x -> CAST(x AS DOUBLE) + {CLONE_DELTA})"
    )
    return (
        "emb_pool AS ("
        f"SELECT vec_id, label, {to_d} AS e FROM embeddings "
        f"UNION ALL SELECT vec_id + {CLONE_OFFSET}, label, {clone} "
        f"FROM embeddings WHERE vec_id % {CLONE_MOD} = 0)"
    )


# ---------------------------------------------------------------------------
# cosine (identical left-to-right double summation on both engines)
# ---------------------------------------------------------------------------

def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a, b):
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


# ---------------------------------------------------------------------------
# SRP-LSH bucket
# ---------------------------------------------------------------------------

def _proj_lit(j: int):
    return F.array(*[F.lit(float(v)) for v in PROJECTIONS[j]])


def with_srp_bucket(pool: DataFrame) -> DataFrame:
    bucket = F.lit(0)
    for j in range(N_PROJ):
        bit = (dot(F.col("e"), _proj_lit(j)) >= 0).cast("int")
        bucket = bucket + bit * F.lit(1 << j)
    return pool.withColumn("bucket", bucket.cast("int"))


def srp_bucket_sql() -> str:
    terms = []
    for j in range(N_PROJ):
        vec = "[" + ", ".join(f"{v}.0" for v in PROJECTIONS[j]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(e, {vec}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(terms) + ") AS INT)"


def near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """(bucket, a_id, b_id, cos_sim) — SRP-bucketed self-join, cosine
    verified above NEAR_DUP_THRESHOLD. The join key is the LSH bucket, so
    block sizes are ~n/2^8 regardless of data skew."""
    pool = with_srp_bucket(emb_pool(embeddings))
    a = pool.select(
        F.col("bucket"), F.col("vec_id").alias("a_id"), F.col("e").alias("a_e")
    )
    b = pool.select(
        F.col("bucket"), F.col("vec_id").alias("b_id"), F.col("e").alias("b_e")
    )
    cos = cosine(F.col("a_e"), F.col("b_e"))
    return (
        a.join(b, "bucket")
        .where(F.col("a_id") < F.col("b_id"))
        .select("bucket", "a_id", "b_id", F.round(cos, 4).alias("cos_sim"))
        .where(F.col("cos_sim") > NEAR_DUP_THRESHOLD)
    )


def near_dup_pairs_sql() -> str:
    cos = cosine_sql("a.e", "b.e")
    return (
        f"WITH {emb_pool_cte()}, "
        f"bucketed AS (SELECT vec_id, e, {srp_bucket_sql()} AS bucket "
        "FROM emb_pool) "
        "SELECT a.bucket AS bucket, a.vec_id AS a_id, b.vec_id AS b_id, "
        f"round({cos}, 4) AS cos_sim "
        "FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id "
        f"WHERE round({cos}, 4) > {NEAR_DUP_THRESHOLD}"
    )


# ---------------------------------------------------------------------------
# IVF-pruned ANN
# ---------------------------------------------------------------------------

def _pivots(embeddings: DataFrame) -> DataFrame:
    return (
        embeddings.where(F.col("vec_id").isin(PIVOT_IDS))
        .select(
            F.col("vec_id").alias("pid"), _as_double(F.col("embedding")).alias("pe")
        )
    )


def _pivot_scored(embeddings: DataFrame) -> DataFrame:
    """Every (vector, pivot) pair scored + ranked by cosine (broadcast
    cross-join with K=7 pivots, per-vector rank — one narrow shuffle)."""
    base = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    cross = base.crossJoin(F.broadcast(_pivots(embeddings)))
    scored = cross.withColumn("pcos", cosine(F.col("e"), F.col("pe")))
    w = Window.partitionBy("vec_id").orderBy(F.col("pcos").desc(), F.col("pid"))
    return scored.withColumn("rk", F.row_number().over(w))


def with_ivf_assignment(embeddings: DataFrame) -> DataFrame:
    """Assign every vector to its nearest pivot."""
    return _pivot_scored(embeddings).where(F.col("rk") == 1).select(
        "vec_id", "e", "pid"
    )


def ann_ivf_topk(embeddings: DataFrame, n_probes: int = 1) -> DataFrame:
    """Top-k by cosine among vectors in ``QUERY_ID``'s ``n_probes`` nearest
    pivot cells (the IVF probe — scans ~n_probes·n/K rows instead of n).

    Multi-probe (n_probes ≥ 2) recovers the recall lost at cell
    boundaries: a true neighbor assigned to the query's SECOND-nearest
    pivot is invisible to a single-probe scan. The probe list is a
    broadcast of ≤ n_probes rows (each candidate's pid matches at most
    one probe row, so no fan-out), and the whole query stays lazy — no
    driver-side Spark job runs while composing it."""
    assigned = with_ivf_assignment(embeddings)
    q = (
        _pivot_scored(embeddings)
        .where((F.col("vec_id") == QUERY_ID) & (F.col("rk") <= n_probes))
        .select(F.col("e").alias("qe"), F.col("pid").alias("qpid"))
    )
    cand = assigned.where(F.col("vec_id") != QUERY_ID).join(
        F.broadcast(q), F.col("pid") == F.col("qpid")
    )
    cos = cosine(F.col("e"), F.col("qe"))
    return (
        cand.select("vec_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.round(F.col("cos"), 4).alias("cos_sim"))
    )


def ann_ivf_sql(n_probes: int = 1) -> str:
    pivots = ", ".join(str(p) for p in PIVOT_IDS)
    pcos = cosine_sql("b.e", "p.pe")
    return (
        "WITH base AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), "
        f"piv AS (SELECT vec_id AS pid, e AS pe FROM base WHERE vec_id IN ({pivots})), "
        "scored AS (SELECT b.vec_id, b.e, p.pid, row_number() OVER ("
        f"PARTITION BY b.vec_id ORDER BY {pcos} DESC, p.pid) AS rk "
        "FROM base b CROSS JOIN piv p), "
        "assigned AS (SELECT vec_id, e, pid FROM scored WHERE rk = 1), "
        "q AS (SELECT e AS qe, pid AS qpid FROM scored "
        f"WHERE vec_id = {QUERY_ID} AND rk <= {n_probes}) "
        "SELECT vec_id, "
        f"round({cosine_sql('a.e', 'q.qe')}, 4) AS cos_sim "
        "FROM assigned a, q "
        f"WHERE a.vec_id <> {QUERY_ID} AND a.pid = q.qpid "
        f"ORDER BY {cosine_sql('a.e', 'q.qe')} DESC, vec_id LIMIT {TOPK}"
    )
