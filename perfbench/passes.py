"""One pass per workload, its traced variant, and its correctness gate.

Every pass rebuilds its DataFrames from the input read, so a timed pass
covers input read → complete result. All program calls go through the
modules' public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from elb_pipeline import aggregate, dedup, enrich, job, parse

from perfbench.inputs import SINK_MALFORMED, DedupInput, JobInput, jaccard
from perfbench.trace import JOB_PREFIXES, Recorder, prefix_layers

JSON_SAMPLE = 48  # rows per pass whose written output is compared field by field
MALFORMED_SAMPLE = 16  # extra sampled rows drawn from the planted malformed ones
PAIR_SAMPLE = 32  # dedup pairs per pass whose Jaccard is recomputed


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


# ---------------------------------------------------------------------------
# job workloads
# ---------------------------------------------------------------------------


def job_pass(spark, path: str, out_dir: str):
    return job.run_job(spark, spark.read.parquet(path), out_dir)


def job_gate(spark, inp: JobInput, out_dir: str, result, rng) -> list[str]:
    """Problems found in one job pass's output (empty: the pass is correct)."""
    mal_rows = inp.malformed_rows()
    sample = np.union1d(
        rng.choice(inp.rows, JSON_SAMPLE, replace=False),
        rng.choice(mal_rows, min(MALFORMED_SAMPLE, len(mal_rows)), replace=False),
    )
    rows = (
        spark.read.parquet(f"{out_dir}/data")
        .where(F.col("turn_idx").isin([int(i) for i in sample]))
        .select("turn_idx", "sink", "json", "mal_text")
        .collect()
    )
    return check_counts(inp, result.sink_counts) + check_rows(
        inp, sample.tolist(), [r.asDict() for r in rows]
    )


def check_counts(inp: JobInput, sink_counts: dict[str, int]) -> list[str]:
    if sink_counts != inp.sink_counts:
        return [f"sink_counts {sink_counts} != planted {inp.sink_counts}"]
    return []


def check_rows(inp: JobInput, sample: list[int], rows: list[dict]) -> list[str]:
    """Written rows of the sampled turn_idx values against the generator's
    expectation: the sink, the JSON fields of valid rows (via json.loads)
    and the kept text of malformed rows."""
    errors = []
    if sorted(r["turn_idx"] for r in rows) != sorted(sample):
        errors.append(f"sampled rows: {len(rows)} written for {len(sample)} sampled")
    for r in rows:
        text, sink, fields = inp.expected_row(r["turn_idx"])
        if r["sink"] != sink:
            errors.append(f"row {r['turn_idx']}: sink {r['sink']} != {sink}")
        elif sink == SINK_MALFORMED:
            if r["mal_text"] != text or r["json"] is not None:
                errors.append(f"row {r['turn_idx']}: malformed text not kept")
        elif r["json"] is None or json.loads(r["json"]) != fields:
            errors.append(f"row {r['turn_idx']}: json != expected fields")
    return errors


def job_traced(spark, inp: JobInput, out_dir: str, rec: Recorder, pass_no: int):
    """Cumulative prefixes, each forced into a noop sink, then the full job
    and the aggregate over its written sinks. Returns the job result."""

    def read():
        return spark.read.parquet(inp.path)

    def routed(with_diag: bool):
        return parse.routed_json_both(read(), with_diag=with_diag)

    with rec.span("scan", pass_no):
        noop(read())
    with rec.span("parse", pass_no):
        noop(routed(False))
    with rec.span("deadletter", pass_no):
        noop(routed(True))
    with rec.span("enrich", pass_no):
        noop(
            enrich.enrich(routed(True), spark)
            .withColumn("ts_day", F.to_date("ts"))
            .withColumn("src_partition", F.spark_partition_id())
        )
    with rec.span("job", pass_no):
        result = job.run_job(spark, read(), out_dir)
    with rec.span("aggregate", pass_no):
        data = spark.read.parquet(f"{out_dir}/data")
        aggregate.sink_day_bucket_counts(data).collect()
    return result


def job_layers(rec: Recorder, pass_no: int, out_dir: str) -> dict[str, float]:
    layers = prefix_layers({p: rec.seconds(p, pass_no) for p in JOB_PREFIXES})
    n_bytes, n_files = tree_stats(f"{out_dir}/data")
    return {
        "sources.scan_s": layers["scan"],
        "parse.s": layers["parse"],
        "deadletter.s": layers["deadletter"],
        "enrich.s": layers["enrich"],
        "job.commit_s": layers["job"],
        "aggregate.s": rec.seconds("aggregate", pass_no),
        "job.bytes_written": n_bytes,
        "job.files_written": n_files,
        "trace.span_s": rec.seconds("job", pass_no),
    }


def kernel_profile(inp: JobInput, batch_rows: int, max_rows: int) -> dict[str, float]:
    """``parse.route_json_arrow`` on this process's one thread over the
    workload's own Arrow batches (each input file cut into batches of
    ``batch_rows``, as Spark's Arrow runner does), plus the column bytes
    into and out of the fused parse operator for the same batches."""
    import time

    rows = distinct = bytes_in = bytes_out = 0
    busy = 0.0
    for name in sorted(os.listdir(inp.path)):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(inp.path, name))
        for batch in table.to_batches(max_chunksize=batch_rows):
            text = batch.column(batch.schema.get_field_index("text"))
            t0 = time.perf_counter()
            sink, json_col = parse.route_json_arrow(text)
            busy += time.perf_counter() - t0
            mal = pc.if_else(
                pc.equal(sink, pa.scalar(SINK_MALFORMED)), text, pa.nulls(len(text), pa.string())
            )
            passthrough = sum(c.nbytes for c in batch.columns) - text.nbytes
            rows += len(text)
            distinct += pc.count_distinct(text).as_py()
            bytes_in += batch.nbytes
            bytes_out += passthrough + sink.nbytes + json_col.nbytes + mal.nbytes
            if rows >= max_rows:
                break
        if rows >= max_rows:
            break
    return {
        "parse.kernel_rows_per_s": rows / busy,
        "parse.distinct_frac": distinct / rows,
        # scaled from the profiled rows to the whole input
        "parse.bytes_in": bytes_in * inp.rows / rows,
        "parse.bytes_out": bytes_out * inp.rows / rows,
    }


# ---------------------------------------------------------------------------
# dedup workload
# ---------------------------------------------------------------------------

DEDUP_STEPS = ("pool", "signatures", "lsh_pairs", "groups", "prefix_pairs")


def dedup_pass(spark, path: str, key: str, rec: Recorder | None = None, pass_no: int = 0):
    """The eager dedup chain, each call timed as its own span when ``rec``
    is given. Returns (signatures, verified pairs and groups frames, the
    collected prefix-filter pairs)."""
    from contextlib import nullcontext

    def step(name):
        return rec.span(name, pass_no) if rec else nullcontext()

    docs = spark.read.parquet(path)
    with step("pool"):
        pool = dedup.materialized_doc_pool(docs, key)
    with step("signatures"):
        sigs = dedup.materialized_signatures(pool, cache_key=key)
    with step("lsh_pairs"):
        verified = dedup.materialized_verified_pairs(sigs, key)
    with step("groups"):
        groups = dedup.dup_groups(verified, cache_key=key)
    with step("prefix_pairs"):
        pairs = dedup.prefix_jaccard_pairs(pool, cache_key=key).collect()
    return sigs, verified, groups, pairs


def pool_text(inp: DedupInput, doc_id: int) -> str:
    """Text of a doc_pool id, re-derived from the pool's planting rule."""
    if doc_id >= dedup.NEAR_OFFSET:
        return inp.texts[doc_id - dedup.NEAR_OFFSET] + dedup.NEAR_TAIL
    if doc_id >= dedup.EXACT_OFFSET:
        return inp.texts[doc_id - dedup.EXACT_OFFSET]
    return inp.texts[doc_id]


def dedup_gate(
    inp: DedupInput, lsh: set[tuple[int, int]], found: dict[tuple[int, int], float], rng
) -> list[str]:
    """Problems in one dedup pass: ``lsh`` are the verified LSH pairs,
    ``found`` the prefix-filter pairs with their Jaccard values."""
    errors = []
    if not lsh <= found.keys():
        errors.append(f"{len(lsh - found.keys())} LSH pairs missing from prefix pairs")
    missed = [
        (a, b) for a, b, j in inp.planted
        if j >= dedup.JACCARD_THRESHOLD and (a, b) not in found
    ]
    if missed:
        errors.append(f"{len(missed)} planted pairs missing, e.g. {missed[:3]}")
    keys = sorted(found)
    for k in rng.choice(len(keys), min(PAIR_SAMPLE, len(keys)), replace=False):
        a, b = keys[k]
        exact = jaccard(pool_text(inp, a), pool_text(inp, b))
        if abs(exact - found[(a, b)]) > 1e-4 or exact < dedup.JACCARD_THRESHOLD:
            errors.append(f"pair {(a, b)}: jaccard {found[(a, b)]} != exact {exact:.6f}")
    return errors


def dedup_counts(sigs, verified, groups, pairs, cache_dir: str) -> dict[str, float]:
    """Counts of one traced dedup pass, taken after its spans."""
    candidates = dedup.lsh_candidate_pairs(sigs).count()
    n_verified = verified.count()
    n_bytes, _ = tree_stats(cache_dir)
    return {
        "dedup.lsh_candidates": candidates,
        "dedup.lsh_verified": n_verified,
        "dedup.lsh_yield": n_verified / candidates if candidates else 0.0,
        "dedup.prefix_pairs": len(pairs),
        "dedup.groups": groups.select("group_id").distinct().count(),
        "matcache.bytes_written": n_bytes,
        "matcache.dirs_written": sum(
            os.path.isdir(os.path.join(cache_dir, d)) for d in os.listdir(cache_dir)
        ),
    }
