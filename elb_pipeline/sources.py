"""Raw log-file corpus ingestion — the reference CLI's actual input mode.

Reference semantics (main.rs:103-177):
- recursive directory walk (main.rs:161-164),
- extension filter per dialect: ALB reads ``*.log.gz`` (alb.rs:96),
  Classic reads ``*.log`` (classic_lb.rs:56) — other files are ignored
  (main.rs:120-123),
- zero-byte / non-regular files are skipped BEFORE decode (main.rs:125-129
  — note an empty ``.log.gz`` is not valid gzip, so the skip must happen
  pre-decode, which is why listing is done explicitly here rather than via
  a read-option glob),
- transparent gzip decode, including concatenated members
  (``MultiGzDecoder``, main.rs:131-135),
- split on ``\\n``; the last line may lack the newline (main.rs:185-186,
  grammars tolerate one optional trailing ``\\x0A``: alb.rs:189).

Spark mapping: ``spark.read.text(paths)`` decodes ``.gz`` transparently
(Hadoop GzipCodec handles concatenated members) and splits lines; the
explicit driver-side walk implements the extension filter + empty skip.
At real scale the walk is a metadata operation (object-store LIST) — the
same shape the reference's single walkdir thread has; the data plane stays
fully distributed (one Spark task per file/split, like the reference's
one-worker-owns-a-file loop, main.rs:117-140).

``corpus_fixture`` synthesizes the deterministic on-disk corpus used by
tests / the driver oracle: gzip with ``mtime=0`` so bytes are reproducible.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elb_pipeline.dialects import ALB, CLASSIC, Dialect


def list_log_files(root: str, ext: str) -> list[str]:
    """Recursive walk → sorted non-empty regular files ending in ``ext``
    (main.rs:120-129 semantics)."""
    out: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            if not name.endswith(ext):
                continue
            path = os.path.join(dirpath, name)
            if os.path.isfile(path) and os.path.getsize(path) > 0:
                out.append(path)
    return sorted(out)


def read_log_corpus(
    spark: SparkSession, root: str, dialect: Dialect
) -> DataFrame:
    """One dialect's file corpus as a DataFrame of (text, src_file) —
    the Spark analog of one reference CLI run over a directory."""
    paths = list_log_files(root, dialect.ext)
    if not paths:
        return spark.createDataFrame([], "text string, src_file string")
    return spark.read.text(paths).select(
        F.col("value").alias("text"),
        F.input_file_name().alias("src_file"),
    )


# ---------------------------------------------------------------------------
# Iceberg transcripts source (target-mandated input shape) — GATED
# ---------------------------------------------------------------------------

# Exact session conf an Iceberg deployment needs (the runtime jar is not in
# this image, so the reader below degrades with a clear error; everything
# else in the pipeline consumes a plain DataFrame and does not care whether
# it came from Iceberg, parquet, or readStream). For Spark 4.x use the
# iceberg-spark-runtime-4.0 artifact; for Spark 3.5, *_3.5_2.12/2.13.
ICEBERG_CONF: dict[str, str] = {
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
    "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.lake.type": "hadoop",  # or rest/glue/hive per deployment
    "spark.sql.catalog.lake.warehouse": "s3://<bucket>/warehouse",
    "spark.jars.packages": (
        "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version>"
    ),
}


def read_transcripts_table(spark: SparkSession, table: str) -> DataFrame:
    """Read the transcripts Iceberg table (e.g. ``lake.ai.transcripts``).

    At 100 TB this is the production source: its manifests do the file
    listing the raw walker above does for loose files. job.py reads every
    pending conv_id bucket group in one pass and applies the group filter
    after the scan — Iceberg's ``bucket(N, conv_id)`` hashes with murmur3,
    not the job's crc32, so the table layout cannot prune by group.
    Requires ICEBERG_CONF on the
    session; without the runtime jar the error says exactly that instead
    of an opaque ClassNotFound."""
    try:
        return spark.read.table(table)
    except Exception as exc:  # pragma: no cover - jar absent in this image
        raise RuntimeError(
            f"cannot read table {table!r} — if this is an Iceberg table, "
            "build the session with elb_pipeline.sources.ICEBERG_CONF "
            "(iceberg-spark-runtime jar + catalog conf)"
        ) from exc


# ---------------------------------------------------------------------------
# deterministic corpus fixture (tests + driver oracle)
# ---------------------------------------------------------------------------

FIXTURE_FILES = 4  # per corpus flavor
FIXTURE_LINES_PER_FILE = 200
DEFAULT_CORPUS_ROOT = "/tmp/elb_pipeline_corpus_v1"


def corpus_fixture(root: str) -> str:
    """Write the deterministic mixed-line corpus under ``root`` (idempotent;
    guarded by a marker file). Layout exercises every source behavior:

      {root}/alb/part-K.log.gz   gzip NDLOG, mixed valid/malformed lines
      {root}/classic/part-K.log  plain NDLOG, same mix
      {root}/notes.txt           decoy — wrong extension, must be ignored
      {root}/alb/empty.log.gz    zero bytes — must be skipped pre-decode
      {root}/classic/empty.log   zero bytes — must be skipped
    """
    from elb_pipeline.goldens import TEXT_POOL

    marker = os.path.join(root, "_FIXTURE_READY")
    if os.path.exists(marker):
        return root
    os.makedirs(os.path.join(root, "alb"), exist_ok=True)
    os.makedirs(os.path.join(root, "classic"), exist_ok=True)

    def lines_for(k: int) -> list[str]:
        return [
            TEXT_POOL[(k * 31 + i * 7 + 3) % len(TEXT_POOL)]
            for i in range(FIXTURE_LINES_PER_FILE)
        ]

    for k in range(FIXTURE_FILES):
        body = ("\n".join(lines_for(k)) + "\n").encode()
        gz_path = os.path.join(root, "alb", f"part-{k}.log.gz")
        with open(gz_path, "wb") as fh:
            with gzip.GzipFile(fileobj=fh, mode="wb", mtime=0) as gz:
                gz.write(body)
        with open(os.path.join(root, "classic", f"part-{k}.log"), "wb") as fh:
            fh.write(body)
    with open(os.path.join(root, "notes.txt"), "w") as fh:
        fh.write("not a log file\n")
    open(os.path.join(root, "alb", "empty.log.gz"), "wb").close()
    open(os.path.join(root, "classic", "empty.log"), "wb").close()
    open(marker, "w").close()
    return root


def corpus_route_counts(spark: SparkSession, root: str) -> DataFrame:
    """(corpus, sink, n) over both dialect-scoped corpora — the reference's
    two per-dialect CLI runs expressed as one DataFrame."""
    from elb_pipeline.parse import with_sink

    parts = []
    for corpus, dialect in (("alb_gz", ALB), ("classic_plain", CLASSIC)):
        df = read_log_corpus(spark, root, dialect)
        parts.append(
            with_sink(df.select("text"))
            .groupBy("sink")
            .agg(F.count("*").alias("n"))
            .select(F.lit(corpus).alias("corpus"), "sink", "n")
        )
    return parts[0].unionByName(parts[1])
