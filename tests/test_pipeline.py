"""End-to-end pipeline semantics: routing sets, aggregates, strict mode,
checkpoint-resume idempotence — all vs a pure-Python ``re`` oracle over the
same synthesized rows (FIXTURES.md §3)."""

from __future__ import annotations

import collections
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from elb_pipeline import checkpoint
from elb_pipeline.aggregate import sink_day_bucket_counts
from elb_pipeline.dialects import (
    ALB_FIELDS,
    CLASSIC_FIELDS,
    SINK_ALB,
    SINK_CLASSIC,
    parse_line,
)
from elb_pipeline.job import StrictModeError, run_job
from elb_pipeline.parse import routed_struct, with_sink
from elb_pipeline.synth import transcripts_from_events

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_from_events(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def oracle_rows(transcripts):
    """Pure-Python routing oracle over the collected rows."""
    rows = transcripts.collect()
    out = []
    for r in rows:
        sink, _ = parse_line(r["text"])
        out.append((r["conv_id"], r["turn_idx"], sink, r["ts"]))
    return out


def test_routed_row_sets_match_oracle(spark, transcripts, oracle_rows):
    got = {
        (r["conv_id"], r["turn_idx"], r["sink"])
        for r in with_sink(transcripts).select("conv_id", "turn_idx", "sink").collect()
    }
    want = {(c, t, s) for c, t, s, _ in oracle_rows}
    assert got == want


def test_sink_counts_match_oracle(spark, transcripts, oracle_rows):
    got = {
        r["sink"]: r["n"]
        for r in with_sink(transcripts).groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    want = collections.Counter(s for _, _, s, _ in oracle_rows)
    assert got == dict(want)
    assert set(got) == {"alb", "classic_lb", "malformed"}  # every sink exercised


def test_order_invariant(transcripts, oracle_rows):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering."""
    collected = transcripts.orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx"
    ).collect()
    want = sorted((c, t) for c, t, _, _ in oracle_rows)
    assert [(r["conv_id"], r["turn_idx"]) for r in collected] == want


def test_job_end_to_end_and_resume(spark, transcripts, oracle_rows, tmp_path):
    out = str(tmp_path / "out")
    want = collections.Counter(s for _, _, s, _ in oracle_rows)

    res1 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert sorted(res1.groups_run) == [0, 1, 2]
    assert res1.sink_counts == dict(want)

    # per-sink parquet row counts match the manifests (group=/sink=/ts_day=
    # read back as partition columns)
    data_df = spark.read.parquet(f"{out}/data")
    for sink in ("alb", "classic_lb", "malformed"):
        assert data_df.where(F.col("sink") == sink).count() == want[sink]

    # alb output carries the byte-exact json column
    alb_df = data_df.where(F.col("sink") == "alb")
    assert alb_df.where(F.col("json").startswith('{"type":"')).count() == want["alb"]
    # dead letters carry raw text + byte-exact diagnostics; valid rows don't
    mal = data_df.where(F.col("sink") == "malformed")
    assert mal.where(F.col("failed_position").isNotNull()).count() == want["malformed"]
    assert mal.where(F.col("mal_text").isNotNull()).count() == want["malformed"]
    assert data_df.where(
        (F.col("sink") != "malformed") & F.col("mal_text").isNotNull()
    ).count() == 0

    # resume: everything already committed → nothing re-runs
    res2 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert res2.groups_run == [] and sorted(res2.groups_skipped) == [0, 1, 2]
    assert res2.sink_counts == dict(want)

    # knock out one manifest → exactly that group re-runs, totals unchanged
    import os

    os.remove(checkpoint.manifest_path(out, 1))
    res3 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert res3.groups_run == [1] and sorted(res3.groups_skipped) == [0, 2]
    assert res3.sink_counts == dict(want)


def test_aggregates_and_lineage_match_written_data(spark, transcripts, tmp_path):
    """Each group's aggregates/group=G equals the aggregate recomputed over
    its data/group=G, and each manifest's lineage equals, entry by entry,
    the (src_partition, sink) counts of its data/group=G and sums to its
    sink_counts."""
    out = str(tmp_path / "agg")
    res = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert sorted(res.groups_run) == [0, 1, 2]

    cols = ["sink", "conv_bucket", "ts_day", "n"]
    for g in range(3):
        data = spark.read.parquet(f"{out}/data/group={g}")
        want = {tuple(r) for r in sink_day_bucket_counts(data).select(*cols).collect()}
        aggs = spark.read.parquet(f"{out}/aggregates/group={g}")
        got = {tuple(r) for r in aggs.select(*cols).collect()}
        assert got == want and len(got) > 0

        manifest = checkpoint.read_manifest(out, g)
        direct = sorted(
            (r["src_partition"], r["sink"], r["count"])
            for r in data.groupBy("src_partition", "sink").count().collect()
        )
        assert [
            (e["partition_id"], e["sink"], e["n"]) for e in manifest["lineage"]
        ] == direct
        lineage = collections.Counter()
        for entry in manifest["lineage"]:
            lineage[entry["sink"]] += entry["n"]
        assert lineage == collections.Counter(manifest["sink_counts"])
        assert sum(manifest["sink_counts"].values()) == data.count()


def test_resume_rewrites_half_written_group(spark, transcripts, tmp_path):
    """A pending group's leftover output is replaced, not added to: a stale
    part file under data/group=1 must not survive the re-run of group 1."""
    out = str(tmp_path / "stale")
    run_job(spark, transcripts, out, mode="skip", n_groups=3)
    total = spark.read.parquet(f"{out}/data").count()

    part = sorted(glob.glob(f"{out}/data/group=1/sink=*/ts_day=*/part-*.parquet"))[0]
    shutil.copyfile(part, part.replace("/part-", "/part-stale-"))
    os.remove(checkpoint.manifest_path(out, 1))

    res = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert res.groups_run == [1] and res.groups_skipped == [0, 2]
    assert spark.read.parquet(f"{out}/data").count() == total
    assert not glob.glob(f"{out}/data/group=1/**/part-stale-*", recursive=True)


def test_strict_mode_commits_clean_groups_and_names_lowest_malformed(
    spark, transcripts, tmp_path
):
    """strict with several groups: clean groups commit, malformed ones do
    not, and the error names the lowest malformed group."""
    # each row's bucket group, as the job computes it for n_groups=3
    group = F.pmod(F.crc32(F.col("conv_id").cast("binary")), F.lit(3))
    routed = with_sink(transcripts).withColumn("g", group)
    # group 0 clean; groups 1 and 2 keep their malformed lines
    rows = routed.where((F.col("g") != 0) | (F.col("sink") != "malformed"))
    mal = rows.where(F.col("sink") == "malformed").select("g").distinct().collect()
    assert {r["g"] for r in mal} == {1, 2}

    out = str(tmp_path / "strict3")
    with pytest.raises(StrictModeError, match=r"in bucket group 1$"):
        run_job(spark, rows.drop("sink", "g"), out, mode="strict", n_groups=3)
    assert checkpoint.completed_groups(out) == [0]
    assert checkpoint.read_manifest(out, 0)["sink_counts"]["malformed"] == 0


def test_job_count_independent_of_n_groups(spark, transcripts, tmp_path):
    """All pending groups commit in one pass, so a run_job call submits the
    same Spark jobs whether it has one bucket group or four — six, with
    the aggregates and the lineage taken from one scan of the written
    rows."""
    sc = spark.sparkContext
    counts = {}
    for n_groups in (1, 4):
        sc.setLocalProperty("spark.jobGroup.id", f"run_job-{n_groups}")
        try:
            out = str(tmp_path / f"n{n_groups}")
            run_job(spark, transcripts, out, n_groups=n_groups)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(f"run_job-{n_groups}")
        counts[n_groups] = len(jobs)
    assert counts[1] == counts[4] == 6, counts


def test_ndjson_export_matches_parquet_json(spark, transcripts, tmp_path):
    """export_ndjson writes the reference's output artifact: raw NDJSON
    text, line-for-line equal to the fused pass's json column."""
    from elb_pipeline.job import export_ndjson

    out = str(tmp_path / "ndj")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    paths = export_ndjson(spark, out)
    data = spark.read.parquet(f"{out}/data")
    for sink, path in paths.items():
        want = sorted(
            r["json"] for r in data.where(F.col("sink") == sink).select("json").collect()
        )
        got = sorted(r["value"] for r in spark.read.text(path).collect())
        assert got == want and len(got) > 0
        assert all(line.startswith("{") and line.endswith("}") for line in got)


def test_job_all_malformed_input_survives_skip_mode(spark, transcripts, tmp_path):
    """A group whose valid slice is empty must not crash the read-back
    (dynamic-partition writes of empty frames emit no part files)."""
    mal_only = with_sink(transcripts).where(F.col("sink") == "malformed").drop("sink")
    res = run_job(spark, mal_only, str(tmp_path / "malonly"), mode="skip", n_groups=2)
    assert res.sink_counts["alb"] == 0 and res.sink_counts["classic_lb"] == 0
    assert res.sink_counts["malformed"] == mal_only.count()


def test_job_empty_groups_survive(spark, transcripts, tmp_path):
    """n_groups exceeding the distinct conv-bucket values leaves some
    groups with zero rows of ANY kind; they must commit empty manifests."""
    one_conv = transcripts.where(
        F.col("conv_id") == transcripts.select("conv_id").first()["conv_id"]
    )
    res = run_job(spark, one_conv, str(tmp_path / "onecnv"), mode="skip", n_groups=4)
    assert sorted(res.groups_run) == [0, 1, 2, 3]
    assert sum(res.sink_counts.values()) == one_conv.count()


def test_job_empty_input_commits_empty_manifests(spark, transcripts, tmp_path):
    """An input with no rows writes no part files, so the post-write scan
    is empty and observes nothing; every group still commits a manifest
    with zero counts and no lineage."""
    out = str(tmp_path / "empty")
    res = run_job(spark, transcripts.where(F.lit(False)), out, n_groups=2)
    assert res.groups_run == [0, 1]
    assert res.sink_counts == {"alb": 0, "classic_lb": 0, "malformed": 0}
    assert all(checkpoint.read_manifest(out, g)["lineage"] == [] for g in (0, 1))


def test_strict_mode_raises(spark, transcripts, tmp_path):
    with pytest.raises(StrictModeError):
        run_job(spark, transcripts, str(tmp_path / "strict"), mode="strict", n_groups=1)


def test_strict_fast_mode_aborts_with_reference_error(spark, transcripts, tmp_path):
    """strict-fast reproduces the reference exactly: the parse stage aborts
    at the first malformed line with ParseLogError's message text
    (parse.rs:8, main.rs:194-203)."""
    malformed_texts = {
        r["text"]
        for r in with_sink(transcripts).where(F.col("sink") == "malformed")
        .select("text").collect()
    }
    with pytest.raises(StrictModeError, match="Invalid log line: ") as exc:
        run_job(
            spark, transcripts, str(tmp_path / "sf"), mode="strict-fast", n_groups=1
        )
    # the message must carry the ACTUAL malformed line (not UDF source text
    # that py4j also embeds in the traceback)
    reported = str(exc.value).split("Invalid log line: ", 1)[1]
    assert reported in malformed_texts


def test_strict_fast_clean_input_passes(spark, transcripts, tmp_path):
    clean = with_sink(transcripts).where(F.col("sink") != "malformed").drop("sink")
    res = run_job(spark, clean, str(tmp_path / "sfc"), mode="strict-fast", n_groups=1)
    assert res.sink_counts["malformed"] == 0
    assert res.sink_counts["alb"] > 0


def test_strict_mode_clean_input_passes(spark, transcripts, tmp_path):
    clean = with_sink(transcripts).where(F.col("sink") != "malformed").drop("sink")
    res = run_job(spark, clean, str(tmp_path / "clean"), mode="strict", n_groups=1)
    assert res.sink_counts["malformed"] == 0
    assert res.sink_counts["alb"] > 0


def test_parse_paths_equivalent(spark, transcripts):
    """The Arrow/RE2 operators agree row-for-row with the engine-independent
    ``re`` reference (``dialects.parse_line``): routing, and every field of
    both dialects' extraction."""
    key = ["conv_id", "turn_idx"]
    want = {
        (r["conv_id"], r["turn_idx"]): parse_line(r["text"])
        for r in transcripts.select(*key, "text").collect()
    }
    sinks = {
        (r["conv_id"], r["turn_idx"]): r["sink"]
        for r in with_sink(transcripts).select(*key, "sink").collect()
    }
    assert sinks == {k: sink for k, (sink, _) in want.items()}

    for dialect, names in ((SINK_ALB, ALB_FIELDS), (SINK_CLASSIC, CLASSIC_FIELDS)):
        got = {
            (r["conv_id"], r["turn_idx"]): r["parsed"].asDict()
            for r in routed_struct(transcripts, dialect, passthrough=key).collect()
        }
        prefix = "alb_" if dialect == SINK_ALB else "clb_"
        assert got == {
            k: {prefix + f: fields[f] for f in names}
            for k, (sink, fields) in want.items()
            if sink == dialect
        }
        assert len(got) > 0


def test_salted_agg_equals_direct(spark, transcripts):
    from elb_pipeline.aggregate import salted_sink_day_bucket_counts, sink_day_bucket_counts

    routed = with_sink(transcripts).withColumn("ts_day", F.to_date("ts"))
    direct = {
        (r["sink"], r["conv_bucket"], r["ts_day"]): r["n"]
        for r in sink_day_bucket_counts(routed).collect()
    }
    salted = {
        (r["sink"], r["conv_bucket"], r["ts_day"]): r["n"]
        for r in salted_sink_day_bucket_counts(routed).collect()
    }
    assert direct == salted


def test_export_ndjson_ordered_single_sorted_file(spark, transcripts, tmp_path):
    """Order-preserving export: ONE text file whose line sequence equals the
    valid NDJSON sorted by the stable turn key (the reference stdin mode's
    input-order observable, main.rs:89-101)."""
    from elb_pipeline.job import export_ndjson_ordered

    out = str(tmp_path / "job_ordered")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    path = export_ndjson_ordered(spark, out)

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) == 1  # single-stream export = single writer
    with open(files[0], encoding="utf-8") as fh:
        lines = fh.read().splitlines()

    expected = [
        r["json"]
        for r in spark.read.parquet(f"{out}/data")
        .where(F.col("sink").isin("alb", "classic_lb"))
        .orderBy("conv_id", "turn_idx")
        .select("json")
        .collect()
    ]
    assert len(lines) > 0
    assert lines == expected


def test_export_ndjson_sharded_concatenation_is_globally_ordered(
    spark, transcripts, tmp_path
):
    """Scale-out ordered export (VERDICT r3 #5): multiple range shards,
    each sorted within, whose name-order concatenation equals the
    single-stream export's exact line sequence — no single-partition
    global sort in the plan."""
    from elb_pipeline.job import export_ndjson_sharded

    out = str(tmp_path / "job_sharded")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    path = export_ndjson_sharded(spark, out)

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) > 1  # genuinely parallel writers
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())

    expected = [
        r["json"]
        for r in spark.read.parquet(f"{out}/data")
        .where(F.col("sink").isin("alb", "classic_lb"))
        .orderBy("conv_id", "turn_idx")
        .select("json")
        .collect()
    ]
    assert len(lines) > 0
    assert lines == expected
