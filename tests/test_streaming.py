"""Streaming smoke: the stateless parse/route stages run unchanged under
Structured Streaming, and windowed per-sink counts equal the batch counts."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from elb_pipeline.dialects import parse_line
from elb_pipeline.enrich import enrich
from elb_pipeline.parse import routed_json_both, with_sink
from elb_pipeline.streaming import read_transcripts_stream
from elb_pipeline.synth import transcripts_from_events

SF_DIR = "/root/testdata/sf0.001"


def _drain(df, name, mode):
    """Run streaming ``df`` into a memory sink called ``name`` until the
    files currently in its source are processed; return the sink table."""
    spark = df.sparkSession
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _windowed_sink_counts(routed):
    """Per-sink 1-hour tumbling-window counts tolerant of turns up to
    2 hours late."""
    return (
        routed.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "sink")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sink",
            "n",
        )
    )


def _run_routed_to_files(spark, input_path, output_dir, checkpoint_dir):
    """Checkpoint-resumable run: the fused route+extract+NDJSON operator
    over a file stream into a parquet sink. One call drains the files in
    ``input_path`` (``availableNow``) and terminates; calling it again
    with the same checkpoint resumes from the committed source offsets,
    and the file sink's commit log lands each input row exactly once."""
    routed = routed_json_both(
        read_transcripts_stream(spark, input_path), with_diag=True
    )
    q = (
        routed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("streaming file-sink drain exceeded 300s")
    finally:
        q.stop()


def test_streaming_counts_match_batch(spark, tmp_path):
    t = transcripts_from_events(spark, SF_DIR)
    path = str(tmp_path / "stream_in")
    t.write.mode("overwrite").parquet(path)

    routed = enrich(with_sink(read_transcripts_stream(spark, path)), spark)
    out = _drain(_windowed_sink_counts(routed), "t_counts", "complete")
    got = collections.Counter()
    for r in out.groupBy("sink").agg(F.sum("n").alias("n")).collect():
        got[r["sink"]] = r["n"]

    want = collections.Counter(
        parse_line(r["text"])[0] for r in t.select("text").collect()
    )
    assert dict(got) == dict(want)


def test_streaming_fused_json_matches_batch(spark, tmp_path):
    """The fused route+extract+NDJSON+diagnosis operator runs unchanged
    under readStream and emits byte-identical output to the batch path."""
    t = transcripts_from_events(spark, SF_DIR)
    path = str(tmp_path / "stream_in_json")
    t.write.mode("overwrite").parquet(path)

    streamed = _drain(
        routed_json_both(read_transcripts_stream(spark, path), with_diag=True),
        "t_json",
        "append",
    )
    batch = routed_json_both(spark.read.parquet(path), with_diag=True)

    key = ["conv_id", "turn_idx"]
    cols = key + ["sink", "json", "mal_text", "fields_ok", "failed_position"]
    got = {tuple(r[k] for k in key): tuple(r[c] for c in cols[2:])
           for r in streamed.select(*cols).collect()}
    want = {tuple(r[k] for k in key): tuple(r[c] for c in cols[2:])
            for r in batch.select(*cols).collect()}
    assert got == want and len(got) > 0


def test_streaming_checkpoint_resume(spark, tmp_path):
    """Restarting the streaming pipeline with the same checkpointLocation
    resumes from committed offsets: files drained by run 1 are not
    reprocessed, late-added files are, and every turn appears in the
    parquet sink exactly once."""
    t = transcripts_from_events(spark, SF_DIR).limit(2000).cache()
    n_total = t.count()
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = t.where(F.col("conv_id").isNotNull()).limit(1200)
    first.write.mode("overwrite").parquet(in_dir)
    n_first = first.count()

    _run_routed_to_files(spark, in_dir, out_dir, ckpt)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == n_first

    # add the remaining rows as a NEW file; resume from the checkpoint
    rest = t.subtract(first)
    rest.coalesce(1).write.mode("append").parquet(in_dir)
    _run_routed_to_files(spark, in_dir, out_dir, ckpt)

    got2 = spark.read.parquet(out_dir)
    assert got2.count() == n_total  # old files skipped, new file processed
    # exactly-once on the stable turn key
    dups = (
        got2.groupBy("conv_id", "turn_idx").count()
        .where(F.col("count") > 1).count()
    )
    assert dups == 0
    t.unpersist()


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the update function
    without streaming machinery (the end-to-end runs are
    test_event_time_sessionization_closes_on_watermark and
    test_streaming_sessions_equal_batch_replay)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True
        self._value = None


class _FakeEventState(_FakeState):
    watermark_ms = 0

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_ts_ms = ts_ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_event_session_update_fn_sets_event_time_timeout():
    import pandas as pd

    from elb_pipeline.streaming import _event_session_update_fn

    gap_ms = 30 * 60 * 1000
    fn = _event_session_update_fn(gap_ms)
    ts1 = pd.Timestamp("2024-01-01 10:00:00")
    ts2 = pd.Timestamp("2024-01-01 10:05:00")
    pdf = pd.DataFrame({"sink": ["alb", "malformed"], "ts": [ts2, ts1]})

    state = _FakeEventState()
    (out,) = list(fn(("conv-a",), iter([pdf]), state))
    assert out.iloc[0].tolist() == ["conv-a", 2, 1, ts2, False]
    # timeout armed at last EVENT time + gap, not a processing-time delay
    # (naive-as-UTC epoch — host-timezone independent)
    assert state.timeout_ts_ms == ts2.value // 1_000_000 + gap_ms

    state.hasTimedOut = True
    (closed,) = list(fn(("conv-a",), iter([]), state))
    assert closed.iloc[0].tolist() == ["conv-a", 2, 1, ts2, True]
    assert state.removed

    # rows at/below the current watermark are dropped explicitly (arbitrary
    # stateful ops don't auto-filter late data): a batch that is ALL late
    # for a fresh key must not open a session at all
    late_state = _FakeEventState()
    late_state.watermark_ms = ts2.value // 1_000_000
    assert list(fn(("conv-late",), iter([pdf]), late_state)) == []
    assert not late_state.exists


def test_event_session_all_late_existing_session_no_rearm():
    """A batch that delivers ONLY late rows for an EXISTING session must
    not touch the state or re-arm the timeout: re-arming with last_ts+gap
    when the watermark already passed the close time would hand Spark a
    timeout at/below the watermark (INVALID_TIMEOUT_TIMESTAMP → query
    crash)."""
    import pandas as pd

    from elb_pipeline.streaming import _event_session_update_fn

    gap_ms = 30 * 60 * 1000
    fn = _event_session_update_fn(gap_ms)
    last = pd.Timestamp("2024-01-01 10:05:00")
    state = _FakeEventState(value=(2, 0, last))
    state.timeout_ts_ms = "armed-earlier"  # sentinel: must stay untouched
    # watermark already past last_ts + gap; batch rows are all below it
    state.watermark_ms = last.value // 1_000_000 + gap_ms + 60_000
    late = pd.DataFrame(
        {"sink": ["alb"], "ts": [pd.Timestamp("2024-01-01 09:50:00")]}
    )
    assert list(fn(("conv-x",), iter([late]), state)) == []
    assert state.get == (2, 0, last)  # state untouched
    assert state.timeout_ts_ms == "armed-earlier"  # no re-arm


def test_event_session_expired_state_plus_ontime_row_starts_new_session():
    """Gap contract: when an on-time row arrives in the same micro-batch
    in which the session's timeout would fire (data groups run before
    timed-out states), the old session is emitted closed and the new turn
    starts a FRESH session instead of being merged into the old one."""
    import pandas as pd

    from elb_pipeline.streaming import _event_session_update_fn

    gap_ms = 30 * 60 * 1000
    fn = _event_session_update_fn(gap_ms)
    old_last = pd.Timestamp("2024-01-01 10:05:00")
    state = _FakeEventState(value=(3, 1, old_last))
    # watermark passed old close time (10:35); new turn is above watermark
    state.watermark_ms = old_last.value // 1_000_000 + gap_ms + 60_000
    new_ts = pd.Timestamp("2024-01-01 11:00:00")
    pdf = pd.DataFrame({"sink": ["alb"], "ts": [new_ts]})

    (out,) = list(fn(("conv-y",), iter([pdf]), state))
    assert out.iloc[0].tolist() == ["conv-y", 3, 1, old_last, True]
    assert out.iloc[1].tolist() == ["conv-y", 1, 0, new_ts, False]
    assert state.get == (1, 0, new_ts)
    assert state.timeout_ts_ms == new_ts.value // 1_000_000 + gap_ms


def test_event_session_same_batch_gap_split():
    """ADVICE r4 #1: rows in ONE micro-batch separated by more than the
    gap must split into distinct sessions by EVENT time — even though the
    watermark has not remotely passed the first session's close time —
    matching the batch lag/cumsum replay's boundaries."""
    import pandas as pd

    from elb_pipeline.streaming import _event_session_update_fn

    gap_ms = 30 * 60 * 1000
    fn = _event_session_update_fn(gap_ms)
    t0 = pd.Timestamp("2024-01-01 10:00:00")
    t1 = pd.Timestamp("2024-01-01 10:10:00")
    t2 = pd.Timestamp("2024-01-01 11:00:00")  # 50 min after t1 → new session
    t3 = pd.Timestamp("2024-01-01 12:00:00")  # 60 min after t2 → new session
    pdf = pd.DataFrame(
        {"sink": ["alb", "malformed", "alb", "alb"], "ts": [t2, t0, t3, t1]}
    )
    state = _FakeEventState()
    (out,) = list(fn(("conv-g",), iter([pdf]), state))
    assert out.values.tolist() == [
        ["conv-g", 2, 1, t1, True],   # [10:00, 10:10] closed on the jump
        ["conv-g", 1, 0, t2, True],   # [11:00] closed on the next jump
        ["conv-g", 1, 0, t3, False],  # [12:00] stays open
    ]
    assert state.get == (1, 0, t3)
    assert state.timeout_ts_ms == t3.value // 1_000_000 + gap_ms

    # carried open state + first new row > gap later: the carried session
    # closes as it stands, the new rows start fresh
    st2 = _FakeEventState(value=(2, 0, t1))
    pdf2 = pd.DataFrame({"sink": ["alb"], "ts": [t2]})
    (out2,) = list(fn(("conv-h",), iter([pdf2]), st2))
    assert out2.values.tolist() == [
        ["conv-h", 2, 0, t1, True],
        ["conv-h", 1, 0, t2, False],
    ]


def test_event_session_timeout_clamped_above_watermark():
    """Boundary case wm == last_ts + gap: Spark requires the timeout to be
    strictly greater than the watermark, so the arm value is clamped."""
    import pandas as pd

    from elb_pipeline.streaming import _event_session_update_fn

    gap_ms = 30 * 60 * 1000
    fn = _event_session_update_fn(gap_ms)
    ts = pd.Timestamp("2024-01-01 10:00:00")
    state = _FakeEventState()
    # the surviving row's own close time coincides with the watermark
    state.watermark_ms = ts.value // 1_000_000 + gap_ms
    pdf = pd.DataFrame({"sink": ["alb"], "ts": [ts]})
    # row is late (ts <= wm) → dropped, fresh key → no session
    assert list(fn(("conv-z",), iter([pdf]), state)) == []

    # an on-time row whose last_ts+gap lands exactly ON the watermark
    # cannot happen (ts > wm ⇒ ts+gap > wm), but an EXISTING session that
    # absorbs a barely-on-time row keeps old last_ts when it is larger —
    # exercise the clamp via old state at the boundary
    old_last = pd.Timestamp("2024-01-01 10:00:00")
    st2 = _FakeEventState(value=(1, 0, old_last))
    st2.watermark_ms = old_last.value // 1_000_000 + gap_ms  # wm == close
    row = pd.DataFrame(
        {"sink": ["alb"],
         "ts": [pd.Timestamp(st2.watermark_ms + 1, unit="ms")]}
    )
    out = list(fn(("conv-w",), iter([row]), st2))
    assert len(out) == 1  # wm has NOT passed close (equal, not >): merged
    assert st2.timeout_ts_ms > st2.watermark_ms


def test_event_time_sessionization_closes_on_watermark(spark, tmp_path):
    """Out-of-order turns within the watermark extend a session; once the
    watermark passes last_ts+gap the session closes, and a straggler older
    than the watermark is dropped instead of reopening the closed session."""
    import datetime as dt
    import os

    from elb_pipeline.streaming import conversation_sessions_event_time

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    path = str(tmp_path / "ev_in")
    schema = "conv_id string, sink string, ts timestamp"
    # file 1: conv-a (out-of-order inside the batch) + conv-b
    f1 = [("conv-a", "alb", t(10, 5)), ("conv-a", "alb", t(10, 0)),
          ("conv-b", "alb", t(10, 1))]
    # file 2: conv-b far later (watermark jumps to 13:50, past conv-a's
    # 10:05+30min close) + a conv-a straggler BELOW the 09:55 watermark
    # active during this batch (dropped as late data)
    f2 = [("conv-b", "alb", t(14, 0)), ("conv-a", "alb", t(9, 50))]
    for i, rows in enumerate([f1, f2]):
        sub = f"{path}/b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        for part in os.listdir(sub):
            os.utime(f"{sub}/{part}", (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/b*")
    )
    sessions = conversation_sessions_event_time(
        stream, gap="30 minutes", watermark="10 minutes"
    )
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("ev_sessions")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not drain in 180s"
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM ev_sessions").collect()

    a_rows = [r for r in rows if r["conv_id"] == "conv-a"]
    b_rows = [r for r in rows if r["conv_id"] == "conv-b"]
    # conv-a: both in-order turns counted, straggler dropped (never 3),
    # and the session CLOSED when the watermark passed 10:05 + 30min
    assert max(r["n_turns"] for r in a_rows) == 2
    assert any(r["closed"] for r in a_rows)
    closed_a = [r for r in a_rows if r["closed"]][0]
    assert closed_a["n_turns"] == 2
    # conv-b: the 14:00 turn is >gap after 10:01 in EVENT time, so the
    # first session closes on the jump (the eager gap split — before r5
    # the lagging watermark let them merge into one 2-turn session, the
    # batch/streaming divergence ADVICE r4 #1 flagged) and the 14:00
    # session stays open (14:00 + gap > final watermark)
    closed_b = [r for r in b_rows if r["closed"]]
    assert [r["n_turns"] for r in closed_b] == [1]
    open_b = [r for r in b_rows if not r["closed"]]
    assert max(r["n_turns"] for r in open_b) == 1


def test_streaming_sessions_equal_batch_replay(spark, tmp_path):
    """VERDICT r4 #5: both sessionization faces — the stateful streaming
    operator (conversation_sessions_event_time) and the batch lag/cumsum
    replay (batch_session_replay, also the oracled driver query) — must
    produce IDENTICAL closed-session boundaries on the same out-of-order
    fixture, modulo the open tail. The fixture exercises in-batch
    disorder (sorted inside the update fn), same-batch gap splits, carried
    state splits across micro-batches, and timeout-driven closes; a
    far-future sentinel conversation pushes the final watermark past every
    real session's close time so the streaming side closes everything."""
    import datetime as dt
    import os

    from elb_pipeline.streaming import (
        batch_session_replay,
        conversation_sessions_event_time,
    )

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    # per-conversation arrival order is nondecreasing ACROSS files (the
    # stated equivalence contract); inside a file rows are shuffled
    files = [
        [("conv-a", "alb", t(10, 5)), ("conv-a", "malformed", t(10, 0)),
         ("conv-b", "alb", t(10, 1)), ("conv-c", "alb", t(9, 5)),
         ("conv-c", "alb", t(9, 0))],
        [("conv-a", "alb", t(10, 20)), ("conv-b", "alb", t(10, 45)),
         ("conv-c", "alb", t(10, 2)), ("conv-c", "alb", t(10, 0))],
        [("conv-a", "alb", t(11, 40)), ("conv-a", "alb", t(11, 30)),
         ("conv-b", "alb", t(10, 50)), ("conv-c", "alb", t(12, 0))],
        [("conv-z", "alb", t(23, 0))],  # sentinel: wm → 22:50, closes all
    ]
    path = str(tmp_path / "xval_in")
    schema = "conv_id string, sink string, ts timestamp"
    for i, rows in enumerate(files):
        sub = f"{path}/b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        for part in os.listdir(sub):
            os.utime(f"{sub}/{part}", (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/b*")
    )
    sessions = conversation_sessions_event_time(
        stream, gap="30 minutes", watermark="10 minutes"
    )
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("xval_sessions")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not drain in 180s"
    finally:
        q.stop()
    closed = {
        (r["conv_id"], r["n_turns"],
         int(r["last_ts"].replace(tzinfo=dt.timezone.utc).timestamp())
         * 1_000_000)
        for r in spark.sql("SELECT * FROM xval_sessions").collect()
        if r["closed"] and r["conv_id"] != "conv-z"
    }

    batch_df = spark.createDataFrame(
        [r for rows in files for r in rows], schema
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    replay = {
        (r["conv_id"], r["n_turns"], r["session_end_us"])
        for r in batch_session_replay(batch_df, 30 * 60).collect()
        if r["conv_id"] != "conv-z"
    }

    expected = {
        ("conv-a", 3, t(10, 20).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-a", 2, t(11, 40).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-b", 1, t(10, 1).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-b", 2, t(10, 50).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-c", 2, t(9, 5).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-c", 2, t(10, 2).replace(tzinfo=dt.timezone.utc).timestamp()),
        ("conv-c", 1, t(12, 0).replace(tzinfo=dt.timezone.utc).timestamp()),
    }
    expected = {(c, n, int(s) * 1_000_000) for c, n, s in expected}
    assert replay == expected
    assert closed == replay  # the two faces agree, boundary for boundary


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based exact dedup: every text admitted
    exactly once when all re-occurrences fall inside the watermark horizon,
    with duplicates split ACROSS micro-batches (max_files_per_trigger=2
    over 8 files), not just within one."""
    from elb_pipeline.streaming import dedup_stream

    t = transcripts_from_events(spark, SF_DIR)
    path = str(tmp_path / "dedup_in")
    # every text written twice, spread over 8 files => >=4 micro-batches
    t.repartition(4).write.mode("overwrite").parquet(path)
    t.repartition(4).write.mode("append").parquet(path)

    # horizon must cover the corpus's event-time span: once the watermark
    # passes ts+delay the key's state is evicted and a re-occurrence is
    # re-admitted (the operator's documented bounded-state contract —
    # observed here as exactly that failure mode with a 2h horizon)
    lo, hi = t.agg(F.min("ts"), F.max("ts")).first()
    span_h = int((hi - lo).total_seconds() // 3600) + 2
    deduped = dedup_stream(
        read_transcripts_stream(spark, path, max_files_per_trigger=2),
        watermark=f"{span_h} hours",
    )
    out = _drain(deduped, "t_dedup", "append")

    got = collections.Counter(r["text"] for r in out.select("text").collect())
    want = {r["text"] for r in t.select("text").distinct().collect()}
    assert set(got) == want
    dup_admitted = {s: n for s, n in got.items() if n != 1}
    assert not dup_admitted, f"texts admitted more than once: {len(dup_admitted)}"
    # schema passthrough: helper fingerprint columns must not leak
    assert set(deduped.columns) == set(t.columns)
