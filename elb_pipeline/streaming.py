"""Structured Streaming operators.

The reference is a bounded batch job over files (SURVEY.md §2.9); our
parse/route/enrich stages are stateless, so the batch operators run
under ``readStream`` unchanged. This module adds the streaming source,
exact dedup within a watermark horizon, and event-time sessionization
with its batch replay twin. The harnesses that drive a stream into a
sink, and the watermarked per-sink window counts the streaming smoke
test checks against batch, live in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcripts_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """``max_files_per_trigger <= 0`` leaves the rate uncapped: a bounded
    drain-the-table run (processAllAvailable) then does its work in ONE
    micro-batch instead of ceil(files/cap) — each extra micro-batch pays
    a full state-store commit + planning round (measured ~0.4 s/batch on
    local[32]), which is pure overhead when no data arrives between
    triggers. Live tailing deployments keep the cap for latency/memory."""
    r = spark.readStream.schema(TRANSCRIPTS_DDL)
    if max_files_per_trigger > 0:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def dedup_stream(
    stream: DataFrame,
    watermark: str = "2 hours",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``text_col`` already appeared
    within the watermark horizon (the streaming face of the batch
    ``dedup_exact`` / training-data ingestion dedup).

    ``dropDuplicatesWithinWatermark`` keys its state store on
    ``(md5(text), length(text))`` — the same narrow fixed-width key the
    batch dedup shuffles on — NOT the text itself, so per-distinct-doc
    state is ~50 bytes regardless of document size and is evicted as the
    watermark passes: state stays bounded by the distinct-doc rate times
    the horizon, the 100-TB/day shape. Within one micro-batch the FIRST
    row (any one row per key) is kept, matching batch ``dropDuplicates``
    semantics; re-occurrences farther apart than the horizon are
    deliberately NOT deduped (that is the operator's contract — horizon
    re-admits are the price of bounded state)."""
    return (
        stream.withWatermark("ts", watermark)
        .withColumn("_fp", F.md5(F.col(text_col)))
        .withColumn("_fp_len", F.length(F.col(text_col)))
        .dropDuplicatesWithinWatermark(["_fp", "_fp_len"])
        .drop("_fp", "_fp_len")
    )


SESSION_STATE_SCHEMA = "n_turns long, n_malformed long, last_ts timestamp"
SESSION_OUTPUT_SCHEMA = (
    "conv_id string, n_turns long, n_malformed long, last_ts timestamp, "
    "closed boolean"
)


def _epoch_ms(t) -> int:
    """Timestamp → epoch ms under ONE convention: naive values are UTC
    wall-clock (``get_spark`` pins ``spark.sql.session.timeZone=UTC``, so
    the naive timestamps Spark hands the state function ARE UTC). The
    previous mix of ``Series.astype('int64')`` (naive-as-UTC) in the late
    filter and ``datetime.timestamp()`` (naive-as-HOST-LOCAL) in the
    timeout drifted by the host's UTC offset on any non-UTC machine."""
    import pandas as pd

    ts = pd.Timestamp(t)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return ts.value // 1_000_000


def _event_session_update_fn(gap_ms: int):
    """Per-group state update for EVENT-TIME sessionization, applying the
    gap rule to EVENT TIME eagerly (ADVICE r4 #1): arriving rows are
    sorted by event time and a new session starts at every >gap jump —
    including the jump from the carried open session's last_ts to the
    first arriving row — even when the watermark has not yet passed the
    old session's close time. Sessions left open are additionally closed
    by the watermark-driven timeout (a conversation that simply stops).

    This makes the streaming boundaries EQUAL to the batch lag/cumsum
    replay (q_conversation_sessions_batch) whenever each conversation's
    rows arrive in nondecreasing event-time order ACROSS micro-batches
    (any disorder within one micro-batch is fine — the batch is sorted;
    cross-conversation disorder is always fine). Under cross-batch
    disorder the two can still diverge in one direction: a late row that
    would have BRIDGED a >gap jump in event-time order arrives after the
    jump was already split here — the price of incremental emission, and
    the reason the equivalence contract is stated in terms of
    per-conversation arrival order (asserted by
    tests/test_streaming.py::test_streaming_sessions_equal_batch_replay)."""

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (conv_id,) = key
        cols = ["conv_id", "n_turns", "n_malformed", "last_ts", "closed"]
        if state.hasTimedOut:
            n_turns, n_mal, last_ts = state.get
            state.remove()
            yield pd.DataFrame(
                [[conv_id, n_turns, n_mal, last_ts, True]], columns=cols
            )
            return
        n_turns, n_mal, last_ts = state.get if state.exists else (0, 0, None)
        # Arbitrary stateful ops do NOT auto-filter late data (the
        # watermark only drives state timeouts) — drop rows at or below
        # the current watermark explicitly, or a straggler older than the
        # watermark would silently reopen/extend a closed session.
        wm_ms = state.getCurrentWatermarkMs()
        surv = []
        for pdf in pdfs:
            if wm_ms > 0:
                pdf = pdf[(pdf["ts"].astype("int64") // 1_000_000) > wm_ms]
            if len(pdf):
                surv.append(pdf)
        if not surv:
            # Every row was late. Fresh key: start no session. Existing
            # session: leave the state AND its already-armed timeout
            # untouched — re-arming with last_ts+gap here could set a
            # timestamp at or below the current watermark, which Spark
            # rejects (INVALID_TIMEOUT_TIMESTAMP) and kills the query.
            return
        batch = pd.concat(surv) if len(surv) > 1 else surv[0]
        batch = batch.sort_values("ts", kind="stable")
        tsv = (batch["ts"].astype("int64") // 1_000_000).to_numpy()
        mal = (batch["sink"] == "malformed").to_numpy()
        ts_col = batch["ts"].reset_index(drop=True)
        # segment id per row: a new session at every >gap event-time jump,
        # measured against the previous row (or the carried session's
        # last_ts for the first row). This also subsumes the r4 branch for
        # "watermark already passed the old close but the timeout hasn't
        # fired": survivors have ts > wm > last_ts+gap, so the first jump
        # splits them off the old session anyway.
        prev0 = _epoch_ms(last_ts) if state.exists else tsv[0]
        prevs = np.concatenate([[prev0], tsv[:-1]])
        seg = np.cumsum(tsv - prevs > gap_ms)
        out_rows = []
        if state.exists and seg[0] > 0:
            # carried session gets no new rows — close it as it stands
            out_rows.append([conv_id, n_turns, n_mal, last_ts, True])
            n_turns, n_mal, last_ts = 0, 0, None
        first_seg, last_seg = int(seg[0]), int(seg[-1])
        for k in range(first_seg, last_seg + 1):
            m = seg == k
            cnt_k = int(m.sum()) + (n_turns if k == first_seg else 0)
            mal_k = int(mal[m].sum()) + (n_mal if k == first_seg else 0)
            max_k = ts_col[m].max()
            if k == first_seg and last_ts is not None:
                max_k = max(max_k, last_ts)
            if k < last_seg:
                out_rows.append([conv_id, cnt_k, mal_k, max_k, True])
            else:
                n_turns, n_mal, last_ts = cnt_k, mal_k, max_k
        state.update((n_turns, n_mal, last_ts))
        # close when the WATERMARK (event time), not the wall clock,
        # passes last activity + gap; clamp above the current watermark
        # for the boundary case wm == last_ts + gap (Spark requires a
        # timeout strictly greater than the watermark)
        state.setTimeoutTimestamp(max(_epoch_ms(last_ts) + gap_ms, wm_ms + 1))
        out_rows.append([conv_id, n_turns, n_mal, last_ts, False])
        yield pd.DataFrame(out_rows, columns=cols)

    return update


def batch_session_replay(t: DataFrame, gap_seconds: int) -> DataFrame:
    """BATCH replay of the event-time gap rule: lag/cumsum windows split a
    conversation at every >gap event-time jump — the same boundaries the
    eager streaming sessionizer (:func:`conversation_sessions_event_time`)
    emits when per-conversation arrival order holds. Shared by the oracled
    driver query (__spark_entry__.q_conversation_sessions_batch) and the
    streaming↔batch cross-validation test, so the two implementations
    cannot drift apart silently.

    Epoch-microsecond comparisons keep engines bit-identical (ts is
    TIMESTAMP_NTZ; the session timezone is pinned UTC, so the NTZ→TZ cast
    is exactly DuckDB's naive-as-UTC epoch_us convention). Distributed
    shape: both windows partition by conv_id — ONE shuffle, no global
    ordering anywhere (plan-asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    order = ["ts", "turn_idx"] if "turn_idx" in t.columns else ["ts"]
    w = Window.partitionBy("conv_id").orderBy(*order)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_sess = ((us - F.lag(us).over(w)) > gap_seconds * 1_000_000).cast("int")
    run = (
        Window.partitionBy("conv_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = t.withColumn(
        "session_idx", F.sum(F.coalesce(new_sess, F.lit(0))).over(run)
    )
    return sess.groupBy("conv_id", "session_idx").agg(
        F.count("*").alias("n_turns"),
        F.min(us).alias("session_start_us"),
        F.max(us).alias("session_end_us"),
    )


def conversation_sessions_event_time(
    routed: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """EVENT-TIME sessionization (``applyInPandasWithState`` with
    ``EventTimeTimeout``): sessions close when the watermark — driven by
    observed event times, tolerant of ``watermark`` of disorder — passes
    the session's last event + ``gap``. Unlike a processing-time timeout,
    replaying a historical stream yields the SAME session boundaries
    regardless of ingest speed, and a turn
    older than the watermark cannot reopen a closed session (it is dropped
    by the watermark, the documented late-data contract)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = _duration_ms(gap)
    return (
        routed.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _event_session_update_fn(gap_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(s: str) -> int:
    n, unit = s.split()
    mult = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
    }[unit.rstrip("s")]
    return int(n) * mult
