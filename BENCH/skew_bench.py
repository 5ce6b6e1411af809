"""Skewed-key aggregation bench (VERDICT r4 #8): does salting buy anything?

Fixture: ``spark.range``-synthesized transcripts where TWO hot
conversations own 20% of all rows (synth.py's skew shape, but with DENSE
per-conversation turn_idx so a hot conversation genuinely spans many
turn-ranges), written once to parquet so every variant reads identical
input.

Two aggregation families, measured with per-TASK duration quantiles
scraped from Spark's own REST API (the task-time histogram the verdict
asked for), interleaved rounds / all walls recorded (the r4 sub-bench
protocol fix):

- ``count``  — sink/day/bucket COUNTS, direct vs salted
  (aggregate.salted_sink_day_bucket_counts). Expected and honest result:
  ~no difference. Spark's hash aggregate is partial-first — the hot
  conversation collapses to one partial row per map task BEFORE the
  shuffle, so no reducer ever sees the raw hot rows and the salt has
  nothing to fix. The salted variant exists to prove the pattern correct
  (driver oracle `agg_salted`), not to win here.
- ``assembly`` — per-conversation document assembly (collect_list →
  ordered concat), turn-range-chunked
  (aggregate.assemble_conversations_chunked). This is the REAL skew
  victim: aggregation state is O(rows of the key), partial combine cannot
  shrink it, so a direct single-stage form's final stage has one task
  sorting and concatenating the whole hot conversation while its siblings
  finish — max-task wall >> median. The chunked form bounds per-task
  state by the chunk size and spreads the hot key over
  ceil(hot_turns/chunk) stage-1 groups; its stage-2 merges a few
  pre-built strings. The direct form (and this bench's
  ``assembly_direct`` arm) was deleted once the chunked form shipped;
  its measured A/B stays in BENCH/skew_bench_r5.json.

Run:  python BENCH/skew_bench.py           # 8M rows, 3 interleaved rounds
      ELB_SKEW_ROWS=2000000 ELB_SKEW_ROUNDS=2 python BENCH/skew_bench.py

Prints one JSON line; recorded results live in BENCH/BASELINE.md and
BENCH/skew_bench_r5.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_ROWS = int(os.environ.get("ELB_SKEW_ROWS", "8000000"))
ROUNDS = int(os.environ.get("ELB_SKEW_ROUNDS", "3"))
N_CONVS = 10_000
UI_PORT = 4047


def skewed_transcripts(spark, n_rows: int):
    """synth_transcripts' skew shape with DENSE hot-conv turn numbering.

    synth.py gives hot rows ``turn_idx = i/n_convs`` — at 8M rows that is
    ~1000-way TIED per hot turn_idx, which would let the chunked form pack
    a hot conversation into ONE chunk and dodge the skew instead of
    spreading it. Here hot rows get ``i/10`` (unique within each hot conv:
    ids ≡0 mod 10 → conv-0, ≡5 mod 10 → conv-1), cold rows keep
    ``i/n_convs`` (unique within their conv)."""
    from pyspark.sql import functions as F

    from elb_pipeline.synth import EPOCH, TEXT_POOL, _pick

    i = F.col("id")
    hot = i % 5 == 0
    conv_num = F.when(hot, (i % 2).cast("int")).otherwise(
        (i % N_CONVS).cast("int")
    )
    turn_idx = F.when(hot, (i / 10)).otherwise(i / N_CONVS).cast("int")
    sink = F.element_at(
        F.array(F.lit("alb"), F.lit("alb"), F.lit("classic"), F.lit("malformed")),
        (i % 4 + 1).cast("int"),
    )
    return spark.range(0, n_rows, 1, CPUS * 4).select(
        F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        turn_idx.alias("turn_idx"),
        sink.alias("sink"),
        _pick(TEXT_POOL, i * 7 + 3).alias("text"),
        (
            F.to_timestamp(F.lit(EPOCH))
            + F.make_dt_interval(
                days=(i % 3).cast("int"), secs=(i % 86_400).cast("double")
            )
        ).alias("ts"),
    )


def _get(url: str):
    last = None
    for _ in range(3):  # the UI server can stall briefly under load
        try:
            with urllib.request.urlopen(url, timeout=30) as r:
                return json.loads(r.read())
        except Exception as e:  # noqa: BLE001 — retry any transient fetch error
            last = e
            time.sleep(1)
    raise last


def task_histogram(app_id: str, tag: str) -> dict:
    """Per-task duration quantiles (ms) over every stage of the jobs this
    run tagged via setJobGroup — from Spark's REST API, i.e. the engine's
    own task clock, not wall arithmetic. Best-effort: a wall with no
    histogram is still recorded if the UI cannot be scraped."""
    base = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}"
    try:
        stage_ids = sorted(
            {
                sid
                for j in _get(f"{base}/jobs")
                if j.get("jobGroup") == tag
                for sid in j["stageIds"]
            }
        )
    except Exception:
        return {}
    worst = None
    for sid in stage_ids:
        try:
            s = _get(
                f"{base}/stages/{sid}/0/taskSummary"
                "?quantiles=0.0,0.5,0.95,1.0"
            )
        except Exception:
            continue  # skipped/empty stage has no task summary
        q = [round(x, 1) for x in s["duration"]]
        if worst is None or q[3] > worst["task_ms_max"]:
            n = _get(f"{base}/stages/{sid}/0?details=false")
            sr = s.get("shuffleReadMetrics", {})
            rb = sr.get("readBytes") or [0.0] * 4
            rr = sr.get("readRecords") or [0.0] * 4
            worst = {
                "stage_id": sid,
                "n_tasks": n.get("numCompleteTasks"),
                "task_ms_min": q[0],
                "task_ms_p50": q[1],
                "task_ms_p95": q[2],
                "task_ms_max": q[3],
                # the cluster-relevant skew face: how many bytes/rows the
                # HOT reducer pulls vs the median one (on local[] the
                # fetch is memory-speed; on a real cluster it's network)
                "shuffle_read_mb_p50": round(rb[1] / 1e6, 1),
                "shuffle_read_mb_max": round(rb[3] / 1e6, 1),
                "shuffle_read_rows_p50": int(rr[1]),
                "shuffle_read_rows_max": int(rr[3]),
            }
    return worst or {}


def main() -> None:
    from elb_pipeline.session import get_spark, perf_conf

    spark = get_spark(
        app="skew_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            **perf_conf(),
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        },
    )
    sc = spark.sparkContext
    app_id = sc.applicationId

    from elb_pipeline.aggregate import (
        assemble_conversations_chunked,
        salted_sink_day_bucket_counts,
        sink_day_bucket_counts,
    )

    path = f"/tmp/elb_skew_bench_{os.getpid()}"
    try:
        skewed_transcripts(spark, N_ROWS).write.mode("overwrite").parquet(path)
        t = spark.read.parquet(path)

        variants = {
            "count_direct": lambda: sink_day_bucket_counts(t),
            "count_salted": lambda: salted_sink_day_bucket_counts(t),
            "assembly_chunked": lambda: assemble_conversations_chunked(
                t.select("conv_id", "turn_idx", "text")
            ),
        }

        # untimed warm-up (JIT, Python worker pool, page cache)
        assemble_conversations_chunked(
            t.select("conv_id", "turn_idx", "text")
        ).write.mode("overwrite").format("noop").save()

        runs: dict[str, list] = {k: [] for k in variants}
        for r in range(ROUNDS):  # interleaved: noise windows hit all variants
            for name, build in variants.items():
                tag = f"{name}_r{r}"
                sc.setJobGroup(tag, tag)
                t0 = time.monotonic()
                build().write.mode("overwrite").format("noop").save()
                wall = time.monotonic() - t0
                sc.setJobGroup("idle", "idle")
                runs[name].append(
                    {"wall": round(wall, 3), **task_histogram(app_id, tag)}
                )

        out = {"metric": "skewed-key aggregation: salting/chunking A/B",
               "rows": N_ROWS, "cpus": CPUS, "rounds": ROUNDS,
               "hot_share": 0.2, "n_hot_convs": 2, "variants": {}}
        for name, rs in runs.items():
            best = min(rs, key=lambda x: x["wall"])
            out["variants"][name] = {
                "best": best,
                "walls_all_runs": [x["wall"] for x in rs],
                "task_ms_max_all_runs": [x.get("task_ms_max") for x in rs],
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
