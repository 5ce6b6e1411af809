"""Windowed top-N under key skew: measure what WindowGroupLimit buys.

packing.lang_quota ships the DIRECT per-language rank window on the
strength of a plan assertion: Spark 4's `InsertWindowGroupLimit` rule
plants a Partial (map-side) top-QUOTA prune below the exchange, so a hot
language never floods one reducer. This bench turns that assertion into
a measurement with an A/B on a hot-language fixture (90% of rows share
one lang):

- ``direct``         — the shipped query, rule ON (default threshold).
- ``direct_no_rule`` — same query with
  ``spark.sql.optimizer.windowGroupLimitThreshold=-1`` (rule disabled):
  what every engine without the rule does — shuffle EVERY row of the hot
  language into one task, sort it there. The ablation isolates the
  rule's contribution on identical code.

A third arm, the manual two-stage ``lang_quota_salted`` (rank within
(lang, input-partition) then re-rank survivors), measured equal to
``direct`` within noise and was deleted; its numbers stay in
BENCH/window_skew_r5.json.

Per-variant: wall + the worst stage's per-task duration quantiles and
shuffle-read rows from Spark's REST API (engine task clock, not wall
arithmetic), interleaved rounds, pooled best — the r4 sub-bench
protocol. Expected shape: direct ≪ direct_no_rule on max-task,
with direct shuffling ≤ QUOTA·P rows of the hot language versus ALL of
them ablated.

Run:  python BENCH/window_skew_bench.py        # 8M rows, 3 rounds
      ELB_SKEW_ROWS=2000000 ELB_SKEW_ROUNDS=2 python BENCH/window_skew_bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from skew_bench import UI_PORT, task_histogram  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_ROWS = int(os.environ.get("ELB_SKEW_ROWS", "8000000"))
ROUNDS = int(os.environ.get("ELB_SKEW_ROUNDS", "3"))
HOT_LANG_SHARE = 0.9


def skewed_docs(spark, n_rows: int):
    """(lang, doc_id, n_chars): 90% of docs share lang 'en'; the rest
    spread over 9 cold langs. n_chars is a deterministic pseudo-random
    priority so the top-QUOTA rank has real work to do."""
    from pyspark.sql import functions as F

    i = F.col("id")
    lang = F.when((i % 10) < 9, F.lit("en")).otherwise(
        F.concat(F.lit("l"), (i % 97 % 9).cast("string"))
    )
    return spark.range(0, n_rows, 1, CPUS * 4).select(
        lang.alias("lang"),
        i.alias("doc_id"),
        ((i * 2654435761) % 100_000).alias("n_chars"),
    )


def main() -> None:
    from elb_pipeline.packing import lang_quota
    from elb_pipeline.session import get_spark, perf_conf

    spark = get_spark(
        app="window_skew_bench",
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
    thresh_key = "spark.sql.optimizer.windowGroupLimitThreshold"
    default_thresh = spark.conf.get(thresh_key)

    path = f"/tmp/elb_window_skew_{os.getpid()}"
    try:
        skewed_docs(spark, N_ROWS).write.mode("overwrite").parquet(path)
        d = spark.read.parquet(path)

        def run_direct():
            spark.conf.set(thresh_key, default_thresh)
            return lang_quota(d)

        def run_no_rule():
            spark.conf.set(thresh_key, "-1")
            return lang_quota(d)

        variants = {
            "direct": run_direct,
            "direct_no_rule": run_no_rule,
        }

        # correctness cross-check once, then untimed warm-up
        a = sorted(map(tuple, run_direct().collect()))
        b = sorted(map(tuple, run_no_rule().collect()))
        assert a == b, "variants disagree"
        spark.conf.set(thresh_key, default_thresh)
        lang_quota(d).write.mode("overwrite").format("noop").save()

        runs: dict[str, list] = {k: [] for k in variants}
        for r in range(ROUNDS):
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
        spark.conf.set(thresh_key, default_thresh)

        out = {
            "metric": "windowed top-N under lang skew: WindowGroupLimit A/B",
            "rows": N_ROWS,
            "cpus": CPUS,
            "rounds": ROUNDS,
            "hot_lang_share": HOT_LANG_SHARE,
            "variants": {},
        }
        for name, rs in runs.items():
            best = min(rs, key=lambda x: x["wall"])
            out["variants"][name] = {
                "best": best,
                "walls_all_runs": [x["wall"] for x in rs],
                "task_ms_max_all_runs": [x.get("task_ms_max") for x in rs],
            }
        dr = out["variants"]["direct"]["best"]
        nr = out["variants"]["direct_no_rule"]["best"]
        if dr.get("task_ms_max") and nr.get("task_ms_max"):
            out["rule_max_task_reduction"] = round(
                nr["task_ms_max"] / dr["task_ms_max"], 2
            )
        print(json.dumps(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
