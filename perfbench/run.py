#!/usr/bin/env python3
"""Benchmark of the elb_pipeline ETL job and dedup chain.

    python3 perfbench/run.py --workload job_unique --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. One process: it generates the seeded
input (cached under perfbench/_work), starts one Spark session on
local[nproc] through ``session.get_spark`` + ``session.perf_conf``, runs
untimed warm-up passes (two for job_unique, three for dedup_corpus), then
a fixed number of timed passes:
``--seconds`` divided by the workload's nominal pass time, rounded, and
at least two. The count never depends on how fast the passes run, so a
faster program is timed over the same passes. The end-to-end timings are
medians over the timed passes. Each pass reads its input afresh, writes
into a fresh output directory and a fresh ``ELB_MAT_CACHE``, and is
checked by a correctness gate outside the timed window. With
``--trace 1`` the run makes one traced cycle instead (a timed pass and
its traced variant, about three passes long). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Spans of a traced run go to perfbench/_work/spans-*.jsonl.

Exit codes: 0 done (the JSON says whether outputs were correct), 2 the
program is not in the checkout, 3 another Spark JVM or PySpark worker is
alive (it would skew every timing), 4 a child process outlived the
session, 5 a traced run's pass raised, so it has no layer values.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

# input size per workload: input rows for job_unique, base documents for
# dedup_corpus (the pool adds the program's planted copies)
SIZES = {"job_unique": 120_000, "dedup_corpus": 2_000}
# seconds of a warm pass on 4 vCPUs; a constant, it only turns --seconds
# into a pass count
NOMINAL_PASS_S = {"job_unique": 9.5, "dedup_corpus": 7.0}
# untimed passes before the first timed one. The first pass in a session
# starts the Python workers and compiles the pass's code; on dedup_corpus
# the third still takes 15-30% more CPU than the later ones.
WARMUP_PASSES = {"job_unique": 2, "dedup_corpus": 3}
MIN_PASSES = 2  # timed passes per run, at the least
INPUTS_KEPT = 6  # cached inputs kept, most recently used first
KERNEL_MAX_ROWS = 50_000  # rows the single-thread kernel profile covers
# companion inputs a traced run times the other workload's layers on
COMPANION_ROWS, COMPANION_DOCS = 8_000, 300

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "host.calib_s": "s",
    "sources.scan_s": "s",
    "parse.kernel_rows_per_s": "1/s",
    "parse.distinct_frac": "ratio",
    "parse.s": "s",
    "parse.bytes_in": "bytes",
    "parse.bytes_out": "bytes",
    "deadletter.s": "s",
    "deadletter.rows": "count",
    "enrich.s": "s",
    "job.commit_s": "s",
    "job.bytes_written": "bytes",
    "job.files_written": "count",
    "aggregate.s": "s",
    "dedup.pool_s": "s",
    "dedup.signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.groups_s": "s",
    "dedup.prefix_pairs_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.lsh_yield": "ratio",
    "dedup.prefix_pairs": "count",
    "dedup.groups": "count",
    "matcache.bytes_written": "bytes",
    "matcache.dirs_written": "count",
    "trace.overhead_frac": "ratio",
}


def _die(code: int, msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _heap() -> str:
    """Fixed driver heap sized to the box: a sixth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, kb // (6 << 20)))}g"


def _start_session(n_cpu: int):
    from elb_pipeline.session import get_spark, perf_conf

    conf = perf_conf(_heap())
    # keep the JVM's temp files in the checkout; -XX:-UsePerfData stops the
    # hsperfdata file, which ignores java.io.tmpdir
    conf["spark.driver.extraJavaOptions"] += f" -Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData"
    conf["spark.sql.warehouse.dir"] = f"{WORK}/warehouse"
    conf["spark.ui.showConsoleProgress"] = "false"
    return get_spark(
        app="perfbench", master=f"local[{n_cpu}]", shuffle_partitions=n_cpu, extra_conf=conf
    )


def _stop_session(spark) -> None:
    """Stop the session, close the JVM gateway and wait for every child
    process (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench import proc

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    left = proc.wait_children_exit(60)
    if left:
        _die(4, f"child processes still alive after stop: {left}")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "elb_pipeline")):
        _die(2, f"no elb_pipeline package under {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench import proc

    stray = proc.foreign_spark_pids()
    if stray:
        _die(3, f"Spark processes from another run are alive: {stray}")

    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{WORK}/spark-local"
    os.environ["TMPDIR"] = f"{WORK}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from perfbench import inputs

    size = SIZES[args.workload]
    t_gen = time.monotonic()
    if args.workload == "dedup_corpus":
        inp = inputs.dedup_input(f"{WORK}/inputs", args.seed, size)
    else:
        inp = inputs.job_input(f"{WORK}/inputs", args.seed, size)
    inputs.prune(f"{WORK}/inputs", keep=INPUTS_KEPT)
    calib_before = proc.calib_s()
    own_s = time.monotonic() - t_gen  # input generation and the host probe

    bench = Bench(args, inp, size)
    n_cpu = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    spark = _start_session(n_cpu)
    bench.layer["session.start_s"] = time.monotonic() - t0
    try:
        t0 = time.monotonic()
        warm_walls = [bench.warm(spark, k) for k in range(WARMUP_PASSES[args.workload])]
        bench.layer["session.warmup_s"] = time.monotonic() - t0
        # process start → first timed pass, less the benchmark's own input
        # generation (a cache hit or miss is not the program's set-up)
        setup_s = time.monotonic() - T_START - own_s
        proc.reset_peak_rss()
        n_passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        for _ in range(1 if args.trace else n_passes):
            bench.run_pass(spark)
        peak_rss_mb = proc.tree_peak_rss_mb()
        if args.trace:
            bench.trace_once(spark)
    finally:
        _stop_session(spark)
    calib = statistics.median([calib_before, proc.calib_s()])

    if args.trace:
        bench.layer["host.calib_s"] = calib
        missing = sorted(PER_LAYER.keys() - bench.layer.keys())
        if missing:  # the traced pass raised before its variant ran
            _die(5, f"no traced values for {missing}: {bench.errors[:3]}")
        bench.recorder.write(f"{WORK}/spans-{args.workload}-s{args.seed}.jsonl")
        metrics = {
            name: {"value": bench.layer[name], "unit": unit}
            for name, unit in PER_LAYER.items()
        }
    else:
        wall = statistics.median(bench.walls)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": bench.rows / wall,
            "cpu_s": statistics.median(bench.cpus),
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": (bench.attempted - bench.failed) / bench.attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({
        "detail": {
            "workload": args.workload, "seed": args.seed, "size": size,
            "warm_walls": warm_walls, "walls": bench.walls, "cpus": bench.cpus,
            "errors": bench.errors[:5],
            "session_start_s": bench.layer["session.start_s"],
            "own_s": own_s, "host.calib_s": calib, "total_s": time.monotonic() - T_START,
        }
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))


class Bench:
    """Pass loop state of one run: timings, gate outcomes, layer samples."""

    def __init__(self, args, inp, size: int):
        import numpy as np

        from perfbench.trace import Recorder

        self.args = args
        self.inp = inp
        self.dedup = args.workload == "dedup_corpus"
        self.rows = size
        self.rng = np.random.default_rng([args.seed, 99])
        self.recorder = Recorder(args.workload)
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.n_pass = 0
        self.layer: dict[str, float] = {}

    def _pass(self, spark, path: str, out_dir: str, key: str):
        from perfbench import passes

        if self.dedup:
            return passes.dedup_pass(spark, path, key)
        return passes.job_pass(spark, path, out_dir)

    def warm(self, spark, k: int) -> float:
        """One untimed, ungated pass: it starts the Python workers and
        compiles the pass's code paths before anything is timed. Returns
        its wall seconds, for the run's detail line."""
        out_dir = _fresh(f"{WORK}/out/warm-{k}")
        cache_dir = _fresh(f"{WORK}/matcache/warm-{k}")
        os.environ["ELB_MAT_CACHE"] = cache_dir
        t0 = time.perf_counter()
        self._pass(spark, self.inp.path, out_dir, f"warm{k}")
        wall = time.perf_counter() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(cache_dir, ignore_errors=True)
        return wall

    def run_pass(self, spark) -> None:
        """One timed and gated pass, followed by its traced variant when
        --trace 1."""
        from perfbench import passes, proc

        self.n_pass += 1
        out_dir = _fresh(f"{WORK}/out/pass-{self.n_pass}")
        cache_dir = _fresh(f"{WORK}/matcache/pass-{self.n_pass}")
        os.environ["ELB_MAT_CACHE"] = cache_dir
        errors: list[str] = []
        cpu0, t0 = proc.tree_cpu_s(), time.perf_counter()
        try:
            result = self._pass(spark, self.inp.path, out_dir, f"p{self.n_pass}")
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
            errors.append(f"pass raised {type(exc).__name__}: {str(exc)[:300]}")
            result = None
        wall, cpu = time.perf_counter() - t0, proc.tree_cpu_s() - cpu0
        if result is not None:
            try:
                if self.dedup:
                    _sigs, verified, _groups, pairs = result
                    lsh = {(r["a_id"], r["b_id"]) for r in verified.collect()}
                    found = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs}
                    errors += passes.dedup_gate(self.inp, lsh, found, self.rng)
                else:
                    errors += passes.job_gate(spark, self.inp, out_dir, result, self.rng)
            except Exception as exc:  # noqa: BLE001
                errors.append(f"gate raised {type(exc).__name__}: {str(exc)[:300]}")
        self.attempted += 1
        self.failed += bool(errors)
        self.errors += errors
        self.walls.append(wall)
        self.cpus.append(cpu)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(cache_dir, ignore_errors=True)
        if self.args.trace and result is not None:
            self._trace(spark, wall)

    def _trace(self, spark, untraced_wall: float) -> None:
        """The traced variant of the pass just run."""
        values, span = self._trace_chain(spark, self.inp, self.n_pass)
        values["trace.overhead_frac"] = span / untraced_wall - 1
        self.layer.update(values)

    def _trace_chain(self, spark, inp, n: int) -> tuple[dict[str, float], float]:
        """Traced job prefixes or dedup chain over ``inp``, in fresh
        directories: (layer values, traced full-job or chain span)."""
        from perfbench import passes
        from perfbench.inputs import DedupInput

        out_dir = _fresh(f"{WORK}/out/trace-{n}")
        cache_dir = _fresh(f"{WORK}/matcache/trace-{n}")
        os.environ["ELB_MAT_CACHE"] = cache_dir
        rec = self.recorder
        if isinstance(inp, DedupInput):
            with rec.span("scan", n):
                passes.noop(spark.read.parquet(inp.path))
            with rec.span("chain", n):
                res = passes.dedup_pass(spark, inp.path, f"t{n}", rec, n)
            values = {f"dedup.{s}_s": rec.seconds(s, n) for s in passes.DEDUP_STEPS}
            values["sources.scan_s"] = rec.seconds("scan", n)
            values.update(passes.dedup_counts(*res, cache_dir))
            span = rec.seconds("chain", n)
        else:
            result = passes.job_traced(spark, inp, out_dir, rec, n)
            values = passes.job_layers(rec, n, out_dir)
            values["deadletter.rows"] = result.sink_counts[passes.SINK_MALFORMED]
            span = values.pop("trace.span_s")
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(cache_dir, ignore_errors=True)
        return values, span

    def trace_once(self, spark) -> None:
        """Once per traced run, after its passes: the single-thread kernel
        profile, and the other workload's layers on a small companion input
        of the same seed, so every per-layer metric is measured in every
        traced run (the companion's values describe the companion input)."""
        from perfbench import inputs, passes

        if self.dedup:
            other = inputs.job_input(f"{WORK}/inputs", self.args.seed, COMPANION_ROWS)
        else:
            other = inputs.dedup_input(f"{WORK}/inputs", self.args.seed, COMPANION_DOCS)
        with self.recorder.span("companion", 0):
            values, _ = self._trace_chain(spark, other, 0)
        del values["sources.scan_s"]  # the workload's own scan is the one reported
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        values.update(passes.kernel_profile(other if self.dedup else self.inp, batch, KERNEL_MAX_ROWS))
        self.layer.update(values)


if __name__ == "__main__":
    main()
