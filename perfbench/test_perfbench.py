"""Tests of the benchmark's own parts: generator, gates, trace split and
process hygiene.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started; the gates' checks are pure functions over
rows the test builds.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elb_pipeline.dialects import ALB_PATTERN, CLASSIC_PATTERN  # noqa: E402
from perfbench import inputs, passes, proc  # noqa: E402
from perfbench.trace import JOB_PREFIXES, Recorder, prefix_layers  # noqa: E402

ROWS = 20_000


def _bytes(path: str) -> dict[str, bytes]:
    return {
        f: open(os.path.join(path, f), "rb").read()
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def _texts(inp) -> list[str]:
    return pq.read_table(inp.path).column("text").to_pylist()


def test_job_input_same_seed_same_bytes(tmp_path):
    a = inputs.job_input(str(tmp_path / "a"), 7, ROWS)
    b = inputs.job_input(str(tmp_path / "b"), 7, ROWS)
    assert _bytes(a.path) == _bytes(b.path)
    assert a.sink_counts == b.sink_counts


def test_job_input_other_seed_other_lines_same_shares(tmp_path):
    a = inputs.job_input(str(tmp_path), 7, ROWS)
    b = inputs.job_input(str(tmp_path), 8, ROWS)
    assert _texts(a) != _texts(b)
    for sink in a.sink_counts:
        assert abs(a.sink_counts[sink] - b.sink_counts[sink]) / ROWS < 0.03


def test_job_unique_lines_distinct_and_shares_planted(tmp_path):
    inp = inputs.job_input(str(tmp_path), 3, ROWS)
    texts = _texts(inp)
    assert len(set(texts)) == ROWS
    shares = {k: v / ROWS for k, v in inp.sink_counts.items()}
    assert abs(shares["alb"] - inputs.SHARE_ALB) < 0.02
    assert abs(shares["classic_lb"] - inputs.SHARE_CLASSIC) < 0.02


def test_expected_rows_agree_with_grammars(tmp_path):
    """The planted sink of every sampled row is the one the grammars give,
    and the expected JSON of a valid row is its golden JSON with the
    substituted values."""
    inp = inputs.job_input(str(tmp_path), 5, ROWS)
    texts = _texts(inp)
    alb, clb = re.compile(ALB_PATTERN), re.compile(CLASSIC_PATTERN)
    for i in range(0, ROWS, 13):
        text, sink, fields = inp.expected_row(i)
        assert text == texts[i]
        grammar = "alb" if alb.match(text) else "classic_lb" if clb.match(text) else "malformed"
        assert grammar == sink, text
        if fields is not None:
            assert fields["time"] in text and fields["client_ip"] in text


def test_dedup_input_deterministic_with_planted_pairs(tmp_path):
    a = inputs.dedup_input(str(tmp_path / "a"), 7, 2000)
    b = inputs.dedup_input(str(tmp_path / "b"), 7, 2000)
    c = inputs.dedup_input(str(tmp_path / "c"), 8, 2000)
    assert _bytes(a.path) == _bytes(b.path) and a.planted == b.planted
    assert a.texts != c.texts
    assert max(a.texts) < 100_000  # below the pool's planted-copy offset
    assert a.planted and all(j > 0.5 for _a, _b, j in a.planted)
    assert abs(len(a.planted) - len(c.planted)) / len(a.planted) < 0.3


# ---------------------------------------------------------------------------
# gates
# ---------------------------------------------------------------------------


def _written(inp, sample):
    """Rows as a correct job writes them for the sampled turn_idx values."""
    rows = []
    for i in sample:
        text, sink, fields = inp.expected_row(i)
        valid = sink != inputs.SINK_MALFORMED
        rows.append({
            "turn_idx": i,
            "sink": sink,
            "json": json.dumps(fields) if valid else None,
            "mal_text": None if valid else text,
        })
    return rows


def test_job_gate_passes_correct_output_and_fails_wrong_count(tmp_path):
    inp = inputs.job_input(str(tmp_path), 2, ROWS)
    assert passes.check_counts(inp, dict(inp.sink_counts)) == []
    wrong = dict(inp.sink_counts, alb=inp.sink_counts["alb"] + 1)
    assert passes.check_counts(inp, wrong)


def test_job_gate_fails_wrong_rows(tmp_path):
    inp = inputs.job_input(str(tmp_path), 2, ROWS)
    mal = inp.malformed_rows()[:4].tolist()
    sample = sorted(set(range(0, ROWS, 997)) | set(mal))
    rows = _written(inp, sample)
    assert passes.check_rows(inp, sample, rows) == []

    valid = next(r for r in rows if r["json"] is not None)
    fields = json.loads(valid["json"])
    fields["sent_bytes"] = "0" + fields["sent_bytes"]
    valid["json"] = json.dumps(fields)
    assert passes.check_rows(inp, sample, rows)

    rows = _written(inp, sample)
    bad = next(r for r in rows if r["turn_idx"] == mal[0])
    bad["mal_text"] = bad["mal_text"][:-1]
    assert passes.check_rows(inp, sample, rows)

    assert passes.check_rows(inp, sample, _written(inp, sample)[1:])


def test_dedup_gate_fails_missing_pair_and_wrong_jaccard(tmp_path):
    inp = inputs.dedup_input(str(tmp_path), 3, 1500)
    rng = np.random.default_rng(0)
    found = {(a, b): round(j, 4) for a, b, j in inp.planted}
    lsh = set(list(found)[: len(found) // 2])
    assert passes.dedup_gate(inp, lsh, found, rng) == []
    dropped = dict(found)
    dropped.pop(next(iter(dropped)))
    assert passes.dedup_gate(inp, set(), dropped, rng)
    assert passes.dedup_gate(inp, lsh | {(1, 2)}, found, rng)
    skewed = {k: min(1.0, v + 0.01) for k, v in found.items()}
    assert passes.dedup_gate(inp, set(), skewed, rng)


# ---------------------------------------------------------------------------
# trace
# ---------------------------------------------------------------------------


def test_prefix_differences_sum_to_full_job_span():
    rec = Recorder("job_unique")
    for name in JOB_PREFIXES:
        with rec.span(name, 1):
            sum(range(20_000))
    prefix_s = {p: rec.seconds(p, 1) for p in JOB_PREFIXES}
    layers = prefix_layers(prefix_s)
    assert sum(layers.values()) == pytest.approx(rec.seconds("job", 1), abs=1e-12)
    assert layers["scan"] == prefix_s["scan"]


def test_spans_record_parent():
    rec = Recorder("dedup_corpus")
    with rec.span("chain", 2):
        with rec.span("pool", 2):
            pass
    pool, chain = rec.spans
    assert (pool.name, pool.parent, pool.pass_no) == ("pool", "chain", 2)
    assert chain.parent is None and chain.start <= pool.start <= pool.end <= chain.end


# ---------------------------------------------------------------------------
# process hygiene
# ---------------------------------------------------------------------------


def _outside_tree(argv: list[str]) -> int:
    """Start ``argv`` as a grandchild whose parent exits at once, so it runs
    outside this process's tree, as another run's processes do."""
    child = subprocess.run(
        [sys.executable, "-c", "import subprocess; print(subprocess.Popen("
         f"{argv!r}, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
        capture_output=True, text=True, check=True,
    )
    return int(child.stdout)


def test_foreign_spark_pids_matches_whole_arguments_only():
    sleep = "import time; time.sleep(3)"
    daemon = _outside_tree([sys.executable, "-c", sleep, "pyspark.daemon"])
    mention = _outside_tree(["sh", "-c", "sleep 3; : SparkSubmit pyspark.daemon"])
    found = proc.foreign_spark_pids()
    assert daemon in found
    assert mention not in found
