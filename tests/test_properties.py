"""Property-based invariants (hypothesis, derandomized for CI stability).

The reference pins behavior with 23 fixed vectors; these properties cover
the space around them:

1. engine agreement — Python ``re`` (fullmatch), pyarrow RE2, and the
   pure-Python oracle route every generated line to the SAME sink, for
   structure-preserving randomizations of valid lines AND arbitrary
   corruptions;
2. NDJSON integrity — the in-Arrow NDJSON assembly parses back (stdlib
   json) to exactly the fields the grammar extracted, for every generated
   valid line, including escape-heavy quoted fields;
3. failed-position — bisection equals the linear DFA-alive walk on every
   corrupted line (byte-exact reference semantics).
"""

from __future__ import annotations

import json
import re

import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elb_pipeline.dialects import (
    ALB,
    ALB_FIELDS,
    ALB_NAMED_PATTERN,
    CLASSIC,
    CLASSIC_NAMED_PATTERN,
    parse_line,
)
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS
from elb_pipeline.parse import route_json_arrow
from elb_pipeline.deadletter import failed_position_bytes

SETTINGS = settings(
    max_examples=120,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
    deadline=None,
)

_GOLDEN_LINES = [g[0] for g in ALB_GOLDENS] + [g[0] for g in CLASSIC_GOLDENS]


def _arrow_sink(line: str) -> str:
    sink, _ = route_json_arrow(pa.array([line], pa.string()))
    return sink[0].as_py()


def _re2_sink(line: str) -> str:
    arr = pa.array([line], pa.string())
    if pc.match_substring_regex(arr, pattern=ALB_NAMED_PATTERN)[0].as_py():
        return "alb"
    if pc.match_substring_regex(arr, pattern=CLASSIC_NAMED_PATTERN)[0].as_py():
        return "classic_lb"
    return "malformed"


@st.composite
def digit_randomized_line(draw):
    """Structure-preserving randomization: every digit in a golden line is
    replaced by a random digit (keeps field shapes — timestamps, ports,
    sizes, status codes — valid per grammar in almost all cases; when a
    mutation happens to produce an invalid shape, engine AGREEMENT must
    still hold)."""
    base = draw(st.sampled_from(_GOLDEN_LINES))
    out = []
    for ch in base:
        out.append(str(draw(st.integers(0, 9))) if ch.isdigit() else ch)
    return "".join(out)


@st.composite
def corrupted_line(draw):
    """Arbitrary single-edit corruption of a golden line."""
    base = draw(st.sampled_from(_GOLDEN_LINES))
    pos = draw(st.integers(0, max(len(base) - 1, 0)))
    op = draw(st.sampled_from(["replace", "delete", "insert", "truncate"]))
    ch = draw(st.sampled_from(list(' "x0\\\x01Z')))
    if op == "replace":
        return base[:pos] + ch + base[pos + 1 :]
    if op == "delete":
        return base[:pos] + base[pos + 1 :]
    if op == "insert":
        return base[:pos] + ch + base[pos:]
    return base[:pos]


@SETTINGS
@given(line=digit_randomized_line())
def test_engines_agree_on_randomized_valid_lines(line):
    want, _ = parse_line(line)  # python re fullmatch
    assert _re2_sink(line) == want
    assert _arrow_sink(line) == want


@SETTINGS
@given(line=corrupted_line())
def test_engines_agree_on_corrupted_lines(line):
    want, _ = parse_line(line)
    assert _re2_sink(line) == want
    assert _arrow_sink(line) == want


@SETTINGS
@given(line=digit_randomized_line())
def test_ndjson_roundtrip_matches_extracted_fields(line):
    sink, fields = parse_line(line)
    sinks, js = route_json_arrow(pa.array([line], pa.string()))
    if sink == "malformed":
        assert js[0].as_py() is None
        return
    parsed = json.loads(js[0].as_py())
    want = {k: v for k, v in fields.items() if v is not None}
    assert parsed == want
    # key ORDER is part of the contract (serde struct order)
    assert list(parsed) == [k for k in (ALB_FIELDS if sink == "alb" else
                                        list(fields)) if k in parsed]


@SETTINGS
@given(line=corrupted_line())
def test_failed_position_bisection_equals_linear_walk(line):
    raw = line.encode()
    for d in (ALB, CLASSIC):
        rx = re.compile(d.pattern)
        if rx.fullmatch(line):
            continue  # positions are defined for failing lines only
        import regex as _regex

        rxp = _regex.compile(d.pattern.encode())
        linear = len(raw)
        for length in range(1, len(raw) + 1):
            if rxp.fullmatch(raw, 0, length, partial=True) is None:
                linear = length - 1
                break
        assert failed_position_bytes(raw, d) == linear


# ---------------------------------------------------------------------------
# vectorized sketch kernels (VERDICT r3 #4): factorize+reduceat forms must
# equal the naive per-occurrence definitions bit-for-bit
# ---------------------------------------------------------------------------

def _naive_minhash(shingles):
    import hashlib

    from elb_pipeline.dedup import N_SIGS

    if shingles is None or len(shingles) == 0:
        return None
    seeds = [f"#{i}".encode() for i in range(N_SIGS)]
    mins = [None] * N_SIGS
    for s in shingles:
        raw = s.encode()
        for i, seed in enumerate(seeds):
            h = hashlib.md5(raw + seed).hexdigest()
            if mins[i] is None or h < mins[i]:
                mins[i] = h
    return mins


def _naive_simhash32(t):
    import hashlib

    import numpy as np

    if not isinstance(t, str):
        return 0
    ws = t.split(" ")
    if len(ws) < 3:
        return 0
    n = len(ws) - 2
    counts = np.zeros(32, dtype=np.int64)
    for i in range(n):
        dg = hashlib.md5(" ".join(ws[i : i + 3]).encode()).digest()
        b = np.frombuffer(dg, dtype=np.uint8)
        counts[0::2] += (b >> 7) & 1
        counts[1::2] += (b >> 3) & 1
    bits = np.nonzero(2 * counts > n)[0]
    return int(np.sum(1 << bits.astype(np.int64)))


def test_minhash_kernel_matches_naive():
    import pandas as pd

    from elb_pipeline.dedup import _minhash_batch

    rows = [
        ["a b c", "b c d", "a b c"],        # duplicate shingle (multiplicity)
        ["zz yy xx"],
        None,                                 # null doc
        [],                                   # empty shingle set
        ["a b c"],                            # shares shingles with row 0
        ["solo gram here", "another one two", "a b c"],
    ]
    got = _minhash_batch(pd.Series(rows, dtype=object))
    want = [_naive_minhash(r) for r in rows]
    assert list(got) == want


def test_simhash32_kernel_matches_naive():
    import pandas as pd

    from elb_pipeline.dedup import _simhash32_batch

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # exact dup
        "the quick brown fox jumps over the lazy cat",
        "short one",        # < 3 words → 0
        None,               # null → 0
        "one two three",    # exactly one shingle
        "rep rep rep rep rep",  # repeated shingle occurrences
        # the _shingles() edge cases of tests/test_shingles.py
        "",
        "a b",
        "a  b c",
        " a b c ",
        " ".join(f"w{i % 37}" for i in range(300)),
    ]
    got = _simhash32_batch(pd.Series(texts, dtype=object))
    want = [_naive_simhash32(t) for t in texts]
    assert list(got) == want
    assert got[0] == got[1] != 0
