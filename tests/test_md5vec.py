"""Bit-parity of the numpy-vectorized MD5 against hashlib.

The sketch kernels' oracle twins recompute md5 in DuckDB SQL, so the
vectorized digest must be EXACTLY standard MD5 — any deviation would
surface as a cross-engine hash mismatch, but this suite pins it at the
unit level across message lengths spanning every padding/block-count
regime (0, 1, 55, 56, 63, 64, 119, 120 are the boundary cases: 55→one
block, 56→two, 119→two, 120→three)."""

from __future__ import annotations

import hashlib
import random

import numpy as np

from elb_pipeline.md5vec import hex32, lex_ranks, md5_seeded_digests_cat


def _layout(msgs):
    """(cat, starts, lens): the zero-copy message layout both kernels read."""
    lens = np.fromiter(map(len, msgs), count=len(msgs), dtype=np.int64)
    cat = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    starts = np.zeros(len(msgs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return cat, starts, lens


def _digests(msgs):
    """Plain md5 of every message: the kernel under the one empty seed."""
    return md5_seeded_digests_cat(*_layout(msgs), [b""])[0]


def _ref(msgs):
    return [hashlib.md5(m).digest() for m in msgs]


def test_boundary_lengths_match_hashlib():
    msgs = []
    for n in (0, 1, 7, 8, 54, 55, 56, 57, 63, 64, 65, 119, 120, 121, 200):
        msgs.append(bytes((i * 31 + n) % 256 for i in range(n)))
    got = _digests(msgs)
    want = _ref(msgs)
    for i, w in enumerate(want):
        assert bytes(got[i]) == w, f"len {len(msgs[i])}"


def test_random_mixed_batch_matches_hashlib():
    rng = random.Random(20260817)
    msgs = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        for _ in range(500)
    ]
    got = _digests(msgs)
    want = _ref(msgs)
    assert all(bytes(g) == w for g, w in zip(got, want))


def test_hex32_matches_hexdigest():
    msgs = [b"", b"abc", b"the quick brown fox", b"x" * 150]
    hx = hex32(_digests(msgs))
    assert [h.decode() for h in hx] == [
        hashlib.md5(m).hexdigest() for m in msgs
    ]


def test_lex_ranks_order_hexdigest_order():
    rng = random.Random(7)
    msgs = [f"shingle {i} {rng.random()}".encode() for i in range(300)]
    d = _digests(msgs)
    ranks = lex_ranks(d)
    hexes = [hashlib.md5(m).hexdigest() for m in msgs]
    by_rank = [h for _, h in sorted(zip(ranks, hexes))]
    assert by_rank == sorted(hexes)


def test_seeded_digests_match_hashlib():
    rng = random.Random(99)
    msgs = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        for _ in range(200)
    ]
    seeds = [f"#{i}".encode() for i in range(8)]
    got = md5_seeded_digests_cat(*_layout(msgs), seeds)
    for si, seed in enumerate(seeds):
        for mi, m in enumerate(msgs):
            assert bytes(got[si, mi]) == hashlib.md5(m + seed).digest()


def test_unicode_shingle_round_trip():
    msgs = [s.encode() for s in ["héllo wörld ümlaut", "日本語 の テキスト", "a b c"]]
    got = _digests(msgs)
    assert [bytes(g) for g in got] == _ref(msgs)
