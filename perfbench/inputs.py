"""Seeded input generator for the benchmark workloads.

Everything here is plain Python + numpy + pyarrow: the program under test
receives only the parquet files this module writes, never the seed.

``job_unique`` writes a transcripts table ``conv_id, turn_idx, role,
text, tool, ts`` whose ``text`` values are all distinct:

- valid lines are the reference's golden ALB / Classic vectors with seeded
  field values substituted (time, client ip:port, received/sent bytes and,
  where the URL is a bare host, a URL path); the same substitutions are
  applied to the golden JSON, so every valid row has a known expected
  field dict;
- malformed rows are planted variants of generated valid lines: truncated
  after a few tokens, or with a five-digit year in the timestamp (both
  grammars reject either);
- timestamps strictly increase with the row index, so no two lines are
  equal.

``turn_idx`` is the global row index, so a sampled row can be found in the
written output by ``turn_idx`` alone, and ``expected_row(i)`` rebuilds any
row's text, sink and expected field dict from the cached arrays.

``dedup_corpus`` writes a ``documents(doc_id, text)`` table of seeded
word sequences in which some documents are planted near-duplicate clusters
(word substitutions of a cluster's first member); the planted pairs and
their exact word-3-gram Jaccard values are recorded.

Inputs are cached on disk per (workload, seed, size).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from elb_pipeline.enrich import ROLES, TOOLS
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS

SINK_ALB, SINK_CLASSIC, SINK_MALFORMED = "alb", "classic_lb", "malformed"
N_FILES = 8  # input parquet files: enough splits for every local core
EPOCH_US = 1_667_260_800_000_000  # 2022-11-01T00:00:00Z
DAY_US = 86_400_000_000
# planted shares, as in the repo's synthesized transcripts mix
SHARE_ALB, SHARE_CLASSIC = 0.63, 0.185
MALFORMED_KINDS = ("truncated", "bad_year")
URL_SEGS = ("api", "v1/items", "static", "login", "search", "assets/img")

# token index of each substituted field in a golden line's space-split
# head (everything before the quoted request): the fields the two grammars
# put before the first quote
_HEAD = {
    "alb": {"time": 1, "client": 3, "received_bytes": 10, "sent_bytes": 11},
    "classic_lb": {"time": 0, "client": 2, "received_bytes": 9, "sent_bytes": 10},
}


@dataclass(frozen=True)
class Template:
    sink: str
    head: tuple[str, ...]
    rest: str  # the quoted request and everything after it
    expected: str  # golden JSON
    url_prefix: str | None  # '"METHOD URL' when the URL can take a path


def _templates(goldens: list[tuple[str, str]], sink: str) -> list[Template]:
    n_head = max(_HEAD[sink].values()) + 1
    out = []
    for line, expected in goldens:
        parts = line.rstrip("\n").split(" ", n_head)
        head, rest = tuple(parts[:n_head]), parts[n_head]
        fields = json.loads(expected)
        url, method = fields.get("url", ""), fields.get("http_method", "")
        prefix = f'"{method} {url}'
        bare = (
            url.startswith(("http://", "https://"))
            and "/" not in url.split("://", 1)[1].rstrip("/")
            and rest.startswith(prefix + " ")
        )
        out.append(Template(sink, head, rest, expected, prefix if bare else None))
    return out


ALB_TEMPLATES = _templates(ALB_GOLDENS, SINK_ALB)
CLASSIC_TEMPLATES = _templates(CLASSIC_GOLDENS, SINK_CLASSIC)
TEMPLATES = ALB_TEMPLATES + CLASSIC_TEMPLATES


# ---------------------------------------------------------------------------
# line variants: seeded field arrays → text + expected dict
# ---------------------------------------------------------------------------


def _variant_arrays(rng: np.random.Generator, n: int) -> dict:
    """Per-line seeded fields for ``n`` lines. Each line's kind (ALB,
    Classic, malformed) is drawn by the planted shares; the timestamps
    strictly increase with the line index, so no two lines can be equal."""
    u = rng.random(n)
    tmpl = np.where(
        u < SHARE_ALB,
        rng.integers(0, len(ALB_TEMPLATES), n),
        len(ALB_TEMPLATES) + rng.integers(0, len(CLASSIC_TEMPLATES), n),
    )
    jitter = rng.integers(0, 1000, n)
    time_us = EPOCH_US + np.arange(n, dtype=np.int64) * 1000 + jitter
    mal = u >= SHARE_ALB + SHARE_CLASSIC
    return {
        "tmpl": tmpl.astype(np.int16),
        "time_us": time_us.astype(np.int64),
        "ip": rng.integers(1, 255, (n, 4)).astype(np.uint8),
        "port": rng.integers(1024, 65536, n).astype(np.int32),
        "rx": rng.integers(0, 200_000, n).astype(np.int64),
        "tx": rng.integers(0, 2_000_000, n).astype(np.int64),
        "url_seg": rng.integers(0, len(URL_SEGS), n).astype(np.int8),
        "url_n": rng.integers(0, 100_000, n).astype(np.int32),
        # malformed kind: -1 valid, else index into MALFORMED_KINDS
        "mal": np.where(mal, rng.integers(0, len(MALFORMED_KINDS), n), -1).astype(
            np.int8
        ),
        "cut": rng.integers(3, 10, n).astype(np.int8),
    }


def _time_strings(time_us: np.ndarray) -> list[str]:
    s = np.datetime_as_string(time_us.astype("datetime64[us]"), unit="us")
    return [t + "Z" for t in s.tolist()]


def _line(
    a: dict, i: int, time_s: str, fields: bool = True
) -> tuple[str, str, dict | None]:
    """(text, sink, expected field dict) for variant ``i``; the dict is
    None for malformed lines and when ``fields`` is false."""
    t = TEMPLATES[a["tmpl"][i]]
    pos = _HEAD[t.sink]
    head = list(t.head)
    ip = ".".join(map(str, a["ip"][i]))
    port = str(a["port"][i])
    head[pos["time"]] = time_s
    head[pos["client"]] = f"{ip}:{port}"
    head[pos["received_bytes"]] = str(a["rx"][i])
    head[pos["sent_bytes"]] = str(a["tx"][i])
    rest, url = t.rest, None
    if t.url_prefix is not None:
        old = t.url_prefix.split(" ", 1)[1]
        url = f"{old.rstrip('/')}/{URL_SEGS[a['url_seg'][i]]}/{a['url_n'][i]}"
        rest = t.url_prefix.split(" ", 1)[0] + " " + url + rest[len(t.url_prefix):]
    kind = a["mal"][i]
    if kind == 0:  # truncated: no grammar accepts a line without its request
        return " ".join(head[: a["cut"][i]]), SINK_MALFORMED, None
    if kind == 1:  # five-digit year: both grammars need [0-9]{4}- here
        head[pos["time"]] = "2" + time_s
        return " ".join(head) + " " + rest, SINK_MALFORMED, None
    if not fields:
        return " ".join(head) + " " + rest, t.sink, None
    fields = json.loads(t.expected)
    fields.update(
        time=time_s,
        client_ip=ip,
        client_port=port,
        received_bytes=str(a["rx"][i]),
        sent_bytes=str(a["tx"][i]),
    )
    if url is not None:
        fields["url"] = url
    return " ".join(head) + " " + rest, t.sink, fields


def _lines(a: dict) -> tuple[list[str], list[str]]:
    times = _time_strings(a["time_us"])
    a = {k: v.tolist() for k, v in a.items()}  # list indexing is faster
    texts, sinks = [], []
    for i, ts in enumerate(times):
        text, sink, _ = _line(a, i, ts, fields=False)
        texts.append(text)
        sinks.append(sink)
    return texts, sinks


# ---------------------------------------------------------------------------
# job_unique
# ---------------------------------------------------------------------------


@dataclass
class JobInput:
    path: str  # parquet directory the program reads
    rows: int
    sink_counts: dict[str, int]
    variants: dict  # seeded field arrays, one line per row

    def expected_row(self, i: int) -> tuple[str, str, dict | None]:
        """(text, sink, expected field dict) of row ``i`` (its turn_idx)."""
        ts = _time_strings(self.variants["time_us"][i : i + 1])[0]
        return _line(self.variants, i, ts)

    def malformed_rows(self) -> np.ndarray:
        """Row indices whose planted sink is ``malformed``."""
        return np.flatnonzero(self.variants["mal"] >= 0)


def prune(cache_dir: str, keep: int) -> None:
    """Delete incomplete cached inputs and all but the ``keep`` most
    recently used complete ones."""
    complete, stale = [], []
    for name in os.listdir(cache_dir):
        d = os.path.join(cache_dir, name)
        (complete if os.path.exists(f"{d}/_bench_meta.json") else stale).append(d)
    complete.sort(key=lambda d: os.path.getmtime(f"{d}/_bench_meta.json"), reverse=True)
    for d in stale + complete[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _cached(path: str) -> dict | None:
    """The metadata of a complete cached input (marked as just used)."""
    meta = os.path.join(path, "_bench_meta.json")
    if not os.path.exists(meta):
        return None
    os.utime(meta)
    with open(meta) as fh:
        return json.load(fh)


def _write_table(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = table.num_rows
    for f in range(N_FILES):
        lo, hi = n * f // N_FILES, n * (f + 1) // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{f:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def job_input(cache_dir: str, seed: int, rows: int) -> JobInput:
    """Generate (or reuse the cached) transcripts table for ``job_unique``."""
    rng = np.random.default_rng([seed, 1])
    a = _variant_arrays(rng, rows)
    conv = rng.integers(0, max(rows // 50, 4), rows)
    path = os.path.join(cache_dir, f"job_unique-s{seed}-n{rows}")
    meta = _cached(path)
    if meta is not None:
        return JobInput(path, rows, meta["sink_counts"], a)

    texts, sinks = _lines(a)
    rng = np.random.default_rng([seed, 3])
    idx = np.arange(rows)
    ts_us = EPOCH_US + (idx % 3) * DAY_US + rng.integers(0, DAY_US, rows)
    table = pa.table(
        {
            "conv_id": pa.array([f"conv-{c:06d}" for c in conv.tolist()], pa.string()),
            "turn_idx": pa.array(idx, pa.int32()),
            "role": pa.array(np.array(ROLES, dtype=object)[rng.integers(0, len(ROLES), rows)], pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), rows)], pa.string()),
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        }
    )
    _write_table(table, path)
    counts = {s: 0 for s in (SINK_ALB, SINK_CLASSIC, SINK_MALFORMED)}
    for s in sinks:
        counts[s] += 1
    with open(os.path.join(path, "_bench_meta.json"), "w") as fh:
        json.dump({"sink_counts": counts}, fh)
    return JobInput(path, rows, counts, a)



# ---------------------------------------------------------------------------
# dedup workload
# ---------------------------------------------------------------------------

VOCAB = 4000  # pseudo-words the documents draw from
DOC_WORDS = (40, 120)  # document length range, in words
CLUSTER_SHARE = 0.1  # share of documents that seed a near-dup cluster
CLUSTER_EXTRA = (1, 3)  # near-dup copies per cluster
EDIT_SHARE = 0.04  # share of a copy's words substituted


def shingles(text: str) -> set[str]:
    """Distinct word 3-grams of ``text`` (split on single spaces)."""
    ws = text.split(" ")
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


@dataclass
class DedupInput:
    path: str
    docs: int
    texts: dict[int, str]  # doc_id → text
    planted: list[tuple[int, int, float]]  # (a_id, b_id, exact jaccard), a < b


def _documents(seed: int, n_docs: int) -> tuple[dict[int, str], list[tuple[int, int]]]:
    rng = np.random.default_rng([seed, 4])
    words = [f"w{k:x}{'abcdefgh'[k % 8]}" for k in range(VOCAB)]
    ids = rng.permutation(n_docs)  # planted clusters land on scattered ids
    texts: dict[int, str] = {}
    pairs: list[tuple[int, int]] = []
    k = 0
    while k < n_docs:
        base = rng.integers(0, VOCAB, rng.integers(*DOC_WORDS))
        members = [base]
        if rng.random() < CLUSTER_SHARE:
            for _ in range(rng.integers(CLUSTER_EXTRA[0], CLUSTER_EXTRA[1] + 1)):
                copy = base.copy()
                n_edit = max(1, int(len(copy) * EDIT_SHARE))
                copy[rng.integers(0, len(copy), n_edit)] = rng.integers(0, VOCAB, n_edit)
                members.append(copy)
        members = members[: n_docs - k]
        doc_ids = [int(d) for d in ids[k : k + len(members)]]
        for d, m in zip(doc_ids, members):
            texts[d] = " ".join(words[w] for w in m.tolist())
        pairs += [
            (min(a, b), max(a, b))
            for j, a in enumerate(doc_ids)
            for b in doc_ids[j + 1 :]
        ]
        k += len(members)
    return texts, pairs


def dedup_input(cache_dir: str, seed: int, n_docs: int) -> DedupInput:
    """Generate (or reuse the cached) documents table for ``dedup_corpus``."""
    texts, pairs = _documents(seed, n_docs)
    planted = [(a, b, jaccard(texts[a], texts[b])) for a, b in pairs]
    path = os.path.join(cache_dir, f"dedup_corpus-s{seed}-n{n_docs}")
    if _cached(path) is None:
        ids = sorted(texts)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[d] for d in ids], pa.string()),
            }
        )
        _write_table(table, path)
        with open(os.path.join(path, "_bench_meta.json"), "w") as fh:
            json.dump({"docs": n_docs, "planted_pairs": len(planted)}, fh)
    return DedupInput(path, n_docs, texts, planted)
