"""In-memory span recorder and the prefix-difference layer split.

A span is (name, start, end, parent, workload, pass). Spans are kept in a
list and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# cumulative job prefixes in order; each adds one layer to the previous
JOB_PREFIXES = ("scan", "parse", "deadletter", "enrich", "job")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    workload: str
    pass_no: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, pass_no: int):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(name, t0, time.perf_counter(), parent, self.workload, pass_no)
            )

    def seconds(self, name: str, pass_no: int) -> float:
        return next(
            s.seconds for s in self.spans if s.name == name and s.pass_no == pass_no
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def prefix_layers(prefix_s: dict[str, float]) -> dict[str, float]:
    """Layer time = difference between adjacent cumulative prefixes, so the
    layers sum to the last (full-job) prefix by construction."""
    out, prev = {}, 0.0
    for name in JOB_PREFIXES:
        out[name] = prefix_s[name] - prev
        prev = prefix_s[name]
    return out
