"""Batch-level hash-consing (``parse._per_distinct``) must be a pure
evaluation-strategy change: every kernel that goes through it gives, on a
REDUNDANT batch (where the dictionary path engages), the same output as on
the same rows evaluated one-by-one (where the 2× guard disables it) —
including the null-line slots (null take-index, then the operator's fill).
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from elb_pipeline.deadletter import diagnose_arrow
from elb_pipeline.dialects import SINK_ALB, SINK_CLASSIC, SINK_MALFORMED
from elb_pipeline.goldens import TEXT_POOL
from elb_pipeline.parse import (
    _extract_alb_children_u,
    _extract_clb_children_u,
    _per_distinct,
    _sink_mask,
    route_json_arrow,
    route_sink_arrow,
)

# 6 distinct lines (valid ALB + classic + malformed mix) repeated 50x,
# plus nulls sprinkled in -> redundancy far past the 2x engage threshold
_LINES = [TEXT_POOL[(i * 7 + 3) % len(TEXT_POOL)] for i in range(6)]
_BATCH = [None] + _LINES * 50 + [None, _LINES[0]]
# dead letters: corrupt the digits every valid line contains
_MALFORMED = [None] + [l.replace("3", "#").replace("7", "@") for l in _LINES] * 40


def _routed(sink: str) -> list[str]:
    """Extraction kernels run on routed (valid, non-null) rows only."""
    return [l for l in _LINES if _sink_mask(pa.array([l]), sink)[0].as_py()] * 40


def _extract(extract_u):
    return lambda text: _per_distinct(extract_u, text)


# name -> (kernel: string array -> list of aligned arrays, batch rows,
#          the kernel's outputs for a null line or None if rows has none)
KERNELS = {
    "route_sink": (lambda t: [route_sink_arrow(t)], _BATCH, [SINK_MALFORMED]),
    "route_json": (
        lambda t: list(route_json_arrow(t)), _BATCH, [SINK_MALFORMED, None]
    ),
    **{
        f"sink_mask_{s}": (
            lambda t, s=s: [_sink_mask(t, s)], _BATCH, [s == SINK_MALFORMED]
        )
        for s in (SINK_ALB, SINK_CLASSIC, SINK_MALFORMED)
    },
    "extract_alb": (_extract(_extract_alb_children_u), _routed(SINK_ALB), None),
    "extract_classic": (_extract(_extract_clb_children_u), _routed(SINK_CLASSIC), None),
    "diagnose": (diagnose_arrow, _MALFORMED, [None, None, None]),
}


def test_dict_unique_engages_on_redundant_batch():
    seen = []
    _per_distinct(lambda u: seen.append(u) or [u], pa.array(_BATCH, pa.string()))
    assert len(seen[0]) == 6  # nulls get null indices, not dictionary slots


def test_dict_unique_disengages_on_unique_batch():
    batch = pa.array([f"line-{i}" for i in range(100)])
    seen = []
    _per_distinct(lambda u: seen.append(u) or [u], batch)
    assert seen[0] is batch


@pytest.mark.parametrize("name", list(KERNELS))
def test_hash_consed_equals_per_row(name):
    kernel, rows, null_out = KERNELS[name]
    batch = pa.array(rows, pa.string())
    batched = [c.to_pylist() for c in kernel(batch)]
    # singleton batches never engage the dictionary path (1 unique * 2 >= 1)
    singles = [
        [c.to_pylist()[0] for c in kernel(batch.slice(i, 1))]
        for i in range(len(rows))
    ]
    assert [list(col) for col in zip(*singles)] == batched
    if null_out is not None:
        assert rows[0] is None and [col[0] for col in batched] == null_out
