"""The fused batch body must not depend on how Arrow hands it the rows: a
batch that is a zero-copy slice of a larger table (non-zero offset into
shared buffers) gives valid arrays and the same output as the unsliced
batch. Runs the ``mapInArrow`` body directly, without Spark."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from elb_pipeline import parse
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS, MALFORMED_GOLDENS

_LINES = (
    [line for line, _ in ALB_GOLDENS]
    + [line for line, _ in CLASSIC_GOLDENS]
    + list(MALFORMED_GOLDENS)
    + [None]
)


class _Source:
    """Just enough of a DataFrame for ``_arrow_map``: its columns, and a
    ``mapInArrow`` that hands back the batch function instead of a plan."""

    def __init__(self, schema: T.StructType):
        self.schema = schema
        self.columns = schema.fieldNames()

    def select(self, *cols: str) -> _Source:
        return _Source(T.StructType([self.schema[c] for c in cols]))

    def mapInArrow(self, fn, schema):  # noqa: N802 — DataFrame's name
        return fn


def test_fused_body_on_sliced_batches_matches_unsliced(monkeypatch):
    # leave this process's Arrow thread pools alone
    monkeypatch.setattr(parse, "_POOLS_PINNED", True)
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("text", T.StringType())]
    )
    gen = parse.routed_json_both(_Source(schema), with_diag=True, passthrough=["id"])
    table = pa.table(
        {
            "id": pa.array(range(len(_LINES)), pa.int32()),
            "text": pa.array(_LINES, pa.string()),
        }
    )

    whole = pa.Table.from_batches(list(gen(iter(table.to_batches()))))
    batches = table.to_batches(max_chunksize=7)
    assert len(batches) > 1 and any(b.column(1).offset for b in batches)
    sliced = list(gen(iter(batches)))
    for batch in sliced:
        for col in batch.columns:
            col.validate(full=True)
    assert pa.Table.from_batches(sliced).to_pylist() == whole.to_pylist()
