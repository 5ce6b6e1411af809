"""Spark-pipeline golden tests: routing + byte-exact JSON output.

Runs every reference golden vector through the production operator
(``parse.routed_json_both``: route → extract → in-Arrow NDJSON) and asserts
byte equality with the reference's expected serde_json strings — including
the `\\x22` escape passthrough (alb.rs:299-313) and optional-tid omission
(alb.rs:340-344).
"""

from __future__ import annotations

import pytest

from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS, MALFORMED_GOLDENS
from elb_pipeline.parse import routed_json_both


@pytest.fixture(scope="module")
def results(spark):
    rows = (
        [(i, line) for i, (line, _) in enumerate(ALB_GOLDENS)]
        + [(100 + i, line) for i, (line, _) in enumerate(CLASSIC_GOLDENS)]
        + [(200 + i, line) for i, line in enumerate(MALFORMED_GOLDENS)]
    )
    df = routed_json_both(
        spark.createDataFrame(rows, "id int, text string"), passthrough=["id"]
    )
    return {r["id"]: r for r in df.select("id", "sink", "json").collect()}


@pytest.mark.parametrize("i", range(len(ALB_GOLDENS)))
def test_alb_spark_golden(results, i):
    r = results[i]
    assert r["sink"] == "alb"
    assert r["json"] == ALB_GOLDENS[i][1]


@pytest.mark.parametrize("i", range(len(CLASSIC_GOLDENS)))
def test_classic_spark_golden(results, i):
    r = results[100 + i]
    assert r["sink"] == "classic_lb"
    assert r["json"] == CLASSIC_GOLDENS[i][1]


@pytest.mark.parametrize("i", range(len(MALFORMED_GOLDENS)))
def test_malformed_spark_golden(results, i):
    r = results[200 + i]
    assert r["sink"] == "malformed"
    assert r["json"] is None
