"""Enrichment stage — broadcast hash-joins against small lookup dimensions.

The reference has no joins (single input, main.rs:103-177); this stage is
the target-mandated enrich step: every transcript row is left-joined
against the role and tool dimensions. Both dims are tiny (4 / 5 rows), so
``F.broadcast`` pins a broadcast hash join — zero shuffle of the fact side
regardless of scale. The dims are inline VALUES tables, planned in the JVM
as ``LocalTableScan``s, so building the broadcast crosses no Python
boundary. Left joins are total (every fact key present in the dim) so
enrichment never drops rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "read", "write", "search", "none"]

# (role, role_group, is_human)
ROLE_DIM_ROWS: list[tuple[str, str, bool]] = [
    ("user", "human", True),
    ("assistant", "model", False),
    ("system", "control", False),
    ("tool", "machine", False),
]

# (tool, tool_family, is_io)
TOOL_DIM_ROWS: list[tuple[str, str, bool]] = [
    ("bash", "shell", True),
    ("read", "filesystem", True),
    ("write", "filesystem", True),
    ("search", "web", False),
    ("none", "none", False),
]


def _values(
    spark: SparkSession, rows: list[tuple[str, str, bool]], columns: str
) -> DataFrame:
    """``rows`` as an inline VALUES table, which Spark plans as a JVM
    ``LocalRelation``: its broadcast scans a ``LocalTableScan`` and starts
    no Python worker (``createDataFrame(list)`` plans a Python-backed RDD,
    so every broadcast of it ran a Python task)."""
    values = ", ".join(f"('{a}', '{b}', {str(c).lower()})" for a, b, c in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({columns})")


def role_dim(spark: SparkSession) -> DataFrame:
    return _values(spark, ROLE_DIM_ROWS, "role, role_group, is_human")


def tool_dim(spark: SparkSession) -> DataFrame:
    return _values(spark, TOOL_DIM_ROWS, "tool, tool_family, is_io")


def enrich(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Left broadcast-join role/tool dims onto the (routed) fact rows."""
    return df.join(F.broadcast(role_dim(spark)), "role", "left").join(
        F.broadcast(tool_dim(spark)), "tool", "left"
    )
