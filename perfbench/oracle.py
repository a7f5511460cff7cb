"""Result checks: a Spark result against its DuckDB oracle.

The comparison is the engine's own oracle-test comparison
(``tests/oracle.py``): result types must be equivalent, the column-name
sets equal, the row counts equal, and the normalized rows (columns
sorted by name, rows sorted by ``repr``) equal. Here a difference is
returned as a reason instead of raised, so one failed query does not
stop the others.
"""

from __future__ import annotations

from flink_realtime_edu_spark.oracle_types import describe_oracle, type_mismatches
from tests.oracle import _normalize, duck_connection

__all__ = ["duck_connection", "mismatch", "rows_differ"]


def rows_differ(a_rows, a_cols, b_rows, b_cols) -> str | None:
    """Column set, row count and order-insensitive values of two results."""
    if sorted(a_cols) != sorted(b_cols):
        return f"columns differ: {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(a_rows) != len(b_rows):
        return f"row counts differ: {len(a_rows)} vs {len(b_rows)}"
    if _normalize(a_rows, list(a_cols)) != _normalize(b_rows, list(b_cols)):
        return "values differ"
    return None


def mismatch(spark_schema, spark_rows, con, sql: str) -> str | None:
    """``None`` when the collected Spark result equals the oracle's,
    else a one-line reason."""
    tmm = type_mismatches(spark_schema, describe_oracle(con, sql))
    if tmm:
        return f"result types differ: {tmm}"
    cur = con.execute(sql)
    return rows_differ(spark_rows, spark_schema.names, cur.fetchall(), [d[0] for d in cur.description])
