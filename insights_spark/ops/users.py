"""Per-user helper aggregate — the migrate.sql PL/pgSQL UDF U1.

It becomes a set-based DataFrame aggregation; the dblink remote call in
``tasks_per_user`` (migrate.sql:1-26) is modeled as a join against a local
`task_history` table (SURVEY §2.3 J10 — the cross-database hop is out of
engine scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tasks_per_user(
    task_history: DataFrame,
    project_ids: list[int],
    start,
    end,
    action_text: str,
) -> DataFrame:
    """U1 — (user_id, task_count): count of task_history rows per user for
    the given projects / window / action (migrate.sql:10-18)."""
    return (
        task_history.filter(
            F.col("project_id").isin(project_ids)
            & (F.col("action_date") >= F.lit(start))
            & (F.col("action_date") <= F.lit(end))
            & (F.col("action_text") == action_text)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("task_count"))
    )
