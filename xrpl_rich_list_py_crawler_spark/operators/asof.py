"""Latest row per key (J8) as a window rank.

The reference picks each key's latest row with a correlated
``ORDER BY … DESC LIMIT 1`` (``function.sql:10-15``). The idiomatic Spark
rewrite (SURVEY.md §4.2-4) is ``row_number()`` over
``Window.partitionBy(keys).orderBy(desc(ts))``, keeping rank 1. The as-of
lookups J5/J6 (``function.sql:156-205``) resolve global timestamps, so they
are two one-row aggregates in ``plans.jobs._lookback_targets`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, keys: list[str], ts_col: str) -> DataFrame:
    """Latest row per key (W3: correlated ORDER BY … DESC LIMIT 1 idiom,
    ``function.sql:10-15``) — one shuffle, no self-join."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
