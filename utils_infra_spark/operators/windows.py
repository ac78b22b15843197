"""Window / ranking operators (SURVEY.md §2.6, W1–W4).

W1 (keep-latest-per-key) lives in joins.latest_wins since the
reference uses it as a merge primitive, and its per-field form is
streaming/upsert.py::keyed_upsert_batch. This is the ranking form;
W3's time windows are ``F.window`` in the queries and streaming code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(df: DataFrame, partition: list[str], order: list, n: int, *, rank_alias: str = "rnk") -> DataFrame:
    """W2 (ref ais-proxy/server.js:174-190): retain top-N per group by
    an ordering (the reference's recency-based cache eviction).

    Empty ``partition`` = global top-N. That case routes through
    ``orderBy().limit(n)`` (TakeOrderedAndProject: parallel per-
    partition heaps, driver-side merge of n rows) instead of a
    row_number over an unpartitioned window, which would sort the
    whole input through a single task. The rank column is then
    derived on the already-limited n-row frame, where a global
    window costs nothing, so the output schema is identical on both
    branches."""
    if not partition:
        top = df.orderBy(*order).limit(n)
        w = Window.orderBy(*order)
        return top.withColumn(rank_alias, F.row_number().over(w))
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn(rank_alias, F.row_number().over(w)).where(F.col(rank_alias) <= n)

