"""Bucketed tables (100 TB checklist).

Pre-hash-partition + sort a table on its join/group key at write time
(`bucketBy`), so later equi-joins and aggregations on that key read
co-located, pre-sorted buckets and skip the exchange entirely. This is
how the observation store would be laid out for repeated series-keyed
analytics at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted managed table.

    Joins/aggregations between tables bucketed the same way on the
    same key run WITHOUT a shuffle (verified in tests by asserting the
    join plan has no Exchange on the bucketed side).
    """
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.mode("overwrite").format("parquet").saveAsTable(table_name)
