"""Bucketed (co-located) tables: shuffle-free equi-joins at scale.

The 100 TB shape for repeated joins on the same key (cell id, image_id):
write both sides bucketed by the join key so Catalyst plans a
sort-merge join with ZERO Exchange — each bucket pair joins locally.
This is the persisted analogue of `repartition()` co-location; on a
real cluster the bucketing survives across jobs (the shuffle is paid
once at write time, amortized over every later join).

Spark-native bucketing requires catalog tables (`saveAsTable`); in this
sandbox the session catalog + spark-warehouse directory stand in for
the production metastore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 32, sort_col: str | None = None) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join key."""
    w = (df.write.mode("overwrite")
         .bucketBy(n_buckets, bucket_col))
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def colocated_join(spark: SparkSession, left_table: str, right_table: str,
                   on: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables on their bucket key.

    With matching bucket counts Catalyst elides BOTH shuffle exchanges
    (plan-quality test asserts zero Exchange operators)."""
    return (spark.table(left_table)
            .join(spark.table(right_table), on, how))
