"""Bucketed table sink — shuffle-free co-located joins.

``bucketBy(n, key)`` + ``sortBy(key)`` writes each bucket pre-hashed
and pre-sorted; two tables bucketed the same way join with NO exchange
and NO sort (the physical plan goes straight to SortMergeJoin over the
bucket files). For a fact table joined on the same key across many
queries — lineitem⋈orders on orderkey at 100 TB — this converts every
query's biggest shuffle into a one-time write-side cost.

Bucket pruning also applies: an equality filter on the bucket key scans
1/n of the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    sort_cols: list[str] | None = None,
) -> None:
    """Write as a bucketed+sorted parquet table (catalog-registered —
    bucketing metadata lives in the catalog, plain parquet read-back
    would not see it)."""
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table_name)

