"""Distributed prefix scan — the two-pass parallel cumulative sum.

A global ``Window.orderBy(k)`` with no partition key collapses all rows
into ONE task (Spark warns "No Partition Defined for Window") — correct
at test scale, fatal at 100 TB. The classic fix is the two-pass scan:

1. range-partition by the order key (so partition i holds a contiguous
   key range and partition ids ascend with the key),
2. local exclusive prefix sums inside each partition (parallel),
3. one tiny aggregation — per-partition totals (#partitions rows) —
   scanned on the driver-side-sized single partition and broadcast back
   as per-partition offsets.

Total cost: one range exchange + per-partition sorts + a broadcast of
#partitions rows. Results are bit-identical to the single-partition
window for associative sums. Used by catalog keys whose prefix sums
run over a whole table's global order (plans/tpch.py, plans/events.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_prefix_sums(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Add exclusive prefix sums over the global ``order_col`` order.

    ``sums`` maps output column -> source column; all scans share one
    range exchange. ``tie_cols`` break ordering ties deterministically
    (order_col must be globally unique otherwise).
    """
    order = [order_col, *(tie_cols or [])]
    rp = df.repartitionByRange(F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("_pid").orderBy(*order)
    prev = wloc.rowsBetween(Window.unboundedPreceding, -1)

    local: dict[str, Column] = {
        out: F.coalesce(F.sum(src).over(prev), F.lit(0).cast("long"))
        for out, src in sums.items()
    }
    with_local = rp
    for out, col in local.items():
        with_local = with_local.withColumn(f"_loc_{out}", col)

    totals = rp.groupBy("_pid").agg(
        *[F.sum(src).alias(f"_tot_{out}") for out, src in sums.items()]
    )
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot_{out}").over(woff), F.lit(0).cast("long"))
            .alias(f"_off_{out}")
            for out in sums
        ],
    )

    joined = with_local.join(F.broadcast(offsets), "_pid")
    for out in sums:
        joined = joined.withColumn(
            out, (F.col(f"_off_{out}") + F.col(f"_loc_{out}")).cast("long")
        ).drop(f"_loc_{out}", f"_off_{out}")
    return joined.drop("_pid")

