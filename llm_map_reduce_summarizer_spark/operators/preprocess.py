"""Transcript preprocessing operators (reference: preprocessor.py).

All operators are ``DataFrame -> DataFrame`` built from Catalyst
Column expressions — one window shuffle each, no Python in the hot
path, no iteration.

Segment schema: (seg_id long, start double, end double,
speaker string, text string). ``doc_col`` partitions independent
transcripts; at 100 TB each transcript's windows run inside its own
partition, so the shuffle is a single hash exchange on doc_col.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import clean_text, clean_text_full, format_timestamp


def _part(doc_col: str | None) -> list[str]:
    return [doc_col] if doc_col else []


def preprocess_segments(
    segments: DataFrame, full_fidelity: bool = False
) -> DataFrame:
    """Drop empty segments, clean text, add formatted timestamps.

    Mirrors preprocessor.preprocess_transcript's per-segment step
    (preprocessor.py:36-54). ``full_fidelity`` switches on the
    Java-regex repeated-word rule (not RE2/oracle-expressible).
    """
    cleaner = clean_text_full if full_fidelity else clean_text
    # rlike('\S'), not trim() != '': SQL trim strips only ASCII spaces,
    # but the reference drops segments that are blank under Python
    # .strip() — tabs/newlines included (preprocessor.py:36-54)
    return (
        segments.filter(F.col("text").rlike(r"\S"))
        .withColumn("text", cleaner(F.col("text")))
        .withColumn("start_fmt", format_timestamp(F.col("start")))
        .withColumn("end_fmt", format_timestamp(F.col("end")))
    )


def _ordered_join(ord_col: str, text_col: Column, sep: str) -> Column:
    """Order-stable string aggregation: collect -> sort by ord -> join."""
    pairs = F.collect_list(F.struct(F.col(ord_col).alias("o"), text_col.alias("t")))
    return F.array_join(
        F.transform(F.array_sort(pairs), lambda x: x["t"]), sep
    )


def merge_same_speaker(
    segments: DataFrame,
    max_duration: float = 120.0,
    doc_col: str | None = None,
) -> DataFrame:
    """Combine consecutive same-speaker segments, capped by duration.

    Reference (preprocessor.py:109-165) walks segments sequentially and
    resets a duration counter. Spark-first re-expression: speaker-change
    islands via gaps-and-islands, then *prefix-sum bucketing* inside
    each island (bucket = floor(cum_duration_before / max_duration)).
    Identical grouping except pathological overshoot cases; O(1) passes
    and fully parallel instead of inherently sequential.

    Combined text matches the reference: single-segment groups keep the
    raw text; multi-segment groups join '[MM:SS] text' parts.
    """
    part = _part(doc_col)
    w = Window.partitionBy(*part).orderBy("seg_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = segments.withColumn(
        "spk_change",
        F.when(
            F.lag("speaker").over(w).isNull()
            | (F.lag("speaker").over(w) != F.col("speaker")),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("spk_change").over(frame))

    wi = Window.partitionBy(*part, "island").orderBy("seg_id")
    cum_prev = F.coalesce(
        F.sum(F.col("end") - F.col("start")).over(
            wi.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    bucketed = flagged.withColumn(
        "bucket", F.floor(cum_prev / F.lit(max_duration))
    )

    part_text = F.concat(
        F.lit("["), format_timestamp(F.col("start")), F.lit("] "), F.col("text")
    )
    merged = (
        bucketed.groupBy(*part, "island", "bucket")
        .agg(
            F.min("seg_id").alias("group_id"),
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.min("speaker").alias("speaker"),
            F.count(F.lit(1)).alias("n_segments"),
            F.min("text").alias("single_text"),
            _ordered_join("seg_id", part_text, " ").alias("joined_text"),
        )
        .withColumn(
            "text",
            F.when(F.col("n_segments") == 1, F.col("single_text")).otherwise(
                F.col("joined_text")
            ),
        )
        .withColumn("start_fmt", format_timestamp(F.col("start")))
        .withColumn("end_fmt", format_timestamp(F.col("end")))
        .drop("island", "bucket", "single_text", "joined_text")
    )
    return merged


def aggregate_by_interval(
    segments: DataFrame,
    interval_seconds: float = 300.0,
    doc_col: str | None = None,
) -> DataFrame:
    """Bucket segments into fixed time intervals (preprocessor.py:217-324).

    Full reference semantics: a segment lands in the interval containing
    its start AND every later interval it spans into (strict overlap of
    (interval_start, ...)). Expressed via sequence() + explode instead
    of a per-interval scan — one pass, no quadratic re-scan.
    """
    part = _part(doc_col)
    if part:
        wall = Window.partitionBy(*part)
        with_bounds = segments.withColumn(
            "t0", F.min("start").over(wall)
        ).withColumn("tmax", F.max("end").over(wall))
    else:
        # global bounds as a 1-row broadcast, not an empty-partition
        # window (which would drag every row through one task)
        bounds = segments.agg(
            F.min("start").alias("t0"), F.max("end").alias("tmax")
        )
        with_bounds = segments.crossJoin(F.broadcast(bounds))
    lo = F.floor((F.col("start") - F.col("t0")) / F.lit(interval_seconds))
    hi_raw = F.floor((F.col("end") - F.col("t0")) / F.lit(interval_seconds))
    # end exactly on a boundary is exclusive (reference: end > interval_start);
    # multiply-compare instead of float modulo for cross-engine determinism
    on_boundary = (hi_raw * F.lit(interval_seconds)) == (F.col("end") - F.col("t0"))
    hi = F.greatest(lo, F.when(on_boundary, hi_raw - 1).otherwise(hi_raw))

    exploded = with_bounds.withColumn(
        "interval_index", F.explode(F.sequence(lo, hi))
    )

    part_text = F.concat(
        F.lit("["),
        format_timestamp(F.col("start")),
        F.lit(" "),
        F.col("speaker"),
        F.lit("] "),
        F.col("text"),
    )
    return (
        exploded.groupBy(*part, "interval_index")
        .agg(
            F.min("t0").alias("t0"),
            F.min("tmax").alias("tmax"),
            F.count(F.lit(1)).alias("n_segments"),
            F.array_join(
                F.array_sort(F.collect_set("speaker")), ", "
            ).alias("speakers"),
            _ordered_join("seg_id", part_text, "\n\n").alias("text"),
        )
        .withColumn(
            "interval_start",
            F.col("t0") + F.col("interval_index") * F.lit(interval_seconds),
        )
        .withColumn(
            "interval_end",
            F.least(
                F.col("interval_start") + F.lit(interval_seconds), F.col("tmax")
            ),
        )
        .drop("t0", "tmax")
    )
