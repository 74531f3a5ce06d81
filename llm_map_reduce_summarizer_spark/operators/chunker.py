"""Token-budget chunking (reference: big_chunkeroosky.py).

Two implementations:

* ``assign_chunks`` — the scale path. The reference's greedy
  accumulate-and-reset loop (big_chunkeroosky.py:80-145) is inherently
  sequential; we re-express it as a *prefix-sum bucketing*:
  ``chunk_id = floor(cum_tokens_before / budget)``. One window pass,
  parallel across transcripts. It is NOT the greedy rule: a chunk
  starts wherever the running sum crosses a budget multiple, so a
  many-segment chunk can overrun the budget by up to one segment.

* ``assign_chunks_greedy`` — faithful reset semantics via
  ``greedy_pack`` (parallel across transcripts, sequential within —
  the reference's own data dependency). Use when bit-level parity with
  the reference chunk boundaries matters more than the extra scan.

``greedy_pack_ids`` is the one copy of the greedy rule; every greedy
packer (the chunker, corpus/multimodal packing, streaming packing)
calls it.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from ..functions.text import format_timestamp, quantize, token_count


def _part(doc_col: str | None) -> list[str]:
    return [doc_col] if doc_col else []


def formatted_segment(with_speaker: bool = True):
    """'[MM:SS] speaker: text' (big_chunkeroosky._format_segment_for_chunk)."""
    ts = F.concat(F.lit("["), format_timestamp(F.col("start")), F.lit("] "))
    if with_speaker:
        return F.concat(ts, F.col("speaker"), F.lit(": "), F.col("text"))
    return F.concat(ts, F.col("text"))


def with_token_counts(segments: DataFrame, counter: str = "regex") -> DataFrame:
    """Attach formatted text + token counts.

    ``counter`` selects the backend (functions/tokenize.py): ``regex``
    (JVM-side, oracle-expressible, the default), ``tiktoken``
    (reference-exact BPE via Arrow-batched Pandas UDF), or ``auto``.
    """
    from ..functions.tokenize import token_count_column

    return segments.withColumn("seg_text", formatted_segment()).withColumn(
        "n_tokens", token_count_column(F.col("seg_text"), counter).cast("long")
    )


def assign_chunks(
    segments: DataFrame,
    max_tokens_per_chunk: int = 500,
    doc_col: str | None = None,
    counter: str = "regex",
) -> DataFrame:
    """Prefix-sum chunk assignment: no sequential state.

    With ``doc_col`` the cumulative sum is an ordinary per-document
    window (each document sorts inside its own partition). Without it
    the input is ONE transcript whose order is global, so the window
    runs as one task — bounded by transcript length; multi-transcript
    callers (the CLI, the benchmark) pass ``doc_col``.

    ``counter='tiktoken'`` reproduces the reference's BPE-exact chunk
    boundaries (big_chunkeroosky.py:43) when tiktoken is installed.
    """
    counted = with_token_counts(segments, counter)
    w = Window.partitionBy(*_part(doc_col)).orderBy("seg_id")
    cum_prev = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return counted.withColumn(
        "chunk_id", F.floor(cum_prev / F.lit(max_tokens_per_chunk))
    )


def chunk_stats(
    chunked: DataFrame, doc_col: str | None = None
) -> DataFrame:
    """Per-chunk metadata: the reference's context header fields
    (big_chunkeroosky.py:147-232): time range, speakers, token count,
    position percentage (chunk-relative formula at :182-184).
    """
    part = _part(doc_col)
    if part:
        wall = Window.partitionBy(*part)
        with_t0 = chunked.withColumn("t0", F.min("start").over(wall))
    else:
        # global min as a 1-row broadcast, not an empty-partition window
        # (which would drag every row through one task)
        t0 = chunked.agg(F.min("start").alias("t0"))
        with_t0 = chunked.crossJoin(F.broadcast(t0))
    stats = (
        with_t0
        .groupBy(*part, "chunk_id")
        .agg(
            F.min("start").alias("start_time"),
            F.max("end").alias("end_time"),
            F.sum("n_tokens").alias("token_count"),
            F.count(F.lit(1)).alias("n_segments"),
            F.array_join(F.array_sort(F.collect_set("speaker")), ", ").alias(
                "speakers"
            ),
            F.min("t0").alias("t0"),
        )
        .withColumn(
            "position_pct",
            F.when(
                F.col("end_time") > F.col("t0"),
                quantize(
                    100.0
                    * (F.col("start_time") - F.col("t0"))
                    / (F.col("end_time") - F.col("t0")),
                    4,
                ),
            ).otherwise(0.0),
        )
        .drop("t0")
    )
    return stats


def greedy_pack_ids(
    sizes: Iterable[int], budget: int, pack_id: int = 0, acc: int = 0
) -> tuple[list[int], int, int]:
    """The reference's accumulate-and-reset rule (big_chunkeroosky.py:
    86-99): an item that would push a non-empty pack over ``budget``
    starts the next pack; an oversized item keeps a pack of its own.

    ``(pack_id, acc)`` is the open pack's id and fill. Returns the
    items' pack ids plus the state after the last item, so a caller
    that sees the items in pieces (micro-batches) carries the state
    into the next call and gets the same ids as one call.
    """
    ids = []
    for n in sizes:
        n = int(n)
        if acc > 0 and acc + n > budget:
            pack_id += 1
            acc = 0
        ids.append(pack_id)
        acc += n
    return ids, pack_id, acc


def greedy_pack(
    df: DataFrame,
    key: str,
    order_col: str,
    size_col: str,
    budget: int,
    out_col: str,
) -> DataFrame:
    """Greedy packing per ``key`` group: sort the group by
    ``order_col`` and number its packs of ``size_col`` in ``out_col``.

    Parallel across groups (Arrow-batched pandas groups, one group per
    key value), sequential within — the recurrence's own dependency.
    Output: ``df``'s columns plus ``out_col`` (long).
    """
    schema = StructType(
        [StructField(f.name, f.dataType) for f in df.schema]
        + [StructField(out_col, LongType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        pdf[out_col] = greedy_pack_ids(pdf[size_col], budget)[0]
        return pdf

    return df.groupBy(key).applyInPandas(pack, schema=schema)


def assign_chunks_greedy(
    segments: DataFrame,
    max_tokens_per_chunk: int = 500,
    doc_col: str | None = None,
    counter: str = "regex",
) -> DataFrame:
    """Faithful greedy accumulate-and-reset chunking.

    Parallel across transcripts (one pandas group per doc_col value),
    sequential within — the reference's own dependency structure
    (big_chunkeroosky.py:86-99). Oversized single segments keep their
    own chunk (sentence-splitting of pathological segments is handled
    upstream by merge caps). ``counter='tiktoken'`` gives BPE-exact
    budgets matching the reference when the library is installed.
    """
    counted = with_token_counts(segments, counter).select(
        *_part(doc_col),
        "seg_id", "start", "end", "speaker", "seg_text", "n_tokens",
    )
    if doc_col:
        return greedy_pack(
            counted, doc_col, "seg_id", "n_tokens", max_tokens_per_chunk,
            "chunk_id",
        )
    # Single-transcript fallback ONLY: one pandas group = one task. Any
    # corpus-scale caller must pass doc_col so groups parallelize.
    return greedy_pack(
        counted.withColumn("_g", F.lit(0)), "_g", "seg_id", "n_tokens",
        max_tokens_per_chunk, "chunk_id",
    ).drop("_g")


SENT_SEP = "\u001f"  # unit separator: survives both engines' regex paths


def split_oversized(
    segments: DataFrame,
    max_words: int = 64,
    doc_col: str | None = None,
) -> DataFrame:
    """Split segments over the word budget on sentence boundaries, then
    word windows (reference: big_chunkeroosky.py:267-430).

    Reference semantics, Spark-first shape: sentence-split oversized
    segments ([.!?] boundaries), word-window-split any sentence that is
    itself over budget (the reference's long-sentence clause fallback),
    then pack the pieces back up to the budget with the same prefix-sum
    bucketing as ``assign_chunks``. Per-part timestamps interpolate the
    segment's time range proportionally to characters, like the
    reference's char-weighted sentence timing
    (big_chunkeroosky.py:361-368).

    All stages are explode/window expressions — no Python, no
    sequential state; at 100 TB the only shuffle is the per-segment
    window (partitioned by doc/segment).
    """
    part = _part(doc_col)
    base_cols = [*part, "seg_id", "start", "end", "speaker"]
    nw_seg = F.size(F.split(F.trim(F.col("text")), " "))

    counted = segments.withColumn("n_words_seg", nw_seg)
    small = counted.filter(F.col("n_words_seg") <= max_words).select(
        *base_cols,
        F.lit(0).cast("long").alias("part_idx"),
        F.col("text"),
        F.col("n_words_seg").cast("long").alias("n_words"),
        F.col("start").alias("part_start"),
        F.col("end").alias("part_end"),
    )

    big = counted.filter(F.col("n_words_seg") > max_words)
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1" + SENT_SEP),
        SENT_SEP,
    )
    b1 = (
        big.select(*base_cols, F.posexplode(sents).alias("sent_idx", "sent"))
        .withColumn("w", F.split(F.trim(F.col("sent")), " "))
        .withColumn("nw_sent", F.size("w"))
    )
    n_parts = F.ceil(F.col("nw_sent") / F.lit(float(max_words))).cast("long")
    b2 = (
        b1.withColumn(
            "j",
            F.explode(F.sequence(F.lit(0), F.greatest(n_parts, F.lit(1)) - 1)),
        )
        .withColumn(
            "piece",
            F.array_join(
                F.slice(F.col("w"), F.col("j") * max_words + 1, max_words), " "
            ),
        )
        .withColumn(
            "piece_words",
            F.least(
                F.lit(max_words), F.col("nw_sent") - F.col("j") * max_words
            ).cast("long"),
        )
        .withColumn("piece_chars", F.length("piece").cast("long"))
    )

    worder = Window.partitionBy(*part, "seg_id").orderBy("sent_idx", "j")
    prev = worder.rowsBetween(Window.unboundedPreceding, -1)
    wseg = Window.partitionBy(*part, "seg_id")
    b3 = (
        b2.withColumn(
            "cum_words_prev",
            F.coalesce(F.sum("piece_words").over(prev), F.lit(0).cast("long")),
        )
        .withColumn(
            "cum_chars_prev",
            F.coalesce(F.sum("piece_chars").over(prev), F.lit(0).cast("long")),
        )
        .withColumn("total_chars", F.sum("piece_chars").over(wseg))
        .withColumn(
            "part_idx", F.floor(F.col("cum_words_prev") / F.lit(max_words))
        )
    )

    ordered_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("sent_idx").alias("o1"),
                        F.col("j").alias("o2"),
                        F.col("piece").alias("t"),
                    )
                )
            ),
            lambda x: x["t"],
        ),
        " ",
    )
    dur = F.col("end") - F.col("start")
    frac0 = F.col("c0").cast("double") / F.col("total_chars")
    frac1 = (F.col("c0") + F.col("clen")).cast("double") / F.col("total_chars")
    splits = (
        b3.groupBy(*part, "seg_id", "part_idx")
        .agg(
            F.min("start").alias("start"),
            F.min("end").alias("end"),
            F.min("speaker").alias("speaker"),
            ordered_text.alias("text"),
            F.sum("piece_words").alias("n_words"),
            F.min("cum_chars_prev").alias("c0"),
            F.sum("piece_chars").alias("clen"),
            F.min("total_chars").alias("total_chars"),
        )
        .withColumn("part_start", quantize(F.col("start") + dur * frac0, 6))
        .withColumn("part_end", quantize(F.col("start") + dur * frac1, 6))
        .select(
            *base_cols, "part_idx", "text", "n_words", "part_start", "part_end"
        )
    )
    return small.unionByName(splits)
