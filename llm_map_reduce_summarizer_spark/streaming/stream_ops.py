"""Structured Streaming operators (SURVEY.md §2.3 rows 28-29).

Batch analytics in ``plans/events.py`` re-expressed incrementally:

* ``hourly_counts`` — tumbling 1-hour windowed agg with a watermark.
  Complete output mode over an ``availableNow`` run reproduces the
  batch ``events_hourly`` result exactly, so the driver can hold it to
  the same SQL oracle.
* ``sessionize_stream`` — custom stateful sessionization via
  ``applyInPandasWithState``: per-user state carries (open-session id,
  last event time, running aggregates) across micro-batches; every
  batch emits the updated stats of each session it touched. The
  *latest* update per (user_id, session_id) equals the batch
  gaps-and-islands result, whatever the micro-batch boundaries were.

Scale notes: the windowed agg is a streaming partial-agg (state keyed
by (window, event_type), tiny). Sessionization state is one row per
active user — hash-partitioned by user_id, so 1e9 users spread over
the cluster; the watermark-driven timeout (GroupStateTimeout) is how
state gets evicted in a real continuous run.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.chunker import greedy_pack_ids

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matches plans/events.py


def _round2(x):
    """Half-up rounding identical to Spark's ``F.round(col, 2)``.

    Spark rounds a double via ``BigDecimal.valueOf(x)`` (the shortest
    decimal repr — same string Python's ``repr`` produces) with
    HALF_UP. Python's builtin ``round()`` is banker's rounding and
    disagrees on .xx5 values, which would make stream results hash-
    mismatch their batch/oracle twins.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    )


def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# legacy long-nanos shape: tests that synthesize nanos files use it
EVENTS_SCHEMA = _events_schema(LongType())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet.

    Streaming sources need an explicit schema (no inference), and that
    schema must match what the parquet writer actually stored — the
    testdata has drifted between TIMESTAMP(NANOS) (read as long) and
    TIMESTAMP_NTZ(MICROS) generations. Declaring the wrong one silently
    corrupts values (a micros column read under a nanos assumption lands
    in January 1970). So: peek at the file's batch schema (one footer
    read, works on any filesystem Spark can reach), declare the stream
    schema to match, and normalize to a session-tz timestamp exactly
    like the batch loader (sources/tables.py), so stream and batch
    plans share semantics.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_ts_type = spark.read.parquet(path).schema["ts"].dataType
    if isinstance(raw_ts_type, LongType):
        # legacy nanos-as-long: integer div keeps precision at ~1e18 ns
        conv = F.expr("timestamp_micros(ts div 1000)")
    else:
        # TIMESTAMP_NTZ or TIMESTAMP: cast is value-preserving (UTC session)
        conv = F.col("ts").cast("timestamp")
    raw = (
        spark.readStream.schema(_events_schema(raw_ts_type))
        .option("maxFilesPerTrigger", "1")
        # the source is a single parquet FILE; a glob makes the stream
        # source take the parent directory as base path (a bare file
        # path fails partition inference inside FileStreamSource)
        .parquet(path + "*")
    )
    return raw.withColumn("ts", conv)


def hourly_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h window agg; late rows beyond the watermark drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_id", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("session_value", DoubleType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("session_value", DoubleType()),
        StructField("duration_us", LongType()),
    ]
)


def _make_sessionize_fn(evict: bool):
    """Build the per-user state-fold function.

    Emits the updated running stats of every session touched in the
    batch (update semantics — downstream keeps the latest per key).
    """

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return

        if state.exists:
            sess_id, last_ts, n_ev, start_us, end_us, val = state.get
        else:
            sess_id, last_ts, n_ev, start_us, end_us, val = 0, None, 0, 0, 0, 0.0

        touched: dict[int, list] = {}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, value in zip(pdf["ts_us"], pdf["value"]):
                ts_us = int(ts_us)
                if last_ts is None or ts_us - last_ts > SESSION_GAP_US:
                    sess_id += 1
                    n_ev, start_us, end_us, val = 0, ts_us, ts_us, 0.0
                n_ev += 1
                end_us = ts_us
                val += float(value)
                last_ts = ts_us
                touched[sess_id] = [n_ev, start_us, end_us, val]

        state.update((sess_id, last_ts, n_ev, start_us, end_us, val))
        if evict:
            state.setTimeoutDuration(2 * SESSION_GAP_US // 1000)  # ms

        if touched:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_id": sid,
                        "n_events": s[0],
                        "start_us": s[1],
                        "end_us": s[2],
                        "session_value": _round2(s[3]),
                        "duration_us": s[2] - s[1],
                    }
                    for sid, s in touched.items()
                ]
            )

    return _fn


def sessionize_stream(events: DataFrame, evict_state: bool = False) -> DataFrame:
    """Incremental 30-min-gap sessionization keyed by user.

    ``evict_state=True`` arms a processing-time timeout that drops
    idle users' state — required for an unbounded continuous run, but
    it keeps an ``availableNow`` drain alive until the timers fire, so
    the default (bounded drain, tests, driver checks) runs without it.
    """
    with_us = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_fn(evict_state),
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if evict_state
            else GroupStateTimeout.NoTimeout
        ),
    )


UPTIME_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("first_ts_us", LongType()),
        StructField("n_beats", LongType()),
        StructField("n_gaps", LongType()),
        StructField("acc_us", LongType()),
    ]
)

UPTIME_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_beats", LongType()),
        StructField("n_gaps", LongType()),
        StructField("covered_us", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def uptime_stream(events: DataFrame, window_us: int) -> DataFrame:
    """Incremental heartbeat-uptime fold keyed by user: state = five
    integers (last/first beat, counts, accumulated covered time
    EXCLUDING the open interval); each emission reports the running
    totals with the open interval's +W added, so update semantics
    keep exactly the batch `events_uptime` integers at drain. Same
    per-user event-time-order contract as `sessionize_stream`."""

    def _fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_ts, first_ts, n_beats, n_gaps, acc = state.get
        else:
            last_ts, first_ts, n_beats, n_gaps, acc = (
                None,
                None,
                0,
                0,
                0,
            )
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us in pdf["ts_us"]:
                ts_us = int(ts_us)
                if last_ts is None:
                    first_ts = ts_us
                else:
                    d = ts_us - last_ts
                    acc += min(d, window_us)
                    if d > window_us:
                        n_gaps += 1
                n_beats += 1
                last_ts = ts_us
        state.update((last_ts, first_ts, n_beats, n_gaps, acc))
        if n_beats:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "n_beats": n_beats,
                        "n_gaps": n_gaps,
                        "covered_us": acc + window_us,
                        "first_us": first_ts,
                        "last_us": last_ts,
                    }
                ]
            )

    with_us = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=UPTIME_OUT_SCHEMA,
        stateStructType=UPTIME_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TW_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_vq", LongType()),
        StructField("n_intervals", LongType()),
        StructField("total_us", LongType()),
        StructField("wsum", LongType()),
    ]
)

TW_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_intervals", LongType()),
        StructField("total_us", LongType()),
        StructField("wsum", LongType()),
    ]
)


def time_weighted_stream(events: DataFrame) -> DataFrame:
    """Incremental time-weight fold keyed by user: each arriving beat
    closes the previous hold interval (dur × held cent value
    accumulates in exact integers), so the update drain's latest row
    carries the same Σ the batch lead-window computes. wsum lives in
    a long — exact to ~10¹⁸ μs·cents per user (≫ any real series);
    the batch twin's decimal(38,0) is the unbounded-scale shape.
    Same per-user event-time-order contract as `sessionize_stream`.
    """

    def _fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_ts, last_vq, n_iv, total, wsum = state.get
        else:
            last_ts, last_vq, n_iv, total, wsum = None, 0, 0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, vq in zip(pdf["ts_us"], pdf["vq"]):
                ts_us, vq = int(ts_us), int(vq)
                if last_ts is not None:
                    dur = ts_us - last_ts
                    n_iv += 1
                    total += dur
                    wsum += dur * last_vq
                last_ts, last_vq = ts_us, vq
        state.update((last_ts, last_vq, n_iv, total, wsum))
        if n_iv:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "n_intervals": n_iv,
                        "total_us": total,
                        "wsum": wsum,
                    }
                ]
            )

    with_us = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("vq"),
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=TW_OUT_SCHEMA,
        stateStructType=TW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the documents parquet."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(sf_dir, "documents.parquet*"))
    )


EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the embeddings parquet —
    extends the streaming tier to the vector table (norm/health
    monitors at ingest)."""
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(sf_dir, "embeddings.parquet*"))
    )


DEDUP_STATE_SCHEMA = StructType([StructField("keeper_id", LongType())])

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _dedup_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-fingerprint state: emit only the first-arriving doc of each
    content group; everything after is a duplicate and is dropped."""
    if state.hasTimedOut:
        state.remove()
        return
    if not state.exists:
        first = None
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            if len(pdf) and (first is None or pdf["doc_id"].iat[0] < first["doc_id"]):
                first = pdf.iloc[0]
        if first is not None:
            state.update((int(first["doc_id"]),))
            yield pd.DataFrame(
                [
                    {
                        "doc_id": int(first["doc_id"]),
                        "lang": first["lang"],
                        "source": first["source"],
                        "n_chars": int(first["n_chars"]),
                    }
                ]
            )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Ingestion-time exact dedup: keep the first-arriving document of
    each normalized-content fingerprint, dropping every later copy —
    the streaming twin of the batch ``dedup_apply``.

    The fingerprint is computed JVM-side (regexp + md5 built-ins)
    before the stateful op, so the shuffle key is a 32-byte digest and
    state is ONE tiny row (the keeper id) per distinct content —
    bounded by unique content, not stream length. Within a micro-batch
    the min doc_id wins (deterministic), so a single-batch drain of a
    static corpus equals the batch keep-min-id dedup exactly; in a
    continuous run "first arrival wins", the standard ingestion-dedup
    contract.
    """
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    with_fp = docs.select(
        "doc_id", "lang", "source", "n_chars", fp.alias("fp")
    )
    return with_fp.groupBy("fp").applyInPandasWithState(
        _dedup_fold,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PACK_STATE_SCHEMA = StructType(
    [StructField("pack_id", LongType()), StructField("acc", LongType())]
)

PACK_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("pack_id", LongType()),
    ]
)


def _make_pack_fold(budget: int):
    def _pack_fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-source-stream state: the open pack (id, accumulated
        tokens) — TWO integers per stream, carried across
        micro-batches so a pack can span a batch boundary exactly as
        the batch recurrence would fill it."""
        if state.hasTimedOut:
            state.remove()
            return
        pid, acc = state.get if state.exists else (0, 0)
        packed = []
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            ids, pid, acc = greedy_pack_ids(pdf["n_tokens"], budget, pid, acc)
            packed.append(pdf.assign(pack_id=ids))
        state.update((pid, acc))
        for pdf in packed:
            if len(pdf):
                yield pdf[PACK_OUT_SCHEMA.fieldNames()]

    return _pack_fold


def pack_stream(docs: DataFrame, budget: int) -> DataFrame:
    """Streaming greedy sequence packing — the batch ``corpus_pack``
    recurrence running AT INGEST: docs append to their source stream's
    open pack; a doc that would overflow the token budget starts the
    next pack. State is two integers per source stream (the open
    pack's id + fill), bounded by stream count, never stream length.

    Token counts are computed JVM-side by the same expression as the
    batch operator (no Python tokenizer drift). For doc_id-contiguous
    arrival per source (the file-ingest order), the drained result
    equals the batch packing exactly — a pack that spans a micro-batch
    boundary is filled, not restarted (asserted in tests).
    """
    from ..functions.text import token_count

    counted = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return counted.groupBy("source").applyInPandasWithState(
        _make_pack_fold(budget),
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ASOF_STATE_SCHEMA = StructType(
    [
        StructField("view_ts_us", LongType()),
        StructField("view_value", DoubleType()),
    ]
)

ASOF_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("click_value", DoubleType()),
        StructField("view_value", DoubleType()),
        StructField("view_ts_us", LongType()),
    ]
)


def _make_asof_fn(evict: bool):
    """Per-user fold: views update the carried (ts, value) state, clicks
    emit enriched with the latest prior-or-equal view."""

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return

        view_ts, view_val = (state.get if state.exists else (None, None))

        rows = []
        for pdf in pdfs:
            # equal timestamps: view before click (ASOF left.ts >=
            # right.ts — same tiebreak as the batch window's
            # (ts, _is_left) order), event_id stabilizes the rest
            pdf = pdf.assign(_c=(pdf["event_type"] == "click")).sort_values(
                ["ts_us", "_c", "event_id"]
            )
            for ev_id, ts_us, etype, value in zip(
                pdf["event_id"], pdf["ts_us"], pdf["event_type"], pdf["value"]
            ):
                ts_us = int(ts_us)
                if etype == "view":
                    view_ts, view_val = ts_us, float(value)
                else:
                    rows.append(
                        {
                            "event_id": int(ev_id),
                            "user_id": user_id,
                            "ts_us": ts_us,
                            "click_value": _round2(value),
                            "view_value": (
                                None if view_ts is None else _round2(view_val)
                            ),
                            "view_ts_us": view_ts,
                        }
                    )

        if view_ts is not None:
            state.update((view_ts, view_val))
        if evict and state.exists:
            state.setTimeoutDuration(24 * 3600 * 1000)  # ms

        if rows:
            out = pd.DataFrame(rows)
            # None view_ts_us must stay a NULL long, not become NaN
            out["view_ts_us"] = pd.array(out["view_ts_us"], dtype="Int64")
            yield out

    return _fn


def asof_enrich_stream(
    events: DataFrame, evict_state: bool = False
) -> DataFrame:
    """Streaming as-of enrichment: each click gets the user's most
    recent prior-or-equal view's (value, ts) — the incremental twin of
    the batch ``events_asof_view`` (operators/asof.py).

    State is ONE row per user (latest view seen), hash-partitioned by
    user_id — constant per key, unlike a stream-stream join's
    watermark-length buffer, because backward as-of only ever needs the
    latest right row. Within each micro-batch rows fold in event-time
    order; across batches the carried state enriches later clicks, so
    on an ``availableNow`` drain of static input the result equals the
    batch as-of join exactly. In a continuous run the enrichment is
    exact for per-user event-time-ordered arrival (the usual log-stream
    contract); an out-of-order view beyond that enriches only
    subsequent clicks — the standard update-mode trade, bounded by the
    source's disorder, while ``evict_state=True`` arms a
    processing-time timeout that drops idle users' state.
    """
    vc = events.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    return vc.groupBy("user_id").applyInPandasWithState(
        _make_asof_fn(evict_state),
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if evict_state
            else GroupStateTimeout.NoTimeout
        ),
    )


def view_click_interval_join(
    events: DataFrame,
    max_gap_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click matched with every view
    by the same user in the preceding ``max_gap_minutes``.

    Both sides carry watermarks and the join condition bounds event
    time on both sides — the combination lets Spark evict join state
    once the watermark passes ``click_ts - max_gap`` (without it,
    stream-stream join state grows forever). Inner-join matches emit
    as soon as both rows arrive, so an ``availableNow`` drain over
    static input equals the batch join exactly.

    Scale: state is hash-partitioned by user_id across executors; the
    watermark bound keeps per-key state to the last 2 hours of views.
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        ),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain all available input through a streaming DataFrame into a
    memory sink and return the sink table (driver/test harness path)."""
    spark = sdf.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ckpt_{name}"
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def latest_sessions(updates: DataFrame) -> DataFrame:
    """Collapse update-mode session rows to the final state per session.

    ``n_events`` only grows within a session, so the row with the max
    event count is the latest update.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id", "session_id")
        .orderBy(F.col("n_events").desc())
    )
    return (
        updates.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


CAP_STATE_SCHEMA = StructType([StructField("seen", LongType())])

CAP_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("rk", LongType()),
        StructField("kept", BooleanType()),
    ]
)


def _make_cap_fold(cap: int):
    def _cap_fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-source admission counter: ONE integer per domain,
        carried across micro-batches so the cap binds on the stream's
        cumulative intake, not per batch."""
        if state.hasTimedOut:
            state.remove()
            return
        source = key[0]
        (seen,) = state.get if state.exists else (0,)
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            for doc_id in pdf["doc_id"]:
                seen += 1
                rows.append((int(doc_id), source, seen, seen <= cap))
        state.update((seen,))
        if rows:
            yield pd.DataFrame(
                rows, columns=["doc_id", "source", "rk", "kept"]
            )

    return _cap_fold


def domain_cap_stream(docs: DataFrame, cap: int) -> DataFrame:
    """Streaming per-source admission cap — crawl governance AT
    INGEST: the first ``cap`` docs of each source stream are admitted,
    later arrivals are marked dropped. State is ONE counter per
    domain, bounded by domain count, never stream length. For
    doc_id-contiguous arrival (the file-ingest order) the drain equals
    the batch first-cap-by-doc_id rule, so the op carries a full SQL
    oracle.
    """
    return (
        docs.select("doc_id", "source")
        .groupBy("source")
        .applyInPandasWithState(
            _make_cap_fold(cap),
            outputStructType=CAP_OUT_SCHEMA,
            stateStructType=CAP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RESERVOIR_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("draws", ArrayType(StringType())),
        StructField("ids", ArrayType(LongType())),
        StructField("langs", ArrayType(StringType())),
        StructField("sources", ArrayType(StringType())),
    ]
)

RESERVOIR_OUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("sample_key", StringType()),
    ]
)


def _make_reservoir_fold(k: int):
    def _fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-shard bottom-k reservoir: keep the k smallest seeded
        draws seen so far — k rows of state per shard, independent of
        stream length, and min-k is a set property, so the reservoir
        is invariant to micro-batch splits AND arrival order (stronger
        than the arrival-order ops)."""
        if state.hasTimedOut:
            state.remove()
            return
        shard = key[0]
        if state.exists:
            seq, draws, ids, langs, sources = state.get
            entries = list(zip(draws, ids, langs, sources))
        else:
            seq, entries = 0, []
        for pdf in pdfs:
            for draw, doc_id, lang, source in zip(
                pdf["sample_key"], pdf["doc_id"], pdf["lang"], pdf["source"]
            ):
                entries.append((draw, int(doc_id), lang, source))
        entries.sort()
        entries = entries[:k]
        seq += 1
        state.update(
            (
                seq,
                [e[0] for e in entries],
                [e[1] for e in entries],
                [e[2] for e in entries],
                [e[3] for e in entries],
            )
        )
        yield pd.DataFrame(
            [
                {
                    "shard": shard,
                    "seq": seq,
                    "doc_id": e[1],
                    "lang": e[2],
                    "source": e[3],
                    "sample_key": e[0],
                }
                for e in entries
            ]
        )

    return _fold


def sample_stream(docs: DataFrame, k: int, n_shards: int = 8) -> DataFrame:
    """Streaming deterministic reservoir (bottom-k sketch): each shard
    keeps the k smallest seeded md5 draws seen so far; the final
    global sample is the k smallest across shards (min-k of min-k's ==
    global min-k since every global winner survives its own shard).

    State is k rows per shard — bounded by k x n_shards, never stream
    length. Emits the full current reservoir each batch tagged with a
    state sequence number; the caller keeps the max-seq emission per
    shard and merges (see plans/streams.py stream_sample_fixed).
    """
    from ..functions.hashing import shuffle_sort_key

    # the draw is computed JVM-side by the SAME expression as the
    # batch sample (no Python hashing twin in the hot path)
    keyed = docs.select(
        "doc_id", "lang", "source",
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        shuffle_sort_key(F.col("doc_id"), "usample").alias("sample_key"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_reservoir_fold(k),
        outputStructType=RESERVOIR_OUT_SCHEMA,
        stateStructType=RESERVOIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_pairs_stream(
    events: DataFrame,
    window_days: int = 7,
    watermark: str = "8 days",
) -> DataFrame:
    """Stream-stream interval join for attribution: each purchase
    matched with every view by the same user in the preceding
    ``window_days`` — the ingest-time form of `events_attribution`'s
    touch pairs.

    Watermarks on both sides + the event-time bound let Spark evict
    view state once the watermark passes ``purchase_ts − window`` —
    per-key state holds the lookback window of views, never the
    stream. Inner matches emit on arrival (append mode), so an
    ``availableNow`` drain equals the batch interval join; the
    first/last/count collapse per purchase is a plain BATCH
    aggregation over the drained pair sink (the sink is a stored
    table — aggregating it is a normal batch job, not driver-side
    state).
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    ).withWatermark("purchase_ts", watermark)
    return buys.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {window_days} DAYS")
        ),
    ).select("purchase_id", "user_id", "purchase_ts", "value", "view_ts")


BOT_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("min_gap", LongType()),
    ]
)

BOT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("span_us", LongType()),
        StructField("min_gap_us", LongType()),
    ]
)


def _bot_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user traffic counters: FOUR integers of state (count,
    first/last event time, min consecutive gap) — bounded by the
    entity count, never stream length. For ts-ordered arrival per
    user the fold's min-gap equals the batch lag-min exactly (each
    batch sorts its slice and the carried last_us stitches the
    boundary pair)."""
    if state.hasTimedOut:
        state.remove()
        return
    user_id = key[0]
    n, first_us, last_us, min_gap = (
        state.get if state.exists else (0, None, None, None)
    )
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts in pdf["ts_us"]:
            ts = int(ts)
            if last_us is not None:
                gap = ts - last_us
                min_gap = gap if min_gap is None else min(min_gap, gap)
            if first_us is None:
                first_us = ts
            last_us = ts
            n += 1
    state.update((n, first_us, last_us, min_gap))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "span_us": (last_us - first_us) if n else 0,
                "min_gap_us": min_gap,
            }
        ]
    )


def bot_counters_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user traffic counters feeding the bot screen —
    update mode emits each user's running totals; the latest emission
    per user equals the batch aggregation on the drained input."""
    base = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return base.groupBy("user_id").applyInPandasWithState(
        _bot_fold,
        outputStructType=BOT_OUT_SCHEMA,
        stateStructType=BOT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)

FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)


def _funnel_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user strict view -> click -> purchase stage machine: THREE
    nullable longs of state (the stage entry times), bounded by the
    entity count. Each stage time is set exactly once — the first
    qualifying event in per-user ts order — so for ts-ordered arrival
    the fold equals the batch conditional-min cascade
    (plans/events.events_funnel): first view = min view ts; first
    click strictly after it = min qualifying click; likewise
    purchase. Emissions are monotone (fields only ever fill in), so
    the post-drain max per user is the final state."""
    if state.hasTimedOut:
        state.remove()
        return
    user_id = key[0]
    t_view, t_click, t_purchase = (
        state.get if state.exists else (None, None, None)
    )
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts, et in zip(pdf["ts_us"], pdf["event_type"]):
            ts = int(ts)
            if et == "view":
                if t_view is None:
                    t_view = ts
            elif et == "click":
                if t_view is not None and ts > t_view and t_click is None:
                    t_click = ts
            elif et == "purchase":
                if (
                    t_click is not None
                    and ts > t_click
                    and t_purchase is None
                ):
                    t_purchase = ts
    state.update((t_view, t_click, t_purchase))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "t_view": t_view,
                "t_click": t_click,
                "t_purchase": t_purchase,
            }
        ]
    )


def funnel_stages_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user funnel stages — update mode emits each
    user's (t_view, t_click, t_purchase) after every micro-batch; the
    latest emission per user equals the batch cascade on the drained
    input."""
    base = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return base.groupBy("user_id").applyInPandasWithState(
        _funnel_fold,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


COHORT_STATE_SCHEMA = StructType(
    [
        StructField("first_day_us", LongType()),
        StructField("last_day_us", LongType()),
    ]
)

COHORT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day_us", LongType()),
        StructField("cohort_day_us", LongType()),
    ]
)


def _cohort_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user activity-day tracker: TWO longs of state (first-seen
    day, last emitted day). Per-user ts-ordered arrival makes the day
    sequence nondecreasing, so a batch emits exactly the user's NEW
    active days — each tagged with the cohort (first) day — and the
    drained pair set equals the batch distinct-(day, user) activity
    joined to first-seen, whatever the micro-batching."""
    if state.hasTimedOut:
        state.remove()
        return
    user_id = key[0]
    first_day, last_day = state.get if state.exists else (None, None)
    out = []
    DAY_US = 86_400_000_000
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts in pdf["ts_us"]:
            day = (int(ts) // DAY_US) * DAY_US
            if first_day is None:
                first_day = day
            if last_day is None or day > last_day:
                out.append(
                    {
                        "user_id": user_id,
                        "day_us": day,
                        "cohort_day_us": first_day,
                    }
                )
                last_day = day
    state.update((first_day, last_day))
    if out:
        yield pd.DataFrame(out)


def cohort_days_stream(events: DataFrame) -> DataFrame:
    """Streaming (user, active day, cohort day) emission — append mode
    (each new active day emits exactly once)."""
    base = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return base.groupBy("user_id").applyInPandasWithState(
        _cohort_fold,
        outputStructType=COHORT_OUT_SCHEMA,
        stateStructType=COHORT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAP_STATE_SCHEMA = StructType([StructField("last_us", LongType())])

GAP_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("gap_us", LongType()),
    ]
)


def _gap_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user inter-event gap emitter: ONE long of state (last event
    time). Each event after the user's first emits its gap exactly
    once (append mode); the carried last_us stitches the micro-batch
    boundary pair, so the drained gap set equals the batch lag-window
    gaps for ts-ordered arrival."""
    if state.hasTimedOut:
        state.remove()
        return
    user_id = key[0]
    (last_us,) = state.get if state.exists else (None,)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts in pdf["ts_us"]:
            ts = int(ts)
            if last_us is not None:
                out.append({"user_id": user_id, "gap_us": ts - last_us})
            last_us = ts
    state.update((last_us,))
    if out:
        yield pd.DataFrame(out)


def gaps_stream(events: DataFrame) -> DataFrame:
    """Streaming (user, gap) emission — append mode."""
    base = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return base.groupBy("user_id").applyInPandasWithState(
        _gap_fold,
        outputStructType=GAP_OUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PATHS_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)

PATHS_OUT_SCHEMA = StructType(
    [
        StructField("src", StringType()),
        StructField("dst", StringType()),
    ]
)


def user_paths_stream(events: DataFrame) -> DataFrame:
    """Incremental behavioral-transition emission keyed by user:
    state = the user's LAST event (3 scalars — never the history);
    each micro-batch emits only the transitions it completes, so the
    drained sink holds every (prev_type → next_type) step exactly
    once under any micro-batch split. Same per-user event-time-order
    contract as ``sessionize_stream``."""

    def _fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = None, None, None
        out_src: list = []
        out_dst: list = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, eid, et in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"]
            ):
                if last_type is not None:
                    out_src.append(last_type)
                    out_dst.append(et)
                last_ts, last_id, last_type = int(ts_us), int(eid), et
        state.update((last_ts, last_id, last_type))
        if out_src:
            yield pd.DataFrame({"src": out_src, "dst": out_dst})

    with_us = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=PATHS_OUT_SCHEMA,
        stateStructType=PATHS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


JOURNEY_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
        StructField("converted", BooleanType()),
    ]
)

JOURNEY_OUT_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
    ]
)


def journey_pairs_stream(events: DataFrame) -> DataFrame:
    """Incremental attribution-journey transitions keyed by user:
    state = the user's last pre-conversion event + a converted flag
    (4 scalars — never the history). 'pair' rows emit each journey
    transition exactly once (START fronts the first event; events
    after the first purchase are skipped — the journey is over);
    one 'last' row per user per batch carries the latest journey
    tail, so the drain can close NON-converting journeys with END
    (the one fact only the end of the stream can decide). Same
    per-user event-time-order contract as ``sessionize_stream``."""

    def _fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts, eid, last, conv = state.get
        else:
            ts, eid, last, conv = None, None, None, False
        uid = int(key[0])
        rows: list = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for t, e, et in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"]
            ):
                if conv:
                    continue
                src = last if last is not None else "START"
                rows.append(
                    ("pair", src, et, uid, int(t), int(e))
                )
                ts, eid, last = int(t), int(e), et
                if et == "purchase":
                    conv = True
        state.update((ts, eid, last, bool(conv)))
        if last is not None:
            rows.append(
                ("last", last, "C" if conv else "N", uid, ts, eid)
            )
        if rows:
            yield pd.DataFrame(
                rows, columns=list(JOURNEY_OUT_SCHEMA.names)
            )

    with_us = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=JOURNEY_OUT_SCHEMA,
        stateStructType=JOURNEY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
