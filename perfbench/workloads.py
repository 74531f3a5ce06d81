"""The benchmark's workloads.

Each workload generates its own inputs from the seed, runs one *pass*
(input to complete result) on demand, checks outputs outside every
timing, and runs a *traced pass* that times every layer from the
outside: each layer call is wrapped in a span, which tags its Spark jobs
``<workload>:<layer>``, and materializes its output once at its boundary.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from eventlog import TagStats, combine
from harness import Tracer
from llm_map_reduce_summarizer_spark.__main__ import (
    CONTEXT_TOKENS, _chunk_texts, build_parser, run)
from llm_map_reduce_summarizer_spark.functions.text import token_count
from llm_map_reduce_summarizer_spark.operators.aggregator import (
    hierarchical_reduce, with_time_headers)
from llm_map_reduce_summarizer_spark.operators.chunker import assign_chunks_greedy
from llm_map_reduce_summarizer_spark.operators.executor import (
    SparkLLMExecutor, resolve_prompt)
from llm_map_reduce_summarizer_spark.operators.persist import materialize
from llm_map_reduce_summarizer_spark.operators.preprocess import (
    merge_same_speaker, preprocess_segments)
from llm_map_reduce_summarizer_spark.operators.providers import openai_provider
from llm_map_reduce_summarizer_spark.sources.transcript import read_transcript
from stub import LLMStub, reply_for
from tests.oracle_utils import TABLES, compare_frames, duckdb_con

# The repository's fixed sf0.01 test tables (TESTDATA.md: seed 42), copied
# into the benchmark so it reads nothing outside its checkout.
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "data", "sf0.01")

# bench.py's HEADLINE keys, copied so later edits there do not change
# this benchmark: (plan module, key).
CATALOG_KEYS = [
    ("tpch", "q1_pricing_summary"),
    ("tpch", "q3_shipping_priority"),
    ("tpch", "q5_local_supplier"),
    ("tpch", "q6_revenue_forecast"),
    ("tpch", "q18_large_orders"),
    ("tpch", "topk_per_group"),
    ("events", "events_sessionize"),
    ("events", "events_hourly"),
    ("pipeline", "pipeline_e2e"),
    ("pipeline", "reduce_hierarchical"),
    ("documents", "doc_quality"),
    ("documents", "dedup_minhash_lsh"),
    ("documents", "dedup_ngram_jaccard"),
    ("documents", "knn_bruteforce"),
    ("documents", "emb_neardup"),
]
PLAN_MODULES = ["tpch", "events", "pipeline", "documents"]

# The CLI's defaults (``__main__.build_parser``), except the chunk budget:
# --max-tokens-per-chunk 650 (a 500-token budget, not the default 3,850)
# gives a 1,200-segment transcript about ninety chunks, so the map sends
# about a hundred requests per pass while a pass stays a few seconds long.
TRANSCRIPT_SEGMENTS = 1200
# Service delay of the stub: long enough that provider waiting, which the
# box's load does not move, is about half of a pass.
STUB_DELAY_S = 0.040
MAX_TOKENS_PER_CHUNK = 650
MERGE_CAP_S = gen.MERGE_CAP_S  # run()'s --max-segment-duration default
REQUEST_BATCH = 5
CHUNK_BUDGET = max(1, MAX_TOKENS_PER_CHUNK - CONTEXT_TOKENS)

TRANSCRIPT_LAYERS = [
    "sources.transcript", "operators.preprocess.clean",
    "operators.preprocess.merge", "operators.chunker",
    "operators.executor", "operators.aggregator",
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    spec = [
        ("session.get_spark_s", "s", "lower"),
        ("session.datagen_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("sources.transcript.busy_s", "s", "lower"),
        ("sources.transcript.rows_out", "count", "higher"),
        ("operators.preprocess.clean_busy_s", "s", "lower"),
        ("operators.preprocess.merge_busy_s", "s", "lower"),
        ("operators.preprocess.segments_in", "count", "higher"),
        ("operators.preprocess.groups_out", "count", "lower"),
        ("operators.preprocess.merge_task_s_max", "s", "lower"),
        ("operators.chunker.busy_s", "s", "lower"),
        ("operators.chunker.tasks", "count", "higher"),
        ("operators.chunker.task_s_sum", "s", "lower"),
        ("operators.chunker.task_s_max", "s", "lower"),
        ("operators.chunker.chunks_out", "count", "lower"),
        ("operators.chunker.max_chunk_tokens", "count", "lower"),
        ("operators.executor.busy_s", "s", "lower"),
        ("operators.executor.tasks", "count", "higher"),
        ("operators.executor.task_s_max", "s", "lower"),
        ("operators.providers.requests", "count", "lower"),
        ("operators.providers.failed_requests", "count", "lower"),
        ("operators.providers.useful_ratio", "ratio", "higher"),
        ("operators.providers.max_in_flight", "count", "higher"),
        ("operators.providers.mean_in_flight", "count", "higher"),
        ("operators.providers.idle_share", "ratio", "lower"),
        ("operators.aggregator.busy_s", "s", "lower"),
        ("operators.aggregator.levels", "count", "lower"),
        ("operators.aggregator.jobs", "count", "lower"),
        ("main.busy_s", "s", "lower"),
        ("main.jobs", "count", "lower"),
        ("main.stages", "count", "lower"),
        ("main.tasks", "count", "lower"),
    ]
    for mod, key in CATALOG_KEYS:
        spec.append((f"plans.{mod}.{key}.build_s", "s", "lower"))
        spec.append((f"plans.{mod}.{key}.exec_s", "s", "lower"))
    for mod in PLAN_MODULES:
        spec += [
            (f"plans.{mod}.tasks", "count", "higher"),
            (f"plans.{mod}.task_s_sum", "s", "lower"),
            (f"plans.{mod}.task_s_max", "s", "lower"),
            (f"plans.{mod}.shuffle_mb", "MB", "lower"),
            (f"plans.{mod}.spill_mb", "MB", "lower"),
        ]
    spec += [
        ("pass.jobs", "count", "lower"),
        ("pass.stages", "count", "lower"),
        ("pass.single_task_stage_share", "ratio", "lower"),
        ("pass.shuffle_mb", "MB", "lower"),
        ("pass.spill_mb", "MB", "lower"),
        ("pass.cpu_s", "s", "lower"),
        ("trace.untraced_pass_s", "s", "lower"),
        ("trace.traced_pass_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return spec


@dataclass
class CheckResult:
    items: int
    failed: int
    problems: list[str]


def _mb(n_bytes: int) -> float:
    return n_bytes / 2**20


def pass_metrics(stats: TagStats) -> dict[str, float]:
    return {
        "pass.jobs": stats.jobs,
        "pass.stages": stats.stages,
        "pass.single_task_stage_share":
            stats.single_task_stages / stats.stages if stats.stages else 0.0,
        "pass.shuffle_mb": _mb(stats.shuffle_bytes),
        "pass.spill_mb": _mb(stats.spill_bytes),
    }


# ----------------------------------------------------------------------
# llm_map_latency


class LlmMapLatency:
    """One transcript through the layer calls ``__main__.run()`` makes,
    with the map served by the local stub over HTTP. Items are chunks
    summarized."""

    name = "llm_map_latency"

    def __init__(self, seed: int, work_dir: str, cpus: int):
        self.seed = seed
        self.path = os.path.join(work_dir, "transcripts", "t0000.json")
        self.stub = LLMStub(seed, delay_s=STUB_DELAY_S, fail_share=0.02,
                            max_conns=cpus).start()
        self.doc: gen.Transcript | None = None
        self.expected_chunks = 0
        self.reference_summary: str | None = None

    def close(self) -> None:
        self.stub.stop()

    def generate(self) -> dict:
        self.doc = gen.write_transcripts(
            os.path.dirname(self.path), self.seed, 1, TRANSCRIPT_SEGMENTS)[0]
        return {"transcripts": 1, "segments": len(self.doc.segments),
                "blank_segments": len(self.doc.blank_ids),
                "repeated_words": self.doc.repeated_words,
                "oversized_segments": self.doc.oversized,
                "speakers": self.doc.speakers}

    def _executor(self) -> SparkLLMExecutor:
        provider = openai_provider("stub-model", "stub-key", url=self.stub.url,
                                   timeout=30.0)
        return SparkLLMExecutor(provider=provider, prompt_template=resolve_prompt(),
                                batch_size=REQUEST_BATCH)

    def run_pass(self, spark):
        """The layer calls of ``run()`` in its order; returns (cleaned
        segments, chunks, final summary)."""
        self.stub.begin_pass()
        pre = preprocess_segments(read_transcript(spark, self.path),
                                  full_fidelity=True)
        n_segments = pre.count()
        merged = merge_same_speaker(pre, MERGE_CAP_S, doc_col="doc_id")
        segs = merged.select("doc_id", F.col("group_id").alias("seg_id"),
                             "start", "end", "speaker", "text")
        chunked = assign_chunks_greedy(segs, CHUNK_BUDGET, doc_col="doc_id")
        summaries = self._executor().process_chunks(_chunk_texts(chunked),
                                                    text_col="text")
        summaries = with_time_headers(summaries).withColumn(
            "completion_tokens", token_count(F.col("summary")).cast("long")
        ).transform(materialize)
        n_chunks = summaries.agg(F.count(F.lit(1)).alias("chunks")).first()["chunks"]
        # run() orders the reduce by file index * 1e9 + chunk_id when it
        # reads several files; one transcript keeps chunk_id
        n_docs = len(summaries.select("doc_id").distinct().collect())
        if n_docs != 1:
            raise RuntimeError(f"expected one transcript, got {n_docs}")
        final = hierarchical_reduce(summaries.select("chunk_id", "summary"),
                                    "chunk_id", "summary")
        return n_segments, n_chunks, final.select("summary").first()["summary"]

    def items(self) -> int:
        return self.expected_chunks

    def verify(self, result) -> tuple[int, int]:
        """(items, failed items) of a pass, judged against the warm-up pass."""
        items = self.expected_chunks
        if isinstance(result, Exception):
            return items, items
        ok = result == (len(self.doc.cleaned_ids), self.expected_chunks,
                        self.reference_summary)
        return items, 0 if ok else items

    def problems(self, result) -> list[str]:
        if self.verify(result)[1] == 0:
            return []
        if isinstance(result, Exception):
            return [repr(result)]
        return [f"pass returned {result[:2]} segments/chunks, or another summary"]

    def layered_pass(self, spark, tracer) -> dict:
        """``run_pass`` with each layer materialized at its boundary
        inside its own span; returns the layers' outputs."""
        out = {}
        with tracer.span("sources.transcript"):
            out["segments"] = read_transcript(spark, self.path).transform(materialize)
        with tracer.span("operators.preprocess.clean"):
            out["pre"] = preprocess_segments(
                out["segments"], full_fidelity=True).transform(materialize)
        with tracer.span("operators.preprocess.merge"):
            out["merged"] = merge_same_speaker(
                out["pre"], MERGE_CAP_S, doc_col="doc_id").transform(materialize)
        with tracer.span("operators.chunker"):
            segs = out["merged"].select(
                "doc_id", F.col("group_id").alias("seg_id"),
                "start", "end", "speaker", "text")
            out["chunked"] = assign_chunks_greedy(
                segs, CHUNK_BUDGET, doc_col="doc_id").transform(materialize)
            out["chunks"] = _chunk_texts(out["chunked"]).transform(materialize)
        self.stub.begin_pass()
        with tracer.span("operators.executor"):
            out["mapped"] = self._executor().process_chunks(
                out["chunks"], text_col="text").transform(materialize)
        out["stub"] = self.stub.snapshot()
        with tracer.span("operators.aggregator"):
            summaries = with_time_headers(out["mapped"]).withColumn(
                "completion_tokens", token_count(F.col("summary")).cast("long")
            ).transform(materialize)
            row = hierarchical_reduce(
                summaries.select("chunk_id", "summary"), "chunk_id", "summary"
            ).first()
        out["summary"], out["levels"] = row["summary"], row["levels"]
        return out

    def warm_up(self, spark):
        """The set-up's pass: a layered pass, so that every layer's output
        can be checked afterwards; an exception is returned, not raised."""
        try:
            return self.layered_pass(
                spark, Tracer(spark.sparkContext, f"{self.name}-warmup"))
        except Exception as exc:  # noqa: BLE001 - counted by check()
            return exc

    def check(self, spark, out) -> CheckResult:
        """Check every layer output of the warm-up pass; its chunk count
        and final summary are what every later pass must return."""
        if isinstance(out, Exception):
            return CheckResult(1, 1, [f"warm-up pass: {out!r}"])
        spark.sparkContext.setJobDescription(f"{self.name}:check")
        n_raw, n_clean = out["segments"].count(), out["pre"].count()
        groups = sorted(
            (r["group_id"], r["n_segments"])
            for r in out["merged"].select("group_id", "n_segments").collect())
        rows = out["chunked"].select("seg_id", "chunk_id", "n_tokens").collect()
        mapped = out["mapped"].select("chunk_id", "text", "summary").collect()
        spark.sparkContext.setJobDescription(None)

        problems: list[str] = []
        if n_raw != len(self.doc.segments) or n_clean != len(self.doc.cleaned_ids):
            problems.append(f"segments: read {n_raw}, cleaned {n_clean}")
        # every cleaned segment lands in exactly one merged group ...
        cleaned, pos = self.doc.cleaned_ids, 0
        for gid, n in groups:
            if pos >= len(cleaned) or cleaned[pos] != gid:
                problems.append(f"group {gid} does not start at segment {pos}")
                break
            pos += n
        if pos != len(cleaned):
            problems.append(f"groups cover {pos} of {len(cleaned)} segments")
        # ... and every group in exactly one chunk
        if sorted(r["seg_id"] for r in rows) != [g for g, _ in groups]:
            problems.append("chunk rows are not the merged groups, once each")
        tokens: dict[int, list[int]] = {}
        for r in rows:
            tokens.setdefault(r["chunk_id"], []).append(r["n_tokens"])
        if sorted(tokens) != list(range(len(tokens))) or len(tokens) != len(mapped):
            problems.append(f"chunk ids not 0..{len(tokens) - 1} or not all mapped")
        over = {c for c, t in tokens.items() if len(t) > 1 and sum(t) > CHUNK_BUDGET}
        if over:
            problems.append(f"{len(over)} multi-segment chunks over {CHUNK_BUDGET} tokens")
        template = resolve_prompt()
        wrong = {r["chunk_id"] for r in mapped
                 if r["summary"] != reply_for(template.format(transcript=r["text"]))}
        if wrong:
            problems.append(f"{len(wrong)} summaries differ from the stub's reply")
        if not out["summary"]:
            problems.append("empty final summary")
        items = max(len(mapped), 1)
        failed = len(over | wrong) if problems else 0
        if problems and not failed:  # a check that cannot name its items
            failed = items
        self.expected_chunks = len(mapped)
        self.reference_summary = out["summary"]
        return CheckResult(items, min(failed, items), problems)

    def traced_pass(self, spark, tracer) -> dict:
        with tracer.span("pass"):
            out = self.layered_pass(spark, tracer)
        spark.sparkContext.setJobDescription(f"{self.name}:check")
        chunk_tokens = [r[1] for r in out["chunked"].groupBy("chunk_id")
                        .sum("n_tokens").collect()]
        counts = {
            "sources.transcript.rows_out": out["segments"].count(),
            "operators.preprocess.segments_in": out["pre"].count(),
            "operators.preprocess.groups_out": out["merged"].count(),
            "operators.chunker.chunks_out": len(chunk_tokens),
            "operators.chunker.max_chunk_tokens": max(chunk_tokens, default=0),
            "operators.aggregator.levels": out["levels"],
        }
        spark.sparkContext.setJobDescription(None)
        stub = out["stub"]
        window = tracer.duration("operators.executor")
        counts.update({
            "operators.providers.requests": stub["requests"],
            "operators.providers.failed_requests": stub["failed_requests"],
            "operators.providers.useful_ratio":
                len(chunk_tokens) / stub["requests"] if stub["requests"] else 0.0,
            "operators.providers.max_in_flight": stub["max_in_flight"],
            "operators.providers.mean_in_flight": stub["busy_integral_s"] / window,
            "operators.providers.idle_share": stub["idle_s"] / window,
        })
        # the ``main`` layer: one run() on the same transcript, keyless mock
        args = build_parser().parse_args([
            "--input", self.path, "--quiet",
            "--max-tokens-per-chunk", str(MAX_TOKENS_PER_CHUNK)])
        with tracer.span("main"):
            report = run(spark, args)
        if report["segments"] != len(self.doc.cleaned_ids) or not report["summary"]:
            raise RuntimeError(f"run() reported {report['segments']} segments")
        return counts

    def layer_metrics(self, tracer, stats: dict[str, TagStats]) -> dict:
        def tag(layer: str) -> str:
            return f"{self.name}:{layer}"

        merge = combine(stats, [tag("operators.preprocess.merge")])
        chunker = combine(stats, [tag("operators.chunker")])
        executor = combine(stats, [tag("operators.executor")])
        main = combine(stats, [tag("main")])
        return {
            "sources.transcript.busy_s": tracer.duration("sources.transcript"),
            "operators.preprocess.clean_busy_s":
                tracer.duration("operators.preprocess.clean"),
            "operators.preprocess.merge_busy_s":
                tracer.duration("operators.preprocess.merge"),
            "operators.preprocess.merge_task_s_max": merge.task_s_max,
            "operators.chunker.busy_s": tracer.duration("operators.chunker"),
            "operators.chunker.tasks": chunker.tasks,
            "operators.chunker.task_s_sum": chunker.task_s_sum,
            "operators.chunker.task_s_max": chunker.task_s_max,
            "operators.executor.busy_s": tracer.duration("operators.executor"),
            "operators.executor.tasks": executor.tasks,
            "operators.executor.task_s_max": executor.task_s_max,
            "operators.aggregator.busy_s": tracer.duration("operators.aggregator"),
            "operators.aggregator.jobs":
                combine(stats, [tag("operators.aggregator")]).jobs,
            "main.busy_s": tracer.duration("main"),
            "main.jobs": main.jobs,
            "main.stages": main.stages,
            "main.tasks": main.tasks,
            **pass_metrics(
                combine(stats, [tag(n) for n in ["pass", *TRANSCRIPT_LAYERS]])),
        }


# ----------------------------------------------------------------------
# catalog_headline


class CatalogHeadline:
    """The 15 headline catalog keys on the repository's fixed sf0.01
    tables: each key built with its plan function and its rows collected
    to the driver, where every pass's rows are compared with the key's
    DuckDB twin. The tables do not depend on the seed. Items are keys."""

    name = "catalog_headline"

    def __init__(self, seed: int, work_dir: str, cpus: int):
        self.data_dir = CATALOG_DIR
        self.queries, self.oracle_sql = {}, {}
        for mod, key in CATALOG_KEYS:
            m = importlib.import_module(f"llm_map_reduce_summarizer_spark.plans.{mod}")
            self.queries[key], self.oracle_sql[key] = m.QUERIES[key], m.ORACLE[key]
        self.expected: dict[str, pd.DataFrame] = {}

    def close(self) -> None:
        pass

    def generate(self) -> dict:
        rows = {t: pq.read_metadata(os.path.join(self.data_dir, f"{t}.parquet")).num_rows
                for t in TABLES}
        return {"tables": "sf0.01", "keys": len(CATALOG_KEYS), "rows": rows}

    def run_pass(self, spark) -> dict[str, pd.DataFrame]:
        return {key: self.queries[key](spark, self.data_dir).toPandas()
                for _mod, key in CATALOG_KEYS}

    def items(self) -> int:
        return len(CATALOG_KEYS)

    def _oracle(self) -> dict[str, pd.DataFrame]:
        """Each key's rows from its DuckDB twin on the same tables,
        computed once, after the timed passes."""
        if not self.expected:
            con = duckdb_con(self.data_dir)
            try:
                self.expected = {k: con.execute(self.oracle_sql[k]).df()
                                 for _m, k in CATALOG_KEYS}
            finally:
                con.close()
        return self.expected

    def _diffs(self, result) -> dict[str, list[str]]:
        """Keys whose rows differ from their DuckDB twin's, with how."""
        out = {}
        for _mod, key in CATALOG_KEYS:
            got, want = result[key], self._oracle()[key]
            diffs = (["no rows on either side"] if len(got) == len(want) == 0
                     else compare_frames(got, want))
            if diffs:
                out[key] = diffs
        return out

    def verify(self, result) -> tuple[int, int]:
        """(keys, keys whose rows differ from the DuckDB twin's)."""
        n = len(CATALOG_KEYS)
        return n, n if isinstance(result, Exception) else len(self._diffs(result))

    def problems(self, result) -> list[str]:
        if isinstance(result, Exception):
            return [repr(result)]
        return [f"{k}: {d}" for k, ds in self._diffs(result).items() for d in ds]

    def warm_up(self, spark):
        """The set-up's pass; an exception is returned, not raised."""
        try:
            return self.run_pass(spark)
        except Exception as exc:  # noqa: BLE001 - counted by check()
            return exc

    def check(self, spark, result) -> CheckResult:
        """The warm-up pass's rows against the DuckDB twins."""
        items, failed = self.verify(result)
        return CheckResult(items, failed, self.problems(result))

    def traced_pass(self, spark, tracer) -> dict:
        with tracer.span("pass"):
            for mod, key in CATALOG_KEYS:
                with tracer.span(f"plans.{mod}.{key}.build"):
                    df = self.queries[key](spark, self.data_dir)
                with tracer.span(f"plans.{mod}.{key}.exec"):
                    df.toPandas()
        return {}

    def layer_metrics(self, tracer, stats: dict[str, TagStats]) -> dict:
        out = {}
        tags = [f"{self.name}:pass"]
        for mod, key in CATALOG_KEYS:
            for phase in ("build", "exec"):
                name = f"plans.{mod}.{key}.{phase}"
                out[f"{name}_s"] = tracer.duration(name)
                tags.append(f"{self.name}:{name}")
        for mod in PLAN_MODULES:
            s = combine(stats, [t for t in tags if t.startswith(f"{self.name}:plans.{mod}.")])
            out.update({
                f"plans.{mod}.tasks": s.tasks,
                f"plans.{mod}.task_s_sum": s.task_s_sum,
                f"plans.{mod}.task_s_max": s.task_s_max,
                f"plans.{mod}.shuffle_mb": _mb(s.shuffle_bytes),
                f"plans.{mod}.spill_mb": _mb(s.spill_bytes),
            })
        out.update(pass_metrics(combine(stats, tags)))
        return out


WORKLOADS = {w.name: w for w in (LlmMapLatency, CatalogHeadline)}
