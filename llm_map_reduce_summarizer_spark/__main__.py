"""CLI entry point mirroring the reference's main.py argparse surface.

``python -m llm_map_reduce_summarizer_spark --input transcript.json``
runs the full pipeline — transcript JSON -> preprocess -> same-speaker
merge -> token-budget greedy chunking -> per-chunk map (mock provider
unless an API key is configured) -> direct-or-hierarchical reduce —
and prints/saves the summary plus the reference-shaped report
(main.py:238-258: summary, processing_time, tokens_used, cost,
segments, chunks, provider, model).

Flag set matches reference main.py:406-480: --input/--output/
--provider/--model/--max-tokens-per-chunk/--max-concurrent-requests/
--max-segment-duration/--no-merge/--no-hierarchical/--limit-segments/
--report/--prompt-file/--system-prompt-file/--save-chunks/
--aggregator-prompt-file/--quiet (plus --tokenizer to pick the token
counter backend and --sf-cpus for local parallelism).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import token_count
from .operators.aggregator import (
    hierarchical_reduce,
    reduce_direct,
    with_time_headers,
)
from .operators.chunker import assign_chunks_greedy
from .operators.executor import SparkLLMExecutor, resolve_prompt
from .operators.persist import materialize
from .operators.preprocess import merge_same_speaker, preprocess_segments
from .operators.providers import get_provider, token_rates
from .sources.transcript import read_transcript

CONTEXT_TOKENS = 150  # reserved for chunk context (big_chunkeroosky.py:28)


def _read_prompt_file(path: str | None, what: str) -> str | None:
    """Load an optional prompt file; warn (like the reference's logged
    error, main.py:216) and fall back to the default when unreadable."""
    if not path:
        return None
    try:
        text = Path(path).read_text(encoding="utf-8").strip()
        return text or None
    except OSError as exc:
        print(
            f"warning: failed to load {what} from {path}: {exc}",
            file=sys.stderr,
        )
        return None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="llm_map_reduce_summarizer_spark",
        description="Summarize transcripts with a Spark map-reduce pipeline",
    )
    p.add_argument("--input", "-i", required=True,
                   help="Path/glob of input transcript JSON file(s)")
    p.add_argument("--output", "-o",
                   help="Output summary file (default: print to console)")
    p.add_argument("--provider", choices=["openai", "anthropic"],
                   default="openai", help="LLM provider (default: openai)")
    p.add_argument("--model", help="Model name (default: provider default)")
    p.add_argument("--max-tokens-per-chunk", type=int, default=4000)
    p.add_argument("--max-concurrent-requests", type=int, default=5,
                   help="Per-partition request batch size")
    p.add_argument("--max-requests-per-sec", type=float, default=None,
                   help="Cluster-wide live-API request ceiling (the "
                        "reference's max_concurrent_requests semaphore "
                        "as a rate; default unlimited, mock unaffected)")
    p.add_argument("--max-segment-duration", type=int, default=120)
    p.add_argument("--no-merge", action="store_true",
                   help="Disable same-speaker segment merging")
    p.add_argument("--no-hierarchical", action="store_true",
                   help="Force single-pass (direct) aggregation")
    p.add_argument("--limit-segments", type=int,
                   help="Process only the first N segments per transcript")
    p.add_argument("--report", action="store_true",
                   help="Also write <output>.report.json")
    p.add_argument("--prompt-file", help="Custom map prompt template file")
    p.add_argument("--system-prompt-file", help="System prompt file")
    p.add_argument("--save-chunks",
                   help="Directory to save intermediate chunk summaries (parquet)")
    p.add_argument("--aggregator-prompt-file",
                   help="Custom reduce template file ({summaries} slot), "
                        "applied at the final reduce level")
    p.add_argument("--quiet", "-q", action="store_true")
    p.add_argument("--tokenizer", choices=["regex", "tiktoken", "auto"],
                   default="regex", help="Token counter backend")
    p.add_argument("--sf-cpus", type=int, default=8,
                   help="local[N] parallelism when building the session")
    return p


def _chunk_texts(chunked: DataFrame) -> DataFrame:
    """(doc_id, chunk_id) -> ordered chunk text + stats, one shuffle."""
    pairs = F.collect_list(
        F.struct(F.col("seg_id").alias("o"), F.col("seg_text").alias("t"))
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(F.array_sort(pairs), lambda x: x["t"]), "\n\n"
        ).alias("text"),
        F.sum("n_tokens").alias("token_count"),
        F.min("start").alias("start_time"),
        F.max("end").alias("end_time"),
    )


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Execute the pipeline; returns the reference-shaped report dict."""
    t0 = time.time()
    segments = read_transcript(spark, args.input)
    if args.limit_segments is not None:
        segments = segments.filter(F.col("seg_id") < args.limit_segments)
    # full fidelity: the reference's clean path always removes repeated
    # words (preprocessor.py:84) — the CLI is the parity surface
    pre = preprocess_segments(segments, full_fidelity=True)
    n_segments = pre.count()

    if not args.no_merge:
        merged = merge_same_speaker(
            pre, float(args.max_segment_duration), doc_col="doc_id"
        )
        segs = merged.select(
            "doc_id", F.col("group_id").alias("seg_id"),
            "start", "end", "speaker", "text",
        )
    else:
        segs = pre.select(
            "doc_id", "seg_id", "start", "end", "speaker", "text"
        )

    effective_budget = max(1, args.max_tokens_per_chunk - CONTEXT_TOKENS)
    chunked = assign_chunks_greedy(
        segs, effective_budget, doc_col="doc_id", counter=args.tokenizer
    )
    chunks = _chunk_texts(chunked)

    provider, model, is_mock = get_provider(
        args.provider,
        args.model,
        max_requests_per_sec=args.max_requests_per_sec,
    )
    template = resolve_prompt(prompt_file=args.prompt_file)
    system = _read_prompt_file(args.system_prompt_file, "system prompt")
    aggregator_template = _read_prompt_file(
        args.aggregator_prompt_file, "aggregator prompt"
    )
    executor = SparkLLMExecutor(
        provider=provider,
        prompt_template=template,
        system_prompt=system,
        batch_size=args.max_concurrent_requests,
    )
    summaries = executor.process_chunks(chunks, text_col="text")
    summaries = with_time_headers(summaries).withColumn(
        "completion_tokens", token_count(F.col("summary")).cast("long")
    )
    # one materialization feeds save-chunks, the token/cost report and
    # the reduce (hierarchical_reduce localCheckpoints internally too)
    summaries = summaries.transform(materialize)

    if args.save_chunks:
        summaries.write.mode("overwrite").parquet(args.save_chunks)

    stats = summaries.agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum("token_count").alias("prompt_tokens"),
        F.sum("completion_tokens").alias("completion_tokens"),
    ).first()
    n_chunks = stats["chunks"] or 0
    prompt_toks = stats["prompt_tokens"] or 0
    completion_toks = stats["completion_tokens"] or 0
    prompt_rate, completion_rate = token_rates(model)
    cost = prompt_toks * prompt_rate + completion_toks * completion_rate

    # global reduce order across input files: chunk ids are per-doc, so
    # offset them by a per-file index. One row per input FILE — a tiny
    # driver-side plan step (the reference runs one file per process).
    doc_ids = sorted(
        r["doc_id"] for r in summaries.select("doc_id").distinct().collect()
    )
    if len(doc_ids) > 1:
        idx = {d: i for i, d in enumerate(doc_ids)}
        mapping = F.create_map(
            *[F.lit(x) for kv in idx.items() for x in kv]
        )
        ordered = summaries.select(
            (mapping[F.col("doc_id")].cast("long") * F.lit(1_000_000_000)
             + F.col("chunk_id")).alias("chunk_id"),
            "summary",
        )
    else:
        ordered = summaries.select("chunk_id", "summary")
    if args.no_hierarchical:
        final = reduce_direct(
            ordered, "chunk_id", "summary", template=aggregator_template
        )
    else:
        final = hierarchical_reduce(
            ordered, "chunk_id", "summary", template=aggregator_template
        )
    row = final.select("summary").first()
    summary_text = row["summary"] if row else ""

    return {
        "summary": summary_text,
        "processing_time": time.time() - t0,
        "tokens_used": int(prompt_toks + completion_toks),
        "cost": cost,
        "segments": int(n_segments),
        "chunks": int(n_chunks),
        "provider": args.provider if not is_mock else "mock",
        "model": model,
        "aggregator_prompt_file": args.aggregator_prompt_file,
    }


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .session import get_spark
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(args.sf_cpus))
    spark = get_spark("llm-map-reduce-cli")
    try:
        result = run(spark, args)
    finally:
        spark.stop()

    if not args.quiet:
        print("\n" + "=" * 80)
        print("TRANSCRIPT SUMMARY")
        print("=" * 80 + "\n")
        print(result["summary"])
        print("\n" + "=" * 80)
        print(f"Processing time: {result['processing_time']:.2f} seconds")
        print(f"Tokens used: {result['tokens_used']}")
        print(f"Estimated cost: ${result['cost']:.4f}")
        print("=" * 80 + "\n")

    if args.output:
        out = Path(args.output)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(result["summary"], encoding="utf-8")
        if args.report:
            out.with_suffix(".report.json").write_text(
                json.dumps(result, indent=2), encoding="utf-8"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
