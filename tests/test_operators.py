"""Unit semantics per operator (SURVEY.md §5.2) — mirrors the
reference's test focus: aggregation structure, batching decisions,
chunk budget discipline, and the approximate paths' relation to their
exact baselines."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from llm_map_reduce_summarizer_spark.operators.aggregator import (
    hierarchical_reduce,
    reduce_level,
)
from llm_map_reduce_summarizer_spark.operators.chunker import (
    assign_chunks,
    assign_chunks_greedy,
    split_oversized,
)
from llm_map_reduce_summarizer_spark.operators.multimodal import (
    decode_batch,
    decode_image,
    fake_decode,
    frame_sample,
)
from llm_map_reduce_summarizer_spark.operators.preprocess import (
    merge_same_speaker,
    preprocess_segments,
)
from llm_map_reduce_summarizer_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)
from llm_map_reduce_summarizer_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _segments(spark, rows):
    return spark.createDataFrame(
        rows, "seg_id long, start double, end double, speaker string, text string"
    )


def test_merge_caps_duration(spark):
    # one speaker, 5 x 60s segments -> 120s cap means groups of 2
    rows = [(i, i * 60.0, (i + 1) * 60.0, "A", f"seg {i}") for i in range(5)]
    merged = merge_same_speaker(
        preprocess_segments(_segments(spark, rows)), max_duration=120.0
    )
    out = merged.orderBy("group_id").toPandas()
    assert list(out["n_segments"]) == [2, 2, 1]
    assert all(out["end"] - out["start"] <= 120.0)


def test_merge_breaks_on_speaker_change(spark):
    rows = [
        (0, 0.0, 10.0, "A", "a1"),
        (1, 10.0, 20.0, "A", "a2"),
        (2, 20.0, 30.0, "B", "b1"),
        (3, 30.0, 40.0, "A", "a3"),
    ]
    merged = merge_same_speaker(preprocess_segments(_segments(spark, rows)))
    out = merged.orderBy("group_id").toPandas()
    assert list(out["speaker"]) == ["A", "B", "A"]
    assert list(out["n_segments"]) == [2, 1, 1]
    # multi-segment group text carries per-part '[MM:SS]' timestamps
    assert out["text"][0].startswith("[00:00] a1 [00:10] a2")


def test_chunk_budget_respected(spark):
    rows = [
        (i, i * 10.0, (i + 1) * 10.0, "A", "word " * 40) for i in range(20)
    ]
    chunked = assign_chunks(
        preprocess_segments(_segments(spark, rows)), max_tokens_per_chunk=200
    )
    sums = (
        chunked.groupBy("chunk_id")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .toPandas()
    )
    # prefix-sum bucketing: every chunk stays within budget + one
    # segment overshoot (same rule as the reference's greedy loop)
    assert (sums["tot"] <= 200 + sums["mx"]).all()
    assert chunked.select("chunk_id").distinct().count() > 1


def test_greedy_chunker_reset_semantics(spark):
    rows = [
        (0, 0.0, 1.0, "A", "w " * 120),
        (1, 1.0, 2.0, "A", "w " * 120),
        (2, 2.0, 3.0, "A", "w " * 120),
        (3, 3.0, 4.0, "A", "w " * 400),  # oversized: own chunk
        (4, 4.0, 5.0, "A", "w " * 120),
    ]
    out = (
        assign_chunks_greedy(
            preprocess_segments(_segments(spark, rows)),
            max_tokens_per_chunk=300,
        )
        .orderBy("seg_id")
        .toPandas()
    )
    # greedy packs 0,1 (fits), resets at 2, oversized 3 gets own chunk
    assert list(out["chunk_id"]) == [0, 0, 1, 2, 3]


def test_split_oversized_on_sentence_boundaries(spark):
    rows = [
        (
            0,
            0.0,
            90.0,
            "A",
            "One two three four. Five six seven eight! Nine ten eleven.",
        ),
        (1, 90.0, 95.0, "A", "short stays whole"),
    ]
    out = (
        split_oversized(_segments(spark, rows), max_words=4)
        .orderBy("seg_id", "part_idx")
        .toPandas()
    )
    small = out[out["seg_id"] == 1]
    assert list(small["part_idx"]) == [0]
    assert small["text"].iloc[0] == "short stays whole"
    parts = out[out["seg_id"] == 0]
    # each sentence fits the 4-word budget alone, so one part per
    # sentence (packing never crosses a sentence that would overflow)
    assert list(parts["text"]) == [
        "One two three four.",
        "Five six seven eight!",
        "Nine ten eleven.",
    ]
    # char-proportional timestamps: monotone, inside the segment range
    assert parts["part_start"].is_monotonic_increasing
    assert parts["part_start"].iloc[0] == 0.0
    assert (parts["part_end"] <= 90.0).all()
    assert (parts["part_start"] < parts["part_end"]).all()


def test_split_oversized_word_windows_long_sentence(spark):
    # a 9-word "sentence" with no punctuation: the reference's
    # long-sentence fallback slices word windows of the budget size
    rows = [(0, 0.0, 9.0, "A", "a b c d e f g h i")]
    out = (
        split_oversized(_segments(spark, rows), max_words=4)
        .orderBy("part_idx")
        .toPandas()
    )
    assert list(out["text"]) == ["a b c d", "e f g h", "i"]
    assert list(out["n_words"]) == [4, 4, 1]


def test_reduce_level_orders_and_batches(spark):
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(25)], "chunk_id long, summary string"
    )
    lvl = reduce_level(df, batch_size=10).orderBy("chunk_id").toPandas()
    assert len(lvl) == 3  # ceil(25/10) batches, like the reference cap
    assert list(lvl["n_parts"]) == [10, 10, 5]
    # order-stable join: batch 0 must list s0..s9 in ascending order
    assert lvl["summary"][0].index("s0\n\ns1") < lvl["summary"][0].index("s9")


def test_reduce_auto_branches_on_token_volume(spark):
    from llm_map_reduce_summarizer_spark.operators.aggregator import (
        reduce_auto,
    )

    df = spark.createDataFrame(
        [(i, f"s{i}", 100) for i in range(30)],
        "chunk_id long, summary string, tok long",
    )
    small = reduce_auto(df, "tok", batch_budget=5000).toPandas()
    assert list(small["mode"]) == ["direct"]
    assert small["n_parts"][0] == 30
    big = reduce_auto(df, "tok", batch_budget=1000, batch_size=10).toPandas()
    assert list(big["mode"]) == ["hierarchical"]
    assert big["n_parts"][0] == 3  # 30 summaries / batches of 10


def test_dynamic_batch_size_reference_rule():
    from llm_map_reduce_summarizer_spark.operators.aggregator import (
        dynamic_batch_size,
    )

    # (budget - 1000 reserved) / avg tokens, clamped to [1, 10]
    assert dynamic_batch_size(total_tokens=5000, n_summaries=100, budget=2000) == 10
    assert dynamic_batch_size(total_tokens=5000, n_summaries=10, budget=2500) == 3
    assert dynamic_batch_size(total_tokens=9000, n_summaries=3, budget=1100) == 1
    assert dynamic_batch_size(total_tokens=0, n_summaries=0, budget=4000) == 1


def test_hierarchical_reduce_log_depth(spark):
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(101)], "chunk_id long, summary string"
    )
    out = hierarchical_reduce(df, batch_size=10).toPandas()
    assert len(out) == 1
    assert out["levels"][0] == 3  # 101 -> 11 -> 2 -> 1
    assert out["summary"][0].startswith("# Transcript Summary")


def test_lsh_topk_consistent_with_exact_scores(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, k=500).toPandas()
    approx = cosine_topk_lsh(q, e, k=3).toPandas()
    assert len(approx) > 0
    # LSH scores must agree with the exact computation pair-for-pair
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for r in approx.itertuples():
        assert exact_cos[(r.query_id, r.neighbor_id)] == r.cos
    # within each query the bucket-local ranking is ordered by cos desc
    for _, grp in approx.sort_values(["query_id", "rk"]).groupby("query_id"):
        assert (grp["cos"].diff().dropna() <= 0).all()


def test_ivf_topk_recall_vs_bruteforce(spark):
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, k=5).toPandas()
    ivf = cosine_topk_ivf(q, e, k=5, n_centroids=16, nprobe=4).toPandas()
    assert len(ivf) > 0
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    ivf_pairs = set(zip(ivf["query_id"], ivf["neighbor_id"]))
    # probing 4/16 lists must still find a meaningful share of the true
    # top-5 (deterministic data+quantizer -> stable number)
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3
    # scores agree with the exact computation pair-for-pair
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for r in ivf.itertuples():
        pair = (r.query_id, r.neighbor_id)
        if pair in exact_cos:
            assert exact_cos[pair] == r.cos


def test_ivf_trained_recall_and_determinism(spark):
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_topk_ivf_trained,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, k=5).toPandas()
    tr = cosine_topk_ivf_trained(q, e, k=5, n_centroids=16, nprobe=4).toPandas()
    assert len(tr) > 0
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    tr_pairs = set(zip(tr["query_id"], tr["neighbor_id"]))
    # isotropic random embeddings are IVF's worst case; trained
    # spherical k-means at nprobe=4/16 still finds half the true top-5
    recall = len(tr_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.45
    # scores agree with the exact computation pair-for-pair
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for r in tr.itertuples():
        pair = (r.query_id, r.neighbor_id)
        if pair in exact_cos:
            assert exact_cos[pair] == r.cos
    # seeded training -> repeat run returns the identical result set
    tr2 = cosine_topk_ivf_trained(q, e, k=5, n_centroids=16, nprobe=4).toPandas()
    assert tr_pairs == set(zip(tr2["query_id"], tr2["neighbor_id"]))


def test_pq_adc_and_rerank_recall(spark):
    """PQ tiers vs brute force: raw 32-bit ADC codes on isotropic
    random vectors (the adversarial case — nothing for the quantizer
    to exploit) keep only a modest share of the true top-5; the
    shortlist+exact-re-rank production shape must recover most of it,
    and re-ranked scores must equal the exact cosine pair-for-pair."""
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_topk_pq,
        cosine_topk_pq_rerank,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, k=5).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))

    adc = cosine_topk_pq(q, e, k=5).toPandas()
    assert len(adc) == len(exact)
    adc_recall = (
        len(set(zip(adc["query_id"], adc["neighbor_id"])) & exact_pairs)
        / len(exact_pairs)
    )
    assert adc_recall >= 0.15  # measured 0.22 on the deterministic data

    rr = cosine_topk_pq_rerank(q, e, k=5, shortlist=50).toPandas()
    rr_pairs = set(zip(rr["query_id"], rr["neighbor_id"]))
    rr_recall = len(rr_pairs & exact_pairs) / len(exact_pairs)
    assert rr_recall >= 0.8  # measured 0.88; re-rank must beat raw ADC
    assert rr_recall > adc_recall
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for r in rr.itertuples():
        pair = (r.query_id, r.neighbor_id)
        if pair in exact_cos:
            assert exact_cos[pair] == r.cos


def test_pq_encode_deterministic_and_bounded(spark):
    """The ADC result is invariant to input partitioning (codebook and
    argmin are batch-independent), and every ADC distance is within
    [0, 4] — the unit-sphere diameter squared."""
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_topk_pq,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    one = cosine_topk_pq(q, e, k=5).toPandas().sort_values(
        ["query_id", "rk"]
    ).reset_index(drop=True)
    other = (
        cosine_topk_pq(q, e.repartition(13), k=5)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(one, other)
    assert (one["adc"] >= 0).all() and (one["adc"] <= 4.0 + 1e-9).all()


def test_asof_join_backward_semantics(spark):
    from llm_map_reduce_summarizer_spark.operators.asof import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")],
        "k long, ts long, lval string",
    )
    right = spark.createDataFrame(
        [(1, 8, 0.8), (1, 20, 2.0), (2, 9, 9.0)],
        "k long, ts long, rval double",
    )
    out = (
        asof_join_backward(left, right, on="k", ts_col="ts", pick={"rv": "rval"})
        .orderBy("k", "ts")
        .toPandas()
    )
    # l1@10 sees r@8; l2@20 sees the EQUAL-ts r@20 (asof convention
    # left.ts >= right.ts); l3@5 has no prior right row -> NULL
    assert list(out["lval"]) == ["l1", "l2", "l3"]
    assert out["rv"][0] == 0.8 and out["rv"][1] == 2.0
    assert out["rv"].isna()[2]


def test_distributed_prefix_scan_matches_window(spark):
    from pyspark.sql.window import Window

    from llm_map_reduce_summarizer_spark.operators.scan import with_prefix_sums

    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).alias("v"),
        (F.col("id") % 3).cast("string").alias("s"),
    )
    scanned = with_prefix_sums(df, "k", {"cum_prev": "v"})
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    expected = df.withColumn(
        "cum_prev", F.coalesce(F.sum("v").over(w), F.lit(0).cast("long"))
    )
    assert (
        scanned.select("k", "cum_prev").exceptAll(
            expected.select("k", "cum_prev")
        ).count()
        == 0
    )


def test_scan_plan_has_no_single_partition_window(spark):
    from llm_map_reduce_summarizer_spark.operators.scan import with_prefix_sums

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    scanned = with_prefix_sums(df, "k", {"cum_prev": "v"})
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scanned.explain(mode="formatted")
    plan = buf.getvalue()
    # the bulk data goes through a RANGE exchange (parallel scan), and
    # any empty-partition-spec window runs only on the tiny per-pid
    # offsets relation, never on the row data (guarded by row counts in
    # the companion correctness test)
    assert "rangepartitioning" in plan.lower()


def test_resolve_prompt_priority(tmp_path):
    from llm_map_reduce_summarizer_spark.operators.executor import (
        DEFAULT_PROMPT,
        resolve_prompt,
    )

    f = tmp_path / "tpl.txt"
    f.write_text("From file: {transcript}")
    assert resolve_prompt("explicit {transcript}", str(f)) == (
        "explicit {transcript}"
    )
    assert resolve_prompt(None, str(f)) == "From file: {transcript}"
    assert resolve_prompt(None, str(tmp_path / "missing.txt")) == DEFAULT_PROMPT
    assert resolve_prompt(None, None) == DEFAULT_PROMPT


def test_prompt_pack_loads_and_formats(spark):
    import os

    from llm_map_reduce_summarizer_spark.operators.executor import (
        SparkLLMExecutor,
        resolve_prompt,
    )

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "prompts")
    tpl = resolve_prompt(None, os.path.join(root, "meeting_prompt.txt"))
    system = resolve_prompt(None, os.path.join(root, "meeting_system.txt"))
    assert "{transcript}" in tpl and "summaries" not in tpl
    assert system and "{" not in system

    chunks = spark.createDataFrame([(0, "hello")], "chunk_id long, text string")
    seen: list[str] = []

    def capture(prompts):
        seen.extend(prompts)
        return ["ok"] * len(prompts)

    SparkLLMExecutor(
        provider=capture, prompt_template=tpl, system_prompt=system
    ).process_chunks(chunks).collect()
    # provider runs on executors; capture only observes locally when
    # Spark runs in-process, so assert via the deterministic format
    formatted = (system + "\n\n") + tpl.format(transcript="hello")
    assert "{transcript}" not in formatted and "hello" in formatted


def test_executor_retries_then_error_sentinel(spark):
    from llm_map_reduce_summarizer_spark.operators.executor import (
        SparkLLMExecutor,
    )

    chunks = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "chunk_id long, text string"
    )

    def flaky(prompts):
        # fails on every call: retries exhaust -> error sentinel rows
        raise RuntimeError("provider down")

    out = (
        SparkLLMExecutor(provider=flaky, retry_attempts=2)
        .process_chunks(chunks)
        .orderBy("chunk_id")
        .toPandas()
    )
    assert all(s.startswith("[Error processing chunk:") for s in out["summary"])

    ok = (
        SparkLLMExecutor()  # default mock provider
        .process_chunks(chunks)
        .orderBy("chunk_id")
        .toPandas()
    )
    assert all(s.startswith("[Mock response") for s in ok["summary"])


def test_fake_decode_deterministic():
    meta = fake_decode(b"hello world")
    assert meta == {
        "n_bytes": 11,
        "format": "webp",
        "width": 64 + 11,
        "height": 64 + (11 * 31) % 991,
        "mean_byte": pytest.approx(101.4545, abs=1e-4),
        "n_frames": 1 + 11 % 7,
    }


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")


def test_decode_batch_and_frame_sample(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [b"abc", b"0123456789"]})
    )
    decoded = decode_batch(docs)
    out = decoded.orderBy("doc_id").toPandas()
    assert list(out["n_bytes"]) == [3, 10]
    assert list(out["format"]) == ["jpeg", "png"]
    frames = frame_sample(decoded, every_nth=2).orderBy("doc_id").toPandas()
    # n_frames = 1 + n % 7 -> doc1: 4 frames sampled @2 = idx 0,2
    assert list(frames[frames["doc_id"] == 1]["frame_idx"]) == [0, 2]


def test_decode_batch_empty_and_multibyte_payloads(spark):
    """r7 certificate edges: an EMPTY payload must decode to n=0 /
    mean 0 (the mean_in_range invariant's zero branch), and a
    multibyte UTF-8 payload must count BYTES, not characters (the
    oracle reproduces dims from octet_length)."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "payload": [b"", "héllo".encode("utf-8")],
            }
        )
    )
    out = decode_batch(docs).orderBy("doc_id").toPandas()
    assert list(out["n_bytes"]) == [0, 6]  # é is 2 bytes
    assert out.loc[0, "mean_byte"] == 0.0
    assert 0.0 < out.loc[1, "mean_byte"] <= 255.0
    assert list(out["width"]) == [64, 64 + 6]
    assert list(out["n_frames"]) == [1, 7]


def test_ivf_trained_certificate_on_tied_corpus(spark, tmp_path):
    """r7 certificate edge: an all-identical-vector corpus ties every
    cosine at 1.0 — the trained probe must still emit exactly K ranked
    hits per query with both invariants TRUE (id tie-break keeps the
    structure deterministic; equal scores satisfy the per-rank
    bound)."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.plans.documents import (
        DIM,
        KNN_K,
        N_QUERY_VECS,
        knn_ivf_trained,
    )

    vec = np.full((40, DIM), 0.1)
    sf_dir = _write_emb_corpus(tmp_path, vec)
    out = knn_ivf_trained(spark, sf_dir).toPandas()
    assert len(out) == N_QUERY_VECS * KNN_K
    assert sorted(out["rk"].unique()) == list(range(1, KNN_K + 1))
    assert out["cos_le_exact"].all()
    assert out["recall_ok"].all()


def test_stop_shingle_df_cap_kills_boilerplate_explosion(spark):
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        doc_shingles,
        drop_stop_shingles,
        minhash_lsh_pairs,
    )

    # 40 docs sharing one boilerplate sentence + unique tails; docs 0/1
    # are true near-duplicates of each other.
    boiler = "all rights reserved contact us for details"
    uniq = [f"document number {i} talks about topic {i * 7} alone" for i in range(40)]
    uniq[1] = uniq[0] + " extra"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(40)), "text": [f"{boiler} {u}" for u in uniq]}
        )
    )

    sh = doc_shingles(docs)
    capped = drop_stop_shingles(sh, df_cap=20)
    # every boilerplate-only shingle (present in all 40 docs) is gone
    assert capped.groupBy("s").count().agg(F.max("count")).first()[0] <= 20

    pairs = minhash_lsh_pairs(docs, threshold=0.5, df_cap=20).toPandas()
    # only the genuine near-dup pair survives; without the cap the
    # boilerplate shingles alone would make ALL 780 pairs candidates
    assert set(zip(pairs["da"], pairs["db"])) == {(0, 1)}


def test_incremental_dedup_verdict_tiers(spark):
    """All three verdicts on a constructed ingest: an exact copy of an
    existing doc (modulo whitespace/case normalization), a near-dup
    sharing most shingles, and a fresh doc. Exact precedence beats
    near (an exact copy is also a near-dup candidate)."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    existing = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": [base, "completely different content about spark engines"],
                "lang": ["en", "en"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "The  quick brown fox jumps over the lazy dog near the river bank today",
                    base + " extra tail words appended here",
                    "an entirely novel document with unique vocabulary throughout",
                ],
                "lang": ["en", "en", "en"],
            }
        )
    )
    out = (
        incremental_dedup_verdicts(batch, existing, threshold=0.5, df_cap=None)
        .toPandas()
        .set_index("doc_id")["verdict"]
    )
    assert out[1] == "dup_exact"
    assert out[2] == "dup_near"
    assert out[3] == "keep"


def test_token_counter_backends(spark):
    from llm_map_reduce_summarizer_spark.functions.tokenize import (
        HAS_TIKTOKEN,
        token_count_column,
        tiktoken_count,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["hello world", "a b c d", ""]})
    )
    regex_counts = df.select(
        token_count_column(F.col("text"), "regex").alias("n")
    ).toPandas()["n"]
    assert list(regex_counts) == [2, 4, 0]

    if HAS_TIKTOKEN:
        tk = df.select(
            token_count_column(F.col("text"), "tiktoken").alias("n")
        ).toPandas()["n"]
        assert (tk > 0).iloc[:2].all()
        # auto prefers tiktoken when installed
        auto = df.select(
            token_count_column(F.col("text"), "auto").alias("n")
        ).toPandas()["n"]
        assert list(auto) == list(tk)
    else:
        # explicit tiktoken request must fail loudly, never downgrade
        with pytest.raises(NotImplementedError):
            tiktoken_count(F.col("text"))
        # auto falls back to the regex counter
        auto = df.select(
            token_count_column(F.col("text"), "auto").alias("n")
        ).toPandas()["n"]
        assert list(auto) == list(regex_counts)
    with pytest.raises(ValueError):
        token_count_column(F.col("text"), "bogus")


def test_greedy_chunker_accepts_counter_backend(spark):
    rows = [
        (0, 0.0, 1.0, "A", "w " * 120),
        (1, 1.0, 2.0, "A", "w " * 120),
        (2, 2.0, 3.0, "A", "w " * 120),
    ]
    out = (
        assign_chunks_greedy(
            preprocess_segments(_segments(spark, rows)),
            max_tokens_per_chunk=300,
            counter="auto",
        )
        .orderBy("seg_id")
        .toPandas()
    )
    assert len(out) == 3


@pytest.mark.parametrize(
    "domain", ["meeting", "academic", "accessibility", "analytical", "video_editor"]
)
def test_prompt_pack_domains_complete(domain):
    import os

    from llm_map_reduce_summarizer_spark.operators.executor import resolve_prompt

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "prompts")
    tpl = resolve_prompt(None, os.path.join(root, f"{domain}_prompt.txt"))
    system = resolve_prompt(None, os.path.join(root, f"{domain}_system.txt"))
    assert "{transcript}" in tpl
    assert system and "{transcript}" not in system
    agg_path = os.path.join(root, f"{domain}_aggregator.txt")
    if os.path.exists(agg_path):
        assert "{summaries}" in resolve_prompt(None, agg_path)


def test_seg_clean_full_removes_repeated_words(spark):
    from llm_map_reduce_summarizer_spark.plans.pipeline import seg_clean_full

    df = seg_clean_full(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    # direct rule check on a known repeated-word input
    src = spark.createDataFrame(
        [(0, 0.0, 5.0, "A", "the the quick brown brown brown fox")],
        "seg_id long, start double, end double, speaker string, text string",
    )
    out = preprocess_segments(src, full_fidelity=True).first()["text"]
    assert out == "the quick brown fox"


def test_simhash_max_hamming_guard(spark):
    """The 4x16-bit banding is only lossless to Hamming 3; larger
    bounds must be rejected, not silently lose recall."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    for bad in (4, 64, -1):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_pairs(docs, max_hamming=bad)
    # the boundary value still runs
    assert simhash_pairs(docs, max_hamming=3).count() == 1


def test_catalog_ivf_trained_recall_pinned(spark):
    """Operator + catalog guard for the trained-IVF tier: the raw
    operator must keep recall@5 >= 0.5 vs the exact scan on the seeded
    corpus, and the r7 certificate entry (knn_ivf_trained now emits
    per-rank optimality + recall-floor booleans with a full hash
    oracle) must report every invariant TRUE."""
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_topk_blocked,
        cosine_topk_ivf_trained,
    )
    from llm_map_reduce_summarizer_spark.plans.documents import (
        IVF_CENTROIDS,
        KNN_K,
        N_QUERY_VECS,
        _embs,
        knn_ivf_trained,
    )

    e = _embs(spark, SF)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = cosine_topk_blocked(q, e, k=KNN_K).toPandas()
    trained = cosine_topk_ivf_trained(
        q, e, k=KNN_K, n_centroids=IVF_CENTROIDS, nprobe=4
    ).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    trained_pairs = set(zip(trained["query_id"], trained["neighbor_id"]))
    assert len(trained_pairs & exact_pairs) / len(exact_pairs) >= 0.5

    cert = knn_ivf_trained(spark, SF).toPandas()
    assert len(cert) == N_QUERY_VECS * KNN_K
    assert cert["cos_le_exact"].all()
    assert cert["recall_ok"].all()


def test_connected_components_semantics(spark):
    """Chain + separate pair + self-contained triangle: every node must
    label with its component's min id, across multi-hop links."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (forces >1 propagation round), pair 10-11,
        # triangle 20-21-22
        [(2, 3), (1, 2), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "da long, db long",
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_local_matches_distributed(spark):
    """The driver union-find fast path (edge list under
    LOCAL_COMPONENTS_CONF) must compute the identical labeling the
    distributed loop does — same fixpoint, different executor."""
    import random

    from llm_map_reduce_summarizer_spark.operators.dedup import (
        LOCAL_COMPONENTS_CONF,
        connected_components,
    )

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(300), rng.randrange(300)) for _ in range(500)]
        + [(i, i + 1) for i in range(1000, 1050)],  # a chain, forcing depth
        "da long, db long",
    )
    try:
        spark.conf.set(LOCAL_COMPONENTS_CONF, "0")  # force distributed
        dist = sorted(map(tuple, connected_components(edges).collect()))
        spark.conf.set(LOCAL_COMPONENTS_CONF, "1000000")  # force local
        loc = sorted(map(tuple, connected_components(edges).collect()))
    finally:
        spark.conf.unset(LOCAL_COMPONENTS_CONF)
    assert dist == loc and len(loc) > 0


def test_covariance_cells_match_numpy(spark):
    """covariance_cells must equal numpy's population covariance of the
    collected embedding matrix (same quantization applied)."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.operators.similarity import (
        _quantize_np,
        covariance_cells,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    m = np.stack(
        e.select("embedding").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    expect = _quantize_np(np.cov(m, rowvar=False, bias=True))

    cells = covariance_cells(e).collect()
    d = m.shape[1]
    assert len(cells) == d * (d + 1) // 2
    for r in cells:
        assert r["cov"] == expect[r["i"], r["j"]], (r["i"], r["j"])


def _write_emb_corpus(tmp_path, mat):
    """Write a synthetic embeddings.parquet (float32, the testdata
    schema) and return the dir usable as sf_dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    mat = np.asarray(mat, dtype="float32")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(mat)), type=pa.int64()),
            "embedding": pa.array(
                [list(map(float, r)) for r in mat],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(mat), type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def _pca_cert_numpy_twin(mat):
    """Exact-integer numpy twin of emb_pca_project's centered_sq_q."""
    import numpy as np

    x = np.asarray(mat, dtype="float32").astype("float64")
    # int64 first (micro-units fit easily), THEN object so the
    # squaring runs on python ints — float64 objects would round
    xq = np.floor(x * 1e6 + 0.5).astype("int64").astype(object)
    n = len(x)
    s = xq.sum(axis=0)
    return [int(((row * n - s) ** 2).sum()) for row in xq]


@pytest.mark.parametrize(
    "case",
    ["single", "identical", "random", "axis_aligned"],
)
def test_emb_pca_project_certificate_on_degenerate_corpora(
    spark, tmp_path, case
):
    """The r7 PCA certificate must hold beyond the driver testdata:
    centered_sq_q equals the exact-integer numpy twin digit for digit
    and every bound invariant is TRUE — including the degenerate
    corpora (one vector; all-identical vectors -> zero covariance;
    variance concentrated on one axis)."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.plans.documents import (
        DIM,
        emb_pca_project,
    )

    rng = np.random.default_rng(7)
    if case == "single":
        mat = rng.normal(0, 0.3, (1, DIM))
    elif case == "identical":
        mat = np.tile(rng.normal(0, 0.3, (1, DIM)), (6, 1))
    elif case == "random":
        mat = rng.normal(0, 0.3, (40, DIM))
    else:  # axis_aligned: all variance on coordinate 0
        mat = np.zeros((12, DIM))
        mat[:, 0] = np.linspace(-0.5, 0.5, 12)
    sf_dir = _write_emb_corpus(tmp_path, mat)
    out = (
        emb_pca_project(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(out) == len(mat)
    assert out["contraction_ok"].all(), case
    assert out["parseval_ok"].all(), case
    assert out["orthonormal_ok"].all(), case
    want = _pca_cert_numpy_twin(np.asarray(mat, dtype="float32"))
    assert list(out["centered_sq_q"]) == [str(w) for w in want], case


def test_pca_project_matches_numpy_and_decorrelates(spark):
    """The distributed projection must equal the driver-side numpy
    projection exactly, explained-variance shares must be descending,
    and the projected components must be (near-)decorrelated."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.operators.similarity import (
        _quantize_np,
        pca_project,
        pca_projection_matrix,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    k = 4
    comps, explained = pca_projection_matrix(e, n_components=k)
    assert comps.shape[0] == k
    assert all(
        explained[i] >= explained[i + 1] - 1e-12 for i in range(k - 1)
    )
    # sign fix: largest-|.| coordinate of each component is positive
    for c in comps:
        assert c[np.abs(c).argmax()] > 0

    pdf = e.select("vec_id", "embedding").toPandas()
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mu = m.mean(axis=0)
    expect = {
        int(v): row
        for v, row in zip(pdf["vec_id"], _quantize_np((m - mu) @ comps.T))
    }

    got = pca_project(e, n_components=k).collect()
    assert len(got) == len(expect)
    for r in got:
        assert np.allclose(r["components"], expect[r["vec_id"]], atol=1e-9)

    # decorrelation: off-diagonal covariance of the projected data is
    # ~0 relative to the leading variances
    proj = np.stack([np.asarray(r["components"]) for r in got])
    pc = np.cov(proj, rowvar=False, bias=True)
    off = pc - np.diag(np.diag(pc))
    assert np.abs(off).max() < 1e-4 * np.abs(np.diag(pc)).max()


def test_multimodal_resize_and_features_numpy_pinned(spark):
    """resize_batch geometry + resampled mean and payload_byte_features
    histograms must equal a pure-numpy recomputation on the same
    payloads (the parts DuckDB cannot express)."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.operators.multimodal import (
        fake_decode,
        payload_byte_features,
        resize_batch,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    d = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .withColumn("payload", F.encode(F.col("text"), "UTF-8"))
        .limit(50)
    )
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in d.select("doc_id", "payload").collect()
    }

    for r in resize_batch(d, box=128).collect():
        p = payloads[r["doc_id"]]
        meta = fake_decode(p)
        w, h = meta["width"], meta["height"]
        assert (r["width"], r["height"]) == (w, h)
        longest = max(w, h)
        if longest <= 128:
            assert (r["out_width"], r["out_height"]) == (w, h)
        else:
            assert r["out_width"] == w * 128 // longest
            assert r["out_height"] == h * 128 // longest
        arr = np.frombuffer(p, dtype=np.uint8)
        stride = max(1, len(arr) // max(1, r["out_width"] * r["out_height"]))
        assert r["resized_mean"] == float(arr[::stride].mean())

    for r in payload_byte_features(d).collect():
        arr = np.frombuffer(payloads[r["doc_id"]], dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16)[:16]
        expect = np.floor(hist / max(1, len(arr)) * 1e6 + 0.5) / 1e6
        assert np.array_equal(np.asarray(r["features"]), expect)


def test_knn_graph_recall_vs_exact(spark):
    """The adaptive-bucket corpus k-NN graph must (a) find a meaningful
    share of the TRUE top-k edges (LSH recall floor on isotropic random
    vectors — the adversarial case), and (b) score every edge it emits
    with the exact cosine, with ranks consistent per source."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_knn_graph,
    )

    e = load_table(spark, SF, "embeddings")
    got = cosine_knn_graph(e, k=3).toPandas()
    pdf = e.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    u = m / np.sqrt((m * m).sum(axis=1))[:, None]
    sims = np.floor(u @ u.T * 1e6 + 0.5) / 1e6
    np.fill_diagonal(sims, -np.inf)

    exact_edges = set()
    by_id = {}
    for i in range(len(ids)):
        order = np.lexsort((ids, -sims[i]))[:3]
        exact_edges.update((ids[i], ids[j]) for j in order)
        by_id[ids[i]] = {ids[j]: sims[i][j] for j in range(len(ids))}

    got_edges = set(zip(got["da"], got["db"]))
    recall = len(got_edges & exact_edges) / len(exact_edges)
    # Isotropic random vectors are LSH's adversarial case: a true
    # top-3 edge here has cos ~0.4 -> per-plane agreement p ~0.63 ->
    # p^8 ~2.5% per band, 1-(1-p^8)^4 ~10% for the 4-band union
    # (measured 6.7-7.5%; single-band measured 2.1%). Clustered real
    # embeddings (high within-cluster cos) do far better at the same
    # setting — same caveat as knn_ivf_trained.
    assert recall >= 0.05, recall

    # every emitted edge carries the exact quantized cosine
    for r in got.itertuples():
        assert abs(by_id[r.da][r.db] - r.cos) < 1e-9, (r.da, r.db)
    # ranks are 1..k_i with non-increasing cosine per source
    for _, grp in got.sort_values(["da", "rk"]).groupby("da"):
        assert list(grp["rk"]) == list(range(1, len(grp) + 1))
        assert (grp["cos"].diff().dropna() <= 1e-12).all()


def test_connected_components_long_chain_converges(spark):
    """Pointer halving is what makes components O(log diameter): a
    200-edge path graph converges inside the 64-round cap (plain
    neighbor propagation would need ~200 rounds and raise), and every
    node labels to the chain minimum."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "da long, db long"
    )
    out = connected_components(edges).toPandas()
    assert len(out) == n + 1
    assert (out["component"] == 0).all()


def test_knn_graph_invariant_to_input_partitioning(spark):
    """The graph operator's result must be a pure function of the data
    — identical under any input partitioning (bucket-local dgemm plus
    quantized scoring can't be allowed to leak partition layout)."""
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        cosine_knn_graph,
    )

    e = load_table(spark, SF, "embeddings")
    base = (
        cosine_knn_graph(e, k=3)
        .toPandas()
        .sort_values(["da", "rk"])
        .reset_index(drop=True)
    )
    shuffled = (
        cosine_knn_graph(e.repartition(7), k=3)
        .toPandas()
        .sort_values(["da", "rk"])
        .reset_index(drop=True)
    )
    assert base.equals(shuffled)


def test_grouped_map_batched_matches_apply_in_pandas(spark):
    """The batch-dispatched grouped map must produce exactly the rows
    groupBy().applyInPandas() produces — including groups that straddle
    Arrow batch boundaries (forced tiny maxRecordsPerBatch)."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.operators.grouped import (
        grouped_map_batched,
    )

    df = spark.range(0, 997).selectExpr(
        "id", "id % 37 AS g", "id % 5 AS h", "cast(id AS double) * 1.5 AS x"
    )

    def summarize(key, pdf):
        g, h = key
        return pd.DataFrame(
            {
                "g": [g],
                "h": [h],
                "n": [len(pdf)],
                "sx": [float(pdf["x"].sum())],
            }
        )

    schema = "g long, h long, n long, sx double"
    expect = (
        df.groupBy("g", "h")
        .applyInPandas(summarize, schema=schema)
        .toPandas()
        .sort_values(["g", "h"])
        .reset_index(drop=True)
    )
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = (
            grouped_map_batched(
                df, ["g", "h"], summarize, schema, with_key=True
            )
            .toPandas()
            .sort_values(["g", "h"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    pd.testing.assert_frame_equal(got, expect)


def test_grouped_map_batched_null_group_key(spark):
    """A NULL group key must behave exactly as under applyInPandas:
    one group (SQL groupBy treats NULL as a key value), never split
    across Arrow batches (the tail-carry mask must match NULL
    null-safely) and never dropped (pandas groupby dropna)."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.operators.grouped import (
        grouped_map_batched,
    )

    # ~1/3 of rows in one NULL-keyed group, forced to straddle batches
    df = spark.range(0, 200).selectExpr(
        "id",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 4 END AS g",
        "cast(id AS double) AS x",
    )

    def summarize(key, pdf):
        (g,) = key
        return pd.DataFrame(
            {
                "g": [None if pd.isna(g) else g],
                "n": [len(pdf)],
                "sx": [float(pdf["x"].sum())],
            }
        )

    schema = "g long, n long, sx double"
    expect = (
        df.groupBy("g")
        .applyInPandas(summarize, schema=schema)
        .toPandas()
        .sort_values("g", na_position="first")
        .reset_index(drop=True)
    )
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = (
            grouped_map_batched(df, ["g"], summarize, schema, with_key=True)
            .toPandas()
            .sort_values("g", na_position="first")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    pd.testing.assert_frame_equal(got, expect)
