"""CLI surface: reference main.py flag parity over the Spark pipeline."""

from __future__ import annotations

import json

import pytest

from llm_map_reduce_summarizer_spark.__main__ import build_parser, run


def _write_transcript(tmp_path, name="t.json", n=12):
    segs = []
    for i in range(n):
        segs.append(
            {
                "start": i * 10.0,
                "end": i * 10.0 + 8.0,
                "text": f"sentence number {i} about topic {i % 3}. " * 6,
                "speaker": f"SPEAKER_{i % 2}",
            }
        )
    p = tmp_path / name
    p.write_text(json.dumps({"segments": segs}), encoding="utf-8")
    return str(p)


def test_cli_end_to_end_mock_provider(spark, tmp_path, monkeypatch):
    # keyless env -> deterministic mock provider, like the reference
    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    path = _write_transcript(tmp_path)
    chunks_dir = tmp_path / "chunks"
    args = build_parser().parse_args(
        [
            "--input", path,
            "--max-tokens-per-chunk", "300",
            "--max-segment-duration", "30",
            "--save-chunks", str(chunks_dir),
            "--quiet",
        ]
    )
    result = run(spark, args)
    assert result["provider"] == "mock"
    assert result["segments"] == 12
    assert result["chunks"] >= 1
    assert result["tokens_used"] > 0
    assert 0 < result["cost"] < 1
    assert "[Mock response using" in result["summary"]
    assert "[Time:" in result["summary"]
    saved = spark.read.parquet(str(chunks_dir))
    assert saved.count() == result["chunks"]
    assert "summary" in saved.columns


def test_cli_flag_variants(spark, tmp_path):
    path = _write_transcript(tmp_path)
    base = ["--input", path, "--quiet", "--max-tokens-per-chunk", "300"]
    direct = run(
        spark, build_parser().parse_args(base + ["--no-hierarchical"])
    )
    assert direct["chunks"] >= 1
    nomerge = run(spark, build_parser().parse_args(base + ["--no-merge"]))
    # without merging there are at least as many chunks as with it
    assert nomerge["chunks"] >= direct["chunks"]
    limited = run(
        spark, build_parser().parse_args(base + ["--limit-segments", "4"])
    )
    assert limited["segments"] == 4


def test_cli_multi_file_input_orders_across_files(spark, tmp_path):
    # four files: file index 3 times the 1e9 chunk-id offset overflows
    # a 32-bit int under ANSI mode unless the index is widened first
    for name in ("a.json", "b.json", "c.json", "d.json"):
        _write_transcript(tmp_path, name, n=4)
    args = build_parser().parse_args(
        ["--input", str(tmp_path / "*.json"), "--quiet"]
    )
    result = run(spark, args)
    assert result["segments"] == 16
    assert result["chunks"] >= 4


def test_cli_custom_prompt_file(spark, tmp_path):
    path = _write_transcript(tmp_path)
    prompt = tmp_path / "prompt.txt"
    prompt.write_text("Custom summarize:\n{transcript}", encoding="utf-8")
    args = build_parser().parse_args(
        ["--input", path, "--prompt-file", str(prompt), "--quiet"]
    )
    result = run(spark, args)
    assert result["chunks"] >= 1


def test_cli_requires_input():
    with pytest.raises(SystemExit):
        build_parser().parse_args([])


def test_get_provider_keyless_falls_back_to_mock(monkeypatch):
    from llm_map_reduce_summarizer_spark.operators import providers

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ANTHROPIC_API_KEY", raising=False)
    fn, model, is_mock = providers.get_provider("openai")
    assert is_mock and model == providers.DEFAULT_MODELS["openai"]
    assert "Mock response" in fn(["hello"])[0]
    with pytest.raises(ValueError):
        providers.get_provider("unknown")


def test_provider_adapters_parse_responses(monkeypatch):
    from llm_map_reduce_summarizer_spark.operators import providers

    def fake_post(url, headers, payload, timeout):
        assert payload["messages"][0]["role"] == "user"
        if "openai" in url:
            assert headers["Authorization"].startswith("Bearer ")
            return {"choices": [{"message": {"content": "oai summary"}}]}
        assert headers["x-api-key"] == "k2"
        assert headers["anthropic-version"] == providers.ANTHROPIC_VERSION
        return {"content": [{"type": "text", "text": "ant summary"}]}

    monkeypatch.setattr(providers, "_post_json", fake_post)
    oai = providers.openai_provider("m1", "k1")
    assert oai(["p"]) == ["oai summary"]
    ant = providers.anthropic_provider("m2", "k2")
    assert ant(["p"]) == ["ant summary"]


def test_get_provider_env_keyed(monkeypatch):
    from llm_map_reduce_summarizer_spark.operators import providers

    monkeypatch.setenv("ANTHROPIC_API_KEY", "test-key")
    fn, model, is_mock = providers.get_provider("anthropic", model="m-x")
    assert not is_mock and model == "m-x"


def test_cli_limit_segments_zero_means_zero(spark, tmp_path):
    """--limit-segments 0 is a real limit (reference semantics), not
    falsy no-limit; the pipeline must survive an empty input."""
    path = _write_transcript(tmp_path)
    args = build_parser().parse_args(
        ["--input", path, "--quiet", "--limit-segments", "0"]
    )
    result = run(spark, args)
    assert result["segments"] == 0
    assert result["chunks"] == 0
    assert result["summary"] == ""
    assert result["cost"] == 0


def test_cli_aggregator_prompt_reaches_reduce(spark, tmp_path):
    path = _write_transcript(tmp_path)
    agg = tmp_path / "agg.txt"
    agg.write_text("FINAL CUT:\n{summaries}\nEND", encoding="utf-8")
    base = [
        "--input", path, "--quiet", "--max-tokens-per-chunk", "300",
        "--aggregator-prompt-file", str(agg),
    ]
    for extra in ([], ["--no-hierarchical"]):
        result = run(spark, build_parser().parse_args(base + extra))
        assert result["summary"].startswith("FINAL CUT:\n")
        assert result["summary"].endswith("\nEND")
        # the chunk summaries really land in the {summaries} slot
        assert "[Mock response using" in result["summary"]


def test_cli_warns_on_unreadable_prompt_files(spark, tmp_path, capsys):
    path = _write_transcript(tmp_path)
    args = build_parser().parse_args(
        [
            "--input", path, "--quiet",
            "--system-prompt-file", str(tmp_path / "missing_sys.txt"),
            "--aggregator-prompt-file", str(tmp_path / "missing_agg.txt"),
        ]
    )
    result = run(spark, args)
    err = capsys.readouterr().err
    assert "failed to load system prompt" in err
    assert "failed to load aggregator prompt" in err
    # unreadable files fall back to defaults; the run still completes
    assert result["chunks"] >= 1
    assert "[Mock response using" in result["summary"]


def test_token_rates_reference_tiers():
    """llm_executor.py:310-316: `"gpt-4" in model` selects the GPT-4
    tier; everything else (incl. the gpt-3.5-turbo default) is base."""
    from llm_map_reduce_summarizer_spark.operators.providers import (
        token_rates,
    )

    assert token_rates(None) == (0.000001, 0.000002)
    assert token_rates("gpt-3.5-turbo") == (0.000001, 0.000002)
    assert token_rates("claude-3-5-haiku-latest") == (0.000001, 0.000002)
    for m in ("gpt-4", "gpt-4-turbo", "gpt-4o-mini"):  # substring rule
        assert token_rates(m) == (0.00003, 0.00006)


def test_cli_cost_uses_model_tier(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    path = _write_transcript(tmp_path)
    base = ["--input", path, "--quiet", "--max-tokens-per-chunk", "300"]
    base_run = run(spark, build_parser().parse_args(base))
    gpt4_run = run(
        spark, build_parser().parse_args(base + ["--model", "gpt-4"])
    )
    # token counts differ a little (the mock echoes the model name);
    # both tier rates are exactly 30x base, so the cost ratio must sit
    # right at 30 modulo that small token drift
    assert 25.0 < gpt4_run["cost"] / base_run["cost"] < 35.0


def test_query_runner_lists_and_rejects(capsys):
    """Catalog query runner: no key lists every catalog entry (no Spark
    session involved); an unknown key exits 2 with a message."""
    from llm_map_reduce_summarizer_spark.query import main

    assert main([]) == 0
    listed = capsys.readouterr().out.split()
    assert "corpus_split" in listed and "q1_pricing_summary" in listed
    assert len(listed) >= 100

    assert main(["definitely_not_a_key"]) == 2
    assert "unknown query key" in capsys.readouterr().err
