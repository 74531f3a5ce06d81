"""Tests of the benchmark's own parts: input generators, the LLM stub,
the event-log reducer, spans and the metric list in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading
import urllib.error
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
from harness import Tracer  # noqa: E402
from stub import LLMStub, fails_first, reply_for  # noqa: E402


# -- transcript generator ------------------------------------------------

def test_transcript_is_a_function_of_its_seed():
    a = gen.make_transcript("t0000", 7, 3000)
    b = gen.make_transcript("t0000", 7, 3000)
    c = gen.make_transcript("t0000", 8, 3000)
    assert a.segments == b.segments and a.blank_ids == b.blank_ids
    assert a.segments != c.segments


def test_transcript_has_the_properties_the_checks_rely_on():
    tr = gen.make_transcript("t0000", 3, 4000)
    segs = tr.segments
    assert len(segs) == 4000
    assert 2 <= tr.speakers <= 6
    assert len({s["speaker"] for s in segs}) == tr.speakers
    runs, n, span = [], 1, segs[0]["end"] - segs[0]["start"]
    spans = []
    for prev, cur in zip(segs, segs[1:]):
        if cur["speaker"] == prev["speaker"]:
            n += 1
            span += cur["end"] - cur["start"]
        else:
            runs.append(n)
            spans.append(span)
            n, span = 1, cur["end"] - cur["start"]
    assert max(runs) <= 10
    assert max(spans) > 2 * gen.MERGE_CAP_S  # runs the merge cap must split
    assert 0.005 < len(tr.blank_ids) / len(segs) < 0.02
    assert all(not segs[i]["text"].strip() for i in tr.blank_ids)
    assert 0.05 < tr.repeated_words / len(segs) < 0.15
    assert tr.oversized == 2
    assert max(len(s["text"].split()) for s in segs) > 600
    assert tr.cleaned_ids == [i for i, s in enumerate(segs) if s["text"].strip()]


# -- LLM stub --------------------------------------------------------------

def _post(url: str, prompt: str):
    req = urllib.request.Request(
        url, method="POST", headers={"Content-Type": "application/json"},
        data=json.dumps({"model": "m", "messages": [
            {"role": "user", "content": prompt}]}).encode())
    with urllib.request.urlopen(req, timeout=10) as resp:
        return json.loads(resp.read())["choices"][0]["message"]["content"]


def test_stub_replies_and_failures_are_seeded():
    assert reply_for("abc") == reply_for("abc") != reply_for("abd")
    prompts = [f"prompt {i}" for i in range(5000)]
    chosen = [p for p in prompts if fails_first(1, p, 0.02)]
    assert chosen == [p for p in prompts if fails_first(1, p, 0.02)]
    assert chosen != [p for p in prompts if fails_first(2, p, 0.02)]
    assert 0.01 < len(chosen) / len(prompts) < 0.03


def test_stub_fails_a_chosen_prompt_once_per_pass():
    stub = LLMStub(seed=1, delay_s=0.0, fail_share=0.02, max_conns=2).start()
    try:
        bad = next(f"p{i}" for i in range(10_000) if fails_first(1, f"p{i}", 0.02))
        good = next(f"p{i}" for i in range(10_000) if not fails_first(1, f"p{i}", 0.02))
        assert _post(stub.url, good) == reply_for(good)
        with pytest.raises(urllib.error.HTTPError) as err:
            _post(stub.url, bad)
        assert err.value.code == 500
        assert _post(stub.url, bad) == reply_for(bad)
        snap = stub.snapshot()
        assert (snap["requests"], snap["failed_requests"]) == (3, 1)
        stub.begin_pass()
        with pytest.raises(urllib.error.HTTPError):
            _post(stub.url, bad)
        assert stub.snapshot()["requests"] == 1
    finally:
        stub.stop()


def test_stub_serves_at_most_max_conns_at_once():
    stub = LLMStub(seed=1, delay_s=0.05, fail_share=0.0, max_conns=2).start()
    try:
        threads = [threading.Thread(target=_post, args=(stub.url, f"q{i}"))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        snap = stub.snapshot()
        assert snap["requests"] == 8
        assert snap["max_in_flight"] == 2
    finally:
        stub.stop()


def test_program_openai_provider_speaks_to_the_stub():
    from llm_map_reduce_summarizer_spark.operators.providers import openai_provider

    stub = LLMStub(seed=1, delay_s=0.0, fail_share=0.0).start()
    try:
        call = openai_provider("stub-model", "key", url=stub.url, timeout=10)
        assert call(["one", "two"]) == [reply_for("one"), reply_for("two")]
    finally:
        stub.stop()


# -- event log ---------------------------------------------------------------

def test_reducer_gives_known_numbers_on_a_captured_log():
    stats = eventlog.reduce_log(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    assert set(stats) == {"demo:count", "demo:agg"}
    count, agg = stats["demo:count"], stats["demo:agg"]
    assert (count.jobs, count.stages, count.single_task_stages, count.tasks) == (2, 2, 1, 3)
    assert count.task_s_sum == pytest.approx(0.650)
    assert count.task_s_max == pytest.approx(0.276)
    assert (count.shuffle_bytes, count.spill_bytes) == (118, 0)
    assert (agg.jobs, agg.stages, agg.single_task_stages, agg.tasks) == (2, 2, 1, 3)
    assert agg.task_s_sum == pytest.approx(0.338)
    assert agg.task_s_max == pytest.approx(0.151)
    assert agg.shuffle_bytes == 343
    both = eventlog.combine(stats, ["demo:count", "demo:agg", "absent"])
    assert (both.jobs, both.tasks, both.shuffle_bytes) == (4, 6, 461)
    assert both.task_s_max == pytest.approx(0.276)


def test_rolling_log_directory_is_read_in_index_order(tmp_path):
    lines = open(os.path.join(HERE, "data", "eventlog_small.jsonl")).readlines()
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    (log / "events_2_app").write_text("".join(lines[20:]))
    (log / "events_10_app").write_text("")
    (log / "events_1_app").write_text("".join(lines[:20]))
    (log / "appstatus_app").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(log)
    assert eventlog.reduce_log(str(log))["demo:agg"].tasks == 3


# -- spans -------------------------------------------------------------------

class _FakeContext:
    def __init__(self):
        self.tags = []

    def setJobDescription(self, value):  # noqa: N802 - Spark's name
        self.tags.append(value)


def test_spans_tag_jobs_and_give_self_time(tmp_path):
    sc = _FakeContext()
    tr = Tracer(sc, "wl")
    with tr.span("pass"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    assert sc.tags == ["wl:pass", "wl:a", "wl:pass", "wl:b", "wl:pass", None]
    outer = tr.spans[0]
    kids = sum(s["end"] - s["start"] for s in tr.spans[1:])
    assert tr.self_time(0) == pytest.approx(outer["end"] - outer["start"] - kids)
    tr.write(str(tmp_path / "spans.json"))
    written = json.loads((tmp_path / "spans.json").read_text())
    assert [(s["name"], s["parent"]) for s in written] == [
        ("pass", None), ("a", "pass"), ("b", "pass")]


# -- BENCHMARK.json ------------------------------------------------------------

def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        workloads.per_layer_spec()
