"""Property tests of the greedy packing recurrence
(operators/chunker.greedy_pack_ids) in pure Python — no Spark session.

Every greedy packer (transcript chunks, corpus sequence packs,
multimodal shards, streaming packs) numbers its packs with this one
function, so these invariants cover all of them.
"""

from __future__ import annotations

from hypothesis import given, strategies as st

from llm_map_reduce_summarizer_spark.operators.chunker import greedy_pack_ids

sizes_st = st.lists(st.integers(min_value=0, max_value=60), max_size=40)
budget_st = st.integers(min_value=1, max_value=50)


def _packs(sizes, ids):
    packs: dict[int, list[int]] = {}
    for n, pid in zip(sizes, ids):
        packs.setdefault(pid, []).append(n)
    return packs


@given(sizes_st, budget_st)
def test_ids_contiguous_from_zero(sizes, budget):
    ids, pid, _ = greedy_pack_ids(sizes, budget)
    assert len(ids) == len(sizes)
    if ids:
        assert ids[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
        assert pid == ids[-1]


@given(sizes_st, budget_st)
def test_only_single_item_packs_overflow(sizes, budget):
    ids, _, acc = greedy_pack_ids(sizes, budget)
    packs = _packs(sizes, ids)
    for items in packs.values():
        if sum(items) > budget:
            # zero-size items never close a pack, so they may ride along
            assert len([n for n in items if n > 0]) == 1
    if ids:
        assert acc == sum(packs[ids[-1]])


@given(sizes_st, budget_st)
def test_new_pack_item_would_not_fit_previous(sizes, budget):
    ids, _, _ = greedy_pack_ids(sizes, budget)
    packs = _packs(sizes, ids)
    for i in range(1, len(ids)):
        if ids[i] != ids[i - 1]:
            prev = sum(packs[ids[i - 1]])
            assert prev > 0 and prev + sizes[i] > budget


@given(sizes_st, budget_st, st.data())
def test_split_with_carried_state_equals_one_call(sizes, budget, data):
    cut = data.draw(st.integers(min_value=0, max_value=len(sizes)))
    whole = greedy_pack_ids(sizes, budget)
    head, pid, acc = greedy_pack_ids(sizes[:cut], budget)
    tail, pid, acc = greedy_pack_ids(sizes[cut:], budget, pid, acc)
    assert (head + tail, pid, acc) == whole
