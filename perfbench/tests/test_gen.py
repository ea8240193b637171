import json
import os

import numpy as np

import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_same_seed_same_inputs():
    a, b, c = gen.corpus(7, 20_000), gen.corpus(7, 20_000), gen.corpus(8, 20_000)
    assert all(x.key == y.key and np.array_equal(x.tokens, y.tokens) for x, y in zip(a, b))
    assert any(not np.array_equal(x.tokens, y.tokens) for x, y in zip(a, c))
    assert gen.query_blocks(7, a, 3, 6, 1, 5) == gen.query_blocks(7, b, 3, 6, 1, 5)


def test_corpus_structure():
    docs = gen.corpus(3, 130_000)
    assert 130_000 <= sum(len(d.tokens) for d in docs) < 130_000 + 4096
    flat = np.concatenate([d.tokens for d in docs])
    assert all(8 <= len(d.tokens) <= 4096 for d in docs)
    assert 0.04 < np.mean(flat == gen.NA_SENTINEL) < 0.12
    assert 0 < np.mean(flat > gen.VOCAB) < 0.01
    assert 0.5 < np.mean([d.source == "web" for d in docs]) < 0.75


def test_increments_replace_and_insert_whole_docs():
    base = gen.corpus(5, 60_000)
    incs = gen.increments(5, base, 4, 20_000, 0.3)
    keys = {d.key for d in base}
    n_new = 0
    for inc in incs:
        assert len({d.key for d in inc}) == len(inc)
        size = sum(len(d.tokens) for d in inc)
        assert 20_000 <= size < 20_000 + 4096
        replaced = sum(d.key in keys for d in inc)
        assert 0.1 < replaced / len(inc) < 0.5
        assert {d.source for d in inc} == set(gen.SOURCES)
        keys |= {d.key for d in inc}
        n_new += len(inc) - replaced
    state = gen.apply_increments(base, incs)
    assert len(state) == len(base) + n_new
    last = incs[-1][-1]
    assert np.array_equal(state[last.key], last.tokens)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_query_blocks_have_exact_mix():
    docs = gen.corpus(9, 60_000)
    ids = {d.doc_id: d.source for d in docs}
    for block in gen.query_blocks(9, docs, 5, 6, 1, 20):
        assert sorted(q["kind"] for q in block) == ["drill"] + ["read"] * 6
        for q in block:
            if q["kind"] == "drill":
                assert len(q["doc_ids"]) == 20 and set(q["doc_ids"]) <= set(ids)
            else:
                hit = [d for d, s in ids.items() if s == q["source"] and q["lo"] <= d < q["hi"]]
                assert hit and q["tier"] in ("tier_1h", "tier_1d")
