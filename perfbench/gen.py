"""Seeded input generator for the store-path benchmark.

Writes the F1 token-table shape ``(doc_id string, tokens array<int32>,
n_tok int32, source string)`` as parquet with numpy + pyarrow only.  It is
deliberately independent of ``diive_spark.datagen``: a change to the
program's own generator cannot change what the benchmark feeds it, and the
program sees nothing but the files written here.

Every document is a pure function of ``(seed, stream, index)`` through a
Philox counter-based generator, so the same seed gives the same inputs in
any process.  Injected structure follows FIXTURES.md:

- lengths: lognormal(5.5, 0.8) clipped to [8, 4096] (mean ~330 tokens);
- values: uniform token ids in [0, 50257);
- gaps: runs of 1-12 positions of the -9999 sentinel covering ~8% of
  positions;
- spikes: +10 sigma at ~0.2% of positions;
- sources: 62/18/10/6/4 mix over five sources, "web" hot.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
NA_SENTINEL = -9999
SPIKE = int(10 * VOCAB / np.sqrt(12))  # +10 sigma of U[0, VOCAB)
SOURCES = ("web", "books", "code", "wiki", "forums")
SOURCE_P = np.array([0.62, 0.18, 0.10, 0.06, 0.04])

# Philox stream tags: each input family draws from its own key space, so
# e.g. the merge sequence never shifts when the corpus size changes.
_CORPUS, _INCREMENT, _QUERIES = 1, 2, 3


def _rng(seed: int, stream: int, i: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream * (1 << 40) + i]))


def doc_id(i: int) -> str:
    return f"d{i:07d}"


def make_tokens(rng: np.random.Generator) -> np.ndarray:
    """One document's token array with gap runs and spikes."""
    n = int(np.clip(rng.lognormal(mean=5.5, sigma=0.8), 8, 4096))
    toks = rng.integers(0, VOCAB, size=n, dtype=np.int64)
    toks[rng.random(n) < 0.002] += SPIKE
    starts = np.flatnonzero(rng.random(n) < 0.08 / 6.5)  # mean run 6.5
    for s, ln in zip(starts, rng.integers(1, 13, size=starts.size)):
        toks[s:s + ln] = NA_SENTINEL
    return toks.astype(np.int32)


def _source(rng: np.random.Generator) -> str:
    return SOURCES[int(np.searchsorted(np.cumsum(SOURCE_P), rng.random()))]


@dataclass
class Doc:
    doc_id: str
    source: str
    tokens: np.ndarray

    @property
    def key(self) -> tuple[str, str]:
        return (self.source, self.doc_id)


def corpus(seed: int, n_tokens: int) -> list[Doc]:
    """Docs in id order until their lengths add up to ``n_tokens``, so every
    seed gives the same amount of work."""
    docs, total = [], 0
    while total < n_tokens:
        rng = _rng(seed, _CORPUS, len(docs))
        src = _source(rng)
        docs.append(Doc(doc_id(len(docs)), src, make_tokens(rng)))
        total += len(docs[-1].tokens)
    return docs


def increments(seed: int, base: list[Doc], n_incs: int, n_tokens: int,
               replace_frac: float) -> list[list[Doc]]:
    """A fixed sequence of whole-doc increments of about ``n_tokens`` tokens
    each.  Each doc replaces a stored doc (same key, new tokens) with
    probability ``replace_frac``, else it is a new doc id; the first new docs
    of every increment cover every source once, so every merge touches every
    ``source`` partition."""
    live = [d.key for d in base]
    next_id = max(int(d.doc_id[1:]) for d in base) + 1
    out = []
    for k in range(n_incs):
        rng = _rng(seed, _INCREMENT, k)
        inc, picked, total, n_new = [], set(), 0, 0
        while total < n_tokens:
            drng = _rng(seed, _INCREMENT, (k + 1) << 20 | len(inc))
            if rng.random() < replace_frac and len(picked) < len(live):
                p = int(rng.integers(len(live)))
                while p in picked:
                    p = int(rng.integers(len(live)))
                picked.add(p)
                src, did = live[p]
            else:
                src = SOURCES[n_new] if n_new < len(SOURCES) else _source(drng)
                did, next_id, n_new = doc_id(next_id), next_id + 1, n_new + 1
                live.append((src, did))
                picked.add(len(live) - 1)
            inc.append(Doc(did, src, make_tokens(drng)))
            total += len(inc[-1].tokens)
        out.append(inc)
    return out


def apply_increments(base: list[Doc], incs: list[list[Doc]]) -> dict[tuple[str, str], np.ndarray]:
    """Expected store content after merging ``incs`` in order."""
    state = {d.key: d.tokens for d in base}
    for inc in incs:
        for d in inc:
            state[d.key] = d.tokens
    return state


def query_blocks(seed: int, docs: list[Doc], n_blocks: int, reads: int, drills: int,
                 drill_docs: int) -> list[list[dict]]:
    """Seeded read mix in blocks of exactly ``reads`` rollup reads and
    ``drills`` drill-downs in seeded order.  A rollup read filters one
    source (drawn by the source mix) and a doc-id range of about a quarter
    of that source's docs on tier_1h or tier_1d; a drill-down names
    ``drill_docs`` doc ids."""
    by_src = {s: sorted(d.doc_id for d in docs if d.source == s) for s in SOURCES}
    names = [s for s in SOURCES if by_src[s]]
    p = np.array([SOURCE_P[SOURCES.index(s)] for s in names])
    all_ids = sorted(d.doc_id for d in docs)
    blocks = []
    for b in range(n_blocks):
        rng = _rng(seed, _QUERIES, b)
        block = []
        for kind in rng.permutation(["read"] * reads + ["drill"] * drills):
            if kind == "drill":
                pick = rng.choice(len(all_ids), size=min(drill_docs, len(all_ids)), replace=False)
                block.append({"kind": "drill", "doc_ids": [all_ids[i] for i in sorted(pick)]})
                continue
            src = names[int(rng.choice(len(names), p=p / p.sum()))]
            ids = by_src[src]
            width = max(1, len(ids) // 4)
            lo = int(rng.integers(0, len(ids) - width + 1))
            hi = ids[lo + width] if lo + width < len(ids) else ids[-1] + "~"
            block.append({"kind": "read", "tier": "tier_1h" if rng.random() < 0.5 else "tier_1d",
                          "source": src, "lo": ids[lo], "hi": hi})
        blocks.append(block)
    return blocks


def write_parquet(docs: list[Doc], path: str) -> int:
    """Write docs as one parquet file; returns the token count."""
    toks = [d.tokens for d in docs]
    table = pa.table({
        "doc_id": pa.array([d.doc_id for d in docs], pa.string()),
        "tokens": pa.array(toks, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in toks], pa.int32()),
        "source": pa.array([d.source for d in docs], pa.string()),
    })
    pq.write_table(table, path)
    return int(sum(len(t) for t in toks))
