"""Seeded inputs: the document corpus and the query-term draws.

The corpus mimics the shape of the engine's `documents` test table
(5,000 docs, ~55 tokens each over a 30-word vocabulary) so per-op costs
sit where the engine's own fixtures put them, but it is generated from
the seed inside the checkout. Two vocabulary bands give the posting-list
spread the search path depends on: every COMMON word lands in roughly
3,900 docs, every RARE word in exactly RARE_DF docs. Band sizes and
frequencies do not depend on the seed, so two seeds cost the same work.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

COMMON = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch", "index", "cache",
)
RARE = ("dup", "skew", "spill", "retry", "stale", "orphan", "quorum",
        "lease")
N_DOCS = 5000
RARE_DF = 120
LANGS = ("en", "de", "fr")


def documents(seed: int) -> dict[str, list]:
    """Columns of the `documents` table for `seed`."""
    rng = random.Random(seed)
    texts = [[rng.choice(COMMON) for _ in range(rng.randint(20, 90))]
             for _ in range(N_DOCS)]
    for word in RARE:
        for d in rng.sample(range(N_DOCS), RARE_DF):
            toks = texts[d]
            toks.insert(rng.randrange(len(toks) + 1), word)
    text = [" ".join(t) for t in texts]
    return {
        "doc_id": list(range(N_DOCS)),
        "text": text,
        "lang": [LANGS[rng.randrange(len(LANGS))] for _ in range(N_DOCS)],
        "source": ["gen"] * N_DOCS,
        "n_chars": [len(t) for t in text],
    }


def write_documents(seed: int, data_dir: str) -> str:
    """Write documents.parquet under `data_dir`; returns its path."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, "documents.parquet")
    cols = documents(seed)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    pq.write_table(pa.table(cols, schema=schema), path)
    return path


class Terms:
    """Seeded term draws. Each op class fixes which band each of its
    terms comes from, so every run has the same band mix."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed * 7919 + 1)

    def common(self, k: int = 1) -> list[str]:
        return self._rng.sample(COMMON, k)

    def rare(self, k: int = 1) -> list[str]:
        return self._rng.sample(RARE, k)

    def randint(self, lo: int, hi: int) -> int:
        return self._rng.randint(lo, hi)
