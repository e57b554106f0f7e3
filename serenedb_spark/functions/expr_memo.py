"""Process-level memo for heavy Column expression trees.

Building a wide Column tree costs hundreds-to-thousands of py4j round
trips per call (guide §1.3 decomposition: ~0.4 s of pure Python/py4j for
the Gopher rule set, ~0.5 s for the 16-seed MinHash tree — 5-10× the
actual execution time at sf0.1). The tree itself is an UNRESOLVED,
immutable expression: it references columns by name only and is reusable
across DataFrames, so builders whose output depends only on primitive
parameters construct it once per process.

This memoizes EXPRESSIONS only — never DataFrames, logical plans, or
data — so every query still builds, analyzes, optimizes and executes a
fresh plan per invocation (each analysis resolves its own copy of the
tree; nothing execution-related is shared between runs).
"""

from __future__ import annotations

import weakref
from typing import Callable, TypeVar

T = TypeVar("T")

_CACHE: dict = {}

#: the py4j gateway _CACHE's Columns belong to. A fresh JVM makes old
#: object handles dangling, so a new gateway empties the memo. Held
#: weakly and compared with `is`: a dead gateway reads as None, even
#: when its successor reuses its address.
_owner: weakref.ref | None = None


def memo_exprs(key: tuple, build: Callable[[], T]) -> T:
    """Return ``build()`` memoized on ``key`` (hashable values:
    primitives, or a frozen definition such as an ``Analyzer``) for the
    lifetime of the backing JVM gateway."""
    from pyspark import SparkContext

    global _owner
    gateway = SparkContext._gateway
    if _owner is None or _owner() is not gateway:
        _CACHE.clear()
        _owner = weakref.ref(gateway)
    out = _CACHE.get(key)
    if out is None:
        out = _CACHE[key] = build()
    return out
