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

from typing import Callable, TypeVar

T = TypeVar("T")

_CACHE: dict = {}


def _gateway_token() -> int:
    """Invalidate memoized JavaObject-backed Columns if the py4j gateway
    is ever re-created (a fresh JVM makes old object handles dangling)."""
    try:
        from pyspark import SparkContext

        return id(SparkContext._gateway)
    except Exception:
        return 0


def memo_exprs(key: tuple, build: Callable[[], T]) -> T:
    """Return ``build()`` memoized on ``key`` (hashable values:
    primitives, or a frozen definition such as an ``Analyzer``) for the
    lifetime of the backing JVM gateway."""
    full = (_gateway_token(), *key)
    out = _CACHE.get(full)
    if out is None:
        out = _CACHE[full] = build()
    return out
