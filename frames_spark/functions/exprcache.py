"""Memoized Column-expression builders (driver-side py4j relief).

Several shared builders (the Gopher Table A1 battery, the langid
stopword fold, the LSH sign arrays) assemble hundreds-to-thousands of
Column nodes in Python loops. Every node is one py4j round-trip
(~0.3-1 ms on a loaded box), so building such an expression costs
whole SECONDS of driver time per query construction — measured r14:
q_gopher_full spent 1.9 s of its 2.3 s build inside
repetition_signals, 9.9k round-trips (guide §1.2: per-task work only
after the algorithm; this is per-QUERY driver work, the same class as
the r11 const_int_matrix fix).

Column objects are immutable, unresolved expression trees: the same
tree can appear in any number of plans, so rebuilding one from
identical inputs is pure overhead. ``memo_col`` caches built
fragments keyed by the builder tag, the canonical string of each
input Column (``str(col)`` — one round-trip, vs thousands to
rebuild), the scalar params, and the identity of the live py4j
gateway: a genuinely new JVM invalidates every cached reference, and
keying on the gateway makes that automatic.

This memoizes plan FRAGMENTS, never data or results: every action
still computes from the parquet inputs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column

__all__ = ["memo_col"]

_CACHE: dict[tuple, Any] = {}

# The gateway the current _CACHE contents were built against. Cached
# Column handles reference JVM objects through this gateway; a NEW
# gateway (restarted JVM) makes every cached handle defunct, and
# CPython id() reuse could otherwise serve them silently (r14 ADVICE).
# Observing a different live gateway clears the cache wholesale —
# eviction by generation, immune to id() reuse.
_CACHE_GATEWAY: Any = None


def _gateway() -> Any:
    from pyspark import SparkContext

    return SparkContext._gateway  # noqa: SLF001 — documented py4j handle


def _canon(part: Any) -> Any:
    if isinstance(part, Column):
        return str(part)
    return part


def _copy(val: Any) -> Any:
    """Shallow-copy container results so no two callers share one
    mutable object — a caller mutating a returned dict/list would
    otherwise poison the cache for everyone after it (r14 ADVICE).
    Copying a handful of dict slots is nanoseconds vs the seconds the
    cache saves; Column values themselves are immutable."""
    if isinstance(val, dict):
        return dict(val)
    if isinstance(val, list):
        return list(val)
    return val


def _check_flat(tag: str, val: Any) -> None:
    """Reject a container that holds another container: ``_copy`` is
    shallow, so the inner one would alias the cached instance and a
    caller mutating it would poison the cache."""
    if isinstance(val, dict):
        items = val.values()
    elif isinstance(val, list):
        items = val
    else:
        return
    for item in items:
        if isinstance(item, (dict, list, tuple, set)):
            raise TypeError(
                f"memo_col({tag!r}): built value is a {type(val).__name__} "
                f"holding a {type(item).__name__}; only flat containers of "
                "Columns and scalars can be cached"
            )


def memo_col(tag: str, key_parts: tuple, build: Callable[[], Any]) -> Any:
    """Return ``build()`` memoized on ``(tag, *key_parts)`` for the
    lifetime of the current py4j gateway.

    CONTRACT (violations poison the cache silently):

    * ``build`` must be a PURE function of ``tag`` + ``key_parts`` —
      no closing over mutable state that is not part of the key.
    * Column ``key_parts`` are canonicalized via ``str(col)``; pass
      only plain ``F.col("name")``-rooted fragments (or fragments
      whose string form captures every distinction that matters).
      Two same-named columns from DIFFERENT DataFrames stringify
      identically, so dataset-tagged ``df["c"]`` handles must not be
      keys. All in-repo call sites pass pure ``F.col`` fragments
      (tests/test_exprcache.py pins the same-name/different-frame
      behavior).
    * Scalar key_parts must be hashable.

    The built value may be a Column or a flat dict/list of Columns;
    containers are returned as shallow copies so callers can't mutate
    the cached instance, and a container holding another container
    raises TypeError before it is cached. A new py4j gateway
    (restarted JVM) clears the cache — cached handles are bound to the
    old JVM."""
    global _CACHE_GATEWAY
    gw = _gateway()
    if gw is not _CACHE_GATEWAY:
        _CACHE.clear()
        _CACHE_GATEWAY = gw
    key = (tag, *(map(_canon, key_parts)))
    try:
        return _copy(_CACHE[key])
    except KeyError:
        val = build()
        _check_flat(tag, val)
        _CACHE[key] = val
        return _copy(val)
