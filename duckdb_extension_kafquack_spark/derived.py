"""The one memo for derived state — store tables, persisted relations,
quantizer stats, codebooks, plan handles — scoped to the live
SparkContext.

Every entry belongs to the context named by ``applicationId``.  PySpark
runs one active context per process, so the first lookup under a new
``applicationId`` drops every older entry: nothing built in a stopped
context reaches the new one.  Session-bound state adds the session's
UUID to its key.  Builds are single-flight per ``(kind, key)``:
concurrent callers of a missing entry wait for one build and share it.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_guard = threading.Lock()  # guards the state below; never held across a build
_scope: str | None = None
_memo: dict[tuple[str, Hashable], Any] = {}
_flights: dict[tuple[str, Hashable], threading.RLock] = {}


def get_or_build(
    kind: str,
    spark: SparkSession,
    key: Hashable | None,
    build: Callable[[], Any],
    *,
    valid: Callable[[Any], bool] | None = None,
    keep: int | None = None,
) -> Any:
    """The ``(kind, key)`` entry of the live context, ``build()`` on a
    miss; ``key=None`` builds without memoizing.  A hit failing
    ``valid(value)`` is rebuilt.  ``keep=n`` keeps the ``n`` most
    recently used entries of ``kind`` and unpersists an evicted
    DataFrame."""
    global _scope
    if key is None:
        return build()
    app = spark.sparkContext.applicationId
    slot = (kind, key)
    with _guard:
        if _scope != app:
            _memo.clear()
            _flights.clear()
            _scope = app
        flight = _flights.setdefault(slot, threading.RLock())
    with flight:
        with _guard:
            hit = _scope == app and slot in _memo
            if hit and keep is not None:  # refresh recency
                _memo[slot] = _memo.pop(slot)
            got = _memo.get(slot) if hit else None
        if hit and (valid is None or valid(got)):
            return got
        value = build()
        with _guard:
            if _scope != app:  # the context was replaced mid-build
                return value
            _memo.pop(slot, None)
            _memo[slot] = value
            same = [s for s in _memo if s[0] == kind]
            evicted = [_memo.pop(s) for s in same[:-keep]] if keep else []
        _release(evicted)
        return value


def plan_key(df: DataFrame) -> int | None:
    """The analyzed plan's ``semanticHash``: equal for semantically
    equal plans, so it names a corpus or pipeline across rebuilt frames.
    None when py4j cannot reach it (the caller then builds unmemoized)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except (AttributeError, Py4JError):
        return None


def entries(kind: str | None = None) -> dict[tuple[str, str, Hashable], Any]:
    """Snapshot ``{(applicationId, kind, key): value}`` (of ``kind``)."""
    with _guard:
        return {
            (_scope, k, key): v for (k, key), v in _memo.items() if kind in (None, k)
        }


def clear(kind: str | None = None) -> None:
    """Drop every entry (of ``kind``), unpersisting DataFrames."""
    with _guard:
        dropped = [_memo.pop(s) for s in list(_memo) if kind in (None, s[0])]
    _release(dropped)


def _release(values: list) -> None:
    for v in values:
        if isinstance(v, DataFrame):
            v.unpersist(blocking=False)
