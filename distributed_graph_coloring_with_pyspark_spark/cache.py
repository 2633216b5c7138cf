"""The engine's one store of per-session artifacts.

A long-lived session serves many queries, and several of them share an
expensive intermediate: a trained quantizer, a persisted pair frame, a
tokenizer model, the customer-graph edges, an indexed query's kept ADC
tables.  Each such artifact is built once per (session, namespace, key)
by ``memo`` and kept here until ``release`` drops it.  An artifact
derived from files that can be rewritten is memoized with a
``version`` (a stamp of those files), so a rewrite rebuilds it rather
than serving it stale.  ``persist_tracked`` puts ad-hoc persists in
the same store: frames consumed by two or more subtrees of ONE action,
which cannot be unpersisted inside the lazy plan they back.  ``stats``
reports each namespace's hits, misses and size.

Lifetime: a cached DataFrame strongly references its SparkSession, so
no keying scheme, weak or otherwise, can make an entry vanish when the
caller drops the session; the value itself keeps the session alive.
Explicit ``release`` is the lifetime mechanism:
``session.release_session_caches`` calls it, and long-lived callers
(bench.py between query families) call that.  The weak session key
only stops a new session from adopting a stopped one's entries.
"""

from __future__ import annotations

import weakref
from typing import Any, Callable, Hashable

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession


class _Store:
    """One session's artifacts: ``{namespace: {key: value}}``, the
    version each versioned entry was built for, and per-namespace
    ``[hits, misses]`` of ``memo``."""

    def __init__(self) -> None:
        self.values: dict[str, dict] = {}
        self.versions: dict[tuple[str, Hashable], Hashable] = {}
        self.counts: dict[str, list[int]] = {}


_STORE: "weakref.WeakKeyDictionary[SparkSession, _Store]" = (
    weakref.WeakKeyDictionary()
)


def _store(spark: SparkSession) -> _Store:
    return _STORE.setdefault(spark, _Store())


def entries(spark: SparkSession, namespace: str) -> dict[Hashable, Any]:
    """The live ``{key: value}`` dict of one namespace of this session."""
    return _store(spark).values.setdefault(namespace, {})


def memo(
    spark: SparkSession,
    namespace: str,
    key: Hashable,
    build: Callable[[], Any],
    version: Hashable = None,
) -> Any:
    """The value stored under (session, namespace, key), calling
    ``build()`` only on a miss; a build that raises stores nothing.

    An entry built for another ``version`` is a miss: it is freed as
    ``release`` frees it, then rebuilt.  Callers pass a stamp of the
    files a value is derived from, so a rewrite, by this package or
    not, is never served stale."""
    store = _store(spark)
    per = store.values.setdefault(namespace, {})
    counts = store.counts.setdefault(namespace, [0, 0])
    if key in per and store.versions.get((namespace, key)) == version:
        counts[0] += 1
        return per[key]
    counts[1] += 1
    if key in per:
        _free(per.pop(key))
        store.versions.pop((namespace, key), None)
    per[key] = build()
    if version is not None:
        store.versions[(namespace, key)] = version
    return per[key]


def _free(value: Any) -> None:
    """Unpersist the DataFrames and destroy the broadcasts among a
    value, itself or the members of a tuple value."""
    for v in value if isinstance(value, tuple) else (value,):
        try:
            if isinstance(v, DataFrame):
                v.unpersist(False)
            elif isinstance(v, Broadcast):
                v.destroy()
        except Exception:  # session stopped: the JVM side is gone
            pass


def release(
    spark: SparkSession, namespace: str | None = None, key: Hashable = None
) -> dict[str, int]:
    """Drop this session's entries (all namespaces, or one; all keys, or
    one), unpersist every DataFrame and destroy every broadcast among
    them, including those inside tuple values.  A frame whose plan reads
    a destroyed broadcast fails if it runs after this.  Returns
    ``{namespace: entries_released}``."""
    store = _store(spark)
    names = list(store.values) if namespace is None else [namespace]
    released = {}
    for ns in names:
        per = store.values.get(ns, {})
        keys = list(per) if key is None else [key] if key in per else []
        for k in keys:
            _free(per.pop(k))
            store.versions.pop((ns, k), None)
        if key is None:
            store.values.pop(ns, None)
        released[ns] = len(keys)
    return released


def stats(spark: SparkSession) -> dict[str, dict[str, int]]:
    """``{namespace: {"hits", "misses", "size"}}`` of this session:
    ``memo``'s hits and misses since the session's first memo, and the
    entries the namespace holds now."""
    store = _store(spark)
    stats = {}
    for ns in dict.fromkeys([*store.counts, *store.values]):
        hits, misses = store.counts.get(ns, (0, 0))
        stats[ns] = {
            "hits": hits,
            "misses": misses,
            "size": len(store.values.get(ns, {})),
        }
    return stats


def persist_tracked(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Persist ``df`` and keep it under ``"tracked_frames"`` for bulk
    release."""
    df = df.persist()
    entries(spark, "tracked_frames")[id(df)] = df
    return df
