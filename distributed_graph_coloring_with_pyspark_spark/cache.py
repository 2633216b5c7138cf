"""The engine's one store of per-session artifacts.

A long-lived session serves many queries, and several of them share an
expensive intermediate: a trained quantizer, a persisted pair frame, a
tokenizer model, the customer-graph edges.  Each such artifact is built
once per (session, namespace, key) by ``memo`` and kept here until
``release`` drops it.  ``persist_tracked`` puts ad-hoc persists in the
same store: frames consumed by two or more subtrees of ONE action,
which cannot be unpersisted inside the lazy plan they back.

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

from pyspark.sql import DataFrame, SparkSession

# session -> {namespace: {key: value}}
_STORE: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)


def entries(spark: SparkSession, namespace: str) -> dict[Hashable, Any]:
    """The live ``{key: value}`` dict of one namespace of this session."""
    return _STORE.setdefault(spark, {}).setdefault(namespace, {})


def memo(
    spark: SparkSession, namespace: str, key: Hashable, build: Callable[[], Any]
) -> Any:
    """The value stored under (session, namespace, key), calling
    ``build()`` only on a miss; a build that raises stores nothing."""
    per = entries(spark, namespace)
    if key not in per:
        per[key] = build()
    return per[key]


def release(
    spark: SparkSession, namespace: str | None = None, key: Hashable = None
) -> dict[str, int]:
    """Drop this session's entries (all namespaces, or one; all keys, or
    one) and unpersist every DataFrame among them, including those
    inside tuple values.  Returns ``{namespace: entries_released}``."""
    store = _STORE.get(spark, {})
    names = list(store) if namespace is None else [namespace]
    released = {}
    for ns in names:
        per = store.get(ns, {})
        if key is None:
            values = list(per.values())
            store.pop(ns, None)
        else:
            values = [per.pop(key)] if key in per else []
        for value in values:
            for v in value if isinstance(value, tuple) else (value,):
                if isinstance(v, DataFrame):
                    try:
                        v.unpersist(False)
                    except Exception:  # session stopped: JVM cache is gone
                        pass
        released[ns] = len(values)
    return released


def persist_tracked(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Persist ``df`` and keep it under ``"tracked_frames"`` for bulk
    release."""
    df = df.persist()
    entries(spark, "tracked_frames")[id(df)] = df
    return df
