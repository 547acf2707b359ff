"""Session-scoped memo: one bounded LRU per namespace for driver-side work.

Every memo in the engine goes through here — table scan handles, partition
probes, fitted models and their frames, persisted intermediate frames and
checkpointed cluster labels. Each call site names its namespace and its own
cap; namespaces never evict each other's entries.

Session rule: the memo serves ONE SparkContext at a time. It records the
``applicationId`` of the session it is serving; the first call that arrives
with a different id drops every entry of every namespace, WITHOUT calling
``on_evict`` (the old context, and every block it persisted, is gone). Keys
therefore never carry the applicationId, and a new session can never see an
entry built by an old one.

Within a session, an entry lives until LRU eviction from its namespace (which
calls ``on_evict``) or :func:`clear`. Each value is a function of the inputs
its key names (an input plan's ``semanticHash``, a path, parameters), so a hit
is as fresh as those inputs. The one input a key cannot name is a file listing
that changes under a path mid-session: callers that rewrite a path they
re-read pass ``refresh=True`` (``catalog.load_table``/``load_events``), which
rebuilds the entry in place.
"""

from __future__ import annotations

from collections import Counter, OrderedDict, deque
from typing import Any, Callable

from pyspark import StorageLevel

_app_id: str | None = None
_lrus: dict[str, OrderedDict] = {}
_MISSING = object()

#: The most recent misses, oldest first, as ``(namespace, key)``. Bounded so a
#: long-lived session cannot grow it without limit; a caller auditing one
#: region clears it before the region.
misses: deque[tuple[str, Any]] = deque(maxlen=256)
#: Misses per namespace since import, never trimmed: an audit that must not
#: lose a miss to the deque's bound diffs this across its region.
miss_counts: Counter[str] = Counter()


def _lru(spark, namespace: str) -> OrderedDict:
    global _app_id
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _lrus.clear()
        _app_id = app
    return _lrus.setdefault(namespace, OrderedDict())


def get(
    spark,
    namespace: str,
    key,
    build: Callable[[], Any],
    *,
    max: int,
    on_evict: Callable[[Any], None] | None = None,
    refresh: bool = False,
):
    """``build()`` memoized under ``(namespace, key)`` for ``spark``'s
    session. Any stored value is a hit, falsy ones included; past ``max``
    entries the namespace evicts least-recently-used first."""
    lru = _lru(spark, namespace)
    if not refresh:
        hit = lru.get(key, _MISSING)
        if hit is not _MISSING:
            lru.move_to_end(key)
            return hit
    misses.append((namespace, key))
    miss_counts[namespace] += 1
    val = build()
    lru[key] = val
    lru.move_to_end(key)
    while len(lru) > max:
        _, evicted = lru.popitem(last=False)
        if on_evict is not None:
            on_evict(evicted)
    return val


def persisted(spark, namespace: str, key, build: Callable[[], Any], *, max: int):
    """A memoized DataFrame, persisted MEMORY_AND_DISK: the materialization
    barrier for a frame several consumers share. Evicted frames are
    unpersisted. Persisting only when not currently cached keeps a hit from
    logging a CacheManager warning, and re-arms after ``clearCache``."""
    df = get(spark, namespace, key, build, max=max, on_evict=lambda d: d.unpersist())
    sl = df.storageLevel
    if not (sl.useMemory or sl.useDisk):
        df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def clear() -> None:
    """Forget every entry of every namespace without calling ``on_evict``;
    pair with ``spark.catalog.clearCache()`` to drop persisted blocks too."""
    _lrus.clear()
