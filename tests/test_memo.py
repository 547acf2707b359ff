"""The session-scoped memo (kafkastreamingetl_spark/memo.py) in pure
Python: a stub session with only ``.sparkContext.applicationId``, no JVM."""

from __future__ import annotations

from collections import Counter, deque
from types import SimpleNamespace

import pytest

from kafkastreamingetl_spark import memo


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def _isolated(monkeypatch):
    """Fresh memo state per test; the real session's entries come back
    untouched afterwards."""
    monkeypatch.setattr(memo, "_app_id", None)
    monkeypatch.setattr(memo, "_lrus", {})
    monkeypatch.setattr(memo, "misses", deque(maxlen=memo.misses.maxlen))
    monkeypatch.setattr(memo, "miss_counts", Counter())


def _recording(log, value):
    def build():
        log.append(value)
        return value

    return build


def test_lru_order_and_per_namespace_cap():
    s, built, evicted = _session("app-1"), [], []

    def get(ns, key, max=2):
        return memo.get(s, ns, key, _recording(built, key), max=max,
                        on_evict=evicted.append)

    get("a", 1), get("a", 2)
    get("a", 1)  # hit: 1 becomes most recent
    get("a", 3)  # evicts the LRU entry, 2
    assert evicted == [2]
    get("b", 10, max=1)  # another namespace never evicts "a"'s entries
    get("b", 11, max=1)
    assert evicted == [2, 10]
    built.clear()
    get("a", 1), get("a", 3)
    assert built == []  # both survivors still hit
    get("a", 2)
    assert built == [2] and evicted == [2, 10, 1]


def test_on_evict_not_called_on_session_change():
    evicted = []
    memo.get(_session("app-1"), "a", 1, lambda: "x", max=1,
             on_evict=evicted.append)
    memo.get(_session("app-2"), "a", 2, lambda: "y", max=1,
             on_evict=evicted.append)
    assert evicted == []


@pytest.mark.parametrize("falsy", [0, [], None, "", ()])
def test_falsy_result_is_memoized(falsy):
    s, built = _session("app-1"), []
    for _ in range(3):
        assert memo.get(s, "a", "k", _recording(built, falsy), max=4) == falsy
    assert built == [falsy]


def test_miss_log_records_misses_not_hits():
    s = _session("app-1")
    memo.get(s, "a", 1, lambda: 1, max=4)
    memo.get(s, "a", 1, lambda: 1, max=4)
    memo.get(s, "b", 1, lambda: 1, max=4)
    memo.get(s, "a", 2, lambda: 2, max=4)
    assert list(memo.misses) == [("a", 1), ("b", 1), ("a", 2)]
    assert memo.miss_counts == Counter({"a": 2, "b": 1})


def test_miss_counts_outlive_the_bounded_log():
    """A miss the deque drops is still counted, so an audit diffing
    miss_counts across a region cannot lose it."""
    s, cap = _session("app-1"), memo.misses.maxlen
    memo.get(s, "model", 0, lambda: 0, max=4)
    for i in range(cap):
        memo.get(s, "scan", i, lambda: i, max=cap)
    assert all(ns == "scan" for ns, _ in memo.misses)
    assert memo.miss_counts == Counter({"model": 1, "scan": cap})


def test_refresh_rebuilds_in_place():
    s, built = _session("app-1"), []
    memo.get(s, "a", 1, _recording(built, "old"), max=4)
    assert memo.get(s, "a", 1, _recording(built, "new"), max=4, refresh=True) == "new"
    assert memo.get(s, "a", 1, _recording(built, "unused"), max=4) == "new"
    assert built == ["old", "new"]


def test_clear_empties_every_namespace():
    s, built, evicted = _session("app-1"), [], []
    for ns in ("a", "b", "c"):
        memo.get(s, ns, 1, lambda: 1, max=4, on_evict=evicted.append)
    memo.clear()
    for ns in ("a", "b", "c"):
        memo.get(s, ns, 1, _recording(built, ns), max=4)
    assert built == ["a", "b", "c"]
    assert evicted == []


def test_new_application_id_never_sees_an_old_entry():
    old, new, built = _session("app-1"), _session("app-2"), []
    memo.get(old, "a", 1, lambda: "stale", max=4)
    assert memo.get(new, "a", 1, _recording(built, "fresh"), max=4) == "fresh"
    # and switching back does not resurrect the dead session's entry
    assert memo.get(old, "a", 1, _recording(built, "rebuilt"), max=4) == "rebuilt"
    assert built == ["fresh", "rebuilt"]


class _Frame:
    """Stub DataFrame: tracks persist/unpersist through storageLevel."""

    def __init__(self):
        self.cached, self.persists = False, 0

    @property
    def storageLevel(self):
        return SimpleNamespace(useMemory=self.cached, useDisk=self.cached)

    def persist(self, level):
        self.cached, self.persists = True, self.persists + 1

    def unpersist(self):
        self.cached = False


def test_persisted_persists_once_rearms_and_unpersists_on_evict():
    s, a, b = _session("app-1"), _Frame(), _Frame()
    assert memo.persisted(s, "p", "a", lambda: a, max=1) is a
    assert memo.persisted(s, "p", "a", lambda: _Frame(), max=1) is a
    assert (a.cached, a.persists) == (True, 1)  # a hit does not re-persist
    a.cached = False  # clearCache dropped the blocks
    memo.persisted(s, "p", "a", lambda: _Frame(), max=1)
    assert (a.cached, a.persists) == (True, 2)  # re-armed on next use
    memo.persisted(s, "p", "b", lambda: b, max=1)
    assert not a.cached and b.cached  # evicted frame unpersisted
