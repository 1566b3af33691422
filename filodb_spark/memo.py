"""Bounded, thread-safe memo shared by every per-process cache."""

import threading
from collections import OrderedDict


class Memo:
    """FIFO memo of at most ``maxsize`` entries, shared by serving threads.
    One lock covers lookup, insert and eviction. ``build()`` runs outside
    it (builders launch Spark jobs and may re-enter the memo), as does
    ``on_evict``, called once per value the bound pushes out. Of two
    racing builds of one key the first insert wins; the loser's value is
    dropped without ``on_evict`` (it shares the winner's Spark cache)."""

    def __init__(self, maxsize: int, on_evict=None):
        self._maxsize = maxsize
        self._on_evict = on_evict or (lambda value: None)
        self._data = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, build):
        with self._lock:
            if key in self._data:
                return self._data[key]
        value = build()
        evicted = []
        with self._lock:
            if key in self._data:
                return self._data[key]
            while len(self._data) >= self._maxsize:
                evicted.append(self._data.popitem(last=False)[1])
            self._data[key] = value
        for old in evicted:
            self._on_evict(old)
        return value

    def __len__(self):
        return len(self._data)

    def __iter__(self):
        with self._lock:
            return iter(list(self._data))
