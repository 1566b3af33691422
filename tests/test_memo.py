"""filodb_spark.memo.Memo — the one bounded memo shared by serving
threads. No Spark: these run in the default profile."""

import sys
import threading
from collections import Counter

from filodb_spark.memo import Memo

THREADS = 8
KEYS_PER_THREAD = 20_000
MAXSIZE = 64


def _run_threads(target, n):
    errors = []

    def guarded(i):
        try:
            target(i)
        except Exception as ex:          # noqa: BLE001 — reported below
            errors.append(repr(ex))
    threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads), "threads hung"
    return errors


def test_concurrent_distinct_keys_stay_bounded_and_evict_once():
    evicted = []
    memo = Memo(MAXSIZE, on_evict=evicted.append)
    inserted = [[] for _ in range(THREADS)]
    max_len = [0] * THREADS

    def work(i):
        for j in range(KEYS_PER_THREAD):
            value = (i, j)
            got = memo.get(value, lambda: value)
            assert got == value
            inserted[i].append(value)
            n = len(memo)
            if n > max_len[i]:
                max_len[i] = n

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        errors = _run_threads(work, THREADS)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert max(max_len) <= MAXSIZE
    assert len(memo) == MAXSIZE
    # every value pushed out by the bound is handed to on_evict exactly
    # once; the ones still held never are
    counts = Counter(evicted)
    assert set(counts.values()) == {1}
    held = set(memo)
    assert not held & set(counts)
    total = sum(len(v) for v in inserted)
    assert total == THREADS * KEYS_PER_THREAD
    assert len(counts) == total - len(held)


def test_build_race_first_insert_wins_and_loser_is_not_evicted():
    evicted = []
    memo = Memo(1, on_evict=evicted.append)
    n = 4
    barrier = threading.Barrier(n)
    built, results = [], [None] * n

    def build():
        value = object()
        built.append(value)
        barrier.wait(10)     # every thread is inside build for one key
        return value

    def work(i):
        results[i] = memo.get("k", build)

    assert _run_threads(work, n) == []
    assert len(built) == n
    winner = results[0]
    assert all(r is winner for r in results)
    assert evicted == []                 # losers dropped silently
    memo.get("other", object)            # the bound pushes out the winner
    assert evicted == [winner]


def test_reentrant_builder_does_not_deadlock():
    # a builder that reads the same memo for another key
    memo = Memo(MAXSIZE)
    out = []

    def work(_):
        out.append(memo.get("lab", lambda: ("lab", memo.get("df", lambda: 1))))

    assert _run_threads(work, 1) == []
    assert out == [("lab", 1)]
    assert len(memo) == 2 and "df" in memo and "lab" in memo


def test_fifo_order_and_hit_skips_build():
    evicted = []
    memo = Memo(2, on_evict=evicted.append)
    assert memo.get("a", lambda: 1) == 1
    assert memo.get("b", lambda: 2) == 2

    def fail():
        raise AssertionError("a hit must not rebuild")
    assert memo.get("a", fail) == 1      # a hit does not refresh order
    memo.get("c", lambda: 3)
    assert evicted == [1] and list(memo) == ["b", "c"]
