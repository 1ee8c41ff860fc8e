"""lru.lru_get: recency order, the entry and byte bounds, stale reloads and
the oversized-value rule, pinned against a re-summing referent."""

from __future__ import annotations

import random

from olaf_spark.lru import LruCache, lru_get


def _referent_get(cache: dict, key, sig, load, max_size, weight=None):
    """The bookkeeping lru_get replaced: the bound re-summed on every
    insert."""
    hit = cache.pop(key, None)
    if hit is not None and hit[0] == sig:
        cache[key] = hit
        return hit[1]
    value = load()
    w = 1 if weight is None else weight(value)
    if w <= max_size:
        cache[key] = (sig, value, w)
        total = len(cache) if weight is None else sum(e[2] for e in cache.values())
        while total > max_size:
            total -= cache.pop(next(iter(cache)))[2]
    return value


def test_eviction_order_and_bound_match_the_referent():
    """Random gets (hits, misses, stale signatures, values heavier than
    the bound) leave the same entries in the same order as the referent,
    the running total equals the summed weights, and it never exceeds the
    bound."""
    rnd = random.Random(7)
    for weighted in (False, True):
        bound = 40 if weighted else 6
        got, want = LruCache(), {}
        weight = (lambda v: v[1]) if weighted else None
        for step in range(3000):
            key = rnd.randrange(12)
            sig = rnd.randrange(3)  # a changed signature is a stale entry
            value = (f"{key}:{sig}:{step}", rnd.choice([1, 3, 8, 15, 41]))
            a = lru_get(got, key, sig, lambda: value, bound, weight)
            b = _referent_get(want, key, sig, lambda: value, bound, weight)
            assert a == b
            assert list(got.items()) == list(want.items())
            assert got.total == sum(e[2] for e in got.values()) <= bound
            if step % 997 == 0:
                got.clear()
                want.clear()
                assert got.total == 0


def test_heavier_than_the_bound_is_returned_not_retained():
    cache = LruCache()
    for k in "abc":
        lru_get(cache, k, 0, lambda: 10, 30, weight=lambda v: v)
    assert lru_get(cache, "big", 0, lambda: 31, 30, weight=lambda v: v) == 31
    assert list(cache) == ["a", "b", "c"] and cache.total == 30
    # a stale entry reloaded too heavy leaves the cache, its weight too
    assert lru_get(cache, "b", 1, lambda: 99, 30, weight=lambda v: v) == 99
    assert list(cache) == ["a", "c"] and cache.total == 20


def test_hit_bumps_recency():
    cache = LruCache()
    loads = []
    for k in "abc":
        lru_get(cache, k, 0, lambda k=k: loads.append(k) or k, 3)
    assert lru_get(cache, "a", 0, lambda: loads.append("a!"), 3) == "a"
    lru_get(cache, "d", 0, lambda: "d", 3)  # evicts b, the least recent
    assert list(cache) == ["c", "a", "d"] and loads == ["a", "b", "c"]
