"""Tiny signature-keyed LRU for the serving caches.

One idiom, one place (bigram heads, side-index markers, engine configs,
tombstone arrays, similarity scans, and the term-row reader's listings,
footers and row groups): pop (recency bump), compare the freshness
signature, reload on miss, reinsert, evict oldest past the bound — an
entry count, or a summed weight such as bytes, kept as a running total
(LruCache).

The freshness signature is (st_ino, st_mtime_ns) of the backing file or
directory (`file_sig`), NOT a bare float mtime: every commit in this
engine replaces its target wholesale (publish/commit = tmp + rename;
rebuilds remove + recreate their dirs), so the inode always changes on
republish — closing the staleness window a float-mtime key leaves open
on coarse-granularity filesystems (a retract-and-republish landing
within one mtime quantum on a 1 s-resolution NFS export would otherwise
serve the OLD cached value over NEW rows indefinitely).
"""

from __future__ import annotations

import os
from collections.abc import Callable


def file_sig(path: str) -> tuple[int, int] | None:
    """(st_ino, st_mtime_ns) of path, or None when it cannot be stat'd.

    Catches OSError, not just FileNotFoundError: callers documented as
    never-raise (bigrams_usable, group_heads, termrows) reach this
    with paths where a stray FILE may sit in a directory position
    (NotADirectoryError) or permissions may forbid the stat — any of
    those means "treat as absent", matching positions_usable's posture."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns)


class LruCache(dict):
    """An lru_get cache: key -> (sig, value, weight), in recency order, plus
    `total`, the running sum of the weights — so a miss costs O(1), not a
    re-sum of every entry."""

    total = 0

    def clear(self) -> None:
        super().clear()
        self.total = 0


def lru_get(
    cache: LruCache, key, sig, load: Callable, max_size: int = 256,
    weight: Callable | None = None,
):
    """cache[key] holds (sig, value, weight); calls load() when absent or
    stale.

    Popping before reinsert makes dict order the recency order; eviction
    drops the least-recently-used entries once the bound is crossed. The
    bound counts entries, or, given weight (value -> int, e.g. bytes), the
    summed weights; a value heavier than the whole bound is returned but
    not retained.
    """
    hit = cache.pop(key, None)
    if hit is not None:
        if hit[0] == sig:
            cache[key] = hit
            return hit[1]
        cache.total -= hit[2]
    value = load()
    w = 1 if weight is None else weight(value)
    if w <= max_size:
        cache[key] = (sig, value, w)
        cache.total += w
        while cache.total > max_size:
            cache.total -= cache.pop(next(iter(cache)))[2]
    return value
