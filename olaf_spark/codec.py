"""Delta + varbyte posting-list compression (numpy, vectorized).

Reference analogue: Olaf's order-preserving packed keys — the mem DB packs
48-bit hash + 16-bit timestamp into one uint64 (`olaf_db_mem.c:25-32`,
pack/unpack `:63-73`) and LMDB's MDB_DUPFIXED packs fixed-width posting
values contiguously (`olaf_db.c:101-114`). Here the same idea for text
postings: doc_ids are sorted ascending, gap-encoded (delta), then varbyte
(LEB128) packed; tfs are varbyte packed directly.

Everything is numpy-vectorized — these functions run inside Arrow-batched
pandas UDFs on executors (no per-row Python), so encode/decode throughput
is the knob that sets index size and posting-scan speed at 100 TB.

Block-max metadata: postings are split into fixed-size blocks of
``block_size`` docs; per block we keep (last_doc_id, max_score_quantum) so
the query path can skip whole blocks (block-max WAND) the way Olaf's sorted
B+tree range scan skips key ranges.
"""

from __future__ import annotations

import numpy as np


def _varbyte_encode_arr(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Core vectorized LEB128: returns (byte array, bytes-per-value)."""
    # number of 7-bit groups per value (>=1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte positions: for value i, bytes go at offset[i] .. offset[i]+nbytes[i)-1
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # emit least-significant group first with continuation bits
    max_len = int(nbytes.max())
    for g in range(max_len):
        mask = nbytes > g
        idx = starts[mask] + g
        vals = (v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > g
        out[idx] = vals.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    out, _ = _varbyte_encode_arr(v)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of varbyte_encode — vectorized LEB128 decode.

    Works at VALUE granularity, not byte granularity: value boundaries come
    from one flatnonzero over the continuation bits, then values are decoded
    in length strata (all 1-byte values in one shot, all 2-byte values in
    two gathers, ...). Postings gaps/tfs/doc_lens are overwhelmingly 1-2
    bytes, so this is ~4 array passes total — the serving path decodes
    full head-term posting lists per query, making this the latency floor.
    """
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)  # index of each value's last byte
    n = ends.size
    lengths = np.empty(n, dtype=np.int64)
    lengths[0] = ends[0] + 1
    np.subtract(ends[1:], ends[:-1], out=lengths[1:])
    maxlen = int(lengths.max())
    if maxlen == 1:
        return b.astype(np.uint64)  # no continuation bits anywhere
    starts = ends - lengths + 1
    if maxlen == 2:  # the dominant posting shape: gaps/tfs/doc_lens < 2^14
        lo = (b[starts] & np.uint8(0x7F)).astype(np.uint64)
        nxt = b[np.minimum(starts + 1, b.size - 1)] & np.uint8(0x7F)
        # bool multiply zeroes the phantom "next byte" of 1-byte values
        hi = (nxt * (lengths == 2)).astype(np.uint64)
        return lo | hi << np.uint64(7)
    out = np.zeros(n, dtype=np.uint64)
    for L in range(1, maxlen + 1):
        sel = np.flatnonzero(lengths == L)
        if sel.size == 0:
            continue
        s = starts[sel]
        v = (b[s] & np.uint8(0x7F)).astype(np.uint64)
        for j in range(1, L):
            v |= (b[s + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
        out[sel] = v
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Ascending ids -> gaps (first kept absolute). Input must be sorted."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(doc_ids sorted ascending, tfs aligned) -> (packed_ids, packed_tfs)."""
    return varbyte_encode(delta_encode(doc_ids)), varbyte_encode(tfs)


def unpack_postings(id_buf: bytes, tf_buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(varbyte_decode(id_buf)), varbyte_decode(tf_buf)


def delta_encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> np.ndarray:
    """Gap-encode a concatenation of per-group ascending runs in one pass:
    each group's first element stays absolute, the rest become gaps."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    out[group_starts] = a[group_starts]
    return out


def encode_grouped(
    values: np.ndarray,
    group_starts: np.ndarray,
    delta: bool,
    delta_starts: np.ndarray | None = None,
) -> list[bytes]:
    """Varbyte-encode MANY posting lists in ONE vectorized pass.

    values: concatenated per-group arrays; group_starts: start index of each
    group. Returns one bytes object per group. This is the executor hot path
    of the index build — per-group Python work is a single bytes() slice.

    delta_starts (optional, superset of group_starts): positions whose value
    stays ABSOLUTE instead of gap-encoded — block-restart points that make
    each block independently decodable (lazy block decode).
    """
    v = np.asarray(values, dtype=np.uint64)
    n_groups = len(group_starts)
    if v.size == 0:
        return [b""] * n_groups
    if delta:
        v = delta_encode_grouped(v, delta_starts if delta_starts is not None else group_starts)
    buf, nbytes = _varbyte_encode_arr(v)
    value_byte_starts = np.concatenate([[0], np.cumsum(nbytes)])
    gb = value_byte_starts[group_starts]
    ge = np.concatenate([gb[1:], [value_byte_starts[-1]]])
    raw = buf.tobytes()
    return [raw[int(s):int(e)] for s, e in zip(gb, ge)]


def block_starts_for_groups(
    group_starts: np.ndarray, total: int, block_size: int
) -> np.ndarray:
    """Concatenated per-group block-start indices (each group's blocks start
    at its own offset 0, block_size, 2*block_size, ...) — the delta-restart
    points for independently decodable blocks. One vectorized pass: an
    empty group contributes no block."""
    gs = np.asarray(group_starts, dtype=np.int64)
    ge = np.append(gs[1:], total)[: gs.size]
    nb = (ge - gs + block_size - 1) // block_size
    first = np.repeat(np.cumsum(nb) - nb, nb)
    return np.repeat(gs, nb) + (np.arange(first.size, dtype=np.int64) - first) * block_size


def encode_grouped_blocked(
    values: np.ndarray,
    group_starts: np.ndarray,
    block_size: int,
    delta: bool,
) -> tuple[list[bytes], list[list[int]]]:
    """encode_grouped with per-block delta restarts AND per-group byte
    offsets of each block start (relative to the group's buffer).

    Returns (bufs, offs): offs[g][b] is the byte offset of block b inside
    bufs[g] — the lazy-decode seek table. The serving path slices
    bufs[g][offs[b]:offs[b+1]] and decodes ONE block without touching the
    rest (block-max WAND skips whole blocks without decoding them).
    """
    v = np.asarray(values, dtype=np.uint64)
    n_groups = len(group_starts)
    if v.size == 0:
        return [b""] * n_groups, [[] for _ in range(n_groups)]
    gs = np.asarray(group_starts, dtype=np.int64)
    bstarts = block_starts_for_groups(gs, v.size, block_size)
    if delta:
        v = delta_encode_grouped(v, bstarts)
    buf, nbytes = _varbyte_encode_arr(v)
    value_byte_starts = np.concatenate([[0], np.cumsum(nbytes)])
    gb = value_byte_starts[gs]
    ge = np.concatenate([gb[1:], [value_byte_starts[-1]]])
    raw = buf.tobytes()
    bufs = [raw[int(s):int(e)] for s, e in zip(gb, ge)]
    # block byte offsets, group-relative
    block_abs = value_byte_starts[bstarts]
    group_of_block = np.searchsorted(gs, bstarts, side="right") - 1
    rel = block_abs - gb[group_of_block]
    return bufs, split_lists(rel, np.searchsorted(group_of_block, np.arange(1, n_groups)))


def split_lists(values: np.ndarray, cuts: np.ndarray) -> list[list]:
    """np.split(values, cuts) as Python lists: one tolist, then list slices
    (np.split costs microseconds a piece, which adds up over a batch)."""
    flat = values.tolist()
    b = [0, *cuts.tolist(), len(flat)]
    return [flat[i:j] for i, j in zip(b[:-1], b[1:])]


def varbyte_decode_rows(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a whole column of LEB128 buffers in ONE pass: (values, counts),
    values concatenated in row order and counts[i] the number of values in
    bufs[i], read off its terminator bytes (every buffer ends a value, so
    none straddles two rows)."""
    joined = b"".join(bufs)
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    ends = np.cumsum((np.frombuffer(joined, dtype=np.uint8) & 0x80) == 0)
    counts = np.diff(np.concatenate([[0], ends])[np.concatenate([[0], np.cumsum(lens)])])
    return varbyte_decode(joined), counts


def segmented_cumsum(v: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """uint64 cumsum of v restarted at each index in `starts` (sorted, first
    one 0; a repeated start is an empty run): delta decode of many gap runs
    that each open absolute."""
    c = np.cumsum(v, dtype=np.uint64)
    base = np.concatenate([np.zeros(1, dtype=np.uint64), c])[starts]
    return c - np.repeat(base, np.diff(np.append(starts, v.size)))


def decode_ids_blocked(buf: bytes, block_size: int) -> np.ndarray:
    """Full decode of a block-restart delta buffer: varbyte -> segmented
    cumsum (each block's first value is absolute)."""
    v = varbyte_decode(buf)
    return segmented_cumsum(v, np.arange(0, v.size, block_size, dtype=np.int64))


def decode_block(buf: bytes, offs: np.ndarray, b: int, delta: bool) -> np.ndarray:
    """Decode ONE block from its byte-offset table (lazy path)."""
    lo = int(offs[b])
    hi = int(offs[b + 1]) if b + 1 < len(offs) else len(buf)
    v = varbyte_decode(buf[lo:hi])
    return np.cumsum(v, dtype=np.uint64) if delta else v


def block_maxes(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    idf_w: float,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last_doc_id, max BM25 contribution) for block-max WAND.

    The max is exact for the stored parameterization — the config-frozen
    invariant (olaf_config.h:46-50) is what makes precomputing it sound.
    """
    n = doc_ids.size
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # same association order as oracle/scorer so the bound is >= true scores
    scores = idf_w * (tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * doc_lens / avgdl)))
    n_blocks = (n + block_size - 1) // block_size
    pad = n_blocks * block_size - n
    if pad:
        scores = np.concatenate([scores, np.full(pad, -np.inf)])
        last_ids = np.concatenate([doc_ids, np.full(pad, doc_ids[-1], dtype=doc_ids.dtype)])
    else:
        last_ids = doc_ids
    bm = scores.reshape(n_blocks, block_size).max(axis=1)
    lasts = last_ids.reshape(n_blocks, block_size)[:, -1].astype(np.int64)
    return lasts, bm
