"""The packed row formats: the one module that knows their bytes.

Reference analogue: Olaf's order-preserving packed keys — the mem DB packs
48-bit hash + 16-bit timestamp into one uint64 (`olaf_db_mem.c:25-32`,
pack/unpack `:63-73`) and LMDB's MDB_DUPFIXED packs fixed-width posting
values contiguously (`olaf_db.c:101-114`). Here the same idea for text
postings: doc ids are sorted ascending, gap-encoded (delta), then varbyte
(LEB128) packed; every other column is varbyte packed directly.

Two row layouts exist, and every writer and reader of them calls this
module (an `ast` guard in tests/test_guards.py keeps it that way):

  POSTING ROW — segments/ (SEGMENT_SCHEMA) and postings/ (POSTINGS_SCHEMA)

    column          encoding                        restart points
    doc_ids_bin     LEB128 doc-id gaps              absolute at the row start;
                                                    postings rows also at
                                                    every block_size-th posting
    tfs_bin         LEB128 term frequencies         -
    doc_lens_bin    LEB128 doc lengths (tokens)     -
    id_offs, tf_offs, dl_offs
                    byte offset of each block in    postings rows only
                    the matching buffer
    block_lasts     last doc id of each block       postings rows only
    block_maxes     max BM25 contribution per block postings rows only

    writers  encode_posting_rows: indexer's stage-1 pack (unblocked) and
             make_posting_fold (blocked; the build merge and compaction)
    readers  decode_posting_rows: make_posting_fold's decodes, wand serving
             (whole rows, and block runs sliced by the offs tables),
             batch's proxy decode; first_doc_ids: the fold shuffles' key

  POSITIONAL ROW — positions/ and bigrams/ (POSITIONS_SCHEMA)

    column          encoding                        restart points
    doc_ids_bin     LEB128 doc-id gaps              absolute at the row start
    pos_counts_bin  LEB128 occurrences per doc      -
    pos_bin         LEB128 position gaps, one run   absolute at every doc's
                    per doc, runs concatenated      first position
    pos_offs        byte offset of each doc's run   -
                    in pos_bin

    writers  encode_positional_rows (runs from position_runs, or gathered
             verbatim): phrase's build pack and the compaction fold
    readers  decode_positional_rows (doc headers) and position_extents:
             the compaction fold; decode_positional_rows and
             decode_doc_positions: phrase serving and the batch verify

Why the layouts look like this: block restarts plus the offs tables let
block-max serving decode only the blocks that survive pruning; per-doc
position runs plus pos_offs let phrase serving decode only candidate docs'
positions, and let compaction copy a doc's positions without decoding
them; doc lengths ride in the posting row, so scoring needs no side table.

Every function works on whole batches in numpy passes. A batch of rows of
one binary column enters as ONE (buffer, row_ends) pair:

    buffer     uint8 array (or bytes): the rows' bytes back to back
    row_ends   int64, row_ends[i] = end offset of row i (row 0 starts at 0)

That is Arrow's own binary layout, so driver-side serving decodes the
cached columns of termrows without a copy; a list of byte strings (a Spark
batch's pandas column) enters through the `joined` adapter. One
terminator scan (varbyte_decode_rows) finds every value boundary and each
row's value count, and delta runs decode with one segmented cumsum.
bm25_contrib is the one BM25 contribution kernel of the packed paths
(oracle.py and block_maxes, the test referent, keep their own copies).
"""

from __future__ import annotations

import numpy as np


# ------------------------------------------------------------------ LEB128
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


def _decode_values(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """LEB128 values of the byte array b, given the index of every value's
    last byte (its terminator).

    Works at VALUE granularity, not byte granularity: values are decoded
    in length strata (all 1-byte values in one shot, all 2-byte values in
    two gathers, ...). Postings gaps/tfs/doc_lens are overwhelmingly 1-2
    bytes, so this is ~4 array passes total — the serving path decodes
    full head-term posting lists per query, making this the latency floor.
    """
    n = ends.size
    if n == 0:
        return np.empty(0, dtype=np.uint64)
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


def varbyte_decode(buf) -> np.ndarray:
    """Inverse of varbyte_encode for one buffer (bytes or a uint8 array)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return _decode_values(b, np.flatnonzero(b < 0x80))


def varbyte_decode_rows(buf, row_ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode a whole column of LEB128 rows in ONE pass: (values, counts),
    values concatenated in row order and counts[i] the number of values in
    row i. The column is one byte buffer (a uint8 array, or bytes) holding
    the rows back to back, and row_ends[i] is the end offset of row i in it
    (the first row starts at 0) — Arrow's own binary layout, so a cached
    column decodes without a copy. The one terminator scan that finds the
    value boundaries also yields the counts (every row ends a value, so
    none straddles two rows)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = (b < 0x80).nonzero()[0]
    counts = ends.searchsorted(row_ends)  # values ending before each row's end
    counts[1:] -= counts[:-1].copy()
    return _decode_values(b, ends), counts


def joined(bufs) -> tuple[np.ndarray, np.ndarray]:
    """(buffer, row_ends) of a list of byte strings (a pandas column of a
    Spark batch): the adapter from per-row bytes to the batch decoders."""
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    return np.frombuffer(b"".join(bufs), dtype=np.uint8), np.cumsum(lens)


# ------------------------------------------------------------- delta runs
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


def _delta_encode_grouped(values: np.ndarray, restarts: np.ndarray) -> np.ndarray:
    """Gap-encode a concatenation of ascending runs in one pass: the value
    at each restart index stays absolute, the rest become gaps (a restart
    at the end is an empty trailing run)."""
    out = np.empty_like(values)
    out[0] = values[0]
    out[1:] = values[1:] - values[:-1]
    restarts = restarts[restarts < values.size]
    out[restarts] = values[restarts]
    return out


def _segmented_cumsum(v: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """uint64 cumsum of v restarted at each index in `starts` (sorted, first
    one 0; a repeated start is an empty run): delta decode of many gap runs
    that each open absolute."""
    c = np.cumsum(v, dtype=np.uint64)
    base = np.concatenate([np.zeros(1, dtype=np.uint64), c])[starts]
    return c - np.repeat(base, np.diff(np.append(starts, v.size)))


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


def _split_lists(values: np.ndarray, cuts: np.ndarray) -> list[list]:
    """np.split(values, cuts) as Python lists: one tolist, then list slices
    (np.split costs microseconds a piece, which adds up over a batch)."""
    flat = values.tolist()
    b = [0, *cuts.tolist(), len(flat)]
    return [flat[i:j] for i, j in zip(b[:-1], b[1:])]


def _slices(raw: bytes, begins: np.ndarray) -> list[bytes]:
    """raw cut at the byte offsets `begins` (the first is 0)."""
    ends = np.append(begins[1:], len(raw)).tolist()
    return [raw[s:e] for s, e in zip(begins.tolist(), ends)]


def _encode_column(
    values: np.ndarray, starts: np.ndarray, delta: bool, restarts: np.ndarray | None = None
) -> tuple[list[bytes], np.ndarray]:
    """One buffer per group of a column, in ONE vectorized pass over the
    concatenated groups (`starts`: each group's first index), plus the byte
    start of every value (and the total). Delta columns restart absolute at
    `restarts` (default: the group starts)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b""] * len(starts), np.zeros(1, dtype=np.int64)
    if delta:
        v = _delta_encode_grouped(v, starts if restarts is None else restarts)
    buf, nbytes = _varbyte_encode_arr(v)
    vstart = np.concatenate([[0], np.cumsum(nbytes)])
    return _slices(buf.tobytes(), vstart[starts]), vstart


def ranges_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Fancy-index array selecting the concatenation of [start, start+len)
    ranges — the vectorized twin of a per-range Python slice loop. Built as
    a cumsum of unit steps with a jump at every range boundary; empty
    ranges are dropped first."""
    if not lens.all():
        starts, lens = starts[lens > 0], lens[lens > 0]
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = starts + lens
    gat = np.ones(total, dtype=np.int64)
    gat[0] = starts[0]
    cl = np.cumsum(lens)
    gat[cl[:-1]] = starts[1:] - ends[:-1] + 1
    return np.cumsum(gat)


# ------------------------------------------------------------ posting rows
def encode_posting_rows(
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    block_size: int | None = None,
    scores: np.ndarray | None = None,
) -> dict[str, list]:
    """Posting-row columns for MANY rows in one pass per column.

    ids/tfs/dls: the rows' postings concatenated, doc-ascending within a
    row; starts: each row's first index. Returns doc_ids_bin, tfs_bin and
    doc_lens_bin (one entry per row). With block_size, doc ids also restart
    at every block and id_offs/tf_offs/dl_offs are added; with scores (each
    posting's BM25 contribution) also block_lasts and block_maxes.
    """
    starts = np.asarray(starts, dtype=np.int64)
    cols = (("doc_ids_bin", "id_offs", ids, True), ("tfs_bin", "tf_offs", tfs, False),
            ("doc_lens_bin", "dl_offs", dls, False))
    if block_size is None:
        return {name: _encode_column(v, starts, delta)[0] for name, _, v, delta in cols}
    n = len(ids)
    bstarts = block_starts_for_groups(starts, n, block_size)
    cuts = np.searchsorted(bstarts, starts[1:])  # each row's first block
    n_blocks = np.diff(cuts, prepend=0, append=bstarts.size)
    out: dict[str, list] = {}
    offs: dict[str, list] = {}
    for name, offs_name, v, delta in cols:
        out[name], vstart = _encode_column(v, starts, delta, bstarts)
        rel = vstart[bstarts] - np.repeat(vstart[starts], n_blocks)
        offs[offs_name] = _split_lists(rel, cuts)
    if scores is not None:
        b_ends = np.append(bstarts[1:], n)
        out["block_lasts"] = _split_lists(ids[b_ends - 1].astype(np.int64), cuts)
        out["block_maxes"] = _split_lists(np.maximum.reduceat(scores, bstarts), cuts)
    return {**out, **offs}  # POSTINGS_SCHEMA's column order


def decode_posting_rows(id_col, tf_col, dl_col, block_size: int | None = None):
    """(ids, tfs, dls, counts) of a batch of posting rows, uint64, each
    column — a (buffer, row_ends) pair, see varbyte_decode_rows — decoded
    in one pass: counts[i] postings in row i. Doc-id gaps restart at every
    row start and, for blocked rows (block_size given), at every block
    start — so a byte range that starts at a block boundary decodes as a
    row of its own."""
    gaps, counts = varbyte_decode_rows(*id_col)
    tfs, _ = varbyte_decode_rows(*tf_col)
    dls, _ = varbyte_decode_rows(*dl_col)
    restarts = np.cumsum(counts) - counts  # row starts; an empty row adds none
    if block_size is not None:
        restarts = block_starts_for_groups(restarts, gaps.size, block_size)
    return _segmented_cumsum(gaps, restarts), tfs, dls, counts


def first_doc_ids(id_col) -> np.ndarray:
    """int64 first doc id of each row's doc_ids_bin (a (buffer, row_ends)
    pair; posting or positional: the first value is absolute), 0 for an
    empty row. uint64 ids are reinterpreted as int64 — a deterministic
    total order for splitting a term's rows, which is all the fold
    shuffles need."""
    vals, counts = varbyte_decode_rows(*id_col)
    out = np.zeros(len(counts), dtype=np.int64)
    has = counts > 0
    out[has] = vals.view(np.int64)[(np.cumsum(counts) - counts)[has]]
    return out


def bm25_contrib(w, tf, dl, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 contribution of each posting, float64, in the oracle's
    association order: w * (tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))).
    w is the term's idf (a scalar, or one weight per posting)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return w * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))


# --------------------------------------------------------- positional rows
def position_runs(pos: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode each doc's positions (ascending, counts[d] of them, all docs
    concatenated) as one run that restarts absolute at the doc's first
    position: (all runs' bytes as a uint8 array, each run's byte length)."""
    counts = np.asarray(counts, dtype=np.int64)
    doc_starts = np.cumsum(counts) - counts
    pos = np.asarray(pos, dtype=np.uint64)
    if pos.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(counts.size, dtype=np.int64)
    buf, nbytes = _varbyte_encode_arr(_delta_encode_grouped(pos, doc_starts))
    cb = np.concatenate([[0], np.cumsum(nbytes)])
    return buf, cb[doc_starts + counts] - cb[doc_starts]


def encode_positional_rows(
    doc_ids: np.ndarray,
    counts: np.ndarray,
    starts: np.ndarray,
    runs: np.ndarray,
    run_lens: np.ndarray,
) -> dict[str, list]:
    """Positional-row columns for MANY rows in one pass per column.

    doc_ids/counts: the rows' docs concatenated, doc-ascending within a
    row; starts: each row's first doc index; runs/run_lens: every doc's
    position run in the same order (position_runs, or runs copied
    verbatim out of existing rows)."""
    starts = np.asarray(starts, dtype=np.int64)
    doc_off = np.concatenate([[0], np.cumsum(run_lens)])
    row_off = doc_off[starts]
    n_docs = np.diff(np.append(starts, len(doc_ids)))
    return {
        "doc_ids_bin": _encode_column(doc_ids, starts, True)[0],
        "pos_counts_bin": _encode_column(counts, starts, False)[0],
        "pos_bin": _slices(runs.tobytes(), row_off),
        "pos_offs": _split_lists(doc_off[:-1] - np.repeat(row_off, n_docs), starts[1:]),
    }


def decode_positional_rows(id_col, count_col):
    """(doc_ids, counts, n_docs) of a batch of positional rows, uint64,
    each column — a (buffer, row_ends) pair — decoded in one pass: n_docs[i]
    docs in row i."""
    gaps, n_docs = varbyte_decode_rows(*id_col)
    counts, _ = varbyte_decode_rows(*count_col)
    return _segmented_cumsum(gaps, np.cumsum(n_docs) - n_docs), counts, n_docs


def position_extents(pos_col, pos_offs, n_docs: np.ndarray):
    """(the rows' pos_bin buffer as a uint8 array, each doc's run start in
    it, each run's length) for a batch of positional rows — pos_col a
    (buffer, row_ends) pair, pos_offs each row's per-doc offsets — docs in
    row order; a run ends where the next one starts."""
    buf, row_ends = pos_col
    b = np.frombuffer(buf, dtype=np.uint8)
    starts = np.concatenate([np.asarray(o, dtype=np.int64) for o in pos_offs])
    starts += np.repeat(row_ends - np.diff(row_ends, prepend=0), n_docs)
    return b, starts, np.diff(starts, append=b.size)


def decode_positions(buf, counts: np.ndarray) -> np.ndarray:
    """Positions (uint64) of consecutive doc runs holding counts[d] values
    each."""
    counts = np.asarray(counts, dtype=np.int64)
    return _segmented_cumsum(varbyte_decode(buf), np.cumsum(counts) - counts)


def decode_doc_positions(
    buf: bytes, offs: np.ndarray, counts: np.ndarray, idx: np.ndarray
) -> np.ndarray:
    """Positions of the docs at SORTED indices `idx` of one positional row
    (its pos_bin, pos_offs and per-doc counts), concatenated in idx order.

    VECTORIZED SCATTERED DECODE: every doc's run restarts absolute and its
    byte extent is known (pos_offs), so the kept docs' byte ranges are
    gathered with ONE fancy-index and decoded with ONE pass — O(kept docs'
    bytes), however scattered the kept set is. Taking INDICES (not a
    row-length bool mask) keeps the cost independent of the row's size:
    phrase serving calls this per candidate chunk, and an O(row) mask per
    chunk made chunking quadratic on head terms. A nearly-full keep
    short-cuts to one full decode + occurrence mask.
    """
    if idx.size == 0:
        return np.empty(0, dtype=np.uint64)
    n = counts.size
    if idx.size * 1.25 >= n:
        keep = np.zeros(n, dtype=bool)
        keep[idx] = True
        return decode_positions(buf, counts)[np.repeat(keep, counts)]
    starts = offs[idx]
    ends = np.empty(idx.size, dtype=np.int64)
    interior = idx < (n - 1)
    ends[interior] = offs[idx[interior] + 1]
    ends[~interior] = len(buf)
    sel = np.frombuffer(buf, dtype=np.uint8)[ranges_index(starts, ends - starts)]
    return decode_positions(sel, counts[idx])


# ------------------------------------------------------------ test referent
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
    """Per-block (last_doc_id, max BM25 contribution) of ONE posting list,
    computed independently of encode_posting_rows — the referent the fold
    tests check stored block metadata against.

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
