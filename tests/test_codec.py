"""Codec round-trip property tests (seeded), mirroring the reference's
48/16 pack/unpack test (tests/olaf_tests.c:168-182) with the edge cases
FIXTURES.md §4 lists: 0, 2^32-1, runs of equal gaps, singletons, empties.
The row encoders and batch decoders are checked against the plain-Python
per-row reference in codec_ref.py.
"""

from __future__ import annotations

import numpy as np
import pytest

import codec_ref as ref
from olaf_spark.codec import (
    block_maxes,
    block_starts_for_groups,
    bm25_contrib,
    decode_doc_positions,
    decode_positional_rows,
    decode_positions,
    decode_posting_rows,
    delta_decode,
    delta_encode,
    encode_positional_rows,
    encode_posting_rows,
    first_doc_ids,
    joined,
    position_extents,
    position_runs,
    ranges_index,
    varbyte_decode,
    varbyte_decode_rows,
    varbyte_encode,
)

rng = np.random.default_rng(42)


@pytest.mark.parametrize(
    "arr",
    [
        np.array([], dtype=np.uint64),
        np.array([0], dtype=np.uint64),
        np.array([0, 0, 0], dtype=np.uint64),
        np.array([1, 127, 128, 129, 16383, 16384], dtype=np.uint64),
        np.array([2**32 - 1, 2**32, 2**63 - 1], dtype=np.uint64),
        np.arange(1000, dtype=np.uint64) * 7,
        rng.integers(0, 2**62, 5000).astype(np.uint64),
    ],
)
def test_varbyte_roundtrip(arr):
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


def test_varbyte_sizes():
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert len(varbyte_encode(np.array([128], dtype=np.uint64))) == 2


@pytest.mark.parametrize(
    "ids",
    [
        np.array([], dtype=np.uint64),
        np.array([5], dtype=np.uint64),
        np.array([0, 1, 2, 3], dtype=np.uint64),
        np.sort(rng.choice(10**9, 10000, replace=False)).astype(np.uint64),
        np.arange(0, 10**6, 1000, dtype=np.uint64),  # equal gaps
    ],
)
def test_delta_roundtrip(ids):
    assert np.array_equal(delta_decode(delta_encode(ids)), ids)


def test_block_maxes_exact():
    ids = np.arange(10, dtype=np.uint64)
    tfs = np.array([1, 2, 3, 4, 5, 1, 1, 9, 1, 1], dtype=np.float64)
    dls = np.full(10, 100.0)
    lasts, bm = block_maxes(ids, tfs, dls, idf_w=2.0, k1=1.2, b=0.75, avgdl=100.0, block_size=4)
    assert lasts.tolist() == [3, 7, 9]
    # brute-force check
    scores = 2.0 * tfs * 2.2 / (tfs + 1.2 * (0.25 + 0.75))
    assert np.allclose(bm, [scores[:4].max(), scores[4:8].max(), scores[8:].max()])


def test_column_decode_matches_per_buffer_decode():
    """varbyte_decode_rows decodes a column in one pass; empty buffers and
    values up to 2^63 must split back into the per-buffer answers."""
    vals = [rng.integers(0, 2**63, int(n), dtype=np.uint64) for n in rng.integers(0, 40, 200)]
    vals[0] = vals[7] = np.empty(0, dtype=np.uint64)
    got, counts = varbyte_decode_rows(*joined([varbyte_encode(v) for v in vals]))
    assert counts.tolist() == [v.size for v in vals]
    assert np.array_equal(got, np.concatenate(vals))


def test_column_decode_reads_a_buffer_slice_with_row_ends():
    """The (buffer, row_ends) entry reads a run of rows in place: a view
    into a larger buffer, row ends relative to the view — the cached
    termrows column layout — decodes like the same rows joined."""
    vals = [rng.integers(0, 2**40, int(n), dtype=np.uint64) for n in rng.integers(0, 20, 50)]
    buf, ends = joined([varbyte_encode(v) for v in vals])
    a, b = 7, 31
    lo = int(ends[a - 1])
    got, counts = varbyte_decode_rows(buf[lo : ends[b - 1]], ends[a:b] - lo)
    assert counts.tolist() == [v.size for v in vals[a:b]]
    assert np.array_equal(got, np.concatenate(vals[a:b]))


def test_ranges_index_skips_empty_ranges():
    starts = np.array([0, 5, 10, 20, 30], dtype=np.int64)
    lens = np.array([2, 0, 3, 0, 1], dtype=np.int64)
    assert ranges_index(starts, lens).tolist() == [0, 1, 10, 11, 12, 30]
    assert ranges_index(starts[:2], np.zeros(2, dtype=np.int64)).size == 0


def test_block_starts_for_groups_with_empty_groups():
    gs = np.array([0, 5, 5, 21, 22], dtype=np.int64)
    want = [0, 4, 5, 9, 13, 17, 21, 22, 26]
    assert block_starts_for_groups(gs, 30, 4).tolist() == want
    assert block_starts_for_groups(np.empty(0, dtype=np.int64), 0, 4).size == 0


# ---------------------------------------------------------------- row formats
BS = 4


def _ascending(rng, n: int, big: bool) -> np.ndarray:
    """n distinct ascending uint64 values; big ones sit just under 2^63, so
    absolute values take 9 varbyte bytes."""
    top = 2**63 - 1 if big else 10**7
    offs = np.sort(rng.choice(10**6, size=n, replace=False))
    return np.array([top - 10**6 + int(o) for o in offs], dtype=np.uint64)


def _row_sizes(rng) -> list[int]:
    sizes = [0, 1, BS - 1, BS, BS + 1, 0, 3 * BS + 2, *rng.integers(0, 4 * BS, 10).tolist()]
    rng.shuffle(sizes)
    return sizes


def _posting_batch(seed: int):
    rng = np.random.default_rng(seed)
    rows = []
    for n in _row_sizes(rng):
        big = bool(rng.random() < 0.4)
        hi = 2**63 if big else 100
        rows.append((
            _ascending(rng, n, big),
            rng.integers(1, hi, n, dtype=np.uint64),
            rng.integers(1, hi, n, dtype=np.uint64),
            rng.random(n),
        ))
    return rows


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("block_size", [None, BS])
def test_posting_rows_match_per_row_reference(seed, block_size):
    """encode_posting_rows over a batch == the per-row reference, column by
    column (bytes, offs tables, block metadata); decode_posting_rows
    round-trips it with per-row counts; a byte slice from a block boundary
    decodes as a row of its own; first_doc_ids reads each row's first id."""
    rows = _posting_batch(seed)
    sizes = np.array([r[0].size for r in rows], dtype=np.int64)
    ids, tfs, dls, scores = (np.concatenate([r[i] for r in rows]) for i in range(4))
    got = encode_posting_rows(
        ids, tfs, dls, np.cumsum(sizes) - sizes, block_size,
        scores if block_size else None,
    )
    want = [ref.posting_row(*r[:3], block_size, r[3] if block_size else None) for r in rows]
    assert sorted(got) == sorted(want[0])
    for name in got:
        assert got[name] == [w[name] for w in want], name

    d_ids, d_tfs, d_dls, counts = decode_posting_rows(
        joined(got["doc_ids_bin"]), joined(got["tfs_bin"]), joined(got["doc_lens_bin"]),
        block_size,
    )
    assert counts.tolist() == sizes.tolist()
    assert d_ids.tolist() == ids.tolist()
    assert d_tfs.tolist() == tfs.tolist() and d_dls.tolist() == dls.tolist()
    for w, r in zip(want, rows):
        assert ref.decode_posting_row(w, block_size) == tuple(a.tolist() for a in r[:3])

    assert first_doc_ids(joined(got["doc_ids_bin"])).tolist() == [
        int(r[0][0]) if r[0].size else 0 for r in rows
    ]
    if block_size:
        i = int(np.argmax(sizes))
        cut = got["id_offs"][i][1]
        tail, _, _, _ = decode_posting_rows(
            joined([got["doc_ids_bin"][i][cut:]]), joined([b""]), joined([b""]), block_size
        )
        assert tail.tolist() == rows[i][0][block_size:].tolist()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_positional_rows_match_per_row_reference(seed):
    """encode_positional_rows (runs from position_runs) == the per-row
    reference; decode_positional_rows reads the doc headers back with
    per-row doc counts; position_extents + decode_positions and
    decode_doc_positions (sparse and dense picks) read the positions."""
    rng = np.random.default_rng(seed)
    rows = []
    for n in _row_sizes(rng):
        docs = _ascending(rng, n, bool(rng.random() < 0.4))
        pos = [_ascending(rng, int(c), bool(rng.random() < 0.3))
               for c in rng.integers(1, 2 * BS, n)]
        rows.append((docs, pos))
    n_docs = np.array([r[0].size for r in rows], dtype=np.int64)
    doc_ids = np.concatenate([r[0] for r in rows])
    per_doc = [p for r in rows for p in r[1]]
    counts = np.array([p.size for p in per_doc], dtype=np.int64)
    pos = np.concatenate(per_doc)
    got = encode_positional_rows(
        doc_ids, counts, np.cumsum(n_docs) - n_docs, *position_runs(pos, counts)
    )
    want = [ref.positional_row(*r) for r in rows]
    assert sorted(got) == sorted(want[0])
    for name in got:
        assert got[name] == [w[name] for w in want], name
    for w, (docs, p) in zip(want, rows):
        assert ref.decode_positional_row(w) == (docs.tolist(), [x.tolist() for x in p])

    d_ids, d_counts, d_n = decode_positional_rows(
        joined(got["doc_ids_bin"]), joined(got["pos_counts_bin"])
    )
    assert d_n.tolist() == n_docs.tolist()
    assert d_ids.tolist() == doc_ids.tolist() and d_counts.tolist() == counts.tolist()
    runs, starts, lens = position_extents(joined(got["pos_bin"]), got["pos_offs"], d_n)
    assert decode_positions(runs[ranges_index(starts, lens)], counts).tolist() == pos.tolist()

    for i, (docs, p) in enumerate(rows):
        if not docs.size:
            continue
        for frac in (0.3, 1.0):
            idx = np.flatnonzero(rng.random(docs.size) < frac)
            kept = decode_doc_positions(
                got["pos_bin"][i], np.asarray(got["pos_offs"][i]), counts_of(p), idx
            )
            want_pos = [v for j in idx for v in p[j].tolist()]
            assert kept.tolist() == want_pos


def counts_of(positions) -> np.ndarray:
    return np.array([x.size for x in positions], dtype=np.int64)


def test_bm25_contrib_matches_oracle_order():
    """The one contribution kernel is bit-identical to the oracle's scalar
    expression, with a scalar or a per-posting weight."""
    rng = np.random.default_rng(3)
    tf = rng.integers(1, 30, 500).astype(np.uint64)
    dl = rng.integers(1, 900, 500).astype(np.uint64)
    w = rng.random(500) * 5
    k1, b, avgdl = 1.2, 0.75, 123.456
    want = [
        float(wi) * (t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * d / avgdl)))
        for wi, t, d in zip(w.tolist(), tf.tolist(), dl.tolist())
    ]
    assert bm25_contrib(w, tf, dl, k1, b, avgdl).tolist() == want
    assert bm25_contrib(float(w[0]), tf[:1], dl[:1], k1, b, avgdl).tolist() == want[:1]
