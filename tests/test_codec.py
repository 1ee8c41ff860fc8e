"""Codec round-trip property tests (seeded), mirroring the reference's
48/16 pack/unpack test (tests/olaf_tests.c:168-182) with the edge cases
FIXTURES.md §4 lists: 0, 2^32-1, runs of equal gaps, singletons, empties.
"""

from __future__ import annotations

import numpy as np
import pytest

from olaf_spark.codec import (
    block_maxes,
    block_starts_for_groups,
    delta_decode,
    delta_encode,
    pack_postings,
    unpack_postings,
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


def test_pack_unpack_postings():
    ids = np.sort(rng.choice(10**8, 4096, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 50, 4096).astype(np.uint64)
    id_buf, tf_buf = pack_postings(ids, tfs)
    got_ids, got_tfs = unpack_postings(id_buf, tf_buf)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)
    # compression sanity: gaps ~ 24k avg -> ~2-3 bytes each vs 8 raw
    assert len(id_buf) < 4096 * 4


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
    got, counts = varbyte_decode_rows([varbyte_encode(v) for v in vals])
    assert counts.tolist() == [v.size for v in vals]
    assert np.array_equal(got, np.concatenate(vals))


def test_block_starts_for_groups_with_empty_groups():
    gs = np.array([0, 5, 5, 21, 22], dtype=np.int64)
    want = [0, 4, 5, 9, 13, 17, 21, 22, 26]
    assert block_starts_for_groups(gs, 30, 4).tolist() == want
    assert block_starts_for_groups(np.empty(0, dtype=np.int64), 0, 4).size == 0
