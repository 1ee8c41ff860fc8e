from __future__ import annotations

import pytest

from olaf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        parallelism=8,
        app_name="olaf_spark_tests",
        shuffle_partitions=8,
        # Several tests assert job-count deltas via statusTracker. The
        # app-status store evicts old jobs past spark.ui.retainedJobs
        # (default 1000); the suite runs >1000 jobs, and an eviction
        # landing between a test's before/after reads makes the delta
        # negative. Retain enough for the whole suite.
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: spawns extra JVMs (job-script e2e)")


def _check_posting_rows(rows, postings, dfs, n_docs, avgdl, cfg):
    """Every POSTINGS_SCHEMA row equals a per-term reference: its bytes and
    offset tables re-encode its decoded postings, its block metadata is
    codec.block_maxes under the term's idf, and each term's rows together
    hold exactly `postings[term_id]` ([(doc_id, tf, doc_len)], doc-sorted)
    with df `dfs[term_id]`. A term absent from `postings` has no row. Rows
    are read and re-encoded with the plain-Python reference (codec_ref)."""
    import numpy as np

    import codec_ref as ref
    from olaf_spark.codec import block_maxes
    from olaf_spark.scorer import idf

    bs = cfg.block_size
    cap = max(bs, (cfg.max_row_postings // bs) * bs)
    got: dict[int, list] = {}
    for r in rows:
        ids, tfs, dls = (np.array(v, dtype=np.uint64) for v in ref.decode_posting_row(r, bs))
        assert 0 < ids.size <= cap and tfs.size == dls.size == ids.size
        assert np.all(np.diff(ids.astype(np.int64)) > 0)
        want = ref.posting_row(ids, tfs, dls, bs)
        for col in ("doc_ids_bin", "tfs_bin", "doc_lens_bin", "id_offs", "tf_offs", "dl_offs"):
            assert (bytes(r[col]) if col.endswith("_bin") else list(r[col])) == want[col]
        assert r["df"] == dfs[r["term_id"]]
        lasts, bmax = block_maxes(
            ids, tfs.astype(np.float64), dls.astype(np.float64),
            idf(n_docs, r["df"]), cfg.k1, cfg.b, avgdl, bs,
        )
        assert list(r["block_lasts"]) == lasts.tolist()
        assert list(r["block_maxes"]) == bmax.tolist()  # bit-identical
        got.setdefault(r["term_id"], []).extend(
            zip(ids.astype(np.int64).tolist(), tfs.tolist(), dls.tolist())
        )
    assert {t: sorted(p) for t, p in got.items()} == postings


@pytest.fixture
def check_posting_rows():
    return _check_posting_rows
