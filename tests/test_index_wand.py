"""Materialized index build + WAND query: rank identity and resumability.

Mirrors the reference's store -> query -> golden-expectation flow
(tests/olaf_functional_tests.zig:314-326) plus the resume requirement
(north_rule; FIXTURES.md §4 'resume' row).
"""

from __future__ import annotations

import math
import os
import shutil

import pytest

from olaf_spark.config import EngineConfig
from olaf_spark.incremental import IndexGroup
from olaf_spark.indexer import Index, build_index, done_partitions
from olaf_spark.oracle import OracleIndex
from olaf_spark.synth import gen_pages, gen_queries
from olaf_spark.wand import (
    SERVING_METHODS,
    blockmax_topk,
    exhaustive_topk,
    load_term_postings,
    query_index,
    vectorized_topk,
)

N_DOCS = 200
K = 10
# small blocks so WAND actually exercises block skipping on a tiny corpus
CFG = EngineConfig(block_size=8)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("ix") / "index")
    pages = gen_pages(spark, N_DOCS, seed=42).select("doc_id", "text").cache()
    oracle = OracleIndex.build(
        [(r["doc_id"], r["text"]) for r in pages.collect()], CFG
    )
    index = build_index(spark, pages, index_dir, CFG, n_buckets=8)
    return pages, oracle, index


def load_term_postings_raw(index, q):
    """Lazy-decode input of a single index: its one-part group's rows."""
    return IndexGroup([index]).load_term_postings_raw(q)


def assert_identical(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (gd, gs), (od, osc) in zip(got, want):
        assert math.isclose(gs, osc, rel_tol=1e-12, abs_tol=1e-15), (gd, gs, osc)


def test_stats_match_oracle(built):
    _, oracle, index = built
    assert index.n_docs == oracle.n_docs
    assert math.isclose(index.avgdl, oracle.avgdl, rel_tol=1e-12)
    assert index.stats["n_terms"] == len(oracle.postings)


def test_avgdl_is_total_tokens_over_n_docs(spark, built, tmp_path):
    """The one-part group scores with total_tokens / n_docs while a single
    index stores avgdl: they must be the same float for a fresh build, an
    appended delta and a compacted index, or single-index serving through
    IndexGroup would drift from the stored block maxes."""
    from olaf_spark.incremental import append_index, compact_index

    _, _, index = built
    base = str(tmp_path / "base")
    shutil.copytree(index.index_dir, base)
    extra = gen_pages(spark, N_DOCS + 40, seed=42).where(f"doc_id >= {N_DOCS}")
    delta = append_index(spark, extra.select("doc_id", "text"), base, n_buckets=2)
    compacted = compact_index(spark, base, str(tmp_path / "compacted"))
    for ix in (index, delta, compacted):
        st = ix.stats
        assert st["avgdl"] == st["total_tokens"] / st["n_docs"], st
    assert compacted.avgdl == IndexGroup.load(base).avgdl


def test_wand_rank_identical_to_oracle(spark, built):
    pages, oracle, index = built
    queries = [r["query_text"] for r in gen_queries(spark, pages, 10).collect()]
    assert len(queries) >= 10
    for q in queries:
        lists = load_term_postings(spark, index, q)
        want = oracle.topk(q, K)
        got_ex = exhaustive_topk(lists, K)
        got_vec = vectorized_topk(lists, K)
        raw = load_term_postings_raw(index, q)
        got_bm = blockmax_topk(raw, K, index.cfg, index.avgdl)
        assert_identical(got_ex, want)
        assert_identical(got_vec, want)
        assert_identical(got_bm, want)
        for m in SERVING_METHODS:  # "wand" is served by the blockmax scorer
            assert_identical(query_index(spark, index, q, K, method=m), want)


def test_wand_equals_exhaustive_small_k(spark, built):
    """k=1..3 stresses the theta threshold / block skipping paths."""
    pages, oracle, index = built
    for q in ["w2 w3 w5 w10", "w1 w100 w1000", "needle97 w2"]:
        lists = load_term_postings(spark, index, q)
        raw = load_term_postings_raw(index, q)
        for k in (1, 2, 3, 25):
            assert_identical(vectorized_topk(lists, k), exhaustive_topk(lists, k))
            assert_identical(
                blockmax_topk(raw, k, index.cfg, index.avgdl), exhaustive_topk(lists, k)
            )


def test_full_range_int64_doc_ids(spark, tmp_path):
    """doc_id = xxhash64(url) spans the whole signed-int64 domain (the
    jobs/build_index_job.py path): range bucketing must not overflow and
    ranks must stay oracle-identical. Regression for the ANSI long-overflow
    in the bucket map."""
    from pyspark.sql import functions as F

    pages = gen_pages(spark, 120, seed=9).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )
    rows = [(r["doc_id"], r["text"]) for r in pages.collect()]
    assert min(d for d, _ in rows) < 0 < max(d for d, _ in rows)
    oracle = OracleIndex.build(rows, CFG)
    index = build_index(spark, pages, str(tmp_path / "ix"), CFG, n_buckets=8)
    for q in ["w1 w50 w1000", "w2 w17 w300", "needle97 w2"]:
        lists = load_term_postings(spark, index, q)
        want = oracle.topk(q, K)
        assert_identical(vectorized_topk(lists, K), want)
        assert_identical(
            blockmax_topk(load_term_postings_raw(index, q), K, index.cfg, index.avgdl),
            want,
        )


def test_head_term_row_chunking(spark, tmp_path):
    """Terms with df > max_row_postings split into doc-range-chunked rows
    (each carrying the FULL df) — at 10^12 docs a universal term's single
    posting row would be ~370 GB, so no code path may assume one term fits
    one row. Ranks and scores must be unchanged by chunking."""
    import pyarrow.dataset as ds

    from pyspark.sql import functions as F

    n = 300
    cfg = EngineConfig(block_size=8, max_row_postings=32)
    pages = (
        gen_pages(spark, n, seed=21)
        .select("doc_id", F.concat(F.col("text"), F.lit(" everywhere")).alias("text"))
    )
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], cfg)
    index = build_index(spark, pages, str(tmp_path / "ix"), cfg, n_buckets=4)
    # the universal term must be physically chunked
    import os

    tbl = ds.dataset(
        os.path.join(index.index_dir, "postings"), format="parquet", partitioning="hive"
    ).to_table(columns=["term_id", "df", "chunk"]).to_pylist()
    by_term = {}
    for r in tbl:
        by_term.setdefault(r["term_id"], []).append(r)
    chunked = [rows for rows in by_term.values() if len(rows) > 1]
    assert chunked, "expected at least one chunked head term"
    assert any(len(rows) >= n // 32 for rows in chunked)
    for rows in chunked:
        assert len({r["df"] for r in rows}) == 1  # full df on every chunk
    # stats count each term once
    assert index.stats["n_terms"] == len(oracle.postings)
    assert index.stats["n_postings"] == sum(len(v) for v in oracle.postings.values())
    for q in ["everywhere", "everywhere needle97", "everywhere w2 w300"]:
        lists = load_term_postings(spark, index, q)
        want = oracle.topk(q, K)
        assert_identical(vectorized_topk(lists, K), want)
        assert_identical(
            blockmax_topk(load_term_postings_raw(index, q), K, index.cfg, index.avgdl),
            want,
        )


def test_merge_fold_rows_match_per_term_reference(spark, tmp_path, check_posting_rows):
    """The build merge folds each batch of terms in one numpy pass; every
    posting row it writes must equal the per-term reference (the codec's
    single-buffer decoders and block_maxes). A tiny row cap splits terms
    into many chunk rows, and 'everywhere' has a segment run in every
    bucket."""
    import pyarrow.dataset as ds

    from pyspark.sql import functions as F

    from olaf_spark.indexer import term_id_py

    cfg = EngineConfig(block_size=8, max_row_postings=16)
    pages = (
        gen_pages(spark, 240, seed=23)
        .select("doc_id", F.concat(F.col("text"), F.lit(" everywhere")).alias("text"))
    )
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], cfg)
    index = build_index(spark, pages, str(tmp_path / "ix"), cfg, n_buckets=4)

    def table(kind):
        path = os.path.join(index.index_dir, kind)
        return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()

    every = term_id_py("everywhere")
    assert sorted(r["bucket"] for r in table("segments") if r["term_id"] == every) == [0, 1, 2, 3]
    rows = table("postings")
    assert sum(r["term_id"] == every for r in rows) >= 240 // 16
    postings = {
        term_id_py(t): [(d, tf, oracle.doc_len[d]) for d, tf in plist]
        for t, plist in oracle.postings.items()
    }
    check_posting_rows(
        rows, postings, {t: len(p) for t, p in postings.items()},
        index.n_docs, index.avgdl, cfg,
    )


def test_merge_split_across_tasks(spark, tmp_path):
    """Doc-range-parallel merge: with far more merge ranges than (tb, term,
    bucket) keys, head terms' runs split across merge tasks — df comes from
    the pre-agg so ranks/scores must be unaffected by task boundaries."""
    from pyspark.sql import functions as F

    n = 250
    cfg = EngineConfig(block_size=8)
    pages = (
        gen_pages(spark, n, seed=31)
        .select("doc_id", F.concat(F.col("text"), F.lit(" everywhere")).alias("text"))
    )
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], cfg)
    index = build_index(
        spark, pages, str(tmp_path / "ix"), cfg, n_buckets=8, n_merge_tasks=2048
    )
    assert index.stats["n_terms"] == len(oracle.postings)
    assert index.stats["n_postings"] == sum(len(v) for v in oracle.postings.values())
    for q in ["everywhere", "everywhere needle97", "everywhere w2 w300"]:
        lists = load_term_postings(spark, index, q)
        want = oracle.topk(q, K)
        assert_identical(vectorized_topk(lists, K), want)
        assert_identical(
            blockmax_topk(load_term_postings_raw(index, q), K, index.cfg, index.avgdl),
            want,
        )


def test_universal_head_term_no_truncation(spark, tmp_path):
    """A term present in EVERY document — the skew case where Olaf truncates
    at maxDBCollisions=2000 and drops postings (olaf_db.c:366-375). We keep
    every posting: df == n_docs, and ranks stay oracle-identical when the
    query mixes the universal term with selective ones."""
    from pyspark.sql import functions as F

    n = 500
    pages = (
        gen_pages(spark, n, seed=11)
        .select("doc_id", F.concat(F.col("text"), F.lit(" everywhere")).alias("text"))
    )
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    index = build_index(spark, pages, str(tmp_path / "ix"), CFG, n_buckets=8)
    lists = load_term_postings(spark, index, "everywhere")
    assert len(lists) == 1 and lists[0].doc_ids.size == n  # nothing truncated
    for q in ["everywhere", "everywhere needle97", "everywhere w2 w300"]:
        lists = load_term_postings(spark, index, q)
        want = oracle.topk(q, K)
        assert_identical(vectorized_topk(lists, K), want)
        assert_identical(
            blockmax_topk(load_term_postings_raw(index, q), K, index.cfg, index.avgdl),
            want,
        )


def test_query_index_end_to_end(spark, built):
    pages, oracle, index = built
    got = query_index(spark, index, "needle97", k=5)
    assert got and got[0][0] == 97
    assert query_index(spark, index, "zzqxnothere", k=5) == []


def test_config_mismatch_refused(spark, built):
    _, _, index = built
    with pytest.raises(ValueError):
        Index.load(index.index_dir, query_cfg=EngineConfig(block_size=99))


def test_lineage_rows(spark, built):
    _, _, index = built
    lin = index.lineage(spark)
    seg = lin.where(lin.stage == "segments").collect()
    assert len(seg) == 8  # one per bucket
    assert all(r["status"] == "done" and r["output_rows"] > 0 for r in seg)
    assert lin.where(lin.stage == "merge").count() == 1


def test_delete_and_restore(spark, built, tmp_path):
    """Delete removes matches, re-store restores them — the reference's
    delete/re-store functional test (tests/olaf_functional_tests.zig:462-560),
    here as merge-on-read tombstones."""
    pages, oracle, index = built
    import shutil

    d = str(tmp_path / "del_ix")
    shutil.copytree(index.index_dir, d)
    ix = Index.load(d)

    before = query_index(spark, ix, "needle97", k=5)
    assert before and before[0][0] == 97
    ix.delete_docs([97])
    assert query_index(spark, ix, "needle97", k=5) == []
    # other queries unaffected except doc 97 vanishing
    got = [d_ for d_, _ in query_index(spark, ix, "w2 w17 w300", k=50)]
    assert 97 not in got
    ix.undelete_docs([97])
    assert_identical(query_index(spark, ix, "needle97", k=5), before)


def test_build_streams_small_arrow_batches(spark, built, tmp_path):
    """Pack/merge correctness must be independent of Arrow batch slicing:
    with tiny batches every head term spans MANY batches and the
    _iter_term_chunks carry logic must reassemble complete groups (this is
    the streaming-decode path that caps task memory at O(term-chunk)
    instead of O(partition))."""
    from olaf_spark.wand import vectorized_topk

    pages, oracle, _ = built
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        ix = build_index(spark, pages, str(tmp_path / "smallb"), CFG, n_buckets=4)
    finally:
        spark.conf.set(key, old)
    for q in ["w2 w17 w300", "needle97 w2", "w3 w5 w7 w11"]:
        assert_identical(
            vectorized_topk(load_term_postings(spark, ix, q), 10), oracle.topk(q, 10)
        )


def test_tombstone_commits_atomic_and_union_survives(spark, built, tmp_path):
    """Two independent writers (separate Index handles with stale caches)
    deleting different docs: the commit protocol re-reads disk before the
    atomic replace, so the UNION of intents survives — and no partial tmp
    file is left behind (a crash mid-write can only leave the old file)."""
    import os
    import shutil

    _, _, index = built
    d = str(tmp_path / "ts_ix")
    shutil.copytree(index.index_dir, d)
    a, b = Index.load(d), Index.load(d)
    a.tombstones(), b.tombstones()  # both caches warmed (stale after writes)
    a.delete_docs([11])
    b.delete_docs([22])  # b's cache never saw 11; the re-read must
    assert Index.load(d).tombstones() == {11, 22}
    a.undelete_docs([11])  # a's cache never saw 22
    assert Index.load(d).tombstones() == {22}
    assert not [f for f in os.listdir(d) if ".tmp." in f]

    # truly CONCURRENT writers: 4 threads x 25 disjoint deletes through
    # separate handles — the lockfile serializes read-modify-write, so
    # every intent must survive (not just the last writer's)
    import threading

    handles = [Index.load(d) for _ in range(4)]

    def worker(ix, base):
        for j in range(25):
            ix.delete_docs([1000 + base * 100 + j])

    threads = [
        threading.Thread(target=worker, args=(h, i)) for i, h in enumerate(handles)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    want = {1000 + b * 100 + j for b in range(4) for j in range(25)}
    assert want <= Index.load(d).tombstones()
    assert not [f for f in os.listdir(d) if ".lock" in f or ".tmp." in f]


def test_resume_skips_done_buckets_and_matches_clean(spark, built, tmp_path):
    """Kill-after-stage-1-subset restart: output equals a clean build."""
    pages, oracle, index = built
    resume_dir = str(tmp_path / "resume_ix")

    # simulate a crashed build: copy a finished index, then delete 3 buckets'
    # segment data AND their lineage rows (as if they never committed)
    shutil.copytree(index.index_dir, resume_dir)
    lin = spark.read.parquet(os.path.join(resume_dir, "lineage"))
    keep = lin.where(
        ~((lin.stage == "segments") & (lin.partition_id.isin([2, 5, 7])))
    ).collect()
    shutil.rmtree(os.path.join(resume_dir, "lineage"))
    shutil.rmtree(os.path.join(resume_dir, "postings"))
    os.remove(os.path.join(resume_dir, "stats.json"))
    for b in (2, 5, 7):
        shutil.rmtree(os.path.join(resume_dir, "segments", f"bucket={b}"))
    import pandas as pd

    spark.createDataFrame(pd.DataFrame([r.asDict() for r in keep])).write.parquet(
        os.path.join(resume_dir, "lineage")
    )

    assert done_partitions(resume_dir, "segments") == {0, 1, 3, 4, 6}
    resumed = build_index(
        spark, pages, resume_dir, CFG, n_buckets=8, resume=True
    )
    assert resumed.stats["n_postings"] == index.stats["n_postings"]
    assert resumed.stats["n_terms"] == index.stats["n_terms"]
    for q in ["w2 w17 w300", "needle97"]:
        assert_identical(
            query_index(spark, resumed, q, K), query_index(spark, index, q, K)
        )


def test_blockmax_tombstones_and_knobs(spark, built, tmp_path):
    """The lazy block-max path under deletion: tombstoned docs vanish,
    survivors score exactly as the eager path scores them (stored block
    maxes stay upper bounds when docs are deleted), and min_score/k=None
    behave identically to the vectorized path. A single index is served as
    its one-part group: on the tombstoned index every method answers bit
    for bit like IndexGroup.topk, and the batch job like per-query
    serving."""
    pages, oracle, index = built
    import shutil

    from olaf_spark.batch import batch_query_index

    d = str(tmp_path / "bm_ix")
    shutil.copytree(index.index_dir, d)
    ix = Index.load(d)
    q = "w2 w17 w300"
    before = query_index(spark, ix, q, k=20, method="blockmax")
    assert_identical(before, query_index(spark, ix, q, k=20, method="vectorized"))
    victim = before[0][0]
    ix.delete_docs([victim])
    got = query_index(spark, ix, q, k=20, method="blockmax")
    assert all(dd != victim for dd, _ in got)
    assert_identical(got, query_index(spark, ix, q, k=20, method="vectorized"))

    queries = [q, "w1 w50 w1000", "needle97 w2", "w3 w5 w7 w11", "zzqxnothere"]
    for m in SERVING_METHODS:
        for qq in queries:
            single = query_index(spark, ix, qq, k=20, method=m)
            assert single == IndexGroup([ix]).topk(qq, 20, method=m), (m, qq)
            assert single == IndexGroup.load(d).topk(qq, 20, method=m), (m, qq)
    rows = batch_query_index(spark, ix, list(enumerate(queries)), k=20).collect()
    for qid, qq in enumerate(queries):
        have = [
            (r["doc_id"], r["score"])
            for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == qid
        ]
        # batch folds sequentially, serving pairwise: within 1 ulp
        assert_identical(have, query_index(spark, ix, qq, k=20))
    ix.undelete_docs([victim])
    theta = before[4][1]
    cut = query_index(spark, ix, q, k=20, method="blockmax", min_score=theta)
    assert cut == before[:5]


def test_stale_format_version_refused(spark, built, tmp_path):
    import json
    import shutil

    _, _, index = built
    d = str(tmp_path / "stale_ix")
    shutil.copytree(index.index_dir, d)
    with open(f"{d}/stats.json") as f:
        stats = json.load(f)
    stats["format_version"] = 1
    with open(f"{d}/stats.json", "w") as f:
        json.dump(stats, f)
    with pytest.raises(ValueError, match="format"):
        Index.load(d)


def test_tombstone_sidecar_and_searchsorted_mask(tmp_path):
    """Scale-proof tombstones (r4): every locked mutate writes a SORTED
    int64 parquet sidecar next to tombstones.json; the array read path
    prefers the sidecar when fresh, falls back to (and is overridden by) a
    newer hand-edited json; the searchsorted keep-mask agrees with set
    membership."""
    import json
    import os
    import time

    import numpy as np

    from olaf_spark.indexer import (
        locked_mutate_id_set,
        read_tombstones_arr,
        tombstone_keep_mask,
    )

    p = str(tmp_path / "tombstones.json")
    dead = set(range(0, 100_000, 3))
    locked_mutate_id_set(p, lambda ts: ts | dead)
    assert os.path.exists(str(tmp_path / "tombstones.parquet"))
    arr = read_tombstones_arr(str(tmp_path))
    assert arr.size == len(dead) and (np.diff(arr) > 0).all()

    ids = np.arange(50, 200, dtype=np.int64)
    keep = tombstone_keep_mask(ids, arr)
    want = np.array([int(i) not in dead for i in ids])
    assert (keep == want).all()

    # a json written by hand (or an older engine) AFTER the sidecar wins —
    # and an UNSORTED hand-edit must come back sorted (the searchsorted
    # filters silently misclassify on unsorted input)
    with open(p, "w") as f:
        json.dump([5, 1, 3], f)
    t = time.time() + 10
    os.utime(p, (t, t))
    arr3 = read_tombstones_arr(str(tmp_path))
    assert arr3.tolist() == [1, 3, 5]
    assert tombstone_keep_mask(np.array([1, 2, 3, 4, 5]), arr3).tolist() == [
        False, True, False, True, False,
    ]


def test_term_rows_cache_is_byte_bounded(built, monkeypatch):
    """The decoded row groups stay within termrows' byte bound: past it the
    least-recently-used ones are evicted, and a row group heavier than the
    whole bound is served but not retained. Answers never change."""
    from olaf_spark import termrows

    _, oracle, index = built
    qs = ["w2 w15 w300", "needle7 w3", "w1 w40", "w9 w22 w31"]
    termrows.clear_caches()
    for q in qs:
        query_index(None, index, q, K)
    weights = [e[2] for e in termrows._ROWS_CACHE.values()]
    assert len(weights) > 2  # the queries touch several row groups

    bound = max(weights) + min(weights)
    monkeypatch.setattr(termrows, "_ROWS_CACHE_MAX_BYTES", bound)
    termrows.clear_caches()
    for q in qs:
        assert_identical(query_index(None, index, q, K), oracle.topk(q, K))
        assert sum(e[2] for e in termrows._ROWS_CACHE.values()) <= bound
    assert termrows._ROWS_CACHE

    monkeypatch.setattr(termrows, "_ROWS_CACHE_MAX_BYTES", min(weights) - 1)
    termrows.clear_caches()
    for q in qs:
        assert_identical(query_index(None, index, q, K), oracle.topk(q, K))
    assert not termrows._ROWS_CACHE
