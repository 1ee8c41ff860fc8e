"""Incremental append / merged-on-read / compaction: rank + score identity.

The contract (olaf_spark/incremental.py): appending documents as deltas and
querying the group must equal a clean rebuild over the union corpus, score
for score; compaction must not change any result. Mirrors Olaf's live-store
append semantics (src/olaf_db.c:309-311) and the delete/re-store functional
test (tests/olaf_functional_tests.zig:462-560).
"""

from __future__ import annotations

import math

import pytest

from olaf_spark.config import EngineConfig
from olaf_spark.incremental import IndexGroup, append_index, compact_index
from olaf_spark.indexer import build_index
from olaf_spark.oracle import OracleIndex
from olaf_spark.synth import gen_pages
from olaf_spark.wand import load_term_postings, query_index, vectorized_topk

N_DOCS = 200
K = 10
CFG = EngineConfig(block_size=8)
QUERIES = ["w1 w50 w1000", "w2 w17 w300", "needle97 w2", "w3 w5 w7 w11"]


def assert_identical(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (gd, gs), (od, osc) in zip(got, want):
        assert math.isclose(gs, osc, rel_tol=1e-12, abs_tol=1e-15), (gd, gs, osc)


def _count_decodes(monkeypatch) -> list:
    """Record every call of the decode_posting_rows that wand serves with."""
    from olaf_spark import wand

    calls: list = []
    real = wand.decode_posting_rows

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(wand, "decode_posting_rows", counted)
    return calls


@pytest.fixture(scope="module")
def halves(spark):
    pages = gen_pages(spark, N_DOCS, seed=42).select("doc_id", "text").cache()
    a = pages.where("doc_id % 2 = 0")
    b = pages.where("doc_id % 2 = 1")
    return pages, a, b


@pytest.fixture(scope="module")
def grouped(spark, halves, tmp_path_factory):
    pages, a, b = halves
    base = str(tmp_path_factory.mktemp("inc") / "ix")
    build_index(spark, a, base, CFG, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    return IndexGroup.load(base), base


def test_group_stats_equal_clean_rebuild(spark, halves, grouped, tmp_path):
    pages, _, _ = halves
    group, _ = grouped
    clean = build_index(spark, pages, str(tmp_path / "clean"), CFG, n_buckets=4)
    assert group.n_docs == clean.n_docs
    assert group.avgdl == clean.avgdl  # exact: both are total_tokens / n_docs


def test_append_equals_clean_rebuild(spark, halves, grouped, tmp_path):
    pages, _, _ = halves
    group, _ = grouped
    clean = build_index(spark, pages, str(tmp_path / "clean2"), CFG, n_buckets=4)
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    for q in QUERIES:
        want = oracle.topk(q, K)
        assert_identical(group.topk(q, K), want)
        assert_identical(vectorized_topk(load_term_postings(spark, clean, q), K), want)


def test_group_blockmax_matches_vectorized(spark, grouped):
    """The delta-phase blockmax path (idf-rescaled stored bounds + lazy
    decode) must be rank- AND score-identical to the full-decode referent."""
    group, _ = grouped
    for q in QUERIES:
        want = group.topk(q, K, method="vectorized")
        assert_identical(group.topk(q, K, method="blockmax"), want)


def test_group_blockmax_thresholded_skips_blocks(spark, grouped, monkeypatch):
    """On a thresholded group query the rescaled bounds must actually PRUNE:
    fewer blocks decoded than exist — the whole point of serving block maxes
    through the delta phase — while staying exact, and the surviving block
    runs decode in ONE call."""
    group, _ = grouped
    q = "w2 w17 w300"
    top = group.topk(q, 1, method="vectorized")
    thr = top[0][1] * 0.95
    stats: dict = {}
    calls = _count_decodes(monkeypatch)
    got = group.topk(q, K, method="blockmax", min_score=thr, _prune_stats=stats)
    assert len(calls) == 1
    want = [(d, s) for d, s in group.topk(q, K, method="vectorized") if s >= thr]
    assert_identical(got, want)
    assert 0 < stats["n_blocks_decoded"] < stats["n_blocks_total"], stats


def test_group_topk_rejects_unknown_method(grouped):
    group, _ = grouped
    with pytest.raises(ValueError, match="blockmax"):
        group.topk("w2", 5, method="bm25f")


def test_group_undelete_clears_delta_tombstones(spark, grouped):
    """A tombstone recorded on a DELTA part (e.g. the delta was operated on
    standalone) must be clearable through the group-level undelete — the
    read path unions part tombstones, so a main-part-only undelete could
    never resurrect the doc."""
    group, _ = grouped
    victim = group.topk("needle97 w2", 1)[0][0]
    try:
        group.parts[1].delete_docs([victim])  # tombstone lives on the delta
        assert victim in group.tombstones()
        assert all(d != victim for d, _ in group.topk("needle97 w2", K))
        group.undelete_docs([victim])
        assert victim not in group.tombstones()
        assert any(d == victim for d, _ in group.topk("needle97 w2", K))
    finally:
        group.undelete_docs([victim])


def test_group_blockmax_with_tombstones(spark, grouped):
    group, base = grouped
    victim = group.topk("needle97 w2", 1, method="vectorized")[0][0]
    try:
        group.delete_docs([victim])
        for q in ("needle97 w2", QUERIES[0]):
            want = group.topk(q, K, method="vectorized")
            assert_identical(group.topk(q, K, method="blockmax"), want)
            assert all(d != victim for d, _ in want)
    finally:
        group.parts[0].undelete_docs([victim])


def test_multiple_deltas(spark, halves, tmp_path):
    pages, a, b = halves
    b1 = b.where("doc_id % 4 = 1")
    b3 = b.where("doc_id % 4 = 3")
    base = str(tmp_path / "multi")
    build_index(spark, a, base, CFG, n_buckets=4)
    append_index(spark, b1, base, n_buckets=2)
    append_index(spark, b3, base, n_buckets=2)
    group = IndexGroup.load(base)
    assert len(group.parts) == 3
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    for q in QUERIES[:2]:
        assert_identical(group.topk(q, K), oracle.topk(q, K))
    # an empty positional batch is refused before any delta commits: the
    # group keeps exactly its parts
    with pytest.raises(ValueError, match="docs has no rows"):
        append_index(spark, b.where("doc_id < 0"), base, n_buckets=2, with_positions=True)
    after = IndexGroup.load(base)
    assert [p.index_dir for p in after.parts] == [p.index_dir for p in group.parts]


def test_compact_preserves_results_and_enables_wand(spark, grouped, tmp_path):
    group, base = grouped
    out = str(tmp_path / "compacted")
    compacted = compact_index(spark, base, out)
    assert compacted.stats["compacted_from"] == 2
    for q in QUERIES:
        want = group.topk(q, K)
        assert_identical(query_index(spark, compacted, q, K, method="vectorized"), want)
        # block-max metadata was recomputed under group stats -> WAND valid
        assert_identical(query_index(spark, compacted, q, K, method="wand"), want)


#: stats.json holds deterministic facts only (no wall-clock fields), so two
#: builds of one corpus can be compared byte for byte
STATS_KEYS = {
    "format_version", "n_docs", "avgdl", "total_tokens", "n_terms",
    "n_postings", "packed_bytes", "n_buckets", "bucket_width",
}


def test_stats_and_lineage_key_sets(spark, grouped, tmp_path):
    """The key set of stats.json for a build, an appended delta and a
    compaction, and the lineage columns: wall_s is lineage's one timing
    field (perfbench reads it per stage)."""
    import json
    import os

    import pyarrow.dataset as ds

    group, base = grouped
    out = str(tmp_path / "keys")
    compact_index(spark, base, out, n_groups=1)
    for d, keys in [(p.index_dir, STATS_KEYS) for p in group.parts] + [
        (out, STATS_KEYS | {"compacted_from"})
    ]:
        with open(os.path.join(d, "stats.json")) as f:
            assert set(json.load(f)) == keys, d
        lin = ds.dataset(os.path.join(d, "lineage"), format="parquet").schema.names
        assert set(lin) == {
            "stage", "partition_id", "input_rows", "output_rows", "wall_s",
            "bytes_out", "status", "ts",
        }, d


def test_compact_splits_head_terms_doc_range_parallel(spark, halves, tmp_path):
    """Doc-range-parallel compaction: with a tiny row cap and many range
    tasks, the head term 'w1' must come out as MANY doc-disjoint chunk rows
    (no single task ever held its whole posting set), and every query must
    still score identically to merged-on-read — through both the vectorized
    and the (recomputed-block-max) WAND scorers."""
    import numpy as np

    import codec_ref as ref
    from olaf_spark.indexer import term_id_py

    pages, a, b = halves
    cfg = EngineConfig(block_size=8, max_row_postings=8)
    base = str(tmp_path / "mega")
    build_index(spark, a, base, cfg, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    group = IndexGroup.load(base)
    compacted = compact_index(spark, base, str(tmp_path / "megac"), n_merge_tasks=16)

    # head term: the zipf inverse-CDF's ceil starts at rank 2, so "w2" is
    # the corpus's most frequent term ("w1" never occurs)
    rows = [
        r
        for r in compacted.postings(spark).collect()
        if r["term_id"] == term_id_py("w2")
    ]
    assert len(rows) > 4, len(rows)  # head term split into many chunk rows
    all_ids: list[int] = []
    for r in rows:
        ids = np.array(ref.decode_posting_row(r, cfg.block_size)[0], dtype=np.int64)
        assert np.all(np.diff(ids) > 0)  # each chunk internally sorted
        assert len(r["block_lasts"]) == -(-ids.size // cfg.block_size)
        all_ids.extend(ids.tolist())
    assert len(all_ids) == len(set(all_ids))  # chunks doc-disjoint
    # exact posting-set identity with the group's merged-on-read view
    want_ids = sorted(
        int(d)
        for tp in group.load_term_postings("w2")
        for d in tp.doc_ids.tolist()
    )
    assert sorted(all_ids) == want_ids

    for q in QUERIES:
        want = group.topk(q, K)
        assert_identical(query_index(spark, compacted, q, K, method="vectorized"), want)
        assert_identical(query_index(spark, compacted, q, K, method="wand"), want)


CHUNKED_CFG = EngineConfig(block_size=8, max_row_postings=16)


@pytest.fixture(scope="module")
def chunked(spark, halves, tmp_path_factory):
    """A two-part group whose head terms span several chunk rows in each
    part (max_row_postings=16), with three tombstones on each part."""
    pages, a, b = halves
    base = str(tmp_path_factory.mktemp("chunked") / "ix")
    build_index(spark, a, base, CHUNKED_CFG, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    group = IndexGroup.load(base)
    hits = group.topk("w2 w3", 40, method="vectorized")
    group.parts[0].delete_docs([d for d, _ in hits if d % 2 == 0][:3])
    group.parts[1].delete_docs([d for d, _ in hits if d % 2 == 1][:3])
    return group


def test_chunked_terms_across_parts_serve_exactly(spark, halves, chunked):
    """Several chunk rows per term in BOTH parts (max_row_postings=16), and
    tombstones on both parts: for every serving method IndexGroup.topk
    equals the oracle over the live docs; so do the exhaustive referent
    over load_term_postings and blockmax over load_term_postings_raw; and
    decoding every block of the raw rows' flat block tables gives back
    load_term_postings' postings, array for array (same order, same
    scores)."""
    import os

    import numpy as np

    from olaf_spark.indexer import term_id_py, tombstone_keep_mask
    from olaf_spark.termrows import term_rows
    from olaf_spark.wand import SERVING_METHODS, _score_rows, blockmax_topk, exhaustive_topk

    pages, _, _ = halves
    cfg, group = CHUNKED_CFG, chunked
    for p in group.parts:  # the head term spans several rows in each part
        rows = term_rows(
            os.path.join(p.index_dir, "postings"), [term_id_py("w2")], cfg.n_segments
        )
        assert len(rows) > 2 and len(set(rows.column("chunk").tolist())) > 2
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], cfg)
    dead = group.tombstones()
    assert len(dead) == 6
    ts = group.tombstones_arr()
    for q in [*QUERIES, "w2", "w2 w3", "w3 w2 w5"]:
        want = [(d, s) for d, s in oracle.topk(q, N_DOCS) if d not in dead][:K]
        for m in SERVING_METHODS:
            assert_identical(group.topk(q, K, method=m), want)
        lists = group.load_term_postings(q)
        raw = group.load_term_postings_raw(q)
        assert_identical(exhaustive_topk(lists, K), want)
        assert_identical(blockmax_topk(raw, K, cfg, group.avgdl, ts), want)
        row_terms = [raw.rows.terms[t] for t in raw.rows.term.tolist()]
        assert [tp.term for tp in lists] == list(dict.fromkeys(row_terms))
        # every block as its own byte span of the block tables: the
        # pruned path's decode, with nothing pruned
        bt = raw.blocks
        assert bt.ends[-1] == bt.lasts.size == bt.maxes.size
        row_of_block = np.repeat(np.arange(len(raw)), np.diff(bt.ends, prepend=0))
        ids, scores, term = _score_rows(
            raw.rows, cfg, group.avgdl, (bt.lo, bt.hi, raw.rows.term[row_of_block])
        )
        for i, tp in enumerate(lists):
            keep = tombstone_keep_mask(ids, ts) & (term == i)
            assert ids[keep].tolist() == tp.doc_ids.tolist()
            assert scores[keep].tolist() == tp.scores.tolist()


def test_group_query_decodes_once(chunked, monkeypatch):
    """The default IndexGroup.topk decodes a query's postings in ONE
    decode_posting_rows call, with no floor and with min_score > 0, on a
    tombstoned two-part group whose terms span several chunk rows per
    part; its answers equal the vectorized referent's."""
    calls = _count_decodes(monkeypatch)
    pruned = 0
    for q in [*QUERIES, "w2", "w2 w3", "w3 w2 w5"]:
        hits = chunked.topk(q, K, method="vectorized")
        for floor in (0.0, hits[K // 2][1]):
            calls.clear()
            stats: dict = {}
            got = chunked.topk(q, K, min_score=floor, _prune_stats=stats)
            assert len(calls) == 1, (q, floor, len(calls))
            assert_identical(got, [(d, s) for d, s in hits if s >= floor])
            pruned += stats["n_blocks_total"] - stats["n_blocks_decoded"]
            if floor == 0.0:
                assert stats["n_blocks_decoded"] == stats["n_blocks_total"]
    assert pruned > 0  # the floor did skip blocks


def test_compact_resume_after_kill(spark, grouped, tmp_path):
    """Kill-after-first-range restart: the committed tb-range is skipped on
    resume (lineage says so), partial state is invisible (no stats.json ->
    not loadable), and the resumed compaction is rank/score-identical to
    merged-on-read through both scorers."""
    import os

    from olaf_spark.indexer import done_partitions

    group, base = grouped
    out = str(tmp_path / "resume")

    class Boom(Exception):
        pass

    def bomb(g):
        raise Boom(g)

    with pytest.raises(Boom):
        compact_index(spark, base, out, n_groups=4, _after_group=bomb)
    assert not os.path.exists(os.path.join(out, "stats.json"))  # uncommitted
    assert done_partitions(out, "compact_group") == {0}

    resumed_groups: list[int] = []
    compacted = compact_index(
        spark, base, out, n_groups=4, _after_group=resumed_groups.append
    )
    assert resumed_groups == [1, 2, 3]  # group 0 skipped on resume
    assert not os.path.exists(os.path.join(out, "_staging"))
    for q in QUERIES:
        want = group.topk(q, K, method="vectorized")
        assert_identical(query_index(spark, compacted, q, K, method="vectorized"), want)
        assert_identical(query_index(spark, compacted, q, K, method="wand"), want)


def test_compact_refuses_mismatched_resume_and_completed_outdir(spark, grouped, tmp_path):
    """Lineage group ids only mean anything under the SAME range
    partitioning and part set: a resume with different n_groups must be
    refused (it would silently skip never-compacted tb ranges), and
    re-running into a COMPLETED out_dir must be refused (it would stamp
    fresh stats over stale postings)."""
    group, base = grouped
    out = str(tmp_path / "mm")

    class Boom(Exception):
        pass

    def bomb(g):
        raise Boom(g)

    with pytest.raises(Boom):
        compact_index(spark, base, out, n_groups=4, _after_group=bomb)
    with pytest.raises(ValueError, match="n_groups"):
        compact_index(spark, base, out, n_groups=2)  # mismatched resume

    done_dir = str(tmp_path / "done1")
    compact_index(spark, base, done_dir, n_groups=2)
    with pytest.raises(ValueError, match="completed"):
        compact_index(spark, base, done_dir)


def test_group_delete_then_compact_drops_postings(spark, halves, tmp_path):
    pages, a, b = halves
    base = str(tmp_path / "del")
    build_index(spark, a, base, CFG, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    group = IndexGroup.load(base)
    victim = group.topk("needle97", 1)[0][0]
    group.delete_docs([victim])
    assert all(d != victim for d, _ in group.topk("needle97", K))
    compacted = compact_index(spark, base, str(tmp_path / "delc"))
    got = query_index(spark, compacted, "needle97", K)
    assert all(d != victim for d, _ in got)
    # remaining docs score exactly as they did merged-on-read
    assert_identical(got, [x for x in group.topk("needle97", K)])


def test_compact_fold_rows_match_per_term_reference(spark, halves, tmp_path, check_posting_rows):
    """Compaction folds each batch of terms in one numpy pass (sort by doc
    within each term, drop tombstones); every row it writes must equal the
    per-term reference under the group's stored stats, with chunked head
    terms and a term whose every posting is tombstoned left out."""
    from olaf_spark.indexer import term_id_py

    pages, a, b = halves
    cfg = EngineConfig(block_size=8, max_row_postings=16)
    base = str(tmp_path / "ref")
    build_index(spark, a, base, cfg, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    group = IndexGroup.load(base)
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], cfg)
    (needle_doc, _), = oracle.postings["needle97"]
    dead = {needle_doc} | set(sorted(oracle.doc_len)[::7])
    group.delete_docs(sorted(dead))
    compacted = compact_index(spark, base, str(tmp_path / "refc"), n_merge_tasks=16)

    dfs = {term_id_py(t): len(p) for t, p in oracle.postings.items()}
    postings = {}
    for t, plist in oracle.postings.items():
        live = [(d, tf, oracle.doc_len[d]) for d, tf in plist if d not in dead]
        if live:
            postings[term_id_py(t)] = live
    assert term_id_py("needle97") not in postings
    rows = compacted.postings(spark).collect()
    assert max(sum(r["term_id"] == t for r in rows) for t in postings) > 1  # chunked
    check_posting_rows(
        [r.asDict() for r in rows], postings, dfs, group.n_docs, group.avgdl, cfg,
    )


def test_streaming_append_equals_clean_rebuild(spark, halves, tmp_path):
    """Structured Streaming ingestion: micro-batches append deltas via
    foreachBatch (streaming.stream_index_appends); the group then answers
    queries exactly like a clean rebuild over everything ingested."""
    from olaf_spark.streaming import stream_index_appends

    pages, a, b = halves
    base = str(tmp_path / "stream_ix")
    build_index(spark, a, base, CFG, n_buckets=4)

    src = str(tmp_path / "incoming")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    b.where("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    b.where("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(stream_index_appends(spark, base, n_buckets=2))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    group = IndexGroup.load(base)
    assert len(group.parts) == 3  # main + one delta per micro-batch
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    for qq in QUERIES[:2]:
        assert_identical(group.topk(qq, K), oracle.topk(qq, K))


def test_epoch_named_append_is_idempotent(spark, halves, tmp_path):
    """At-least-once replay (Structured Streaming restart after a committed
    delta but an uncommitted checkpoint): re-appending the same batch under
    the same epoch-derived delta name must be a no-op, not a duplicate."""
    pages, a, b = halves
    base = str(tmp_path / "epoch")
    build_index(spark, a, base, CFG, n_buckets=4)
    append_index(spark, b, base, n_buckets=4, delta_name="delta_epoch_0000000007")
    # replayed epoch: same name, same docs
    append_index(spark, b, base, n_buckets=4, delta_name="delta_epoch_0000000007")
    group = IndexGroup.load(base)
    assert len(group.parts) == 2  # main + ONE delta, not two
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    for q in QUERIES[:2]:
        assert_identical(group.topk(q, K), oracle.topk(q, K))


def test_concurrent_appends_get_distinct_deltas(spark, halves, tmp_path):
    """Two appends racing on the numbered-delta namespace: the mkdir claim
    must hand each a distinct delta_NNNN, and the resulting group must equal
    a clean rebuild (no lost or doubled postings)."""
    import threading

    pages, a, b = halves
    b1 = b.where("doc_id % 4 = 1")
    b3 = b.where("doc_id % 4 = 3")
    base = str(tmp_path / "race")
    build_index(spark, a, base, CFG, n_buckets=4)

    errs = []

    def run(df):
        try:
            append_index(spark, df, base, n_buckets=2)
        except Exception as e:  # surface thread failures in the main assert
            errs.append(e)

    t1 = threading.Thread(target=run, args=(b1,))
    t2 = threading.Thread(target=run, args=(b3,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    group = IndexGroup.load(base)
    assert len(group.parts) == 3
    oracle = OracleIndex.build([(r["doc_id"], r["text"]) for r in pages.collect()], CFG)
    for q in QUERIES[:2]:
        assert_identical(group.topk(q, K), oracle.topk(q, K))
    # an empty positional batch is refused before any delta commits: the
    # group keeps exactly its parts
    with pytest.raises(ValueError, match="docs has no rows"):
        append_index(spark, b.where("doc_id < 0"), base, n_buckets=2, with_positions=True)
    after = IndexGroup.load(base)
    assert [p.index_dir for p in after.parts] == [p.index_dir for p in group.parts]


def test_append_refuses_config_mismatch(spark, halves, tmp_path):
    _, a, b = halves
    base = str(tmp_path / "cfg")
    build_index(spark, a, base, CFG, n_buckets=4)
    append_index(spark, b, base, n_buckets=4)
    with pytest.raises(ValueError):
        IndexGroup.load(base, EngineConfig(k1=2.0, block_size=8))
