"""Positional side index + exact phrase queries (olaf_spark/phrase.py).

The text twin of Olaf's time-coherent matching: a phrase hit is a
time-aligned fingerprint sequence. Referent: a pure-Python position scan
over the same corpus — the phrase path must agree exactly on (doc,
phrase_tf) for planted and natural phrases, including repeated-term
phrases and across Arrow batch slicing.
"""

from __future__ import annotations

import re

import pytest

from olaf_spark.config import EngineConfig
from olaf_spark.phrase import build_positions, phrase_topk
from olaf_spark.synth import gen_pages

CFG = EngineConfig()


def py_phrase_tf(rows: list[tuple[int, str]], phrase: list[str]) -> dict[int, int]:
    """Reference: count exact-sequence occurrences per doc, pure Python."""
    out: dict[int, int] = {}
    for doc_id, text in rows:
        toks = [
            t
            for t in re.split(CFG.token_split_re, text.lower())
            if CFG.min_token_len <= len(t) <= CFG.max_token_len
        ]
        n = sum(
            1
            for i in range(len(toks) - len(phrase) + 1)
            if toks[i:i + len(phrase)] == phrase
        )
        if n:
            out[doc_id] = n
    return out


@pytest.fixture(scope="module")
def positional(spark, tmp_path_factory):
    pages = gen_pages(spark, 300, seed=42).select("doc_id", "text").cache()
    rows = [(r["doc_id"], r["text"]) for r in pages.collect()]
    d = str(tmp_path_factory.mktemp("phr") / "pix")
    build_positions(spark, pages, d, CFG, n_buckets=4)
    return rows, d


def assert_matches_referent(rows, d, phrase_text, k=10):
    want_tf = py_phrase_tf(rows, phrase_text.split())
    want = sorted(want_tf.items(), key=lambda x: (-x[1], x[0]))[:k]
    got = phrase_topk(d, phrase_text, k=k)
    assert got == want, (phrase_text, got[:5], want[:5])


def test_phrase_matches_python_referent(positional):
    rows, d = positional
    for phrase in ("w2 w3", "w3 w2 w2", "w17 w2", "w2 w2"):
        assert_matches_referent(rows, d, phrase)


def test_single_term_phrase_is_positionwise_tf(positional):
    rows, d = positional
    assert_matches_referent(rows, d, "w5", k=20)


def test_absent_and_partial_phrases_empty(positional):
    _, d = positional
    assert phrase_topk(d, "zzznothere w2") == []
    assert phrase_topk(d, "") == []


def test_phrase_units_never_cooccurring_empty(spark, tmp_path):
    """A phrase whose first two terms never share a doc empties the
    candidate intersection before the third unit is merged in: the answer
    is no rows, on the serving and the batch path alike."""
    from olaf_spark.phrase import batch_phrase_topk

    rows = [(1, "alpha gamma one"), (2, "beta gamma two"), (3, "gamma delta alpha")]
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "disjoint")
    build_positions(spark, pages, d, CFG, n_buckets=1)
    assert phrase_topk(d, "alpha beta gamma") == []
    assert phrase_topk(d, "alpha beta gamma", use_bigrams=False) == []
    assert batch_phrase_topk(spark, d, [(0, "alpha beta gamma")], k=5).count() == 0


def test_needle_phrase_unique_doc(positional):
    rows, d = positional
    # needle is appended at the doc's end: "<last zipf token> needle97"
    doc97 = dict(rows)[97]
    last_two = doc97.split()[-2:]
    got = phrase_topk(d, " ".join(last_two), k=5)
    assert any(doc == 97 for doc, _ in got), (last_two, got)
    assert_matches_referent(rows, d, " ".join(last_two), k=5)


def test_phrase_over_live_group_equals_full_rebuild(spark, positional, tmp_path):
    """Delta-phase phrase serving: main indexed+positioned on half the
    corpus, the other half appended with with_positions=True — phrase
    answers must equal the full-corpus referent (positional rows are
    doc-disjoint; no cross-part statistics exist to go stale)."""
    from olaf_spark.incremental import append_index
    from olaf_spark.indexer import build_index

    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "gp")
    build_index(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    build_positions(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=4, with_positions=True
    )
    for phrase in ("w2 w3", "w3 w2 w2"):
        assert_matches_referent(rows, base, phrase)


def test_phrase_refuses_positionless_delta(spark, positional, tmp_path):
    """A delta without positional rows must FAIL the phrase query loudly —
    silently dropping its docs from phrase answers would be worse."""
    from olaf_spark.incremental import append_index
    from olaf_spark.indexer import build_index

    rows, _ = positional
    pages = spark.createDataFrame(rows[:80], "doc_id long, text string")
    base = str(tmp_path / "gnp")
    build_index(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=2)
    build_positions(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=2)
    append_index(spark, pages.where("doc_id % 2 = 1"), base, n_buckets=2)
    with pytest.raises(FileNotFoundError):
        phrase_topk(base, "w2 w3")


def test_phrase_respects_tombstones(spark, positional, tmp_path):
    """Merge-on-read deletes apply to phrase queries like every other path:
    a tombstoned doc must vanish from phrase results (and return on
    undelete)."""
    import shutil

    from olaf_spark.indexer import Index, build_index

    rows, d = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    ix_dir = str(tmp_path / "pts")
    build_index(spark, pages, ix_dir, CFG, n_buckets=2)
    # graft the positional rows onto the index dir so tombstones.json and
    # positions share one directory (the normal layout)
    for name in ("positions", "positions_meta.json"):
        src = f"{d}/{name}"
        dst = f"{ix_dir}/{name}"
        (shutil.copytree if name == "positions" else shutil.copyfile)(src, dst)
    before = phrase_topk(ix_dir, "w2 w3", k=5)
    assert before
    victim = before[0][0]
    ix = Index.load(ix_dir)
    ix.delete_docs([victim])
    after = phrase_topk(ix_dir, "w2 w3", k=5)
    assert all(doc != victim for doc, _ in after), (victim, after)
    ix.undelete_docs([victim])
    assert phrase_topk(ix_dir, "w2 w3", k=5) == before


def test_positions_survive_compaction(spark, positional, tmp_path):
    """Compaction folds the positional side index in the same job (r4):
    phrase queries answer IMMEDIATELY after compact_index — no manual
    positions rebuild, no dark window — identical to the pre-compact group
    answer, and tombstoned docs are PHYSICALLY dropped from the folded
    rows (the compacted index starts with an empty tombstone set, so their
    absence proves the drop)."""
    from olaf_spark.incremental import append_index, compact_index
    from olaf_spark.indexer import Index, build_index

    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "pc")
    build_index(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    build_positions(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=4, with_positions=True
    )
    before = phrase_topk(base, "w2 w3", k=10)
    assert before
    victim = before[0][0]
    Index.load(base).delete_docs([victim])
    want = {p: phrase_topk(base, p, k=10) for p in ("w2 w3", "w3 w2 w2", "w5")}
    out = str(tmp_path / "pc_out")
    compact_index(spark, base, out, n_groups=2)
    for p, w in want.items():
        got = phrase_topk(out, p, k=10)
        assert got == w, (p, got[:3], w[:3])
        assert all(d != victim for d, _ in got)


def test_phrase_min_tf_threshold_prunes_before_decode(positional):
    """min_tf (Olaf minMatchCount twin): results drop below-threshold docs
    exactly like a post-filter of the unthresholded answer, AND candidates
    whose min-term-tf bound can't reach the floor are never decoded (the
    skip criterion, not a post-filter)."""
    rows, d = positional
    want_tf = py_phrase_tf(rows, ["w2", "w3"])
    for min_tf in (2, 3):
        want = sorted(
            ((doc, tf) for doc, tf in want_tf.items() if tf >= min_tf),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        st: dict = {}
        got = phrase_topk(d, "w2 w3", k=10, min_tf=min_tf, _stats=st)
        assert got == want, (min_tf, got, want)
        st0: dict = {}
        phrase_topk(d, "w2 w3", k=10, _stats=st0)
        assert st["n_decoded"] <= st0["n_decoded"]
    # a floor nothing reaches: empty result, (almost) nothing decoded
    st: dict = {}
    assert phrase_topk(d, "w2 w3", k=10, min_tf=10**6, _stats=st) == []
    assert st["n_decoded"] == 0


def test_batch_phrase_rejects_duplicate_query_ids(spark, positional):
    """Two phrases under one query_id would interleave their subscriptions
    into one verify group and produce garbage — refused loudly (also for a
    duplicate where the first phrase tokenized to nothing)."""
    from olaf_spark.phrase import batch_phrase_topk

    _, d = positional
    with pytest.raises(ValueError, match="duplicate query_id"):
        batch_phrase_topk(spark, d, [(1, "w2 w3"), (1, "w5")], k=5)
    with pytest.raises(ValueError, match="duplicate query_id"):
        batch_phrase_topk(spark, d, [(1, ""), (1, "w5")], k=5)


def test_batch_phrase_duplicate_texts_replicate(spark, positional):
    """Equal token sequences dedup into one representative (fan-out,
    decode and verify run once) and the result rows replicate to every
    subscribed query_id — identical per-qid answers to serving."""
    from olaf_spark.phrase import batch_phrase_topk

    _, d = positional
    batch = [(0, "w2 w3"), (7, "w2 w3"), (1, "w5"), (2, "w2  w3")]
    got = batch_phrase_topk(spark, d, batch, k=10).collect()
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(r["query_id"], []).append((r["doc_id"], r["phrase_tf"]))
    assert per_q[0] == per_q[7] == per_q[2] == phrase_topk(d, "w2 w3", k=10)
    assert per_q[1] == phrase_topk(d, "w5", k=10)


def test_positions_usable_never_raises(tmp_path):
    """Graceful-degradation contract: malformed metas (missing, truncated,
    wrong JSON shape) are all 'not usable', never an exception — a raise
    here would make a half-finished compaction permanently un-completable."""
    from olaf_spark.phrase import positions_usable

    d = str(tmp_path)
    assert not positions_usable(d)  # missing
    meta = tmp_path / "positions_meta.json"
    meta.write_text("{trunca")
    assert not positions_usable(d)  # truncated
    meta.write_text("[1, 2]")
    assert not positions_usable(d)  # valid JSON, wrong shape
    meta.write_text('{"format_version": 2}')
    assert not positions_usable(d)  # stale layout


def test_warm_group_phrase_parses_no_json(spark, positional, tmp_path, monkeypatch):
    """The side-index gates read every part's marker through phrase.py's
    lru.file_sig-keyed cache, and the engine config comes from
    EngineConfig.load's: a warm phrase_topk over a two-part group (base +
    delta, each with positions and bigrams) calls json.load and json.loads
    zero times."""
    import json

    from olaf_spark.bigram import build_bigrams, group_heads
    from olaf_spark.incremental import _delta_dirs, append_index
    from olaf_spark.indexer import build_index

    rows, _ = positional
    pages = spark.createDataFrame(rows[:120], "doc_id long, text string")
    base = str(tmp_path / "warm")
    even = pages.where("doc_id % 2 = 0")
    build_index(spark, even, base, CFG, n_buckets=2)
    build_positions(spark, even, base, CFG, n_buckets=2)
    build_bigrams(spark, even, base, CFG, n_buckets=2, min_df=5)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=2,
        with_positions=True, with_bigrams=True,
    )
    assert group_heads([base] + _delta_dirs(base)) is not None
    want = phrase_topk(base, "w2 w3", k=10)
    assert want
    calls = []

    def counting(real):
        def counted(*args, **kwargs):
            calls.append(args)
            return real(*args, **kwargs)

        return counted

    monkeypatch.setattr(json, "load", counting(json.load))
    monkeypatch.setattr(json, "loads", counting(json.loads))
    assert phrase_topk(base, "w2 w3", k=10) == want
    assert calls == []


def test_rebuilt_index_config_is_seen_at_once(spark, positional, tmp_path):
    """phrase_topk without a cfg reads engine_config.json through
    EngineConfig.load's lru.file_sig-keyed cache: rebuilding the index in
    place under another config (min_token_len=3, so "w2" and "w3" are no
    longer terms) changes the very next answer."""
    from olaf_spark.indexer import build_index

    rows, _ = positional
    pages = spark.createDataFrame(rows[:120], "doc_id long, text string")
    d = str(tmp_path / "recfg")
    q = "w2 w17 w3"
    build_index(spark, pages, d, CFG, n_buckets=2)
    build_positions(spark, pages, d, CFG, n_buckets=2)
    assert EngineConfig.load(d) is EngineConfig.load(d) == CFG  # parsed once
    before = phrase_topk(d, q, k=10)  # caches the config
    cfg3 = EngineConfig(min_token_len=3)
    build_index(spark, pages, d, cfg3, n_buckets=2)
    build_positions(spark, pages, d, cfg3, n_buckets=2)
    assert EngineConfig.load(d) == cfg3
    got = phrase_topk(d, q, k=10)
    assert got == phrase_topk(d, q, k=10, cfg=cfg3)  # the phrase is "w17" now
    assert got and got != before


def test_batch_phrase_min_tf(spark, positional):
    """Batch phrase min_tf gate agrees with the serving path per query."""
    from olaf_spark.phrase import batch_phrase_topk

    _, d = positional
    batch = [(0, "w2 w3"), (1, "w3 w2 w2")]
    got = batch_phrase_topk(spark, d, batch, k=10, min_tf=2).collect()
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(r["query_id"], []).append((r["doc_id"], r["phrase_tf"]))
    for qid, text in batch:
        assert per_q.get(qid, []) == phrase_topk(d, text, k=10, min_tf=2), (qid, text)


def test_batch_phrase_matches_serving(spark, positional):
    """Distributed batch phrase (r4): B phrases as ONE Spark job must agree
    per query with driver-side phrase_topk — including repeated-term
    phrases, a single-term phrase, and an absent-term phrase (no rows)."""
    from olaf_spark.phrase import batch_phrase_topk

    rows, d = positional
    batch = [
        (0, "w2 w3"),
        (1, "w3 w2 w2"),
        (2, "w5"),
        (3, "zzznothere w2"),
        (4, "w17 w2"),
    ]
    got = batch_phrase_topk(spark, d, batch, k=10).collect()
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(r["query_id"], []).append((r["doc_id"], r["phrase_tf"]))
    for qid, text in batch:
        want = phrase_topk(d, text, k=10)
        assert per_q.get(qid, []) == want, (qid, text)


def test_batch_phrase_over_live_group_with_tombstones(spark, positional, tmp_path):
    """Batch phrase over main + delta applies the union tombstone snapshot,
    same per-query answers as group serving."""
    from olaf_spark.incremental import append_index
    from olaf_spark.indexer import Index, build_index
    from olaf_spark.phrase import batch_phrase_topk

    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "bpg")
    build_index(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    build_positions(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=4)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=4, with_positions=True
    )
    victim = phrase_topk(base, "w2 w3", k=1)[0][0]
    Index.load(base).delete_docs([victim])
    batch = [(0, "w2 w3"), (1, "w3 w2 w2")]
    got = batch_phrase_topk(spark, base, batch, k=10).collect()
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(r["query_id"], []).append((r["doc_id"], r["phrase_tf"]))
    for qid, text in batch:
        assert per_q.get(qid, []) == phrase_topk(base, text, k=10), (qid, text)
        assert all(doc != victim for doc, _ in per_q.get(qid, []))


def test_batch_phrase_one_job_and_plan_shape(spark, positional):
    """Job count flat in B (one plan, one scan, one verify shuffle); top-k
    plans as WindowGroupLimit; tb partition pruning and term_id row-group
    pruning reach the positions scan; no row-at-a-time Python."""
    import re

    from olaf_spark.phrase import batch_phrase_topk

    _, d = positional
    batch = [(0, "w2 w3"), (1, "w3 w2 w2"), (2, "w5"), (3, "w17 w2")]
    tracker = spark.sparkContext.statusTracker()

    def n_jobs_for(queries):
        # warm pass first: AQE submits broadcast stages asynchronously and
        # one-time lazy work can attribute a job to whichever invocation
        # runs first — count a steady-state invocation only
        batch_phrase_topk(spark, d, queries, k=10).collect()
        before = len(tracker.getJobIdsForGroup(None) or [])
        batch_phrase_topk(spark, d, queries, k=10).collect()
        return len(tracker.getJobIdsForGroup(None) or []) - before

    assert n_jobs_for(batch) == n_jobs_for(batch[:1])

    df = batch_phrase_topk(spark, d, batch, k=10)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = df._jdf.queryExecution().explainString(mode)
    assert "WindowGroupLimit" in p, p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "FlatMapGroupsInPandas" in p, p
    assert "BatchEvalPython" not in p
    assert re.search(r"PartitionFilters: \[tb#\d+ IN", p), p
    assert "PushedFilters: [In(term_id" in p, p


def test_positions_write_one_file_per_tb(spark, positional, tmp_path):
    """The pre-write tb clustering (indexer.cluster_for_write) must hold:
    without it every pack task writes one file per tb it holds —
    n_tasks x n_segments files (measured 1024 at bench scale, each paying
    open/footer/commit on write and a footer on every serving read). With
    the clustering exchange each tb is salted over k = n_tasks //
    n_segments tasks (k = 1 while n_tasks <= n_segments): at most
    n_segments * k files. Positions and bigram pairs share the one writer
    (phrase.write_positional_rows), so both dirs are checked."""
    import glob
    import os

    from olaf_spark.bigram import build_bigrams

    rows, d = positional
    n_buckets = 4  # the fixture's
    n_tasks = max(n_buckets, spark.sparkContext.defaultParallelism)
    cap = CFG.n_segments * max(1, n_tasks // CFG.n_segments)
    bg = str(tmp_path / "bg")
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    build_bigrams(spark, pages, bg, CFG, n_buckets=n_buckets, min_df=10)
    for rows_dir in (os.path.join(d, "positions"), os.path.join(bg, "bigrams")):
        files = glob.glob(os.path.join(rows_dir, "tb=*", "*.parquet"))
        assert 0 < len(files) <= cap, (rows_dir, len(files), cap)


def test_failed_positions_fold_retracts_marker(spark, positional, tmp_path, monkeypatch):
    """A compact_positions fold that dies after Spark's overwrite has
    cleared <out>/positions must leave out NOT positions-usable: the fold
    retracts positions_meta.json before any row is touched, so phrase
    serving refuses cleanly ('run build_positions') instead of reading a
    committed marker over missing rows."""
    import olaf_spark.phrase as phrase
    from olaf_spark.phrase import compact_positions, positions_usable

    rows, src = positional
    out = str(tmp_path / "fold_fail")
    pages = spark.createDataFrame(rows[:100], "doc_id long, text string")
    build_positions(spark, pages, out, CFG, n_buckets=2)
    assert positions_usable(out) and phrase_topk(out, "w2 w3", k=5)

    def failing_fold(*_args):
        def fold(pdf_iter):
            raise RuntimeError("simulated fold failure")
            yield  # a generator, like the real mapInPandas fn

        return fold

    monkeypatch.setattr(phrase, "_make_fold_positions", failing_fold)
    with pytest.raises(Exception, match="simulated fold failure"):
        compact_positions(spark, [src], out, None, CFG)
    monkeypatch.undo()
    assert not positions_usable(out)
    with pytest.raises(FileNotFoundError, match="run build_positions"):
        phrase_topk(out, "w2 w3", k=5)


def test_positions_survive_small_arrow_batches(spark, positional, tmp_path):
    """Pack correctness independent of Arrow batch slicing (the
    _iter_term_chunks carry path)."""
    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        d = str(tmp_path / "pix_small")
        build_positions(spark, pages, d, CFG, n_buckets=4)
    finally:
        spark.conf.set(key, old)
    assert_matches_referent(rows, d, "w2 w3")


def _resplit_rows(src_root: str, dst_root: str, n_files: int = 3, rg_rows: int = 2) -> None:
    """Copy a tb-partitioned row root with each tb's rows reversed and dealt
    round-robin into n_files files of rg_rows-row groups: several files
    and row groups per tb, term_ids unsorted within each file."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    for tb_dir in glob.glob(os.path.join(src_root, "tb=*")):
        tbl = pa.concat_tables(
            [pq.ParquetFile(f).read() for f in sorted(glob.glob(os.path.join(tb_dir, "*.parquet")))]
        )
        tbl = tbl.take(list(range(tbl.num_rows - 1, -1, -1)))
        out = os.path.join(dst_root, os.path.basename(tb_dir))
        os.makedirs(out)
        for j in range(n_files):
            part = tbl.take(list(range(j, tbl.num_rows, n_files)))
            pq.write_table(part, os.path.join(out, f"part-{j}.parquet"), row_group_size=rg_rows)


def test_term_rows_match_dataset_filter(spark, positional, tmp_path):
    """termrows.term_rows returns exactly the rows a pyarrow dataset filter
    on (tb, term_id) returns, in the same per-term order, for postings,
    positions and bigram pairs — over tb dirs holding several files of
    several row groups each, term_ids unsorted within a file. Every column
    is read back from the cached columns: fixed-width ones whole, binary
    and list ones as per-row views (row_values) and as one (values,
    row_ends) pair (values), which must agree."""
    import glob
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from olaf_spark.bigram import build_bigrams
    from olaf_spark.indexer import build_index
    from olaf_spark.termrows import term_rows

    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "ix")
    build_index(spark, pages, d, CFG, n_buckets=4)
    build_positions(spark, pages, d, CFG, n_buckets=4)
    build_bigrams(spark, pages, d, CFG, n_buckets=4, min_df=10)

    def by_term(tbl):
        out: dict[int, list] = {}
        for r in tbl.to_pylist():
            r.pop("tb", None)
            out.setdefault(r["term_id"], []).append(r)
        return out

    def as_table(rows, schema):
        """The TermRows as a pyarrow table, column by column."""
        cols = {}
        for f in schema:
            if f.name == "tb":
                continue
            if pa.types.is_binary(f.type) or pa.types.is_list(f.type):
                views = rows.row_values(f.name)
                vals, ends = rows.values(f.name)
                assert ends.tolist() == np.cumsum([v.size for v in views]).tolist()
                joined = np.concatenate(views) if views else vals[:0]
                assert np.array_equal(vals, joined), f.name
                cols[f.name] = [
                    bytes(v) if pa.types.is_binary(f.type) else v.tolist() for v in views
                ]
            else:
                cols[f.name] = rows.column(f.name).tolist()
        return pa.table(cols)

    for kind in ("postings", "positions", "bigrams"):
        root = str(tmp_path / "split" / kind)
        _resplit_rows(os.path.join(d, kind), root)
        files = glob.glob(os.path.join(root, "tb=*", "*.parquet"))
        assert max(pq.read_metadata(f).num_row_groups for f in files) > 1
        dset = ds.dataset(root, format="parquet", partitioning="hive")
        ids = sorted(set(dset.to_table(columns=["term_id"])["term_id"].to_pylist()))
        assert len(ids) > 1
        absent = max(ids) + 1
        for qids in (ids[:1], ids[::7], ids, [absent], []):
            tbs = sorted({i % CFG.n_segments for i in qids})
            want = dset.to_table(
                filter=pc.field("tb").isin(tbs) & pc.field("term_id").isin(qids)
            )
            got = term_rows(root, qids, CFG.n_segments)
            assert len(got) == want.num_rows, (kind, len(qids))
            assert by_term(as_table(got, want.schema)) == by_term(want), (kind, len(qids))


def test_warm_term_rows_stat_each_tb_dir_once(positional, tmp_path, monkeypatch):
    """A warm termrows.term_rows lookup stats each queried tb dir once and
    no file in it (each tb dir's table of files, row groups and term_id
    ranges is cached under the dir's signature), and answers with the
    same cached row groups as the cold lookup. The tb dirs hold several
    files of several row groups each, so a per-file stat would show."""
    import glob
    import os

    import pyarrow.dataset as ds

    from olaf_spark import termrows

    _, d = positional
    root = str(tmp_path / "split")
    _resplit_rows(os.path.join(d, "positions"), root)
    ids = ds.dataset(root, format="parquet", partitioning="hive").to_table(columns=["term_id"])
    qids = sorted(set(ids["term_id"].to_pylist()))[::5]
    tb_dirs = sorted({os.path.join(root, f"tb={q % CFG.n_segments}") for q in qids})
    assert len(tb_dirs) > 1
    assert sum(len(glob.glob(os.path.join(t, "*.parquet"))) for t in tb_dirs) > len(tb_dirs)
    cold = termrows.term_rows(root, qids, CFG.n_segments)
    assert len(cold) > 0

    stats: list[str] = []
    real = termrows.file_sig
    monkeypatch.setattr(termrows, "file_sig", lambda p: stats.append(p) or real(p))
    warm = termrows.term_rows(root, qids, CFG.n_segments)
    assert sorted(stats) == tb_dirs
    assert [(id(rg), a, b) for rg, a, b in warm.runs] == [
        (id(rg), a, b) for rg, a, b in cold.runs
    ]


def test_rebuilt_dirs_never_serve_stale_rows(spark, positional, tmp_path):
    """In one process, rebuilding positions, bigrams and postings into the
    same dir with other docs: the next query equals the answer with the
    term-row cache cleared, and differs from the answer before. The cache
    keys every listing, footer and row group by path AND file signature; a
    path-only key would keep serving the old listing."""
    from olaf_spark import termrows
    from olaf_spark.bigram import build_bigrams
    from olaf_spark.incremental import IndexGroup
    from olaf_spark.indexer import Index, build_index, term_id_py
    from olaf_spark.wand import query_index

    rows, _ = positional
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    old, new = pages.where("doc_id % 2 = 0"), pages.where("doc_id % 2 = 1")
    d = str(tmp_path / "ix")
    qs = ["w2 w3", "w3 w2 w2", "w17 w2", "w2"]

    def bm25():
        ix = Index.load(d)
        return (
            [query_index(None, ix, q, 10, method=m) for q in qs for m in ("vectorized", "blockmax")],
            IndexGroup([ix]).term_dfs([term_id_py(t) for t in ("w2", "w3", "w17")]),
        )

    def phrases(use_bigrams):
        return [phrase_topk(d, q, 10, use_bigrams=use_bigrams) for q in qs]

    def check_rebuild(answers, rebuild):
        stale = answers()  # caches the old rows
        rebuild()
        got = answers()
        termrows.clear_caches()
        assert got == answers() and got != stale

    build_index(spark, old, d, CFG, n_buckets=4)
    build_positions(spark, old, d, CFG, n_buckets=4)
    build_bigrams(spark, old, d, CFG, n_buckets=4, min_df=5)
    check_rebuild(
        lambda: phrases(False), lambda: build_positions(spark, new, d, CFG, n_buckets=4)
    )
    check_rebuild(
        lambda: phrases(True),
        lambda: build_bigrams(spark, new, d, CFG, n_buckets=4, min_df=5),
    )
    check_rebuild(bm25, lambda: build_index(spark, new, d, CFG, n_buckets=4))
