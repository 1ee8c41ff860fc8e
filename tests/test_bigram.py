"""Bigram (next-word) side index — the Olaf combination-hash move in text
(olaf_fp_extractor.c:92-145,154-277: fingerprints ARE precomputed 2-3-point
combinations, so queries hit the combination directly instead of
intersecting huge per-point lists).

Contracts under test: (1) serving identity — with/without bigrams and vs
the pure-Python referent, for head-head pairs, trigrams, mixed, repeated
and absent-term phrases; (2) the 2-term head-head fast path answers from
row HEADERS (zero position bytes decoded) and still honors tombstones and
min_tf; (3) lifecycle — deltas inherit the base's head set, compaction
folds the pair rows, mixed head sets degrade (auto) or refuse (required);
(4) graceful degradation — malformed metas are 'not usable', never raise.
"""

from __future__ import annotations

import json
import re

import pytest

from olaf_spark.bigram import (
    bigrams_usable,
    build_bigrams,
    group_heads,
    load_heads,
    pair_id_py,
)
from olaf_spark.config import EngineConfig
from olaf_spark.phrase import build_positions, phrase_topk, phrase_units
from olaf_spark.synth import gen_pages

CFG = EngineConfig()


def py_phrase_tf(rows: list[tuple[int, str]], phrase: list[str]) -> dict[int, int]:
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
def bg_index(spark, tmp_path_factory):
    """Full index + positions + bigrams in one dir (the normal layout)."""
    from olaf_spark.indexer import build_index

    pages = gen_pages(spark, 300, seed=42).select("doc_id", "text").cache()
    rows = [(r["doc_id"], r["text"]) for r in pages.collect()]
    d = str(tmp_path_factory.mktemp("bg") / "ix")
    build_index(spark, pages, d, CFG, n_buckets=4)
    build_positions(spark, pages, d, CFG, n_buckets=4)
    build_bigrams(spark, pages, d, CFG, n_buckets=4, min_df=10)
    return rows, d


PHRASES = ("w2 w3", "w3 w2 w2", "w17 w2", "w2 w2", "w2 w3 w2", "w5",
           "zzznothere w2")


def test_bigram_serving_identity(bg_index):
    """use_bigrams auto == off == pure-Python referent, across pair /
    trigram / repeated-term / single / absent-term phrases."""
    rows, d = bg_index
    for p in PHRASES:
        want = sorted(
            py_phrase_tf(rows, p.split()).items(), key=lambda x: (-x[1], x[0])
        )[:10]
        on = phrase_topk(d, p, k=10)  # auto: bigrams present -> used
        off = phrase_topk(d, p, k=10, use_bigrams=False)
        req = phrase_topk(d, p, k=10, use_bigrams=True)
        assert on == off == req == want, (p, on[:3], off[:3], want[:3])


def test_head_head_pair_serves_from_headers(bg_index):
    """A 2-term head-head phrase is ONE pair unit: answered from the bigram
    row headers with ZERO position bytes decoded — the point of the index."""
    _, d = bg_index
    st: dict = {}
    got = phrase_topk(d, "w2 w3", k=10, _stats=st)
    assert got
    assert st["n_pair_units"] == 1
    assert st["n_decoded"] == 0
    # trigram: two overlapping pair units, decodes far fewer than singles
    st_tri: dict = {}
    st_off: dict = {}
    phrase_topk(d, "w3 w2 w2", k=10, _stats=st_tri)
    phrase_topk(d, "w3 w2 w2", k=10, use_bigrams=False, _stats=st_off)
    assert st_tri["n_pair_units"] == 2
    assert st_tri["n_decoded"] < st_off["n_decoded"]


def test_pair_fast_path_min_tf(bg_index):
    """min_tf through the header-only fast path == post-filtered referent,
    still with zero decode."""
    rows, d = bg_index
    want_tf = py_phrase_tf(rows, ["w2", "w3"])
    for min_tf in (2, 3):
        want = sorted(
            ((doc, tf) for doc, tf in want_tf.items() if tf >= min_tf),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        st: dict = {}
        assert phrase_topk(d, "w2 w3", k=10, min_tf=min_tf, _stats=st) == want
        assert st["n_decoded"] == 0


def test_pair_fast_path_respects_tombstones(bg_index):
    """Merge-on-read deletes apply inside the header-only path too."""
    from olaf_spark.indexer import Index

    _, d = bg_index
    before = phrase_topk(d, "w2 w3", k=5)
    assert before
    victim = before[0][0]
    ix = Index.load(d)
    ix.delete_docs([victim])
    try:
        st: dict = {}
        after = phrase_topk(d, "w2 w3", k=5, _stats=st)
        assert st["n_decoded"] == 0
        assert all(doc != victim for doc, _ in after)
    finally:
        ix.undelete_docs([victim])
    assert phrase_topk(d, "w2 w3", k=5) == before


def test_authoritative_absent_pair_zero_decode(spark, bg_index, tmp_path):
    """Both terms in the head set but never adjacent: the pair row's absence
    IS the answer (authoritative empty) — no fallback scan, no decode."""
    import numpy as np

    from olaf_spark.indexer import term_id_py

    rows, _ = bg_index
    # find two head-frequency terms with zero adjacent occurrences
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    cand_pairs = [("w29", "w31"), ("w31", "w29"), ("w23", "w29"), ("w37", "w41")]
    pick = next(p for p in cand_pairs if not py_phrase_tf(rows, list(p)))
    d = str(tmp_path / "auth")
    build_positions(spark, pages, d, CFG, n_buckets=2)
    heads = np.sort(np.asarray(
        [term_id_py(t) for t in {pick[0], pick[1]}], dtype=np.int64
    ))
    build_bigrams(spark, pages, d, CFG, n_buckets=2, heads=heads)
    st: dict = {}
    assert phrase_topk(d, " ".join(pick), k=10, _stats=st) == []
    assert st["n_pair_units"] == 1
    assert "n_decoded" not in st or st["n_decoded"] == 0
    # the positional fallback agrees
    assert phrase_topk(d, " ".join(pick), k=10, use_bigrams=False) == []


def test_phrase_units_greedy_cover():
    """Unit cover shapes: pairs swallow adjacent head offsets greedily; the
    tail offset re-uses the overlapping final pair; non-head offsets fall
    back to singles."""
    import numpy as np

    from olaf_spark.indexer import term_id_py

    h1, h2, h3, r1 = "w2", "w3", "w5", "zzrare"
    tid = {t: term_id_py(t) for t in (h1, h2, h3, r1)}
    heads = np.sort(np.asarray([tid[h1], tid[h2], tid[h3]], dtype=np.int64))

    def u(terms):
        return phrase_units(terms, [tid[t] for t in terms], heads)

    assert u([h1, h2]) == [(("p", pair_id_py(h1, h2)), 0)]
    # trigram of heads: two overlapping pairs, no single rows at all
    assert u([h1, h2, h3]) == [
        (("p", pair_id_py(h1, h2)), 0),
        (("p", pair_id_py(h2, h3)), 1),
    ]
    # rare head head -> single then pair
    assert u([r1, h1, h2]) == [
        (("s", tid[r1]), 0),
        (("p", pair_id_py(h1, h2)), 1),
    ]
    # head head rare -> pair then single
    assert u([h1, h2, r1]) == [
        (("p", pair_id_py(h1, h2)), 0),
        (("s", tid[r1]), 2),
    ]
    # no heads recorded -> all singles
    assert phrase_units([h1, h2], [tid[h1], tid[h2]], None) == [
        (("s", tid[h1]), 0),
        (("s", tid[h2]), 1),
    ]


def test_delta_inherits_head_set_and_group_serves(spark, bg_index, tmp_path):
    """append_index(with_bigrams=True): the delta indexes the SAME pairs as
    the base (inherited head set, equal fingerprints) and group serving
    from bigrams equals the full-corpus referent."""
    from olaf_spark.incremental import _delta_dirs, append_index
    from olaf_spark.indexer import build_index
    from olaf_spark.phrase import BIGRAMS, side_meta

    rows, _ = bg_index
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "grp")
    even = pages.where("doc_id % 2 = 0")
    build_index(spark, even, base, CFG, n_buckets=4)
    build_positions(spark, even, base, CFG, n_buckets=4)
    build_bigrams(spark, even, base, CFG, n_buckets=4, min_df=5)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=4,
        with_positions=True, with_bigrams=True,
    )
    (delta,) = _delta_dirs(base)
    assert (
        side_meta(delta, BIGRAMS)["heads_fingerprint"]
        == side_meta(base, BIGRAMS)["heads_fingerprint"]
    )
    assert group_heads([base, delta]) is not None
    for p in ("w2 w3", "w3 w2 w2", "w2 w3 w2"):
        want = sorted(
            py_phrase_tf(rows, p.split()).items(), key=lambda x: (-x[1], x[0])
        )[:10]
        assert phrase_topk(base, p, k=10, use_bigrams=True) == want, p
    st: dict = {}
    phrase_topk(base, "w2 w3", k=10, _stats=st)
    assert st["n_decoded"] == 0  # header-only across BOTH parts


def test_append_with_bigrams_requires_base_bigrams(spark, bg_index, tmp_path):
    from olaf_spark.incremental import append_index
    from olaf_spark.indexer import build_index

    rows, _ = bg_index
    pages = spark.createDataFrame(rows[:60], "doc_id long, text string")
    base = str(tmp_path / "nb")
    build_index(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=2)
    build_positions(spark, pages.where("doc_id % 2 = 0"), base, CFG, n_buckets=2)
    with pytest.raises(ValueError, match="no bigram side index"):
        append_index(
            spark, pages.where("doc_id % 2 = 1"), base, n_buckets=2,
            with_positions=True, with_bigrams=True,
        )


def test_compaction_folds_bigrams(spark, bg_index, tmp_path):
    """compact_index folds the pair rows in the same job: the compacted dir
    is bigram-usable with the group's fingerprint, answers are identical to
    the pre-compact group (still header-only), and tombstoned docs are
    physically gone."""
    from olaf_spark.incremental import append_index, compact_index
    from olaf_spark.indexer import Index, build_index
    from olaf_spark.phrase import BIGRAMS, side_meta

    rows, _ = bg_index
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "cf")
    even = pages.where("doc_id % 2 = 0")
    build_index(spark, even, base, CFG, n_buckets=4)
    build_positions(spark, even, base, CFG, n_buckets=4)
    build_bigrams(spark, even, base, CFG, n_buckets=4, min_df=5)
    append_index(
        spark, pages.where("doc_id % 2 = 1"), base, n_buckets=4,
        with_positions=True, with_bigrams=True,
    )
    before = phrase_topk(base, "w2 w3", k=10)
    victim = before[0][0]
    Index.load(base).delete_docs([victim])
    want = {p: phrase_topk(base, p, k=10) for p in ("w2 w3", "w3 w2 w2")}
    fp = side_meta(base, BIGRAMS)["heads_fingerprint"]
    out = str(tmp_path / "cf_out")
    compact_index(spark, base, out, n_groups=2)
    assert bigrams_usable(out)
    assert side_meta(out, BIGRAMS)["heads_fingerprint"] == fp
    for p, w in want.items():
        st: dict = {}
        got = phrase_topk(out, p, k=10, use_bigrams=True, _stats=st)
        assert got == w, (p, got[:3], w[:3])
        assert all(doc != victim for doc, _ in got)
    st = {}
    phrase_topk(out, "w2 w3", k=10, _stats=st)
    assert st["n_decoded"] == 0


def test_mixed_head_sets_degrade_or_refuse(spark, bg_index, tmp_path):
    """A delta whose bigrams were built with a DIFFERENT head set: auto
    serving falls back to the positional path (still correct), required
    serving and the compaction fold refuse loudly."""
    from olaf_spark.bigram import compact_bigrams
    from olaf_spark.incremental import _delta_dirs, append_index
    from olaf_spark.indexer import build_index

    rows, _ = bg_index
    pages = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path / "mx")
    even = pages.where("doc_id % 2 = 0")
    build_index(spark, even, base, CFG, n_buckets=2)
    build_positions(spark, even, base, CFG, n_buckets=2)
    build_bigrams(spark, even, base, CFG, n_buckets=2, min_df=5)
    odd = pages.where("doc_id % 2 = 1")
    append_index(spark, odd, base, n_buckets=2, with_positions=True)
    (delta,) = _delta_dirs(base)
    # different min_df -> different head set on the delta (bypasses the
    # public inherit path on purpose)
    build_bigrams(spark, odd, delta, CFG, n_buckets=2, min_df=50)
    assert group_heads([base, delta]) is None
    want = sorted(
        py_phrase_tf(rows, ["w2", "w3"]).items(), key=lambda x: (-x[1], x[0])
    )[:10]
    st: dict = {}
    assert phrase_topk(base, "w2 w3", k=10, _stats=st) == want  # auto: fallback
    assert st["n_pair_units"] == 0
    with pytest.raises(ValueError, match="cannot serve from bigrams"):
        phrase_topk(base, "w2 w3", k=10, use_bigrams=True)
    with pytest.raises(ValueError, match="head sets differ"):
        compact_bigrams(spark, [base, delta], str(tmp_path / "mx_out"), None, CFG)


def test_bigrams_usable_never_raises(tmp_path, bg_index):
    d = str(tmp_path)
    assert not bigrams_usable(d)  # missing
    meta = tmp_path / "bigram_meta.json"
    meta.write_text("{trunca")
    assert not bigrams_usable(d)  # truncated
    meta.write_text("[1, 2]")
    assert not bigrams_usable(d)  # valid JSON, wrong shape
    meta.write_text('{"format_version": 999, "heads_fingerprint": "x"}')
    assert not bigrams_usable(d)  # future layout
    # stale version on a real index: auto degrades, required refuses
    _, ix = bg_index
    with open(f"{ix}/bigram_meta.json") as f:
        good = json.load(f)
    try:
        bad = dict(good, format_version=999)
        with open(f"{ix}/bigram_meta.json", "w") as f:
            json.dump(bad, f)
        assert group_heads([ix]) is None
        assert phrase_topk(ix, "w2 w3", k=5)  # auto: positional fallback
        with pytest.raises(ValueError, match="cannot serve from bigrams"):
            phrase_topk(ix, "w2 w3", k=5, use_bigrams=True)
    finally:
        with open(f"{ix}/bigram_meta.json", "w") as f:
            json.dump(good, f)


def test_batch_phrase_pair_units_match_serving(spark, bg_index):
    """batch_phrase_topk with pair units: per-query answers identical to
    serving (which matches the referent) for pair / trigram / mixed /
    repeated / single / absent phrases — and identical to the singles-only
    batch plan."""
    from olaf_spark.phrase import batch_phrase_topk

    _, d = bg_index
    batch = [(i, p) for i, p in enumerate(PHRASES)]

    def per_q(df):
        out: dict[int, list[tuple[int, int]]] = {}
        for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["doc_id"], r["phrase_tf"]))
        return out

    got_bg = per_q(batch_phrase_topk(spark, d, batch, k=10, use_bigrams=True))
    got_pos = per_q(batch_phrase_topk(spark, d, batch, k=10, use_bigrams=False))
    for qid, text in batch:
        want = phrase_topk(d, text, k=10)
        assert got_bg.get(qid, []) == want, (qid, text)
        assert got_pos.get(qid, []) == want, (qid, text)


def test_batch_phrase_bucket_mismatch_degrades(spark, bg_index, tmp_path):
    """Bigrams rebuilt with a DIFFERENT n_buckets than positions: the
    (query, part, bucket) co-location key would split a doc's units across
    verify groups — auto mode must degrade to singles (correct answers),
    required mode must refuse."""
    import pytest as _pytest

    from olaf_spark.indexer import build_index
    from olaf_spark.phrase import batch_phrase_topk

    rows, _ = bg_index
    pages = spark.createDataFrame(rows[:120], "doc_id long, text string")
    d = str(tmp_path / "bm")
    build_index(spark, pages, d, CFG, n_buckets=4)
    build_positions(spark, pages, d, CFG, n_buckets=4)
    build_bigrams(spark, pages, d, CFG, n_buckets=2, min_df=5)  # mismatched
    batch = [(0, "w2 w3")]
    got = batch_phrase_topk(spark, d, batch, k=10).collect()
    want = phrase_topk(d, "w2 w3", k=10, use_bigrams=False)
    assert [(r["doc_id"], r["phrase_tf"]) for r in sorted(got, key=lambda r: r["rank"])] == want
    with _pytest.raises(ValueError, match="pair units"):
        batch_phrase_topk(spark, d, batch, k=10, use_bigrams=True)


def test_rebuild_crash_degrades_not_lies(spark, bg_index, tmp_path, monkeypatch):
    """A crash mid-REBUILD over committed bigrams must leave the dir
    NOT bigram-usable (the old meta is retracted before rows are touched)
    — never the old commit marker over new partial rows, which
    absence-is-authoritative would turn into silently wrong head-head
    answers. Serving degrades to the positional path and stays correct."""
    import olaf_spark.bigram as bg

    rows, _ = bg_index
    pages = spark.createDataFrame(rows[:100], "doc_id long, text string")
    d = str(tmp_path / "rc")
    build_positions(spark, pages, d, CFG, n_buckets=2)
    build_bigrams(spark, pages, d, CFG, n_buckets=2, min_df=5)
    assert bigrams_usable(d)
    want = phrase_topk(d, "w2 w3", k=10)

    def boom(out_dir, heads):
        raise RuntimeError("simulated crash before the meta commit")

    monkeypatch.setattr(bg, "_write_heads", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_bigrams(spark, pages, d, CFG, n_buckets=2, min_df=50)
    monkeypatch.undo()
    assert not bigrams_usable(d)  # marker retracted first
    assert group_heads([d]) is None
    assert phrase_topk(d, "w2 w3", k=10) == want  # positional fallback
    with pytest.raises(ValueError, match="cannot serve from bigrams"):
        phrase_topk(d, "w2 w3", k=10, use_bigrams=True)
    # a completed rebuild restores the fast path
    build_bigrams(spark, pages, d, CFG, n_buckets=2, min_df=5)
    assert bigrams_usable(d)
    assert phrase_topk(d, "w2 w3", k=10, use_bigrams=True) == want


def test_has_bigram_rows_ignores_uncommitted_files(bg_index, tmp_path):
    """Spark _temporary task attempts, _SUCCESS, and dot-tmp strays do not
    count as committed pair rows (the readers skip them too)."""
    import os

    from olaf_spark.phrase import has_rows

    d = str(tmp_path / "hb")
    os.makedirs(f"{d}/bigrams/_temporary/0", exist_ok=True)
    with open(f"{d}/bigrams/_temporary/0/part-0.parquet", "wb") as f:
        f.write(b"x")
    with open(f"{d}/bigrams/_SUCCESS", "wb"):
        pass
    with open(f"{d}/bigrams/.part-1.parquet.tmp.abc", "wb") as f:
        f.write(b"x")
    assert not has_rows(d, "bigrams")
    os.makedirs(f"{d}/bigrams/tb=0", exist_ok=True)
    with open(f"{d}/bigrams/tb=0/part-0.parquet", "wb") as f:
        f.write(b"x")
    # a committed file under a tb= dir counts
    assert has_rows(d, "bigrams")


def test_heads_cache_tracks_mtime(bg_index, tmp_path):
    """load_heads is cached per dir but must re-read after a rebuild (the
    sidecar's mtime is the invalidation key, like the tombstone sidecar)."""
    import os
    import shutil

    _, d = bg_index
    d2 = str(tmp_path / "cp")
    os.makedirs(d2)
    shutil.copyfile(f"{d}/bigram_heads.parquet", f"{d2}/bigram_heads.parquet")
    first = load_heads(d2)
    assert load_heads(d2) is first  # cache hit
    # simulate a rebuild with a different head set
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"term_id": pa.array([1, 2, 3], type=pa.int64())}),
        f"{d2}/bigram_heads.parquet",
    )
    os.utime(f"{d2}/bigram_heads.parquet", (1, 1))  # force distinct mtime
    assert np.array_equal(load_heads(d2), np.asarray([1, 2, 3]))


def test_empty_rebuild_refusal_is_a_true_noop(spark, bg_index, tmp_path):
    """A refused rebuild (empty docs DataFrame — a mis-filtered source)
    must leave the committed positional AND bigram indexes fully intact:
    validation runs BEFORE the commit-marker retraction, so the refusal
    mutates nothing. (Retract-then-validate would brick phrase serving on
    the group until a real rebuild.)"""
    rows, _ = bg_index
    pages = spark.createDataFrame(rows[:100], "doc_id long, text string")
    d = str(tmp_path / "noop")
    build_positions(spark, pages, d, CFG, n_buckets=2)
    build_bigrams(spark, pages, d, CFG, n_buckets=2, min_df=5)
    want = phrase_topk(d, "w2 w3", k=10, use_bigrams=True)
    empty = pages.where("doc_id < 0")
    with pytest.raises(ValueError, match="docs has no rows"):
        build_positions(spark, empty, d, CFG, n_buckets=2)
    with pytest.raises(ValueError, match="docs has no rows"):
        build_bigrams(spark, empty, d, CFG, n_buckets=2, min_df=5)
    assert bigrams_usable(d)  # marker untouched
    assert phrase_topk(d, "w2 w3", k=10, use_bigrams=True) == want


def test_compact_bigrams_clears_stale_out_dir_rows(spark, bg_index, tmp_path):
    """Folding all-rowless parts into an out_dir that previously held a
    committed bigram index with ROWS must not leave those stale rows
    committed under the fresh marker (absence-is-authoritative would
    serve them as answers for a different corpus)."""
    from olaf_spark.bigram import compact_bigrams
    from olaf_spark.phrase import has_rows

    rows, _ = bg_index
    pages = spark.createDataFrame(rows[:100], "doc_id long, text string")
    # source part: committed bigrams but ROWLESS (min_df higher than any df)
    src = str(tmp_path / "src")
    build_positions(spark, pages, src, CFG, n_buckets=2)
    build_bigrams(spark, pages, src, CFG, n_buckets=2, min_df=10_000)
    assert bigrams_usable(src) and not has_rows(src, "bigrams")
    # out_dir: previously committed bigram index WITH rows (different corpus)
    out = str(tmp_path / "out")
    build_positions(spark, pages, out, CFG, n_buckets=2)
    build_bigrams(spark, pages, out, CFG, n_buckets=2, min_df=5)
    assert has_rows(out, "bigrams")
    compact_bigrams(spark, [src], out, None, CFG)
    assert bigrams_usable(out)
    assert not has_rows(out, "bigrams")  # stale rows cleared, authoritative empty
    # and serving answers from the (authoritatively empty) pair set match
    # the positional referent: head set is src's, which indexes no pair
    assert group_heads([out]) is not None and group_heads([out]).size == 0
