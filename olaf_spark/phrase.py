"""Positional side index + exact phrase (adjacency) queries.

Reference analogue: Olaf stores each fingerprint's TIME inside the packed
posting value (`olaf_fp_db_writer.c` packs t1 into the 64-bit key) and the
matcher verifies TIME-COHERENCE — matches must align in time, not just
co-occur (`olaf_fp_matcher.c:148-186`, the time-diff tally that
`match_tally` re-expresses). Token positions are the text twin of those
timestamps, and an exact-phrase query is the text twin of a time-aligned
fingerprint sequence: term i must occur at position p+i of the SAME doc.

Spark-first shape:

  build_positions   one wide shuffle (same doc-id-range bucketing as the
                    main build) -> mapInPandas pack: per (term, bucket) row
                    holds doc_ids (delta+varbyte), per-doc position counts
                    (varbyte), and per-doc delta-encoded positions (one
                    buffer, restart at each doc boundary — encode_grouped's
                    delta_starts) -> parquet hive-partitioned by tb.
                    A SIDE index: the main postings format is untouched
                    (phrase support is additive, like Olaf keeping metadata
                    in a separate LMDB database, olaf_db.c:64-71).

  phrase_topk       driver-side serving read, no Spark job: every part's
                    position (and bigram pair) rows come from the same
                    process-wide term-row cache as wand._fetch_posting_rows
                    (termrows.term_rows — each row group decoded once, a
                    lookup is a searchsorted; a rowless bigrams dir lists
                    no files and contributes nothing). Decode each phrase
                    term's (doc, positions), then verify adjacency fully
                    vectorized — term i's (doc, pos - i) keys intersect
                    across terms; surviving keys ARE the phrase
                    occurrences. phrase_tf per doc ranks the result.

Scale notes: rows are (term, bucket)-chunked like stage-1 segments, so a
head term's positions never form one mega-row; a phrase query reads only
its terms' rows; positions add ~1 varbyte per occurrence next to the main
index's ~1.2 bytes/posting. Candidate verification is per-query numpy over
the decoded lists — the same latency class as the BM25 serving scorer.

Delta phase: positional rows are doc-disjoint and phrase_tf needs no
corpus statistics, so group serving is just "read every part's position
rows" — phrase_topk automatically includes any delta that carries its own
positions (append_index(..., with_positions=True) builds them alongside
the delta's postings), and refuses loudly if some delta lacks them
(silent partial answers would be worse). compact_index folds every
part's positional rows into the compacted index (compact_positions), so
phrase serving resumes the moment it commits — no positions rebuild.

One skeleton for every doc-range-bucketed positional kind (positions
here, bigram pairs in bigram.py): write_positional_rows is the one build
writer and fold_positional_rows the one compaction fold + commit.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.codec import delta_decode, encode_grouped, varbyte_decode
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import (
    _iter_term_chunks,
    bucket_expr,
    bucket_of_np,
    cluster_for_write,
    dir_bytes,
    doc_range,
    fold_range,
    in_expr_int,
    merge_task_count,
    rep_query_df,
    shard_from_id_col,
    sorted_tombstone_arr,
    term_id_col,
    term_id_py,
    tombstone_keep_mask,
)
from olaf_spark.termrows import term_rows
from olaf_spark.tokenize import tokenize_py, tokens_df

POSITIONS_SCHEMA = (
    "term_id long, bucket int, n_docs long, "
    "doc_ids_bin binary, pos_counts_bin binary, pos_bin binary, "
    "pos_offs array<long>"
)

#: positional layout version; 2 = per-doc byte offsets (lazy candidate
#: decode); 3 = v2 + the doc-range bucket as an explicit column (the
#: co-location key of the distributed batch phrase path — all terms of the
#: same doc range group together) + (lo, width) recorded in positions_meta
#: so compaction can re-bucket folded rows. Checked at read so a stale
#: layout fails loudly.
POSITIONS_FORMAT_VERSION = 3

_DEFAULT = EngineConfig()


def _seg_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Segmented cumsum: each segment's first value is absolute, the rest
    are gaps (the decode twin of encode_grouped's delta_starts restarts)."""
    if vals.size == 0:
        return vals
    cts = np.asarray(counts, dtype=np.int64)
    c = np.cumsum(vals, dtype=np.uint64)
    starts = np.concatenate([[0], np.cumsum(cts)[:-1]]).astype(np.int64)
    cpad = np.concatenate([np.zeros(1, dtype=np.uint64), c])
    base = cpad[starts]
    return c - np.repeat(base, cts)


def _make_pack_positions(lo: int, width: int, n_buckets: int):
    """Sorted (term_id, doc_id, pos) occurrence rows -> packed position rows
    per (term, bucket) group — same single-pass numpy group detection as
    the main build's _pack_stage1."""
    import pandas as pd

    def _pack_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        terms = pdf["term_id"].to_numpy(dtype=np.int64)
        docs_ = pdf["doc_id"].to_numpy(dtype=np.int64)
        pos = pdf["pos"].to_numpy(dtype=np.uint64)
        buckets = bucket_of_np(docs_, lo, width, n_buckets)

        g_new = np.empty(n, dtype=bool)
        g_new[0] = True
        g_new[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
        d_new = g_new.copy()
        d_new[1:] |= docs_[1:] != docs_[:-1]

        doc_starts = np.flatnonzero(d_new)               # occurrence space
        counts = np.diff(np.append(doc_starts, n)).astype(np.uint64)
        doc_ids = docs_[doc_starts].astype(np.uint64)

        g_rows = np.flatnonzero(g_new)                   # occurrence space
        g_docs = np.searchsorted(doc_starts, g_rows)     # doc space
        n_docs = np.diff(np.append(g_docs, doc_starts.size))

        # positions: ONE buffer per group, gap-encoded with an ABSOLUTE
        # restart at every doc boundary, plus each doc's byte offset inside
        # its group buffer — the lazy-decode seek table (phrase serving
        # decodes ONLY candidate docs' position runs, like the blocked
        # posting codec decodes only surviving blocks)
        from olaf_spark.codec import _varbyte_encode_arr, delta_encode_grouped

        pv = delta_encode_grouped(pos, doc_starts)
        buf, nbytes = _varbyte_encode_arr(pv)
        vstarts = np.concatenate([[0], np.cumsum(nbytes)])
        g_bytes = vstarts[g_rows]
        g_ends = np.append(g_bytes[1:], vstarts[-1])
        raw = buf.tobytes()
        pos_bufs = [raw[int(s):int(e)] for s, e in zip(g_bytes, g_ends)]
        doc_abs = vstarts[doc_starts]
        group_of_doc = np.searchsorted(g_rows, doc_starts, side="right") - 1
        rel = (doc_abs - g_bytes[group_of_doc]).astype(np.int64)
        pos_offs = [a.tolist() for a in np.split(rel, g_docs[1:])]

        return pd.DataFrame(
            {
                "term_id": terms[g_rows],
                "bucket": buckets[g_rows].astype("int32"),
                "n_docs": n_docs.astype("int64"),
                "doc_ids_bin": encode_grouped(doc_ids, g_docs, delta=True),
                "pos_counts_bin": encode_grouped(counts, g_docs, delta=False),
                "pos_bin": pos_bufs,
                "pos_offs": pos_offs,
            }
        )

    def _pack(pdf_iter):
        for pdf in _iter_term_chunks(pdf_iter):
            yield _pack_chunk(pdf)

    return _pack


def write_positional_rows(
    spark: SparkSession,
    occ: DataFrame,
    rows_dir: str,
    lo: int,
    width: int,
    n_buckets: int,
    cfg: EngineConfig,
) -> None:
    """The one build writer of positional rows (positions and bigram
    pairs): (doc_id, pos, term_id) occurrence rows -> one packed
    POSITIONS_SCHEMA row per (term, doc-range bucket), clustered on tb
    (one file per tb) and written hive-partitioned by tb under rows_dir.
    The bucket exchange is the only wide shuffle of the raw occurrences."""
    b_expr = bucket_expr(F.col("doc_id"), lo, width, n_buckets)
    n_tasks = max(n_buckets, spark.sparkContext.defaultParallelism)
    packed = (
        occ.repartition(n_tasks, b_expr, F.col("term_id"))
        .sortWithinPartitions("term_id", "doc_id", "pos")
        .mapInPandas(_make_pack_positions(lo, width, n_buckets), POSITIONS_SCHEMA)
        .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
    )
    packed = cluster_for_write(packed, "tb", n_tasks, cfg.n_segments)
    packed.write.mode("overwrite").partitionBy("tb").parquet(rows_dir)


def _positions_meta(lo: int, hi: int, n_buckets: int, width: int) -> dict:
    """positions_meta.json — the positional index's commit marker."""
    return {
        "n_buckets": n_buckets,
        "format_version": POSITIONS_FORMAT_VERSION,
        "lo": lo,
        "hi": hi,
        "width": width,
    }


def build_positions(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> str:
    """Materialize the positional side index under <out_dir>/positions."""
    from olaf_spark.metafs import get_metafs
    from olaf_spark.session import rebalance_scan

    cfg = cfg or EngineConfig()
    # config-freeze invariant (olaf_config.h:46-50): when out_dir already
    # holds an index config (positions added to an existing index), the
    # caller's cfg must EQUAL it — silently overwriting would re-tokenize
    # the main postings under a different contract on the next load
    if os.path.exists(os.path.join(out_dir, "engine_config.json")):
        EngineConfig.load(out_dir).check_compatible(cfg)
    _n, lo, hi, width = doc_range(docs, id_col, n_buckets, f"positions at {out_dir}")
    # REBUILD over committed positions: retract the commit marker before
    # any row lands — a crash mid-rebuild must leave _check_positions
    # refusing loudly, never the old meta over partially-overwritten rows
    # (which would serve silently wrong phrase answers)
    mfs = get_metafs()
    mfs.remove_file(os.path.join(out_dir, "positions_meta.json"))

    toks = tokens_df(
        rebalance_scan(spark, docs, id_col), text_col, id_col, cfg, with_pos=True
    )
    occ = toks.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        term_id_col(F.col("term")).alias("term_id"),
    )
    write_positional_rows(
        spark, occ, os.path.join(out_dir, "positions"), lo, width, n_buckets, cfg
    )
    cfg.save(out_dir)
    # atomic publish: the meta IS the commit marker (_check_positions
    # refuses without it) — a crash mid-dump must not leave a truncated
    # json that turns the clean 'rebuild with build_positions' refusal
    # into a JSONDecodeError on every phrase query
    mfs.publish_json(
        os.path.join(out_dir, "positions_meta.json"),
        _positions_meta(lo, hi, n_buckets, width),
    )
    return out_dir


def _make_fold_positions(lo: int, width: int, n_buckets: int, bts):
    """mapInPandas fn for compaction: each task's slice of positional rows
    (sorted by term_id, first_doc) -> folded rows under the COMPACTED
    corpus's bucket layout. Docs are disjoint across parts, and every doc's
    position run restarts absolute (v2+ layout), so the merge never decodes
    a position byte: doc headers are re-sorted, tombstoned docs dropped,
    and each surviving doc's position byte-slice is gathered VERBATIM into
    the new buffer (one vectorized fancy-index per term). The same
    doc-range-parallel shape as the postings fold (make_posting_fold): a head
    term's rows may split across tasks, yielding multiple doc-disjoint
    output rows per (term, bucket), which the read path already merges.

    bts: SparkContext BROADCAST of the sorted tombstone array (or None) —
    by handle, not value: closure capture would re-ship a multi-MB delete
    set into every one of the fold's (up to thousands of) task launches."""
    import pandas as pd

    def _fold_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        ts_sorted = bts.value
        terms = pdf["term_id"].to_numpy(dtype=np.int64)
        id_bins = pdf["doc_ids_bin"].to_numpy()
        cnt_bins = pdf["pos_counts_bin"].to_numpy()
        pos_bins = pdf["pos_bin"].to_numpy()
        offs_col = pdf["pos_offs"].to_numpy()
        row_new = np.empty(len(pdf), dtype=bool)
        row_new[0] = True
        row_new[1:] = terms[1:] != terms[:-1]
        row_starts = np.flatnonzero(row_new)
        row_ends = np.append(row_starts[1:], len(pdf))

        cols = ("term_id", "bucket", "n_docs", "doc_ids_bin",
                "pos_counts_bin", "pos_bin", "pos_offs")
        out: dict[str, list] = {c: [] for c in cols}
        for s, e in zip(row_starts, row_ends):
            ids_l, cnt_l, starts_l, lens_l, bufs = [], [], [], [], []
            base = 0
            for i in range(s, e):
                ids_r = delta_decode(varbyte_decode(bytes(id_bins[i]))).astype(np.int64)
                cnt_r = varbyte_decode(bytes(cnt_bins[i])).astype(np.int64)
                buf_r = bytes(pos_bins[i])
                offs_r = np.asarray(offs_col[i], dtype=np.int64)
                ids_l.append(ids_r)
                cnt_l.append(cnt_r)
                starts_l.append(offs_r + base)
                lens_l.append(np.append(offs_r[1:], len(buf_r)) - offs_r)
                bufs.append(buf_r)
                base += len(buf_r)
            ids = np.concatenate(ids_l)
            cnts = np.concatenate(cnt_l)
            starts = np.concatenate(starts_l)
            lens = np.concatenate(lens_l)
            big = b"".join(bufs)
            order = np.argsort(ids, kind="stable")
            if ts_sorted is not None and ts_sorted.size:
                order = order[tombstone_keep_mask(ids[order], ts_sorted)]
            if order.size == 0:
                continue  # every posting of this term slice tombstoned away
            ids_f = ids[order]
            cnts_f = cnts[order]
            lens_f = lens[order]
            gat = _ranges_gather_index(starts[order], lens_f)
            new_buf = np.frombuffer(big, dtype=np.uint8)[gat].tobytes()
            doc_offs = np.concatenate([[0], np.cumsum(lens_f)[:-1]]).astype(np.int64)
            buckets = bucket_of_np(ids_f, lo, width, n_buckets)
            b_new = np.empty(ids_f.size, dtype=bool)
            b_new[0] = True
            b_new[1:] = buckets[1:] != buckets[:-1]
            g_docs = np.flatnonzero(b_new)  # doc-space group starts
            g_ends = np.append(g_docs[1:], ids_f.size)
            g_bytes = doc_offs[g_docs]
            g_byte_ends = np.append(g_bytes[1:], len(new_buf))
            out["term_id"].extend([int(terms[s])] * g_docs.size)
            out["bucket"].extend(buckets[g_docs].tolist())
            out["n_docs"].extend((g_ends - g_docs).tolist())
            out["doc_ids_bin"].extend(
                encode_grouped(ids_f.astype(np.uint64), g_docs, delta=True)
            )
            out["pos_counts_bin"].extend(
                encode_grouped(cnts_f.astype(np.uint64), g_docs, delta=False)
            )
            out["pos_bin"].extend(
                new_buf[int(a):int(b)] for a, b in zip(g_bytes, g_byte_ends)
            )
            group_of_doc = np.searchsorted(g_docs, np.arange(ids_f.size), side="right") - 1
            rel = doc_offs - g_bytes[group_of_doc]
            out["pos_offs"].extend(a.tolist() for a in np.split(rel, g_docs[1:]))
        if not out["term_id"]:
            return None
        return pd.DataFrame(
            {
                "term_id": np.asarray(out["term_id"], dtype=np.int64),
                "bucket": np.asarray(out["bucket"], dtype=np.int32),
                "n_docs": np.asarray(out["n_docs"], dtype=np.int64),
                "doc_ids_bin": out["doc_ids_bin"],
                "pos_counts_bin": out["pos_counts_bin"],
                "pos_bin": out["pos_bin"],
                "pos_offs": out["pos_offs"],
            }
        )

    def _fold(pdf_iter):
        for pdf in _iter_term_chunks(pdf_iter):
            res = _fold_chunk(pdf)
            if res is not None:
                yield res

    return _fold


def has_rows(d: str, kind: str) -> bool:
    """True when <d>/<kind> holds at least one COMMITTED parquet file
    (hidden/_-prefixed dirs and files — Spark _temporary task attempts,
    _SUCCESS, dot-tmp strays — are ignored, matching what the parquet
    readers themselves skip). An empty DataFrame written with partitionBy
    materializes only _SUCCESS, which spark.read.parquet cannot read, so
    the Spark-side readers (the positional fold, batch phrase) check this
    first; driver-side serving needs no check (termrows lists no files).
    Never raises: os.walk ignores a missing or unreadable root."""
    for _cur, dirs, files in os.walk(os.path.join(d, kind)):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


def fold_positional_rows(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    kind: str,
    marker: str,
    metas: list[dict],
    make_meta,
    tombstones: set[int],
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> None:
    """The one compaction fold + commit of positional rows (positions and
    bigram pairs): every part's <d>/<kind> rows -> <out_dir>/<kind> under
    the folded corpus's bucket layout (fold_range over the parts' metas),
    then make_meta(lo, hi, n_buckets, width) is published as <marker>.

    One Spark job, doc-range parallel via the same (tb, term_id, first_doc)
    range shuffle as the postings fold; tombstoned docs are physically
    dropped. Commit protocol: the marker and any stale rows in out_dir are
    retracted FIRST (a failed fold must leave the kind unusable — serving
    refuses or degrades — never the old marker over cleared or partial
    rows), and the marker lands LAST. Parts with no committed row file
    (rowless but committed) contribute nothing. make_meta runs after the
    rows land, so sidecars the marker covers are written there."""
    from olaf_spark.incremental import _first_doc_udf
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    marker_path = os.path.join(out_dir, marker)
    rows_dir = os.path.join(out_dir, kind)
    mfs.remove_file(marker_path)
    if os.path.isdir(rows_dir):
        mfs.remove_dir(rows_dir, ignore_errors=True)
    lo, hi, n_buckets, width = fold_range(metas)
    srcs = [os.path.join(d, kind) for d in part_dirs if has_rows(d, kind)]
    if srcs:
        if n_merge_tasks is None:
            n_merge_tasks = merge_task_count(spark, dir_bytes(*srcs))
        bts = spark.sparkContext.broadcast(sorted_tombstone_arr(tombstones))
        rows = spark.read.parquet(srcs[0])
        for src in srcs[1:]:
            rows = rows.unionByName(spark.read.parquet(src))
        folded = (
            rows.select(
                "term_id", "doc_ids_bin", "pos_counts_bin", "pos_bin", "pos_offs", "tb"
            )
            .withColumn("first_doc", _first_doc_udf()(F.col("doc_ids_bin")))
            .repartitionByRange(n_merge_tasks, "tb", "term_id", "first_doc")
            .sortWithinPartitions("term_id", "first_doc")
            .mapInPandas(
                _make_fold_positions(lo, width, n_buckets, bts), POSITIONS_SCHEMA
            )
            .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
        )
        folded.write.mode("overwrite").partitionBy("tb").parquet(rows_dir)
    mfs.publish_json(marker_path, make_meta(lo, hi, n_buckets, width))


def compact_positions(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    tombstones: set[int],
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> str:
    """Fold every part's positional rows into <out_dir>/positions — the
    phrase twin of compact_index's postings fold, so phrase serving resumes
    the moment the compacted index commits (no manual positions rebuild;
    reference analogue: Olaf's t1 timestamps live INSIDE every packed
    posting and ride each store/merge automatically,
    src/olaf_fp_db_writer.c:54-59, src/olaf_fp_db_writer_cache.c:92-114).
    Tombstoned docs are dropped using the SAME snapshot the postings fold
    used; fold and commit protocol: fold_positional_rows."""

    metas = []
    for d in part_dirs:
        with open(os.path.join(d, "positions_meta.json")) as f:
            meta = json.load(f)
        found = meta.get("format_version", 1)
        if found != POSITIONS_FORMAT_VERSION:
            raise ValueError(
                f"positions at {d} are format v{found}; compaction folds "
                f"v{POSITIONS_FORMAT_VERSION} — rebuild with build_positions"
            )
        metas.append(meta)
    fold_positional_rows(
        spark, part_dirs, out_dir, "positions", "positions_meta.json", metas,
        _positions_meta, tombstones, cfg, n_merge_tasks,
    )
    return out_dir


def _fetch_term_rows(root: str, term_ids: list[int], n_segments: int) -> dict[int, list[dict]]:
    """term_id -> rows of <root> (positions or bigrams, read through the
    cached term rows, termrows.term_rows) with doc_ids/counts DECODED but
    positions RAW (buffer + per-doc offsets) — positions decode lazily per
    candidate."""
    tbl = term_rows(root, term_ids, n_segments)
    if not tbl.num_rows:
        return {}
    per: dict[int, list[dict]] = {}
    tids_col = tbl["term_id"].to_pylist()
    id_col = tbl["doc_ids_bin"]
    cnt_col = tbl["pos_counts_bin"]
    pos_col = tbl["pos_bin"]
    offs_col = tbl["pos_offs"]
    for i, tid in enumerate(tids_col):
        # arrow-native access: a head term's pos_offs holds one long per doc
        # (hundreds of thousands) — .values.to_numpy() is a buffer view,
        # where a to_pylist() round-trip built million-element Python lists
        # per query (measured ~2x on head-term phrases)
        per.setdefault(tid, []).append(
            dict(
                ids=delta_decode(varbyte_decode(id_col[i].as_py())).astype(np.int64),
                counts=varbyte_decode(cnt_col[i].as_py()).astype(np.int64),
                buf=pos_col[i].as_py(),
                offs=offs_col[i].values.to_numpy().astype(np.int64),
            )
        )
    return per


def _ranges_gather_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Fancy-index array selecting the concatenation of [start, start+len)
    byte ranges — the vectorized twin of a per-range Python slice loop.
    Built as a cumsum of unit steps with a jump at every range boundary."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = starts + lens
    gat = np.ones(total, dtype=np.int64)
    gat[0] = starts[0]
    cl = np.cumsum(lens)
    gat[cl[:-1]] = starts[1:] - ends[:-1] + 1
    return np.cumsum(gat)


def _positions_for_docs(
    row: dict, idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(kept doc_ids, kept counts, kept positions) for SORTED doc indices
    `idx` into the row.

    VECTORIZED SCATTERED DECODE: every doc's position run restarts absolute
    and its byte extent is known (pos_offs), so the kept docs' byte ranges
    are gathered with ONE fancy-index into one contiguous buffer and
    decoded with ONE varbyte_decode call — O(kept docs' bytes), regardless
    of how scattered the kept set is. This replaced the round-3 hybrid
    (per-run Python decode calls, measured 4x slower when the kept set
    shattered into thousands of runs, falling back to an O(total bytes)
    full decode when dense): the head-head dense case now decodes only
    candidate docs' bytes. Taking INDICES (not a row-length bool mask)
    keeps the cost independent of the row's size — the chunked serving
    loop calls this per candidate chunk, and an O(row) mask per chunk per
    row made chunking QUADRATIC on head terms (measured: 688 ms where the
    round-3 full decode took 502 ms). A nearly-full keep still short-cuts
    to one full decode + occurrence mask.
    """
    if idx.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.uint64)
    ids, counts, buf, offs = row["ids"], row["counts"], row["buf"], row["offs"]
    n = ids.size
    if idx.size * 1.25 >= n:
        keep = np.zeros(n, dtype=bool)
        keep[idx] = True
        pos_all = _seg_cumsum(varbyte_decode(buf), counts)
        occ_keep = np.repeat(keep, counts)
        return ids[idx], counts[idx], pos_all[occ_keep]
    starts = offs[idx]
    ends = np.empty(idx.size, dtype=np.int64)
    interior = idx < (n - 1)
    ends[interior] = offs[idx[interior] + 1]
    ends[~interior] = len(buf)
    gat = _ranges_gather_index(starts, ends - starts)
    sel = np.frombuffer(buf, dtype=np.uint8)[gat]
    return ids[idx], counts[idx], _seg_cumsum(varbyte_decode(sel.tobytes()), counts[idx])


def _check_positions(d: str) -> None:
    """Refuse loudly when a part has no (or a stale-layout) positional side
    index — a silent partial phrase answer would be worse."""

    meta_path = os.path.join(d, "positions_meta.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"{d} has no positional side index — run build_positions "
            "(or append with with_positions=True)"
        )
    with open(meta_path) as f:
        found = json.load(f).get("format_version", 1)
    if found != POSITIONS_FORMAT_VERSION:
        raise ValueError(
            f"positions at {d} are format v{found}; this engine reads "
            f"v{POSITIONS_FORMAT_VERSION} — rebuild with build_positions"
        )


def positions_usable(d: str) -> bool:
    """True when the dir carries positional rows in THIS engine's layout
    (exists + format_version match) — the graceful-degradation twin of
    _check_positions for callers that should skip, not raise (compaction).
    Any malformed meta (truncated json, wrong JSON shape) counts as not
    usable — this function must NEVER raise."""

    meta_path = os.path.join(d, "positions_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        return (
            isinstance(meta, dict)
            and meta.get("format_version", 1) == POSITIONS_FORMAT_VERSION
        )
    except (FileNotFoundError, json.JSONDecodeError):
        return False


#: per-dir tombstone-array cache keyed by (json mtime, sidecar mtime) — the
#: phrase paths take directory strings (no Index instance to cache on), and
#: without this every phrase query re-reads each part's delete set.
#: LRU-bounded: a long-lived driver touching many index dirs must not
#: accumulate dead arrays (same lifetime class as the atexit-cleaned
#: _ANN_CACHE; pop+reinsert keeps dict insertion order = recency order)
_TS_ARR_CACHE: dict[str, tuple[tuple, np.ndarray]] = {}
_TS_ARR_CACHE_MAX = 256


def _union_tombstones_arr(part_dirs: list[str]):
    """Sorted union of every part's tombstone array (None when no deletes)
    — reads the parquet sidecar via indexer.read_tombstones_arr (no JSON
    parse of a large delete set per query) and caches per dir keyed by
    both tombstone files' (inode, mtime_ns) sigs (olaf_spark.lru — every
    mutate commits via tmp + rename, so the inode always changes)."""
    from olaf_spark.indexer import read_tombstones_arr
    from olaf_spark.lru import file_sig, lru_get

    arrs = []
    for d in part_dirs:
        sig = tuple(
            file_sig(os.path.join(d, name))
            for name in ("tombstones.json", "tombstones.parquet")
        )
        arr = lru_get(
            _TS_ARR_CACHE, d, sig, lambda: read_tombstones_arr(d),
            _TS_ARR_CACHE_MAX,
        )
        if arr.size:
            arrs.append(arr)
    if not arrs:
        return None
    out = arrs[0]
    for a in arrs[1:]:
        out = np.union1d(out, a)
    return out


def phrase_units(
    qterms: list[str], tids: list[int], heads: np.ndarray | None
) -> list[tuple]:
    """Cover the phrase's positions with verification units: an
    authoritative head-head PAIR (both members in the bigram head set)
    covers two adjacent offsets with one selective bigram row; remaining
    offsets fall back to single-term units. Greedy left-to-right, with the
    tail offset allowed to re-use the overlapping last pair — a trigram of
    head terms covers as [pair@0, pair@1] and never touches a single
    term's near-corpus-length row.

    Returns [(key, offset)] where key is ("s", term_id) or ("p", pair_id)
    — the tag keeps single and pair row sources apart in the data dict."""
    from olaf_spark.bigram import pair_id_py

    n = len(qterms)

    def _in_heads(tid: int) -> bool:
        if heads is None or not heads.size:
            return False
        j = int(np.searchsorted(heads, tid))
        return j < heads.size and int(heads[j]) == tid

    auth = [_in_heads(tids[i]) and _in_heads(tids[i + 1]) for i in range(n - 1)]
    units: list[tuple] = []
    i = 0
    while i < n:
        if i < n - 1 and auth[i]:
            units.append((("p", pair_id_py(qterms[i], qterms[i + 1])), i))
            i += 2
        elif i == n - 1 and n >= 2 and auth[n - 2]:
            # last offset uncovered but the overlapping final pair is
            # authoritative — prefer it over the (possibly head) single
            units.append((("p", pair_id_py(qterms[n - 2], qterms[n - 1])), n - 2))
            break
        else:
            units.append((("s", tids[i]), i))
            i += 1
    return units


def phrase_topk(
    index_dir: str,
    phrase: str,
    k: int = 10,
    cfg: EngineConfig | None = None,
    min_tf: int = 1,
    _stats: dict | None = None,
    use_bigrams: bool | None = None,
) -> list[tuple[int, int]]:
    """Top-k (doc_id, phrase_tf) of docs containing the EXACT token
    sequence; ties break doc_id ascending. Fully vectorized verification:
    each unit contributes keys (doc_ordinal, pos - offset); the
    intersection across all units is the set of phrase start positions.
    Candidates are scanned in descending min-unit-tf order with WAND-style
    early termination, so a head-head phrase stops after the high-bound
    chunks instead of decoding every co-occurring doc (_stats, if given,
    receives n_candidates / n_decoded / n_pair_units for tests and
    benchmarks).

    use_bigrams: None = auto (use the bigram side index when every part
    carries one with a matching head set — olaf_spark/bigram.py); False =
    never; True = require (raise when the group can't serve from bigrams).
    A phrase that reduces to ONE unit (a single term, or a 2-term
    head-head pair) answers from the cheap doc-id headers alone — zero
    position bytes decoded.

    min_tf > 1 is the phrase twin of Olaf's minMatchCount quality gate
    (olaf_config.c:89-94) AND of bm25_topk_thresholded's θ: it seeds the
    early-termination threshold, so candidates whose min-unit-tf bound
    can't reach the floor are never decoded at all — a skip criterion,
    not a post-filter.
    """
    cfg = cfg or EngineConfig.load(index_dir)

    # group serving: every live delta must carry its own positions (phrase
    # answers need no cross-part statistics, so the union of part rows IS
    # the group index; a delta without positions would silently vanish
    # from phrase results — refuse instead)
    from olaf_spark.incremental import _delta_dirs

    part_dirs = [index_dir] + _delta_dirs(index_dir)
    for d in part_dirs:
        _check_positions(d)
    qterms = tokenize_py(phrase, cfg)  # ORDER MATTERS — not deduped/sorted
    if not qterms:
        return []
    tids = [term_id_py(t) for t in qterms]

    heads = None
    if use_bigrams is not False:
        from olaf_spark.bigram import group_heads

        heads = group_heads(part_dirs)
        if use_bigrams is True and heads is None:
            raise ValueError(
                "use_bigrams=True but the group cannot serve from bigrams "
                "(a part lacks them, or head sets differ across parts) — "
                f"run build_bigrams on {part_dirs}"
            )

    units = phrase_units(qterms, tids, heads)
    single_ids = sorted({key[1] for key, _ in units if key[0] == "s"})
    pair_ids = sorted({key[1] for key, _ in units if key[0] == "p"})

    # parts are read serially: with the row groups cached, a thread pool
    # per query cost more than the reads it overlapped. A committed-but-
    # rowless bigrams dir (no head-head pair occurred in the part) lists no
    # row files and contributes nothing.
    data: dict = {}
    for tag, kind, ids in (("s", "positions", single_ids), ("p", "bigrams", pair_ids)):
        for d in part_dirs:
            for tid, rows in _fetch_term_rows(os.path.join(d, kind), ids, cfg.n_segments).items():
                data.setdefault((tag, tid), []).extend(rows)
    if _stats is not None:
        _stats["n_pair_units"] = len(pair_ids)
    if any(key not in data for key, _ in units):
        # a single term matching nothing, or an AUTHORITATIVE pair with
        # zero indexed occurrences (head sets make absence meaningful) —
        # either way the phrase cannot occur
        return []

    # ---- one-unit fast path: the unit's per-doc counts ARE the phrase
    # tfs (a 1-term phrase, or a 2-term head-head pair served straight
    # from the bigram row headers) — no position byte is ever decoded
    if len(units) == 1:
        rows_u = data[units[0][0]]
        ids_u = np.concatenate([r["ids"] for r in rows_u])
        cnt_u = np.concatenate([r["counts"] for r in rows_u])
        order_u = np.argsort(ids_u, kind="stable")
        ids_u, cnt_u = ids_u[order_u], cnt_u[order_u]
        ts_arr = _union_tombstones_arr(part_dirs)
        if ts_arr is not None and ids_u.size:
            keep = tombstone_keep_mask(ids_u, ts_arr)
            ids_u, cnt_u = ids_u[keep], cnt_u[keep]
        if min_tf > 1:
            keep = cnt_u >= int(min_tf)
            ids_u, cnt_u = ids_u[keep], cnt_u[keep]
        if _stats is not None:
            _stats["n_candidates"] = int(ids_u.size)
            _stats["n_decoded"] = 0
        m = ids_u.size
        if m == 0:
            return []
        if m > k:
            kth = np.partition(cnt_u, m - k)[m - k]
            sel = np.flatnonzero(cnt_u >= kth)
            pick = sel[np.lexsort((ids_u[sel], -cnt_u[sel]))[:k]]
        else:
            pick = np.lexsort((ids_u, -cnt_u))[:k]
        return [(int(ids_u[i]), int(cnt_u[i])) for i in pick]

    # candidate docs: intersection of each unit's doc set — computed from
    # the (cheap) doc-id headers BEFORE any position bytes are touched, so
    # a head-term phrase with one selective unit only ever decodes the
    # selective candidate set's positions
    cand = None
    for t in dict.fromkeys(key for key, _ in units):
        # rows are doc-disjoint and internally sorted; ordered by first doc
        # the concat is usually globally sorted already (buckets are doc
        # RANGES) — skip the O(n log n) unique/sort unless parts overlap
        rows_t = sorted(data[t], key=lambda r: int(r["ids"][0]) if r["ids"].size else 0)
        d = np.concatenate([r["ids"] for r in rows_t])
        if d.size > 1 and not (d[1:] > d[:-1]).all():
            d = np.unique(d)
        if cand is None:
            cand = d
        else:  # sorted-merge intersection: O(n log m), no re-sort
            at = np.searchsorted(cand, d)
            ok = (at < cand.size) & (cand[np.minimum(at, cand.size - 1)] == d)
            cand = d[ok]
        if cand.size == 0:  # two units never share a doc: no phrase
            return []
    # merge-on-read deletes apply here like every other query path: the
    # union of part tombstones drops candidates before any position decode
    ts_arr = _union_tombstones_arr(part_dirs)
    if ts_arr is not None and cand.size:
        cand = cand[tombstone_keep_mask(cand, ts_arr)]
    if cand.size == 0:
        return []

    # ---- phrase-tf upper bound per candidate, from the CHEAP headers ----
    # ub(doc) = min over distinct units of the doc's tf for that unit — a
    # phrase can't occur more often than its rarest member unit (a pair
    # unit's adjacent-occurrence count bounds far tighter than either
    # member term's tf). The text twin of a WAND bound (wand.py cites the
    # same literature): candidates are processed in descending-ub chunks
    # and the scan STOPS once the running kth phrase_tf (theta) can no
    # longer be beaten or tied. Ties still settle by doc_id, so chunks
    # whose max ub EQUALS theta are still processed; only strictly-worse
    # chunks are skipped. This is what caps the head-head worst case: two
    # corpus-frequent terms yield a dense candidate set, but the final
    # top-k concentrates in the high-min-tf head of the ub order, so the
    # tail never decodes a byte.
    ub = None
    for t in dict.fromkeys(key for key, _ in units):
        c = np.zeros(cand.size, dtype=np.int64)
        for row in data[t]:
            # a row covers ONE doc-range bucket — slice the candidate set
            # to the row's [first, last] range before searching, so the
            # whole ub pass costs O(candidates) per term, not O(rows x
            # candidates) (measured ~100 ms of pure searchsorted on a
            # 352 k-candidate head-head pair without the slice)
            ids_r = row["ids"]
            if not ids_r.size:
                continue
            lo = int(np.searchsorted(cand, ids_r[0]))
            hi = int(np.searchsorted(cand, ids_r[-1], side="right"))
            if lo == hi:
                continue
            sub = cand[lo:hi]
            at = np.searchsorted(ids_r, sub)
            ok = (at < ids_r.size) & (ids_r[np.minimum(at, ids_r.size - 1)] == sub)
            c[lo + np.flatnonzero(ok)] += row["counts"][at[ok]]
        ub = c if ub is None else np.minimum(ub, c)
    order = np.argsort(-ub, kind="stable")

    # adaptive chunk: small sets in one pass; huge candidate sets in ~8
    # chunks so theta can terminate the tail, without paying per-chunk
    # fixed costs 40x when the bound turns out not to prune (a 3-term
    # phrase's min-tf bound rarely does)
    chunk = int(max(8192, min(65536, cand.size // 8)))
    res_docs: list[np.ndarray] = []
    res_tfs: list[np.ndarray] = []
    n_res = 0
    # a doc needs >= max(1, min_tf) phrase occurrences to appear at all;
    # min_tf > 1 starts the scan with a raised bar, so low-bound candidates
    # are pruned BEFORE any position byte is decoded
    theta = max(1, int(min_tf))
    n_decoded = 0
    for c0 in range(0, cand.size, chunk):
        if (n_res >= k or theta > 1) and int(ub[order[c0]]) < theta:
            break
        sub = np.sort(cand[order[c0 : c0 + chunk]])
        n_decoded += sub.size
        docs_c, tfs_c = _phrase_tfs(sub, data, units)
        if min_tf > 1 and docs_c.size:
            keep_tf = tfs_c >= min_tf
            docs_c, tfs_c = docs_c[keep_tf], tfs_c[keep_tf]
        if docs_c.size:
            res_docs.append(docs_c)
            res_tfs.append(tfs_c)
            n_res += docs_c.size
            if n_res >= k:
                all_tfs = res_tfs[0] if len(res_tfs) == 1 else np.concatenate(res_tfs)
                theta = int(np.partition(all_tfs, n_res - k)[n_res - k])
    if _stats is not None:
        _stats["n_candidates"] = int(cand.size)
        _stats["n_decoded"] = int(n_decoded)
    if not res_docs:
        return []
    doc_ids = np.concatenate(res_docs)
    tfs = np.concatenate(res_tfs)
    n = doc_ids.size
    if n > k:
        kth = np.partition(tfs, n - k)[n - k]
        sel = np.flatnonzero(tfs >= kth)
        pick = sel[np.lexsort((doc_ids[sel], -tfs[sel]))[:k]]
    else:
        pick = np.lexsort((doc_ids, -tfs))[:k]
    return [(int(doc_ids[i]), int(tfs[i])) for i in pick]


def _phrase_tfs(
    cand: np.ndarray, data: dict, units: list[tuple]
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, phrase_tfs) over a SORTED candidate subset — decodes only
    these candidates' position bytes (scattered-gather), verifies adjacency
    fully vectorized via packed (doc_ordinal << 32 | pos - i) key
    intersection. Shared by the serving path's chunk loop and the batch
    verify stage.

    units: [(key, offset)] — each verification unit constrains the phrase
    at `offset`: a single term (its own positions) or a bigram pseudo-term
    (positions of the pair's FIRST token, which constrain offsets i AND
    i+1 at once — Olaf's combination-hash move, olaf_fp_extractor.c:92-145).
    `data` maps each unit key to its decoded-header rows; the key's type is
    opaque here.

    Units are processed CHEAPEST-FIRST (by total position mass), and after
    each unit's key intersection the SURVIVING docs restrict the next
    unit's decode — in a mixed phrase the heaviest term only ever decodes
    docs that already hold an aligned partial match of all lighter units
    (the decode twin of ordering WAND cursors by list length). A repeated
    unit decodes once and applies one adjustment per phrase offset.
    """
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    pos_of: dict = {}
    for t, off in units:
        pos_of.setdefault(t, []).append(off)
    # cheap cost proxy from the headers: total occurrences in each term's
    # rows (a vector sum per row; candidate-restricted counts would need
    # the very search this ordering is trying to minimize)
    order_terms = sorted(
        pos_of, key=lambda t: sum(int(r["counts"].sum()) for r in data[t])
    )
    keys: np.ndarray | None = None
    live = cand                              # current candidate subset (sorted)
    live_ords = np.arange(cand.size)         # positions of live in cand
    for t in order_terms:
        ords_l, pos_l = [], []
        for row in data[t]:
            # search the (small, sorted) live set INTO the row, range-sliced
            # to the row's doc bucket — per call cost O(sub log row), so the
            # chunked serving loop's total work stays O(candidates), never
            # O(chunks x row). The surviving slice positions double as the
            # candidate ORDINALS (no second searchsorted).
            ids_r = row["ids"]
            if not ids_r.size:
                continue
            lo = int(np.searchsorted(live, ids_r[0]))
            hi = int(np.searchsorted(live, ids_r[-1], side="right"))
            if lo == hi:
                continue
            sub = live[lo:hi]
            at = np.searchsorted(ids_r, sub)
            ok = (at < ids_r.size) & (ids_r[np.minimum(at, ids_r.size - 1)] == sub)
            kids, kcounts, kpos = _positions_for_docs(row, at[ok])
            if kids.size == 0:
                continue
            ords_l.append(np.repeat(live_ords[lo + np.flatnonzero(ok)], kcounts))
            pos_l.append(kpos.astype(np.int64))
        if not ords_l:
            return empty
        ords = np.concatenate(ords_l)
        pos = np.concatenate(pos_l)
        if pos.size and int(pos.max()) >= (1 << 32):
            raise ValueError("token position exceeds 2^32 — unpackable doc")
        for i in pos_of[t]:
            adj = pos - i
            valid = adj >= 0
            kk = (ords[valid] << np.int64(32)) | adj[valid]
            keys = kk if keys is None else np.intersect1d(keys, kk)
            if keys.size == 0:
                return empty
        surviving = np.unique(keys >> np.int64(32))
        live_ords = surviving
        live = cand[surviving]
    assert keys is not None
    ords_f, tfs = np.unique(keys >> np.int64(32), return_counts=True)
    return cand[ords_f], tfs.astype(np.int64)


# --------------------------------------------------------------------------
# distributed batch phrase: B phrase queries as ONE Spark job
# --------------------------------------------------------------------------

PHRASE_STAGE1_SCHEMA = (
    "query_id long, ppos int, part int, bucket int, "
    "doc_ids_bin binary, pos_counts_bin binary, pos_bin binary, "
    "pos_offs array<long>"
)


def _make_phrase_fanout(bsubs):
    """mapInPandas fn: positional rows -> one copy per subscribing (query,
    phrase-position). Buffers travel PACKED — no decode before the shuffle;
    the shuffle key (query, part, bucket) co-locates every phrase term's
    rows covering the same doc range (bucket = f(doc_id) within a part, so
    a doc's rows for ALL terms share one group)."""
    import pandas as pd

    def fan(pdf_iter):
        # subscription map flattened ONCE per task into CSR-style arrays:
        # sorted term_ids + per-term (offset, len) into flat qid/ppos — the
        # per-row fan-out is then a searchsorted + repeat + one gather
        # (no Python loop over rows; each subscribed term has >= 1 entry,
        # so every gathered range is non-empty as _ranges_gather_index
        # requires)
        subs = bsubs.value[0]
        items = sorted(subs.items())
        sub_tids = np.asarray([t for t, _ in items], dtype=np.int64)
        sub_lens = np.asarray([len(v) for _, v in items], dtype=np.int64)
        sub_offs = np.concatenate(([0], np.cumsum(sub_lens)))[:-1]
        flat_qid = np.asarray(
            [q for _, v in items for q, _ in v], dtype=np.int64
        )
        flat_ppos = np.asarray(
            [p for _, v in items for _, p in v], dtype=np.int32
        )
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            tids = pdf["term_id"].to_numpy(dtype=np.int64)
            at = np.searchsorted(sub_tids, tids)
            ok = (at < sub_tids.size) & (
                sub_tids[np.minimum(at, sub_tids.size - 1)] == tids
            )
            rows = np.flatnonzero(ok)
            if rows.size == 0:
                continue  # row-group stats pruning is approximate
            sidx = at[rows]
            take = np.repeat(rows, sub_lens[sidx])
            g = _ranges_gather_index(sub_offs[sidx], sub_lens[sidx])
            sub = pdf.iloc[take]
            yield pd.DataFrame(
                {
                    "query_id": flat_qid[g],
                    "ppos": flat_ppos[g],
                    "part": sub["part"].to_numpy(dtype=np.int32),
                    "bucket": sub["bucket"].to_numpy(dtype=np.int32),
                    "doc_ids_bin": sub["doc_ids_bin"].to_numpy(),
                    "pos_counts_bin": sub["pos_counts_bin"].to_numpy(),
                    "pos_bin": sub["pos_bin"].to_numpy(),
                    "pos_offs": sub["pos_offs"].to_numpy(),
                }
            )

    return fan


def _make_phrase_verify(bsubs):
    """applyInPandas fn per (query, part, bucket) group: decode headers,
    intersect candidate docs, tombstone-filter, scattered-gather decode,
    vectorized adjacency verify (_phrase_tfs) — the same numpy core as
    driver-side phrase_topk, executed where the group's rows landed."""
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "doc_id": pd.Series(dtype="int64"),
            "phrase_tf": pd.Series(dtype="int64"),
        }
    )

    def verify(key, pdf):
        _, qoffs, ts_sorted = bsubs.value
        qid = int(key[0])
        offs_q = qoffs[qid]  # the query's unit OFFSETS (not 0..nt-1 when a
        #                      pair unit covers two adjacent positions)
        data: dict[int, list[dict]] = {}
        ppos_np = pdf["ppos"].to_numpy(dtype=np.int64)
        for i in range(len(pdf)):
            data.setdefault(int(ppos_np[i]), []).append(
                dict(
                    ids=delta_decode(
                        varbyte_decode(bytes(pdf["doc_ids_bin"].iloc[i]))
                    ).astype(np.int64),
                    counts=varbyte_decode(
                        bytes(pdf["pos_counts_bin"].iloc[i])
                    ).astype(np.int64),
                    buf=bytes(pdf["pos_bin"].iloc[i]),
                    offs=np.asarray(pdf["pos_offs"].iloc[i], dtype=np.int64),
                )
            )
        if set(data) != set(offs_q):
            return empty  # some phrase unit absent from this doc range
        cand = None
        for p in offs_q:
            dset = np.unique(np.concatenate([r["ids"] for r in data[p]]))
            cand = dset if cand is None else np.intersect1d(cand, dset, assume_unique=True)
        if ts_sorted is not None and ts_sorted.size and cand.size:
            cand = cand[tombstone_keep_mask(cand, ts_sorted)]
        if cand.size == 0:
            return empty
        docs, tfs = _phrase_tfs(cand, data, [(p, p) for p in offs_q])
        if docs.size == 0:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.full(docs.size, qid, dtype=np.int64),
                "doc_id": docs,
                "phrase_tf": tfs,
            }
        )

    return verify


def _bigram_buckets_match(d: str) -> bool:
    """True when the part's bigram rows bucket EXACTLY like its positional
    rows ((lo, width, n_buckets) equal) — the precondition for sharing the
    batch path's (query, part, bucket) co-location key. Never raises."""
    from olaf_spark.bigram import _read_meta

    bm = _read_meta(d)
    if bm is None:
        return False
    try:
        with open(os.path.join(d, "positions_meta.json")) as f:
            pm = json.load(f)
        return all(bm[k] == pm[k] for k in ("lo", "width", "n_buckets"))
    except (FileNotFoundError, json.JSONDecodeError, KeyError, TypeError):
        return False


def batch_phrase_topk(
    spark: SparkSession,
    base_dir: str,
    queries,
    k: int = 10,
    cfg: EngineConfig | None = None,
    min_tf: int = 1,
    use_bigrams: bool | None = None,
) -> DataFrame:
    """(query_id, doc_id, phrase_tf, rank) — exact-phrase top-k for EVERY
    query in the batch as ONE distributed plan over the positional rows
    (the phrase twin of batch.batch_query_index; reference analogue: Olaf's
    bulk-query protocol, eval/olaf_benchmark/olaf_benchmark.rb:76-81).

    Shape (100 TB / 1000 executors):
      driver   cover each phrase with VERIFICATION UNITS (pair units from
               the bigram side index for head-head adjacencies —
               phrase_units — else single terms), broadcast
               {posting_key -> [(query, unit_offset)]} + per-query offset
               tuples + the group tombstone snapshot
      scan     every part's positions parquet (single units) and bigrams
               parquet (pair units), each pruned by hive tb partition AND
               key row-group stats — only the batch's units' rows are
               read, buffers stay PACKED through the fan-out
      shuffle  one exchange keyed (query, part, bucket): all units of one
               doc range group together, so adjacency verifies group-locally
               (a doc lives in exactly one part and one bucket; positions
               and bigrams share the bucketing contract)
      verify   applyInPandas: the same vectorized candidate-intersection +
               scattered-gather decode + key-intersection core as serving
      top-k    rank<=k per query plans as WindowGroupLimit (map-side
               partial top-k before the final exchange)

    use_bigrams: None = auto (pair units when every part carries a bigram
    index with one shared head set); False = singles only; True = require.
    A head-head pair's row is ~100x smaller than its member terms' rows,
    so pair units shrink BOTH the scan and the exchange.

    Per query, (doc_id, phrase_tf) sets are identical to phrase_topk
    (tests/test_phrase.py, tests/test_bigram.py); job count is flat in B.
    """
    from pyspark.sql import Window

    from olaf_spark.incremental import _delta_dirs

    cfg = cfg or EngineConfig.load(base_dir)
    part_dirs = [base_dir] + _delta_dirs(base_dir)
    for d in part_dirs:
        _check_positions(d)

    heads = None
    if use_bigrams is not False:
        from olaf_spark.bigram import group_heads

        heads = group_heads(part_dirs)
        # the (query, part, bucket) exchange key co-locates a doc's single
        # AND pair rows only when both side indexes bucket identically —
        # they do when built over the same docs with the same n_buckets
        # (the shared contract), but a mismatched rebuild must degrade
        # here, not silently split a doc's units across two verify groups
        if heads is not None and not all(
            _bigram_buckets_match(d) for d in part_dirs
        ):
            heads = None
        if use_bigrams is True and heads is None:
            raise ValueError(
                "use_bigrams=True but the group cannot serve pair units "
                "(a part lacks bigrams, head sets differ, or the bigram "
                "bucketing does not match the positional bucketing) — "
                f"run build_bigrams on {part_dirs}"
            )

    subs: dict[int, list[tuple[int, int]]] = {}
    pair_keys: set[int] = set()
    qoffs: dict[int, tuple] = {}
    seen_qids: set[int] = set()
    # dedup equal token sequences into one REPRESENTATIVE each: a phrase's
    # (doc_id, phrase_tf) set is a pure function of its token sequence, so
    # B queries over R distinct phrases fan out, decode and verify R times,
    # and the <=R*k result rows replicate to every subscribed query_id via
    # a broadcast join at the end (bulk batches routinely repeat phrases)
    rep_of: dict[tuple[str, ...], int] = {}
    mapping: list[tuple[int, int]] = []
    for qid, text in queries:
        if int(qid) in seen_qids:
            # two phrases under one id would interleave their subscriptions
            # into one verify group and produce garbage — refuse loudly
            raise ValueError(f"duplicate query_id {int(qid)} in phrase batch")
        seen_qids.add(int(qid))
        qterms = tokenize_py(text, cfg)  # ORDER MATTERS — not deduped
        if not qterms:
            continue
        rep = rep_of.get(tuple(qterms))
        if rep is None:
            rep = len(rep_of)
            rep_of[tuple(qterms)] = rep
            tids = [term_id_py(t) for t in qterms]
            units = phrase_units(qterms, tids, heads)
            qoffs[rep] = tuple(off for _, off in units)
            for (tag, key_id), off in units:
                if tag == "p":
                    pair_keys.add(key_id)
                subs.setdefault(key_id, []).append((rep, off))
        mapping.append((rep, int(qid)))
    out_schema = "query_id long, doc_id long, phrase_tf long, rank long"
    if not subs:
        return spark.createDataFrame([], out_schema)

    ts_sorted = _union_tombstones_arr(part_dirs)
    bsubs = spark.sparkContext.broadcast((subs, qoffs, ts_sorted))

    single_ids = sorted(set(subs) - pair_keys)
    pair_ids = sorted(pair_keys)
    scan = None
    if single_ids:
        tbs = sorted({t % cfg.n_segments for t in single_ids})
        for pi, d in enumerate(part_dirs):
            r = (
                spark.read.parquet(os.path.join(d, "positions"))
                .where(in_expr_int("tb", tbs) & in_expr_int("term_id", single_ids))
                .withColumn("part", F.lit(pi))
            )
            scan = r if scan is None else scan.unionByName(r)
    if pair_ids:
        ptbs = sorted({t % cfg.n_segments for t in pair_ids})
        for pi, d in enumerate(part_dirs):
            # committed-but-rowless parts hold only _SUCCESS under bigrams/
            # — unreadable by a blind parquet open, and they contribute
            # nothing (authoritative empty)
            if not has_rows(d, "bigrams"):
                continue
            r = (
                spark.read.parquet(os.path.join(d, "bigrams"))
                .where(in_expr_int("tb", ptbs) & in_expr_int("term_id", pair_ids))
                .withColumn("part", F.lit(pi))
            )
            scan = r if scan is None else scan.unionByName(r)
    if scan is None:  # all-pair batch over an index whose parts hold no
        return spark.createDataFrame([], out_schema)  # pair rows at all

    verified = (
        scan.mapInPandas(_make_phrase_fanout(bsubs), PHRASE_STAGE1_SCHEMA)
        .groupBy("query_id", "part", "bucket")
        .applyInPandas(
            _make_phrase_verify(bsubs), "query_id long, doc_id long, phrase_tf long"
        )
    )
    if min_tf > 1:  # quality gate rides the plan before the top-k window
        verified = verified.where(F.col("phrase_tf") >= int(min_tf))
    # internal "query_id" is the REP id up to here; rank per rep, then the
    # broadcast mapping join fans the result rows out to every real query_id
    w = Window.partitionBy("query_id").orderBy(
        F.col("phrase_tf").desc(), F.col("doc_id").asc()
    )
    ranked = (
        verified.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumnRenamed("query_id", "rep")
    )
    mapping_df = rep_query_df(spark, mapping)
    return ranked.join(F.broadcast(mapping_df), "rep").select(
        "query_id", "doc_id", "phrase_tf", F.col("rank").cast("long").alias("rank")
    )
