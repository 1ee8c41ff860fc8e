"""BM25 top-k serving: one read path and the vectorized scorers.

Reference analogue: Olaf's query loop (`olaf_fp_matcher.c`) is a
threshold-driven accumulator over sorted posting ranges: `minMatchCount`
is a score threshold that prunes low-evidence candidates, `maxResults`
a bounded top-k heap (:275-341), and the sorted B+tree key layout is what
makes range skipping possible (`olaf_fp_extractor.c:66-91`). Block-max
WAND (Broder et al. 2003; Ding & Suel 2011 — public literature) is the
principled version of that: per-block score upper bounds let the scorer
skip whole blocks that cannot beat the current k-th best score.

Every index is served as an IndexGroup (incremental.py); a single index is
the one-part group, so there is one read path:

  _fetch_posting_rows          the query terms' posting rows from every part,
                               read through the process-wide term-row cache
                               (termrows.term_rows: each parquet row group is
                               decoded once, a lookup is a searchsorted)
  load_term_postings           eager decode, scored with group-global stats
  IndexGroup.load_term_postings_raw
                               undecoded rows with group-valid block maxes

and one method table (SERVING_METHODS), shared by query_index and
IndexGroup.topk:

  vectorized   eager decode + one numpy accumulate (query_index default)
  blockmax     block-max pruning in array operations + lazy block decode
               (IndexGroup.topk default)
  wand         alias of blockmax — block-max WAND, evaluated vectorized
  exhaustive   term-at-a-time dict accumulate, the test referent

There is no Python document-at-a-time loop: a cursor-per-list WAND loop
measured ~16x slower than the vectorized scorer, so skipping happens in
numpy (blockmax_topk).

This runs DRIVER-SIDE and launches no Spark job — the p50-latency serving
path; parts are read serially (a thread pool per query cost more than the
cached reads it overlapped). The distributed
DataFrame paths (scorer.py, batch.py) remain the bulk paths. All are
rank-identical to the oracle.

Determinism: a doc sums its term contributions in ascending term order,
float64 — the oracle's accumulation order. Top-k ordering: (score desc,
doc_id asc).
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import SparkSession

from olaf_spark.codec import decode_ids_blocked, varbyte_decode
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import sorted_tombstone_arr, tombstone_keep_mask
from olaf_spark.scorer import idf as idf_fn
from olaf_spark.termrows import term_rows
from olaf_spark.tokenize import tokenize_py

#: serving methods of query_index and IndexGroup.topk; "wand" is an alias
#: of "blockmax"
SERVING_METHODS = ("vectorized", "blockmax", "wand", "exhaustive")


@dataclass
class TermPostings:
    term: str
    idf: float
    doc_ids: np.ndarray     # int64, ascending within each posting row
    scores: np.ndarray      # float64 full BM25 contribution per posting


def _as_group(index):
    """A single Index is served as the one-part IndexGroup."""
    from olaf_spark.incremental import IndexGroup

    return index if isinstance(index, IndexGroup) else IndexGroup([index])


def _fetch_posting_rows(group, query_text: str) -> list[tuple[str, int, int, dict]]:
    """(term, part index, group df, row) for every posting row of the
    query's distinct terms in every part, sorted by (term, part, chunk).

    The serving path does NOT launch a Spark job: like Olaf's query opening
    LMDB read-only once (olaf_runner.c:34-39), every part's postings are
    read through the process-wide term-row cache (termrows.term_rows): the
    query's tb dirs are listed once, a row group is decoded once, and a
    lookup is an np.searchsorted over its sorted term_ids.

    term is the query's term STRING, so accumulation order stays
    ascending-by-term-string (the oracle's order — bit-identical float
    sums); on a term_id collision the lexicographically first string labels
    the merged postings. Group df sums each part's df (every chunk row of a
    term within one part carries that part's full df).
    """
    from olaf_spark.indexer import term_id_py

    qterms = sorted(set(tokenize_py(query_text, group.cfg)))
    if not qterms:
        return []
    id_to_term: dict[int, str] = {}
    for t in qterms:
        id_to_term.setdefault(term_id_py(t), t)
    rows = [
        (id_to_term[r["term_id"]], pi, r)
        for pi, p in enumerate(group.parts)
        for r in term_rows(
            os.path.join(p.index_dir, "postings"), list(id_to_term), group.cfg.n_segments
        ).to_pylist()
    ]
    part_df = {(term, pi): int(r["df"]) for term, pi, r in rows}
    df: dict[str, int] = {}
    for (term, _), v in part_df.items():
        df[term] = df.get(term, 0) + v
    rows.sort(key=lambda x: (x[0], x[1], x[2]["chunk"]))
    return [(term, pi, df[term], r) for term, pi, r in rows]


def load_term_postings(
    spark: SparkSession | None, index, query_text: str
) -> list[TermPostings]:
    """Fetch + decode the query's postings: one TermPostings per term, every
    part's rows concatenated, tombstones dropped, scored with group-global
    (N, avgdl, df).

    `index` is an Index or an IndexGroup. `spark` is accepted for API
    symmetry but unused — see _fetch_posting_rows. A doc lives in exactly
    one (part, chunk) per term, so per-doc accumulation order is still
    term order for every scorer.
    """
    group = _as_group(index)
    cfg = group.cfg
    ts_arr = group.tombstones_arr()  # cached sorted array, no per-query build
    out = []
    for term, entries in itertools.groupby(
        _fetch_posting_rows(group, query_text), key=lambda e: e[0]
    ):
        entries = list(entries)
        rows = [r for _, _, _, r in entries]
        ids = np.concatenate([
            decode_ids_blocked(bytes(r["doc_ids_bin"]), cfg.block_size).astype(np.int64)
            for r in rows
        ])
        tfs = np.concatenate([varbyte_decode(bytes(r["tfs_bin"])) for r in rows])
        dls = np.concatenate([varbyte_decode(bytes(r["doc_lens_bin"])) for r in rows])
        if ts_arr is not None:
            keep = tombstone_keep_mask(ids, ts_arr)  # merge-on-read delete
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        w = idf_fn(group.n_docs, entries[0][2])  # group df, same on every row
        tfs_f = tfs.astype(np.float64)
        dls_f = dls.astype(np.float64)
        # association order matches the oracle exactly: idf * (tf*(k1+1)/denom)
        scores = w * (
            tfs_f * (cfg.k1 + 1.0)
            / (tfs_f + cfg.k1 * (1.0 - cfg.b + cfg.b * dls_f / group.avgdl))
        )
        out.append(TermPostings(term=term, idf=w, doc_ids=ids, scores=scores))
    return out


def _accumulate_topk(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> list[tuple[int, float]]:
    """Sum each doc's contributions, then exact top-k (score desc, doc_id
    asc) — the one accumulate-and-select kernel of every vectorized scorer.

    Determinism: contributions arrive in ascending term order, the STABLE
    sort keeps equal doc_ids in that order, and np.add.reduceat folds each
    doc's segment in that order. reduceat uses numpy's pairwise summation,
    so sums sit within 1 ulp of the oracle's strict sequential fold (the
    4dp rounding of every oracle comparison absorbs this); results are
    still run-to-run deterministic for a fixed segment.

    Cost shape: each posting list is already doc_id-sorted, so the stable
    argsort is a timsort run-merge (near-linear), and top-k selection is
    an argpartition + small exact re-sort instead of a full lexsort over
    every matched doc (a head-term query matches most of the corpus).
    """
    if ids.size == 0:  # e.g. every posting tombstoned
        return []
    order = np.argsort(ids, kind="stable")
    ids_s = ids[order]
    sc_s = scores[order]
    d_new = np.empty(ids_s.size, dtype=bool)
    d_new[0] = True
    d_new[1:] = ids_s[1:] != ids_s[:-1]
    starts = np.flatnonzero(d_new)
    uniq = ids_s[starts]
    acc = np.add.reduceat(sc_s, starts)

    n = uniq.size
    if n > k:
        # exact top-k with (score desc, doc_id asc) ties: partition for the
        # k-th score, keep everything >= it, re-sort only that sliver
        kth = np.partition(acc, n - k)[n - k]
        sel = np.flatnonzero(acc >= kth)
        sub = np.lexsort((uniq[sel], -acc[sel]))[:k]
        top = sel[sub]
    else:
        top = np.lexsort((uniq, -acc))[:k]
    return [(int(uniq[i]), float(acc[i])) for i in top]


def vectorized_topk(lists: list[TermPostings], k: int) -> list[tuple[int, float]]:
    """Exact BM25 top-k over eagerly decoded postings — query_index's
    default scorer. `lists` arrives sorted by term (load_term_postings), so
    concatenation order == ascending term order."""
    if not lists or k <= 0:
        return []
    return _accumulate_topk(
        np.concatenate([tp.doc_ids for tp in lists]),
        np.concatenate([tp.scores for tp in lists]),
        k,
    )


def exhaustive_topk(lists: list[TermPostings], k: int) -> list[tuple[int, float]]:
    """Term-at-a-time exhaustive scoring — the referent for the pruning tests.

    Accumulates per-term passes in ascending term order so each doc's float
    additions happen in oracle order.
    """
    acc: dict[int, float] = {}
    for tp in lists:  # lists arrive sorted by term
        for d, s in zip(tp.doc_ids.tolist(), tp.scores.tolist()):
            acc[d] = acc.get(d, 0.0) + s
    ranked = sorted(acc.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


@dataclass
class RawTermPostings:
    """Undecoded posting row + block seek tables — the lazy-decode handle.

    Blocks are independently decodable (doc_ids gap-encode with an absolute
    restart at each block boundary; *_offs give byte offsets), so the
    block-max scorer touches only the bytes of blocks that survive pruning.
    """

    term: str
    idf: float
    id_buf: bytes
    tf_buf: bytes
    dl_buf: bytes
    id_offs: np.ndarray
    tf_offs: np.ndarray
    dl_offs: np.ndarray
    block_lasts: np.ndarray   # int64 last doc_id per block
    block_maxes: np.ndarray   # float64 max contribution per block


def _decode_blocks(
    rp: RawTermPostings, blocks: np.ndarray, cfg: EngineConfig, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids int64, contributions float64) of the given blocks ONLY.

    Blocks are decoded as CONTIGUOUS RUNS, one numpy pass per run, not one
    per block: a slice starting at a block boundary is itself a valid
    blocked buffer (restarts every block_size), so a run decodes exactly
    like a whole buffer. Per-block Python calls were the difference between
    a win and a 5x loss — measured at 400k docs.
    """
    n_blocks = rp.block_lasts.size
    # contiguous runs of the (sorted, unique) block list
    cuts = np.flatnonzero(np.diff(blocks) > 1) + 1
    runs = np.split(blocks, cuts)
    ids_l, tf_l, dl_l = [], [], []
    for run in runs:
        b0, b1 = int(run[0]), int(run[-1]) + 1
        for buf, offs, out in (
            (rp.id_buf, rp.id_offs, ids_l),
            (rp.tf_buf, rp.tf_offs, tf_l),
            (rp.dl_buf, rp.dl_offs, dl_l),
        ):
            lo = int(offs[b0])
            hi = int(offs[b1]) if b1 < n_blocks else len(buf)
            out.append(buf[lo:hi])
    ids = np.concatenate(
        [decode_ids_blocked(b, cfg.block_size) for b in ids_l]
    ).astype(np.int64)
    tfs = np.concatenate([varbyte_decode(b) for b in tf_l]).astype(np.float64)
    dls = np.concatenate([varbyte_decode(b) for b in dl_l]).astype(np.float64)
    scores = rp.idf * (
        tfs * (cfg.k1 + 1.0) / (tfs + cfg.k1 * (1.0 - cfg.b + cfg.b * dls / avgdl))
    )
    return ids, scores


def blockmax_topk(
    raw_lists: list[RawTermPostings],
    k: int,
    cfg: EngineConfig,
    avgdl: float,
    tombstones=None,  # set/list, or a SORTED int64 array (tombstones_arr)
    min_score: float = 0.0,
    stats_out: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k with VECTORIZED block-max pruning + lazy decode.

    Block-max WAND re-expressed numpy-first (a Python document-at-a-time
    cursor loop is 10-100x slower than vectorized scoring — measured;
    skipping must happen in array operations to pay off):

      1. theta: fully decode only the SHORTEST list; the k-th largest of its
         (tombstone-filtered) contributions lower-bounds the final k-th
         score — every one of those k docs ends with >= its contribution.
      2. segment pruning: the union of all lists' block_lasts cuts the
         doc_id axis into segments; a segment's upper bound is the sum of
         the covering blocks' maxes (one vectorized searchsorted per list).
         Segments with ub < theta cannot contain a top-k doc.
      3. decode ONLY blocks overlapping surviving segments, score exactly,
         take top-k. Docs that ride in via a partially-surviving block but
         live in a pruned segment carry partial sums < theta and rank
         strictly below every true top-k doc — the answer is exact.

    min_score > 0 additionally raises theta to the threshold BEFORE any
    decoding: a thresholded query prunes every block that cannot reach the
    floor without touching its bytes (Olaf's minMatchCount as a skip
    criterion, not a post-filter).

    Rank- and score-identical to vectorized_topk/exhaustive_topk
    (tests/test_index_wand.py), including under tombstones (deleting docs
    only lowers true scores; stored maxes stay upper bounds).

    stats_out (optional dict) receives n_blocks_total / n_blocks_decoded —
    the pruning evidence the skip tests assert on.
    """
    if not raw_lists or k <= 0:
        return []
    ts_arr = sorted_tombstone_arr(tombstones)
    bs = cfg.block_size
    n_all = np.array([rp.block_lasts.size for rp in raw_lists])

    # ---- 1. theta from the shortest list that can hold >= k postings -------
    eligible = np.flatnonzero(n_all * bs >= k)
    theta = float(min_score) if min_score > 0.0 else -np.inf
    theta_decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    if eligible.size:
        shortest = int(eligible[np.argmin(n_all[eligible])])
        sp = raw_lists[shortest]
        all_blocks = np.arange(sp.block_lasts.size, dtype=np.int64)
        s_ids, s_scores = _decode_blocks(sp, all_blocks, cfg, avgdl)
        theta_decoded[shortest] = (s_ids, s_scores)
        sc = s_scores
        if ts_arr is not None:
            sc = sc[tombstone_keep_mask(s_ids, ts_arr)]
        if sc.size >= k:
            theta = max(
                theta, float(np.partition(sc, sc.size - k)[sc.size - k])
            )

    # ---- 2. segment grid + upper bounds ------------------------------------
    grid = np.unique(np.concatenate([rp.block_lasts for rp in raw_lists]))
    ub = np.zeros(grid.size, dtype=np.float64)
    block_idx = []
    for rp in raw_lists:
        idx = np.searchsorted(rp.block_lasts, grid, side="left")
        valid = idx < rp.block_lasts.size
        ub[valid] += rp.block_maxes[np.minimum(idx, rp.block_lasts.size - 1)][valid]
        block_idx.append((idx, valid))
    surviving = ub >= theta if np.isfinite(theta) else np.ones(grid.size, dtype=bool)

    # ---- 3. decode surviving blocks, exact score, top-k --------------------
    n_decoded = 0
    ids_l, sc_l = [], []
    for li, (rp, (idx, valid)) in enumerate(zip(raw_lists, block_idx)):
        if li in theta_decoded:
            ids, scores = theta_decoded[li]  # already fully decoded for theta
            n_decoded += int(rp.block_lasts.size)
            ids_l.append(ids)
            sc_l.append(scores)
            continue
        blocks = np.unique(idx[surviving & valid])
        n_decoded += int(blocks.size)
        if blocks.size == 0:
            continue
        ids, scores = _decode_blocks(rp, blocks, cfg, avgdl)
        ids_l.append(ids)
        sc_l.append(scores)
    if stats_out is not None:
        stats_out["n_blocks_total"] = int(n_all.sum())
        stats_out["n_blocks_decoded"] = n_decoded
    if not ids_l:
        return []
    ids = np.concatenate(ids_l)
    scores = np.concatenate(sc_l)
    if ts_arr is not None:
        keep = tombstone_keep_mask(ids, ts_arr)
        ids, scores = ids[keep], scores[keep]
    out = _accumulate_topk(ids, scores, k)
    if min_score > 0.0:
        # drops partially-scored riders from pruned segments too (their
        # partial sums are < theta <= min_score by construction)
        out = [(d, s) for d, s in out if s >= min_score]
    return out


def query_index(
    spark: SparkSession,
    index,
    query_text: str,
    k: int | None = 10,
    method: str = "vectorized",
    min_score: float | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) from a materialized index: IndexGroup.topk over
    the one-part group.

    method (SERVING_METHODS): "vectorized" (default, eager decode),
    "blockmax" (vectorized block-max pruning + LAZY block decode — only
    blocks that can beat theta are ever decoded), "wand" (alias of
    blockmax), or "exhaustive" (test referent).

    k=None uses cfg.max_results (Olaf maxResults=50, olaf_config.c:99-100);
    min_score=None uses cfg.min_score (minMatchCount analogue,
    olaf_config.c:89-94) — scores below the threshold never surface.
    """
    if k is None:
        k = index.cfg.max_results
    return _as_group(index).topk(query_text, k, method, min_score)
