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

  _fetch_posting_rows          the query terms' posting rows from every part
                               as row ranges of the process-wide term-row
                               cache (termrows.term_rows: each parquet row
                               group is decoded once into flat numpy
                               columns, a lookup is a searchsorted), plus
                               each row's term, part and the group df
  load_term_postings           eager decode: ONE batch decode straight from
                               the cached (buffer, row_ends) columns, one
                               gather into (term, part, chunk) order, scored
                               with group-global stats
  IndexGroup.load_term_postings_raw
                               undecoded rows (views of the cached buffers)
                               with group-valid block maxes; blockmax_topk
                               slices the surviving block runs as views and
                               decodes them with one concatenate per column

No row's payload is copied into Python objects on the way (no per-row
dicts, lists or bytes): the cost of a query is its numpy passes.

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

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import SparkSession

from olaf_spark.codec import bm25_contrib, decode_posting_rows, ranges_index
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import tombstone_keep_mask
from olaf_spark.scorer import idf as idf_fn
from olaf_spark.termrows import TermRows, term_rows
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


@dataclass
class PostingRows:
    """The query's posting rows of every part (_fetch_posting_rows),
    columnar. `rows` holds them part by part in term_rows order; `order`
    permutes that into (term, part, chunk) order — None when it already
    is — and the per-row arrays below are in that order."""

    terms: list[str]         # the query's terms that have rows, ascending
    df: np.ndarray           # group df per term
    rows: TermRows           # every part's rows, fetch order
    order: np.ndarray | None
    term: np.ndarray         # per row: index into terms
    part: np.ndarray         # per row: part index

    def __len__(self) -> int:
        return self.term.size


def _fetch_posting_rows(group, query_text: str) -> PostingRows:
    """The posting rows of the query's distinct terms in every part, to be
    read in (term, part, chunk) order.

    The serving path does NOT launch a Spark job: like Olaf's query opening
    LMDB read-only once (olaf_runner.c:34-39), every part's postings are
    read through the process-wide term-row cache (termrows.term_rows): the
    query's tb dirs are listed once, a row group is decoded once into flat
    columns, and a lookup is an np.searchsorted over its sorted term_ids.

    Terms are the query's term STRINGS, so accumulation order stays
    ascending-by-term-string (the oracle's order — bit-identical float
    sums); on a term_id collision the lexicographically first string labels
    the merged postings. Group df sums each part's df (every chunk row of a
    term within one part carries that part's full df).
    """
    from olaf_spark.indexer import term_id_py

    id_to_term: dict[int, str] = {}
    for t in sorted(set(tokenize_py(query_text, group.cfg))):
        id_to_term.setdefault(term_id_py(t), t)
    rows, n_rows = TermRows([]), []
    for p in group.parts:
        r = term_rows(
            os.path.join(p.index_dir, "postings"), list(id_to_term), group.cfg.n_segments
        )
        rows += r
        n_rows.append(len(r))
    # each row's term: the rank of its label among the labels, by string
    labels = sorted(id_to_term.values())
    rank = {t: i for i, t in enumerate(labels)}
    qids = np.array(sorted(id_to_term), dtype=np.int64)
    rank_of = np.array([rank[id_to_term[q]] for q in qids.tolist()], dtype=np.int64)
    term = rank_of[qids.searchsorted(rows.column("term_id"))]
    part = np.repeat(np.arange(len(n_rows)), n_rows)
    order = np.lexsort((rows.column("chunk"), part, term))  # stable
    term, part, part_df = term[order], part[order], rows.column("df")[order]
    # rows now run term by term: number the terms that have rows, and sum
    # one df per (term, part) — a part's chunk rows repeat its df
    new_term = np.ones(term.size, dtype=bool)
    np.not_equal(term[1:], term[:-1], out=new_term[1:])
    first = new_term.copy()
    first[1:] |= part[1:] != part[:-1]
    starts = new_term.nonzero()[0]
    return PostingRows(
        terms=[labels[i] for i in term[starts].tolist()],
        df=np.add.reduceat(part_df * first, starts) if starts.size else starts,
        rows=rows,
        order=None if (order[1:] > order[:-1]).all() else order,
        term=new_term.cumsum() - 1,
        part=part,
    )


def load_term_postings(
    spark: SparkSession | None, index, query_text: str
) -> list[TermPostings]:
    """Fetch + decode the query's postings: one TermPostings per term, every
    part's rows concatenated, tombstones dropped, scored with group-global
    (N, avgdl, df).

    `index` is an Index or an IndexGroup. `spark` is accepted for API
    symmetry but unused — see _fetch_posting_rows. Every row of the query
    is decoded and scored in ONE batch call, straight from the cached
    columns; the postings are then put in (term, part, chunk) row order
    with one gather. A doc lives in exactly one (part, chunk) per term, so
    per-doc accumulation order is still term order for every scorer.
    """
    group = _as_group(index)
    cfg = group.cfg
    pr = _fetch_posting_rows(group, query_text)
    if not len(pr):
        return []
    ids, tfs, dls, counts = decode_posting_rows(
        *(pr.rows.values(c) for c in ("doc_ids_bin", "tfs_bin", "doc_lens_bin")),
        cfg.block_size,
    )
    if pr.order is not None:
        take = ranges_index((np.cumsum(counts) - counts)[pr.order], counts[pr.order])
        ids, tfs, dls, counts = ids[take], tfs[take], dls[take], counts[pr.order]
    ids = ids.view(np.int64)
    idf = np.array([idf_fn(group.n_docs, d) for d in pr.df.tolist()])  # group df
    term = np.repeat(pr.term, counts)
    w = idf[term]
    ts_arr = group.tombstones_arr()
    if ts_arr is not None:
        keep = tombstone_keep_mask(ids, ts_arr)  # merge-on-read delete
        ids, tfs, dls, term, w = ids[keep], tfs[keep], dls[keep], term[keep], w[keep]
    scores = bm25_contrib(w, tfs, dls, cfg.k1, cfg.b, group.avgdl)
    bounds = np.searchsorted(term, np.arange(len(pr.terms) + 1)).tolist()
    return [
        TermPostings(term=t, idf=float(idf[i]), doc_ids=ids[lo:hi], scores=scores[lo:hi])
        for i, (t, lo, hi) in enumerate(zip(pr.terms, bounds[:-1], bounds[1:]))
    ]


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
    """Undecoded posting row + block seek tables — the lazy-decode handle:
    the block-max scorer touches only the bytes of blocks that survive
    pruning (blocks decode independently; codec.py's posting row). The
    buffers and arrays are views of the cached row group
    (termrows.TermRows.row_values), except block_maxes, rescaled per group.
    """

    term: str
    idf: float
    id_buf: np.ndarray        # uint8
    tf_buf: np.ndarray
    dl_buf: np.ndarray
    id_offs: np.ndarray       # int64 byte offset of each block in its buffer
    tf_offs: np.ndarray
    dl_offs: np.ndarray
    block_lasts: np.ndarray   # int64 last doc_id per block
    block_maxes: np.ndarray   # float64 max contribution per block


def _decode_blocks(
    items: list[tuple[RawTermPostings, np.ndarray]], cfg: EngineConfig, avgdl: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids int64, contributions float64, postings per item) of the
    given blocks ONLY of each (row, sorted unique block indices) item, in
    item order, decoded in ONE batch call.

    Blocks are sliced as CONTIGUOUS RUNS, not one slice per block: a slice
    starting at a block boundary decodes like a whole blocked row, so every
    run is one more row of the batch decode. A run is a view of the cached
    buffer; one concatenate per column makes the batch's (buffer, row_ends).
    Per-block Python calls were the difference between a win and a 5x
    loss — measured at 400k docs.
    """
    if not items:
        empty = np.empty(0, dtype=np.int64)
        return empty, np.empty(0, dtype=np.float64), empty
    cols: tuple[list, list, list] = ([], [], [])
    w_runs: list[float] = []
    n_runs: list[int] = []
    for rp, blocks in items:
        runs, bl = [], blocks.tolist()  # [b0, b1) runs of consecutive blocks
        for b in bl:
            if runs and runs[-1][1] == b:
                runs[-1][1] = b + 1
            else:
                runs.append([b, b + 1])
        for out, buf, offs in zip(
            cols, (rp.id_buf, rp.tf_buf, rp.dl_buf), (rp.id_offs, rp.tf_offs, rp.dl_offs)
        ):
            o = offs.tolist() + [len(buf)]
            out.extend(buf[o[b0]:o[b1]] for b0, b1 in runs)
        w_runs += [rp.idf] * len(runs)
        n_runs.append(len(runs))
    ids, tfs, dls, counts = decode_posting_rows(
        *((np.concatenate(c), np.cumsum([v.size for v in c])) for c in cols), cfg.block_size
    )
    scores = bm25_contrib(np.repeat(w_runs, counts), tfs, dls, cfg.k1, cfg.b, avgdl)
    per_item = np.add.reduceat(counts, np.cumsum(n_runs) - n_runs)
    return ids.view(np.int64), scores, per_item


def blockmax_topk(
    raw_lists: list[RawTermPostings],
    k: int,
    cfg: EngineConfig,
    avgdl: float,
    tombstones: np.ndarray | None = None,  # SORTED int64 (tombstones_arr)
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
    ts_arr = tombstones
    bs = cfg.block_size
    n_all = np.array([rp.block_lasts.size for rp in raw_lists])

    # ---- 1. theta from the shortest list that can hold >= k postings -------
    eligible = np.flatnonzero(n_all * bs >= k)
    theta = float(min_score) if min_score > 0.0 else -np.inf
    shortest = -1
    if eligible.size:
        shortest = int(eligible[np.argmin(n_all[eligible])])
        sp = raw_lists[shortest]
        all_blocks = np.arange(sp.block_lasts.size, dtype=np.int64)
        s_ids, s_scores, _ = _decode_blocks([(sp, all_blocks)], cfg, avgdl)
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

    # ---- 3. decode surviving blocks (one batch call), exact score, top-k ---
    n_decoded = 0
    items, before = [], 0  # before: items that precede the theta list
    for li, (rp, (idx, valid)) in enumerate(zip(raw_lists, block_idx)):
        if li == shortest:  # already fully decoded for theta
            n_decoded += int(rp.block_lasts.size)
            before = len(items)
            continue
        blocks = np.unique(idx[surviving & valid])
        n_decoded += int(blocks.size)
        if blocks.size:
            items.append((rp, blocks))
    if stats_out is not None:
        stats_out["n_blocks_total"] = int(n_all.sum())
        stats_out["n_blocks_decoded"] = n_decoded
    ids, scores, per_item = _decode_blocks(items, cfg, avgdl)
    if shortest >= 0:
        # splice the theta list back at its place: a doc's contributions
        # must arrive in ascending term order
        cut = int(per_item[:before].sum())
        ids = np.concatenate([ids[:cut], s_ids, ids[cut:]])
        scores = np.concatenate([scores[:cut], s_scores, scores[cut:]])
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
