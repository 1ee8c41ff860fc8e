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
                               cache (termrows.term_rows), plus each row's
                               term and part and each term's group df/idf
  _score_rows                  ONE batch decode straight from the cached
                               (buffer, row_ends) columns (block runs
                               gathered byte-wise first), in (term, part,
                               chunk) order, scored with group-global stats
  load_term_postings           every row through _score_rows
  IndexGroup.load_term_postings_raw
                               the same rows undecoded (RawPostingRows), with
                               flat block tables built only when a score
                               floor reads them

No row's payload is copied into Python objects on the way (no per-row
dicts, lists or bytes): the cost of a query is its numpy passes.

and one method table (SERVING_METHODS), shared by query_index and
IndexGroup.topk:

  vectorized   eager decode + one numpy accumulate (query_index default)
  blockmax     under a min_score floor, block-max pruning in numpy (a
               cursor-per-list WAND loop measured ~16x slower) and only
               surviving block runs decoded; with no floor, the vectorized
               decode (IndexGroup.topk default)
  wand         alias of blockmax
  exhaustive   term-at-a-time dict accumulate, the test referent

Block-max pruning needs a score floor known before any posting is read
(Olaf's minMatchCount). A floor guessed per query from a decoded shortest
row does not pay: on perfbench's `ingest` group (1,024 queries) it pruned
1 of 7,229 blocks, and the call took 0.673 ms against 0.390 ms for
vectorized; on a 50k-doc index it pruned 3% of blocks and was 7% slower
at p50 (2.27 vs 2.11 ms).

This runs DRIVER-SIDE and launches no Spark job — the p50-latency serving
path; parts are read serially (a thread pool per query cost more than the
cached reads it overlapped). The distributed DataFrame paths (scorer.py,
batch.py) remain the bulk paths. All are
rank-identical to the oracle.

Determinism: a doc sums its term contributions in ascending term order,
float64 — the oracle's accumulation order. Top-k ordering: (score desc,
doc_id asc).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property

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

_POSTING_COLS = ("doc_ids_bin", "tfs_bin", "doc_lens_bin")
_OFFS_COLS = ("id_offs", "tf_offs", "dl_offs")  # block byte offsets, same order


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
    idf: np.ndarray          # float64 group idf per term (scorer.idf)
    rows: TermRows           # every part's rows, fetch order
    order: np.ndarray | None
    term: np.ndarray         # per row: index into terms
    part: np.ndarray         # per row: part index
    part_df: np.ndarray      # per row: its part's df of its term

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
    df = np.add.reduceat(part_df * first, starts) if starts.size else starts
    return PostingRows(
        terms=[labels[i] for i in term[starts].tolist()],
        df=df,
        idf=np.array([idf_fn(group.n_docs, d) for d in df.tolist()], dtype=np.float64),
        rows=rows,
        order=None if (order[1:] > order[:-1]).all() else order,
        term=new_term.cumsum() - 1,
        part=part,
        part_df=part_df,
    )


def _score_rows(
    pr: PostingRows, cfg: EngineConfig, avgdl: float, spans=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids int64, contributions float64, term per posting) of the
    query's rows in (term, part, chunk) row order, decoded in ONE batch
    call straight from the cached columns and scored with group stats.

    spans = (lo, hi, term) decodes only the byte ranges [lo, hi) of the
    doc_ids/tfs/doc_lens buffers instead ((3, n) arrays; each range starts
    at a block boundary, so it decodes like a row of its own) and scores
    each with its term: the ranges are gathered byte-wise first, so bytes
    outside every range are never copied. Whole rows out of order are
    put in order after the decode, with one gather of the postings.
    """
    cols = [pr.rows.values(c) for c in _POSTING_COLS]
    term = pr.term
    if spans is not None:
        lo, hi, term = spans
        cols = [
            (buf[ranges_index(a, b - a)], np.cumsum(b - a))
            for (buf, _), a, b in zip(cols, lo, hi)
        ]
    ids, tfs, dls, counts = decode_posting_rows(*cols, cfg.block_size)
    if spans is None and pr.order is not None:
        take = ranges_index((np.cumsum(counts) - counts)[pr.order], counts[pr.order])
        ids, tfs, dls, counts = ids[take], tfs[take], dls[take], counts[pr.order]
    term = np.repeat(term, counts)
    return ids.view(np.int64), bm25_contrib(pr.idf[term], tfs, dls, cfg.k1, cfg.b, avgdl), term


def load_term_postings(
    spark: SparkSession | None, index, query_text: str
) -> list[TermPostings]:
    """Fetch + decode the query's postings: one TermPostings per term, every
    part's rows concatenated, tombstones dropped, scored with group-global
    (N, avgdl, df).

    `index` is an Index or an IndexGroup. `spark` is accepted for API
    symmetry but unused — see _fetch_posting_rows. Every row of the query
    is decoded and scored in ONE batch call (_score_rows). A doc lives in
    exactly one (part, chunk) per term, so per-doc accumulation order is
    still term order for every scorer.
    """
    group = _as_group(index)
    pr = _fetch_posting_rows(group, query_text)
    if not len(pr):
        return []
    ids, scores, term = _score_rows(pr, group.cfg, group.avgdl)
    ts_arr = group.tombstones_arr()
    if ts_arr is not None:
        keep = tombstone_keep_mask(ids, ts_arr)  # merge-on-read delete
        ids, scores, term = ids[keep], scores[keep], term[keep]
    bounds = np.searchsorted(term, np.arange(len(pr.terms) + 1)).tolist()
    return [
        TermPostings(term=t, idf=float(pr.idf[i]), doc_ids=ids[lo:hi], scores=scores[lo:hi])
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
class BlockTables:
    """Every block of a query's rows, one flat array per column, in (term,
    part, chunk) row order."""

    ends: np.ndarray     # per row: end of its blocks in the arrays below
    lasts: np.ndarray    # int64 last doc_id of each block
    maxes: np.ndarray    # float64 max contribution of each block, rescaled
    lo: np.ndarray       # (3, n_blocks) byte start and end of each block in
    hi: np.ndarray       # the doc_ids/tfs/doc_lens buffers of the fetch


@dataclass(eq=False)
class RawPostingRows:
    """The query's posting rows UNDECODED, the input of blockmax_topk: the
    fetch (its cached columns hold the bytes) and each row's block-max
    rescale factor (IndexGroup.load_term_postings_raw). The block tables
    are built from TermRows.values on first read: only a query with a
    score floor prunes, so only it pays for them."""

    rows: PostingRows
    scale: np.ndarray    # float64 per row: the factor its block_maxes take

    def __len__(self) -> int:
        return len(self.rows)

    @cached_property
    def blocks(self) -> BlockTables:
        rows, order = self.rows.rows, self.rows.order
        lasts, ends = rows.values("block_lasts")
        maxes, _ = rows.values("block_maxes")
        n = np.diff(ends, prepend=0)  # blocks per row, fetch order
        row_hi = np.stack([rows.values(c)[1] for c in _POSTING_COLS])
        row_lo = row_hi - np.diff(row_hi, axis=1, prepend=0)
        lo = np.stack([rows.values(c)[0] for c in _OFFS_COLS]) + np.repeat(row_lo, n, axis=1)
        hi = np.empty_like(lo)  # a block ends where the next one starts, or
        hi[:, :-1] = lo[:, 1:]  # at its row's end
        hi[:, ends[n > 0] - 1] = row_hi[:, n > 0]
        if order is not None:
            take = ranges_index((ends - n)[order], n[order])
            lasts, maxes, lo, hi, n = lasts[take], maxes[take], lo[:, take], hi[:, take], n[order]
        return BlockTables(np.cumsum(n), lasts, maxes * np.repeat(self.scale, n), lo, hi)


def _surviving_blocks(raw: RawPostingRows, theta: float) -> np.ndarray:
    """Per block of raw.blocks: can it hold a doc scoring >= theta?

    Every block's last doc_id is a point of the grid that cuts the doc_id
    axis into segments. A row's block j covers the points after block
    j-1's last (all from the first, for j = 0) up to its own. A doc has
    one posting per term at most, so a segment's bound is the sum over
    terms, in term order, of the largest covering block max among the
    term's rows. Docs of a pruned segment that ride in through a surviving
    block carry partial sums < theta, which the caller drops.
    """
    bt, term = raw.blocks, raw.rows.term
    n = np.diff(bt.ends, prepend=0)
    grid, gi = np.unique(bt.lasts, return_inverse=True)
    first = np.zeros(gi.size, dtype=bool)
    first[(bt.ends - n)[n > 0]] = True
    g_lo = np.where(first, 0, np.roll(gi, 1) + 1)  # lasts ascend within a row
    covered = np.zeros((n.size, grid.size))
    row_base = np.repeat(np.arange(n.size) * grid.size, n)
    covered.flat[ranges_index(row_base + g_lo, gi + 1 - g_lo)] = np.repeat(bt.maxes, gi + 1 - g_lo)
    term_starts = np.flatnonzero(np.diff(term, prepend=-1))
    ub = np.maximum.reduceat(covered, term_starts, axis=0).sum(axis=0)
    hit = np.concatenate([[0], np.cumsum(ub >= theta)])
    return hit[gi + 1] > hit[g_lo]


def blockmax_topk(
    raw: RawPostingRows,
    k: int,
    cfg: EngineConfig,
    avgdl: float,
    tombstones: np.ndarray | None = None,  # SORTED int64 (tombstones_arr)
    min_score: float = 0.0,
    stats_out: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k with block-max pruning under a score floor.

    Olaf's minMatchCount is a skip criterion known before any posting is
    read; min_score is that floor (theta) here, and the only one. With no
    floor every block survives, and the rows decode in ONE call, exactly
    as load_term_postings decodes them. With a floor, the segment bounds
    come from the flat block tables (_surviving_blocks), runs of
    consecutive surviving blocks decode in ONE call, and a pruned block's
    bytes are neither copied nor decoded. Either way the tombstone mask
    and _accumulate_topk follow, in the same float64 fold order as
    vectorized_topk.

    A floor the scorer guesses itself does not pay (see the module
    docstring): theta is min_score alone.

    Rank- and score-identical to vectorized_topk/exhaustive_topk
    (tests/test_index_wand.py), including under tombstones (deleting docs
    only lowers true scores; stored maxes stay upper bounds).

    stats_out (optional dict) receives n_blocks_total / n_blocks_decoded —
    the pruning evidence the skip tests assert on.
    """
    if not len(raw) or k <= 0:
        return []
    spans = None
    if min_score > 0.0:
        bt, alive = raw.blocks, _surviving_blocks(raw, min_score)
        # runs of consecutive surviving blocks within a row, as byte spans
        row_end = np.zeros(alive.size, dtype=bool)
        row_end[bt.ends[bt.ends > 0] - 1] = True
        b0 = np.flatnonzero(alive & (np.roll(row_end, 1) | ~np.roll(alive, 1)))
        b1 = np.flatnonzero(alive & (row_end | ~np.roll(alive, -1)))
        spans = bt.lo[:, b0], bt.hi[:, b1], raw.rows.term[np.searchsorted(bt.ends, b0, "right")]
    if stats_out is not None:
        stats_out["n_blocks_total"] = raw.blocks.lasts.size
        stats_out["n_blocks_decoded"] = raw.blocks.lasts.size if spans is None else int(alive.sum())
    if spans is not None and not spans[2].size:
        return []
    ids, scores, _ = _score_rows(raw.rows, cfg, avgdl, spans)
    if tombstones is not None:
        keep = tombstone_keep_mask(ids, tombstones)
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
    "blockmax" (block-max pruning under a min_score floor — only block
    runs that can reach it are ever decoded; with no floor, the vectorized
    decode), "wand" (alias of blockmax), or "exhaustive" (test referent).

    k=None uses cfg.max_results (Olaf maxResults=50, olaf_config.c:99-100);
    min_score=None uses cfg.min_score (minMatchCount analogue,
    olaf_config.c:89-94) — scores below the threshold never surface.
    """
    if k is None:
        k = index.cfg.max_results
    return _as_group(index).topk(query_text, k, method, min_score)
