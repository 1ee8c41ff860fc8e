"""One cached term-row reader for driver-side serving.

Every serving read asks a tb-partitioned parquet root the same question,
"the rows of these term_ids": BM25 posting rows (wand._fetch_posting_rows),
the batch path's group dfs (IndexGroup.term_dfs), and phrase position and
bigram pair rows (phrase.phrase_topk). Olaf opens its LMDB store once and
each query is then a key search in B+tree pages already in memory
(olaf_runner.c:34-39); term_rows is that shape over parquet:

  listing   root/tb=<tb>/ is listed once per directory signature
  footer    each file's per-row-group term_id min/max is read once
  rows      a row group that can hold a query id is decoded once, stable-
            sorted by term_id, and answers every later lookup with
            np.searchsorted

Every entry is keyed by path and checked against lru.file_sig (inode,
mtime_ns). Rebuilds, appends and compactions replace files and directories
wholesale, so a stale listing, footer or row group is never served.
Decoded row groups share one byte-bounded LRU (_ROWS_CACHE_MAX_BYTES); a
row group larger than the bound is served but not retained. No Spark job,
no format change: the rows are exactly those a pyarrow dataset filter on
(tb, term_id) returns, minus the hive `tb` column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from olaf_spark.lru import file_sig, lru_get

_LIST_CACHE: dict = {}
_FOOTER_CACHE: dict = {}
_META_CACHE_MAX = 4096  # entries, for listings and footers alike
_ROWS_CACHE: dict = {}
_ROWS_CACHE_MAX_BYTES = 256 << 20


def clear_caches() -> None:
    """Drop every cached listing, footer and row group."""
    for c in (_LIST_CACHE, _FOOTER_CACHE, _ROWS_CACHE):
        c.clear()


def _files(tb_dir: str) -> list[str]:
    """Committed parquet files of one tb dir, sorted; [] when it is absent.
    Hidden and _-prefixed names (Spark _temporary attempts, _SUCCESS,
    dot-tmp strays, .crc) are skipped, as the parquet readers skip them."""
    sig = file_sig(tb_dir)
    if sig is None:
        return []

    def load() -> list[str]:
        return sorted(
            os.path.join(tb_dir, f)
            for f in os.listdir(tb_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    return lru_get(_LIST_CACHE, tb_dir, sig, load, _META_CACHE_MAX)


def _footer(path: str, sig) -> tuple[np.ndarray, np.ndarray]:
    """(min, max) term_id per row group from the footer statistics; a row
    group without statistics spans the whole int64 range."""

    def load():
        md = pq.read_metadata(path)
        j = md.schema.names.index("term_id")  # leaf column index
        lo = np.full(md.num_row_groups, np.iinfo(np.int64).min, dtype=np.int64)
        hi = np.full(md.num_row_groups, np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is not None and st.has_min_max:
                lo[i], hi[i] = st.min, st.max
        return lo, hi

    return lru_get(_FOOTER_CACHE, path, sig, load, _META_CACHE_MAX)


def _row_group(path: str, sig, i: int) -> tuple[np.ndarray, pa.Table]:
    """(sorted term_ids, rows stable-sorted by term_id) of one row group."""

    def load():
        tbl = pq.ParquetFile(path).read_row_group(i)
        ids = tbl["term_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        return ids[order], tbl.take(order)

    return lru_get(
        _ROWS_CACHE, (path, i), sig, load, _ROWS_CACHE_MAX_BYTES,
        weight=lambda v: v[0].nbytes + v[1].nbytes,
    )


def term_rows(root: str, term_ids: list[int], n_segments: int) -> pa.Table:
    """Every row of <root>/tb=<id % n_segments>/ whose term_id is in
    term_ids. Rows come in (tb, file, row group, term_id) order and keep
    their file order within a term; a table with no columns when nothing
    matches (a rowless or absent root lists no files)."""
    qids = np.unique(np.asarray(term_ids, dtype=np.int64))
    pieces = []
    for tb in np.unique(qids % n_segments).tolist():
        ids_tb = qids[qids % n_segments == tb]
        for path in _files(os.path.join(root, f"tb={tb}")):
            sig = file_sig(path)
            lo, hi = _footer(path, sig)
            may_hold = np.searchsorted(ids_tb, lo) < np.searchsorted(ids_tb, hi, "right")
            for i in np.flatnonzero(may_hold).tolist():
                ids, tbl = _row_group(path, sig, i)
                a = np.searchsorted(ids, ids_tb)
                b = np.searchsorted(ids, ids_tb, "right")
                # a term's rows are one contiguous run: zero-copy slices
                pieces += [tbl.slice(x, y - x) for x, y in zip(a.tolist(), b.tolist()) if y > x]
    return pa.concat_tables(pieces) if pieces else pa.table({})
