"""One cached term-row reader for driver-side serving.

Every serving read asks a tb-partitioned parquet root the same question,
"the rows of these term_ids": BM25 posting rows (wand._fetch_posting_rows),
the batch path's group dfs (IndexGroup.term_dfs), and phrase position and
bigram pair rows (phrase._fetch_term_rows). Olaf opens its LMDB store once
and each query is then a key search in fixed-layout B+tree pages already
in memory (olaf_runner.c:34-39); term_rows is that shape over parquet:

  tb dir    root/tb=<tb>/ is listed and its footers' per-row-group
            term_id min/max read once per dir signature (TbDir)
  rows      a row group that can hold a query id is decoded once, stable-
            sorted by term_id, and kept as flat numpy columns (RowGroup);
            a lookup is np.searchsorted and answers with row RANGES

Cached row-group layout (Arrow's own, taken zero-copy from the decoded
row group; every column is indexed by the row's position in term_id
order):

  column kind                       kept as
  fixed width (term_id, df, chunk,  one numpy array
    bucket, n_docs)
  binary (doc_ids_bin, tfs_bin,     (uint8 buffer, int64 offsets): row i
    doc_lens_bin, pos_bin, ...)     is buffer[offsets[i]:offsets[i + 1]]
  list (id_offs, block_lasts,       (flat values, int64 offsets), alike
    block_maxes, pos_offs, ...)

A term's rows in a row group are one contiguous run, so its bytes are one
slice of a buffer and its row ends one slice of the offsets. term_rows
returns TermRows, the runs of one lookup; consumers read a column as one
array (column), one (values, row_ends) pair for the batch decoders of
codec.py (values: zero-copy when the lookup is one run, else the runs'
slices concatenated), or per-row views (row_values). No row's payload is
copied into Python objects (dicts, bytes or lists).

Every entry is keyed by path and checked against lru.file_sig (inode,
mtime_ns): a tb dir against its own, a row group against its file's as
the dir's listing saw it, so a warm lookup stats each queried tb dir once
and no file. That is sound because no committed parquet file is rewritten
in place: rebuilds, appends and compactions replace directories or add
and rename files, all of which change the dir's signature, so a stale
listing, footer or row group is never served. Decoded row groups share one byte-bounded LRU (_ROWS_CACHE_MAX_BYTES). An
entry's weight is the bytes of every buffer it keeps alive (the whole
Arrow buffers its columns view, plus its own offset and id arrays), not
the bytes its rows span; a row group heavier than the bound is served but
not retained. Slice lifetime: the arrays a lookup returns view the cached
buffers, so they stay valid after their row group is evicted — the buffer
then lives on, outside the bound, until the last view of it is dropped;
serving holds them for one query. No Spark job, no format change: the rows
are exactly those a pyarrow dataset filter on (tb, term_id) returns, minus
the hive `tb` column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from olaf_spark.lru import LruCache, file_sig, lru_get

_TB_CACHE = LruCache()
_TB_CACHE_MAX = 4096  # entries
_ROWS_CACHE = LruCache()
_ROWS_CACHE_MAX_BYTES = 256 << 20


def clear_caches() -> None:
    """Drop every cached tb dir and row group."""
    for c in (_TB_CACHE, _ROWS_CACHE):
        c.clear()


class TbDir:
    """The row groups of one tb dir's committed parquet files in (file, row
    group) order: (path, file signature, index) each, and term_id min/max
    from the footer (the whole int64 range without statistics). Hidden
    and _-prefixed names (Spark _temporary attempts, _SUCCESS, dot-tmp
    strays, .crc) are skipped, as the parquet readers skip them."""

    __slots__ = ("rgs", "lo", "hi")

    def __init__(self, tb_dir: str):
        self.rgs, lo, hi = [], [], []
        for f in sorted(os.listdir(tb_dir)):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            path = os.path.join(tb_dir, f)
            sig = file_sig(path)
            md = pq.read_metadata(path)
            j = md.schema.names.index("term_id")  # leaf column index
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                has = st is not None and st.has_min_max
                self.rgs.append((path, sig, i))
                lo.append(st.min if has else np.iinfo(np.int64).min)
                hi.append(st.max if has else np.iinfo(np.int64).max)
        self.lo = np.array(lo, dtype=np.int64)
        self.hi = np.array(hi, dtype=np.int64)


def _tb_dir(tb_dir: str) -> TbDir | None:
    """tb_dir's TbDir, cached under the dir's signature; None when absent."""
    sig = file_sig(tb_dir)
    if sig is None:
        return None
    return lru_get(_TB_CACHE, tb_dir, sig, lambda: TbDir(tb_dir), _TB_CACHE_MAX)


def _buffer(buf: pa.Buffer | None, dtype) -> np.ndarray:
    return np.empty(0, dtype=dtype) if buf is None else np.frombuffer(buf, dtype=dtype)


def _flat(arr: pa.Array) -> np.ndarray:
    """Zero-copy numpy view of a fixed-width array's values."""
    values = _buffer(arr.buffers()[1], arr.type.to_pandas_dtype())
    return values[arr.offset : arr.offset + len(arr)]


def _column(arr: pa.Array):
    """A fixed-width column as one array; a binary or list column as
    (values, int64 offsets), row i at values[offsets[i]:offsets[i + 1]]."""
    if pa.types.is_binary(arr.type):
        offs = _buffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]
        return _buffer(arr.buffers()[2], np.uint8), offs.astype(np.int64)
    if pa.types.is_list(arr.type):
        return _flat(arr.values), arr.offsets.to_numpy().astype(np.int64)
    return _flat(arr)


def _kept_bytes(arrays) -> int:
    """Bytes of every distinct buffer the arrays keep alive: a view counts
    its whole base (an Arrow buffer, or its parent), not its own span."""
    roots = {}
    for a in arrays:
        r = a
        while isinstance(r, np.ndarray) and r.base is not None:
            r = r.base
        while getattr(r, "parent", None) is not None:
            r = r.parent
        roots[id(r)] = r
    return sum(r.nbytes if isinstance(r, np.ndarray) else r.size for r in roots.values())


class RowGroup:
    """One cached row group: rows stable-sorted by term_id, every column
    flat (_column), `nbytes` the buffers it keeps alive."""

    __slots__ = ("term_id", "cols", "nbytes")

    def __init__(self, tbl: pa.Table):
        ids = tbl["term_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        if (order[1:] < order[:-1]).any():
            tbl = tbl.take(order)
        self.cols = {
            name: _column(tbl[name].combine_chunks()) for name in tbl.column_names
        }
        arrays = [a for c in self.cols.values() for a in (c if isinstance(c, tuple) else (c,))]
        for a in arrays:  # lookups hand out views: none may write the cache
            a.flags.writeable = False
        self.term_id = self.cols["term_id"]
        self.nbytes = _kept_bytes(arrays)


def _row_group(path: str, sig, i: int) -> RowGroup:
    return lru_get(
        _ROWS_CACHE, (path, i), sig,
        lambda: RowGroup(pq.ParquetFile(path).read_row_group(i)),
        _ROWS_CACHE_MAX_BYTES, weight=lambda rg: rg.nbytes,
    )


class TermRows:
    """The rows of a lookup: runs (row group, first row, end row) of cached
    columns, in run order. `a + b` chains two lookups (no copy)."""

    __slots__ = ("runs",)

    def __init__(self, runs: list[tuple[RowGroup, int, int]]):
        self.runs = runs

    def __len__(self) -> int:
        return sum(b - a for _, a, b in self.runs)

    def __add__(self, other: "TermRows") -> "TermRows":
        return TermRows(self.runs + other.runs)

    def column(self, name: str) -> np.ndarray:
        """A fixed-width column of every row."""
        parts = [rg.cols[name][a:b] for rg, a, b in self.runs]
        if len(parts) == 1:
            return parts[0]
        return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)

    def values(self, name: str) -> tuple[np.ndarray, np.ndarray]:
        """A binary or list column of every row as (values, row_ends) —
        codec's batch layout; zero-copy when the lookup is one run."""
        vals, ends, base = [], [], 0
        for rg, a, b in self.runs:
            v, offs = rg.cols[name]
            lo, hi = int(offs[a]), int(offs[b])
            vals.append(v[lo:hi])
            ends.append(offs[a + 1 : b + 1] + (base - lo))
            base += hi - lo
        if len(vals) == 1:
            return vals[0], ends[0]
        if not vals:
            return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
        return np.concatenate(vals), np.concatenate(ends)

    def row_values(self, name: str) -> list[np.ndarray]:
        """A binary or list column as one view per row (no copy) — for the
        lazy decoders that touch only part of a row."""
        out = []
        for rg, a, b in self.runs:
            v, offs = rg.cols[name]
            o = offs[a : b + 1].tolist()
            out += [v[lo:hi] for lo, hi in zip(o[:-1], o[1:])]
        return out


def term_rows(root: str, term_ids, n_segments: int) -> TermRows:
    """Every row of <root>/tb=<id % n_segments>/ whose term_id is in
    term_ids. Rows come in (tb, file, row group, term_id) order and keep
    their file order within a term; no rows when nothing matches (a
    rowless or absent root lists no files)."""
    by_tb: dict[int, list[int]] = {}
    for q in sorted({int(t) for t in term_ids}):
        by_tb.setdefault(q % n_segments, []).append(q)
    runs = []
    for tb, ids in sorted(by_tb.items()):
        t = _tb_dir(os.path.join(root, f"tb={tb}"))
        if t is None:
            continue
        ids_tb = np.array(ids, dtype=np.int64)
        may_hold = ids_tb.searchsorted(t.lo) < ids_tb.searchsorted(t.hi, "right")
        for j in may_hold.nonzero()[0].tolist():
            rg = _row_group(*t.rgs[j])
            a = rg.term_id.searchsorted(ids_tb).tolist()
            b = rg.term_id.searchsorted(ids_tb, "right").tolist()
            # a term's rows are one contiguous run
            runs += [(rg, x, y) for x, y in zip(a, b) if y > x]
    return TermRows(runs)
