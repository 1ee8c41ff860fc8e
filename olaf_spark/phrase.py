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
                    main build) -> mapInPandas pack: one positional row
                    (codec.py's layout: doc headers plus one position run
                    per doc, so serving decodes only candidate docs) per
                    (term, bucket) -> parquet hive-partitioned by tb.
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

Side indexes and their one commit protocol (this module owns it). The
positional kinds share codec.py's positional row layout, one writer
(write_positional_rows) and one fold (fold_positional_rows); each kind is
one SideKind row (POSITIONS, BIGRAMS), and every other module reads,
builds, gates, appends and folds them only through this module:

                  positions                       bigrams (bigram.py)
  rows            <d>/positions/tb=*/, one row    <d>/bigrams/tb=*/, one row
                  per (term, bucket)              per (head-head pair, bucket)
  marker          positions_meta.json             bigram_meta.json
  format_version  3                               1
  marker fields   n_buckets, format_version,      format_version, n_buckets,
                  lo, hi, width                   lo, hi, width, min_df,
                                                  n_heads, heads_fingerprint
  sidecar         -                               bigram_heads.parquet
  group key       -                               heads_fingerprint
  part missing    phrase serving refuses          serving degrades to the
  or stale        (FileNotFoundError for a        positional path;
                  missing marker, ValueError      use_bigrams=True refuses
                  for a stale one)                (ValueError)
  compaction      folded when every part is usable (bigrams: and all share
                  one head set), else skipped, with one printed line when
                  some part has the marker
  delta (append)  built over the delta's docs     built over the delta's docs
                                                  under the base's head set
                                                  and min_df; refuses when
                                                  the base has no bigrams

Bucketing: (lo, hi, width, n_buckets) come from doc_range for a build and
from fold_range over the parts' markers for a fold. Both kinds of a part
bucket alike when built over the same docs with the same n_buckets; the
batch phrase path checks that (_bigram_buckets_match) before it lets pair
rows share the positional (query, part, bucket) exchange key.

Commit order (build_side, fold_positional_rows): a build first checks the
config freeze and takes doc_range, which refuses empty input before
anything is touched; then both retract the marker, then the old rows,
write the rows (a build also engine_config.json), the sidecar, and the
marker LAST. Readers trust rows only under a marker in this engine's
layout (side_meta, cached under lru.file_sig), so a crash at any step
leaves the kind missing (positions refuse, bigrams degrade), never an old
marker over new partial rows: bigram absence is authoritative, so that
would serve silently wrong head-head answers. A delta's side indexes land
before its stats.json, so a committed delta implies them; compaction folds
them before the compacted stats.json. Phrase answers need no cross-part
statistics, so group serving is "read every part's rows".
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.codec import (
    decode_doc_positions,
    decode_positional_rows,
    encode_positional_rows,
    joined,
    position_extents,
    position_runs,
    ranges_index,
)
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import (
    _iter_term_chunks,
    _write_lineage,
    bucket_expr,
    bucket_of_np,
    cluster_for_write,
    dir_bytes,
    doc_range,
    done_partitions,
    fold_range,
    in_expr_int,
    merge_task_count,
    rep_query_df,
    shard_from_id_col,
    term_id_col,
    term_id_py,
    tombstone_keep_mask,
    union_tombstones_arr,
)
from olaf_spark.lru import LruCache, file_sig, lru_get
from olaf_spark.metafs import get_metafs
from olaf_spark.termrows import term_rows
from olaf_spark.tokenize import tokenize_py, tokens_df

POSITIONS_SCHEMA = (
    "term_id long, bucket int, n_docs long, "
    "doc_ids_bin binary, pos_counts_bin binary, pos_bin binary, "
    "pos_offs array<long>"
)


@dataclass(frozen=True)
class SideKind:
    """One column of the side-index table (module docstring)."""

    name: str                 # rows dir under the index dir
    marker: str               # commit marker, published last
    version: int              # the marker format_version this engine reads
    fields: tuple[str, ...]   # marker fields, in published order
    builder: str              # the build function every refusal names
    label: str                # "positional" / "bigram", in messages
    refuses: bool             # phrase serving refuses (else degrades)
    degraded: str             # what phrase serving does without the kind
    sidecar: str | None = None
    group_key: str | None = None  # marker field every part must share


#: marker fields every kind has; the rest are the kind's own
_SHARED_FIELDS = ("format_version", "n_buckets", "lo", "hi", "width")

#: positional layout version; 2 = per-doc byte offsets (lazy candidate
#: decode); 3 = v2 + the doc-range bucket as an explicit column (the
#: co-location key of the distributed batch phrase path) + (lo, width)
#: in the marker so compaction can re-bucket folded rows.
POSITIONS_FORMAT_VERSION = 3

POSITIONS = SideKind(
    "positions", "positions_meta.json", POSITIONS_FORMAT_VERSION,
    ("n_buckets", "format_version", "lo", "hi", "width"),
    "build_positions", "positional", True,
    "phrase queries were already refusing on this group",
)
#: bigram layout version 1 — bumped independently of the positions version
#: (the row schema is shared, the head-set contract is bigram.py's)
BIGRAMS = SideKind(
    "bigrams", "bigram_meta.json", 1,
    (*_SHARED_FIELDS, "min_df", "n_heads", "heads_fingerprint"),
    "build_bigrams", "bigram", False,
    "phrase serving falls back to the positional path",
    sidecar="bigram_heads.parquet", group_key="heads_fingerprint",
)
SIDE_KINDS = (POSITIONS, BIGRAMS)

#: parsed markers keyed by path, fresh under lru.file_sig — the serving
#: gates run on every phrase query and must not re-open json per part
_META_CACHE = LruCache()
_META_CACHE_MAX = 1024


def _read_marker(d: str, kind: SideKind):
    """kind's parsed marker at d (any JSON value), or None when it is
    missing or unreadable. Never raises."""
    path = os.path.join(d, kind.marker)
    sig = file_sig(path)
    if sig is None:
        return None

    def load():
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    return lru_get(_META_CACHE, path, sig, load, _META_CACHE_MAX)


def side_meta(d: str, kind: SideKind) -> dict | None:
    """kind's committed marker at d when it is in this engine's layout,
    else None. Never raises."""
    meta = _read_marker(d, kind)
    if (
        isinstance(meta, dict)
        and meta.get("format_version") == kind.version
        and (kind.group_key is None or isinstance(meta.get(kind.group_key), str))
    ):
        return meta
    return None


def _sidecar_ok(d: str, kind: SideKind) -> bool:
    return kind.sidecar is None or os.path.exists(os.path.join(d, kind.sidecar))


def side_usable(d: str, kind: SideKind) -> bool:
    """True when d carries kind in this engine's layout: marker and
    sidecar. Never raises."""
    return side_meta(d, kind) is not None and _sidecar_ok(d, kind)


def require_meta(d: str, kind: SideKind, reader: str = "this engine reads") -> dict:
    """side_meta, or the loud refusal. A refusing kind tells a missing
    marker (FileNotFoundError) from a stale or unreadable one (ValueError,
    naming the `reader` that needs this engine's layout); a degrading kind
    is only ever required explicitly and has one ValueError for both."""
    meta = side_meta(d, kind)
    if meta is not None:
        return meta
    if not kind.refuses:
        raise ValueError(
            f"{kind.name} at {d} are missing or not format v{kind.version} — "
            f"rebuild with {kind.builder}"
        )
    if not os.path.exists(os.path.join(d, kind.marker)):
        raise FileNotFoundError(
            f"{d} has no {kind.label} side index — run {kind.builder} "
            f"(or append with with_{kind.name}=True)"
        )
    raw = _read_marker(d, kind)
    found = raw.get("format_version", 1) if isinstance(raw, dict) else "?"
    raise ValueError(
        f"{kind.name} at {d} are format v{found}; {reader} v{kind.version} — "
        f"rebuild with {kind.builder}"
    )


def group_metas(part_dirs: list[str], kind: SideKind) -> list[dict] | None:
    """Every part's marker when the group can serve and fold kind as one
    (every part usable, one group key), else None. Never raises."""
    metas = [side_meta(d, kind) for d in part_dirs]
    if any(m is None for m in metas) or not all(_sidecar_ok(d, kind) for d in part_dirs):
        return None
    if kind.group_key and len({m[kind.group_key] for m in metas}) != 1:
        return None
    return metas


def _require_group(part_dirs: list[str], kind: SideKind) -> list[dict]:
    """group_metas' loud twin, for the fold."""
    metas = [require_meta(d, kind, "compaction folds") for d in part_dirs]
    keys = {m[kind.group_key] for m in metas} if kind.group_key else set()
    if len(keys) > 1:
        raise ValueError(
            f"{kind.label} head sets differ across parts ({sorted(keys)}) — "
            f"fold would mix authoritativeness; rebuild with {kind.builder}"
        )
    return metas


def _retract(out_dir: str, kind: SideKind) -> None:
    """Marker first, then the old rows: from here the kind is missing."""
    mfs = get_metafs()
    mfs.remove_file(os.path.join(out_dir, kind.marker))
    rows_dir = os.path.join(out_dir, kind.name)
    if os.path.isdir(rows_dir):
        mfs.remove_dir(rows_dir, ignore_errors=True)


def _publish(out_dir, kind: SideKind, lo, hi, n_buckets, width, extra: dict) -> None:
    """Atomic publish of the marker (the last step of every commit)."""
    vals = dict(
        extra, format_version=kind.version, n_buckets=n_buckets, lo=lo, hi=hi, width=width
    )
    get_metafs().publish_json(
        os.path.join(out_dir, kind.marker), {k: vals[k] for k in kind.fields}
    )


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
        counts = np.diff(np.append(doc_starts, n))
        g_rows = np.flatnonzero(g_new)                   # occurrence space
        g_docs = np.searchsorted(doc_starts, g_rows)     # doc space
        return pd.DataFrame(
            {
                "term_id": terms[g_rows],
                "bucket": buckets[g_rows].astype("int32"),
                "n_docs": np.diff(np.append(g_docs, doc_starts.size)),
                **encode_positional_rows(
                    docs_[doc_starts], counts, g_docs, *position_runs(pos, counts)
                ),
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


def build_side(
    spark: SparkSession,
    kind: SideKind,
    docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig,
    id_col: str,
    n_buckets: int,
    emit,
) -> str:
    """The one build-and-commit skeleton of every side kind, in the commit
    order of the module docstring. emit(n_docs) runs after the retraction
    and returns (occ, extra, write_sidecar): the (doc_id, pos, term_id)
    occurrence rows for write_positional_rows (None: no rows), the kind's
    own marker fields, and its sidecar writer (or None)."""
    # config-freeze invariant (olaf_config.h:46-50): a side index added to
    # an existing index must be tokenized under the index's own config
    if os.path.exists(os.path.join(out_dir, "engine_config.json")):
        EngineConfig.load(out_dir).check_compatible(cfg)
    n, lo, hi, width = doc_range(docs, id_col, n_buckets, f"{kind.name} at {out_dir}")
    _retract(out_dir, kind)
    occ, extra, write_sidecar = emit(n)
    if occ is not None:
        write_positional_rows(
            spark, occ, os.path.join(out_dir, kind.name), lo, width, n_buckets, cfg
        )
    cfg.save(out_dir)
    if write_sidecar is not None:
        write_sidecar()
    _publish(out_dir, kind, lo, hi, n_buckets, width, extra)
    return out_dir


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
    from olaf_spark.session import rebalance_scan

    cfg = cfg or EngineConfig()

    def emit(_n_docs):
        toks = tokens_df(
            rebalance_scan(spark, docs, id_col), text_col, id_col, cfg, with_pos=True
        )
        occ = toks.select(
            "doc_id", F.col("pos").cast("long").alias("pos"),
            term_id_col(F.col("term")).alias("term_id"),
        )
        return occ, {}, None

    return build_side(spark, POSITIONS, docs, out_dir, cfg, id_col, n_buckets, emit)


def _make_fold_positions(lo: int, width: int, n_buckets: int, bts):
    """mapInPandas fn for compaction: each task's slice of positional rows
    (sorted by term_id, first_doc) -> folded rows under the COMPACTED
    corpus's bucket layout — make_posting_fold's shape, one numpy pass per
    batch of complete terms: decode the doc headers, lexsort by (term,
    doc), drop tombstoned docs, gather each surviving doc's position bytes
    VERBATIM (every run restarts absolute, so no position byte is
    decoded), re-bucket, encode. Docs are disjoint across parts. A head
    term's rows may split across tasks, yielding multiple doc-disjoint
    output rows per (term, bucket), which the read path already merges.

    bts: SparkContext BROADCAST of the sorted tombstone array (or None) —
    by handle, not value: closure capture would re-ship a multi-MB delete
    set into every one of the fold's (up to thousands of) task launches."""
    import pandas as pd

    def _fold_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        ts_sorted = bts.value
        terms = pdf["term_id"].to_numpy(dtype=np.int64)
        row_new = np.empty(len(pdf), dtype=bool)
        row_new[0] = True
        row_new[1:] = terms[1:] != terms[:-1]
        ids, counts, n_docs = decode_positional_rows(
            joined(pdf["doc_ids_bin"]), joined(pdf["pos_counts_bin"])
        )
        runs, starts, lens = position_extents(joined(pdf["pos_bin"]), pdf["pos_offs"], n_docs)
        term = np.repeat(np.cumsum(row_new) - 1, n_docs)
        ids = ids.view(np.int64)
        order = np.lexsort((ids, term))
        if ts_sorted is not None:
            order = order[tombstone_keep_mask(ids[order], ts_sorted)]
        if order.size == 0:
            return None  # every doc of these terms tombstoned away
        ids, counts, term, lens = ids[order], counts[order], term[order], lens[order]
        buckets = bucket_of_np(ids, lo, width, n_buckets)
        g_new = np.empty(ids.size, dtype=bool)
        g_new[0] = True
        g_new[1:] = (term[1:] != term[:-1]) | (buckets[1:] != buckets[:-1])
        g_docs = np.flatnonzero(g_new)
        return pd.DataFrame(
            {
                "term_id": terms[np.flatnonzero(row_new)][term[g_docs]],
                "bucket": buckets[g_docs].astype(np.int32),
                "n_docs": np.diff(np.append(g_docs, ids.size)),
                **encode_positional_rows(
                    ids, counts, g_docs, runs[ranges_index(starts[order], lens)], lens
                ),
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
    kind: SideKind,
    part_dirs: list[str],
    out_dir: str,
    tombstones: np.ndarray | None,
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> None:
    """The one compaction fold + commit of a side kind: every part's
    <d>/<kind> rows -> <out_dir>/<kind> under the folded corpus's bucket
    layout (fold_range over the parts' markers), in the commit order of the
    module docstring. Refuses (require_meta, head sets) before touching
    out_dir.

    One Spark job, doc-range parallel via the same (tb, term_id, first_doc)
    range shuffle as the postings fold; tombstoned docs are physically
    dropped (tombstones: the sorted snapshot array, or None). Parts with
    no committed row file (rowless but committed) contribute nothing. The
    sidecar is group-wide (one group key), so part 0's is copied; the
    folded marker carries part 0's own fields."""
    from olaf_spark.incremental import _first_doc_udf

    metas = _require_group(part_dirs, kind)
    mfs = get_metafs()
    _retract(out_dir, kind)
    lo, hi, n_buckets, width = fold_range(metas)
    rows_dir = os.path.join(out_dir, kind.name)
    srcs = [os.path.join(d, kind.name) for d in part_dirs if has_rows(d, kind.name)]
    if srcs:
        if n_merge_tasks is None:
            n_merge_tasks = merge_task_count(spark, dir_bytes(*srcs))
        bts = spark.sparkContext.broadcast(tombstones)
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
    if kind.sidecar is not None:
        final = os.path.join(out_dir, kind.sidecar)
        tmp = mfs.tmp_path(final)
        shutil.copyfile(os.path.join(part_dirs[0], kind.sidecar), tmp)
        mfs.commit_file(tmp, final)
    extra = {k: metas[0][k] for k in kind.fields if k not in _SHARED_FIELDS}
    _publish(out_dir, kind, lo, hi, n_buckets, width, extra)


def compact_positions(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    tombstones: np.ndarray | None,
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> str:
    """Fold every part's positional rows into <out_dir>/positions
    (fold_positional_rows; reference analogue: Olaf's t1 timestamps live
    inside every packed posting and ride each store/merge automatically,
    src/olaf_fp_db_writer.c:54-59, src/olaf_fp_db_writer_cache.c:92-114)."""
    fold_positional_rows(
        spark, POSITIONS, part_dirs, out_dir, tombstones, cfg, n_merge_tasks
    )
    return out_dir


def compact_sides(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    tombstones: np.ndarray | None,
    cfg: EngineConfig,
    n_merge_tasks: int | None,
) -> None:
    """compact_index's side-index step: fold every kind the whole group
    carries (group_metas), skipping a kind a resume finds committed (its
    lineage row and marker); say so when some part has the kind but the
    group cannot fold it. Never refuses: a raise here, after the postings
    committed and before stats.json, would leave the compaction
    permanently un-completable."""
    for kind in SIDE_KINDS:
        stage = f"compact_{kind.name}"
        if group_metas(part_dirs, kind) is None:
            if any(os.path.exists(os.path.join(d, kind.marker)) for d in part_dirs):
                n_ok = sum(side_usable(d, kind) for d in part_dirs)
                print(
                    f"compact_index: {n_ok}/{len(part_dirs)} parts carry a usable "
                    f"{kind.label} side index"
                    + (" (or head sets differ)" if kind.group_key else "")
                    + f" — {kind.name} NOT folded ({kind.degraded}); run "
                    f"{kind.builder} on {out_dir} to restore it"
                )
            continue
        if done_partitions(out_dir, stage) and os.path.exists(
            os.path.join(out_dir, kind.marker)
        ):
            continue
        t0 = time.time()
        fold_positional_rows(
            spark, kind, part_dirs, out_dir, tombstones, cfg, n_merge_tasks
        )
        _write_lineage(
            [
                dict(
                    stage=stage, partition_id=-1, input_rows=-1, output_rows=-1,
                    wall_s=time.time() - t0, bytes_out=-1, status="done",
                    ts=time.time(),
                )
            ],
            os.path.join(out_dir, "lineage"),
        )


def append_sides(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    delta_dir: str,
    cfg: EngineConfig,
    kinds: list[SideKind],
    **build_kw,
) -> None:
    """append_index's side-index step, on the fresh and the replay path
    alike: build every requested kind the delta does not already carry
    usable, before the delta's stats.json lands. Bigrams inherit the
    base's head set (bigram.inherited_heads, which refuses without one)."""
    from olaf_spark.bigram import build_bigrams, inherited_heads

    for kind in kinds:
        if side_usable(delta_dir, kind):
            continue
        if kind is POSITIONS:
            build_positions(spark, new_docs, delta_dir, cfg, **build_kw)
        else:
            build_bigrams(
                spark, new_docs, delta_dir, cfg, **build_kw, **inherited_heads(base_dir)
            )


def _decoded_rows(id_col, count_col, pos_bufs, pos_offs) -> list[dict]:
    """One dict per positional row — doc ids and counts DECODED (one batch
    decode for all rows; id_col and count_col are codec (buffer, row_ends)
    pairs), positions RAW (each row's buffer + int64 per-doc offsets) — the
    input of the lazy candidate decode (_phrase_tfs)."""
    ids, counts, n_docs = decode_positional_rows(id_col, count_col)
    ids, counts = ids.view(np.int64), counts.astype(np.int64)
    ends = np.cumsum(n_docs)
    return [
        dict(ids=ids[lo:hi], counts=counts[lo:hi], buf=buf, offs=offs)
        for lo, hi, buf, offs in zip(
            (ends - n_docs).tolist(), ends.tolist(), pos_bufs, pos_offs
        )
    ]


def _fetch_term_rows(root: str, term_ids: list[int], n_segments: int) -> dict[int, list[dict]]:
    """term_id -> decoded-header rows (_decoded_rows) of <root> (positions
    or bigrams), read through the cached term rows (termrows.term_rows):
    the headers decode straight from the cached columns, and each row's
    positions and pos_offs are views of the cached buffers."""
    rows = term_rows(root, term_ids, n_segments)
    if not len(rows):
        return {}
    decoded = _decoded_rows(
        rows.values("doc_ids_bin"),
        rows.values("pos_counts_bin"),
        rows.row_values("pos_bin"),
        rows.row_values("pos_offs"),
    )
    per: dict[int, list[dict]] = {}
    for tid, row in zip(rows.column("term_id").tolist(), decoded):
        per.setdefault(tid, []).append(row)
    return per


def positions_usable(d: str) -> bool:
    """True when d carries positional rows in this engine's layout
    (side_usable). Never raises."""
    return side_usable(d, POSITIONS)


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
    qterms = tokenize_py(phrase, cfg)  # ORDER MATTERS — not deduped/sorted
    # an empty phrase still needs positions, but is answered before the
    # bigram gate can refuse it
    part_dirs, heads = _serving_gate(
        index_dir, use_bigrams if qterms else False, co_locate=False
    )
    if not qterms:
        return []
    tids = [term_id_py(t) for t in qterms]

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
        ts_arr = union_tombstones_arr(part_dirs)
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
    ts_arr = union_tombstones_arr(part_dirs)
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
            sel = at[ok]
            if sel.size == 0:
                continue
            kpos = decode_doc_positions(row["buf"], row["offs"], row["counts"], sel)
            ords_l.append(np.repeat(live_ords[lo + np.flatnonzero(ok)], row["counts"][sel]))
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
        # (no Python loop over rows)
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
            g = ranges_index(sub_offs[sidx], sub_lens[sidx])
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
        rows = _decoded_rows(
            joined(pdf["doc_ids_bin"]),
            joined(pdf["pos_counts_bin"]),
            pdf["pos_bin"],
            [np.asarray(o, dtype=np.int64) for o in pdf["pos_offs"]],
        )
        for ppos, row in zip(pdf["ppos"].tolist(), rows):
            data.setdefault(ppos, []).append(row)
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
    pm, bm = side_meta(d, POSITIONS), side_meta(d, BIGRAMS)
    try:
        return all(bm[k] == pm[k] for k in ("lo", "width", "n_buckets"))
    except (KeyError, TypeError):
        return False


def _serving_gate(
    index_dir: str, use_bigrams: bool | None, co_locate: bool
) -> tuple[list[str], np.ndarray | None]:
    """The phrase serving gate of phrase_topk and batch_phrase_topk: (the
    group's part dirs, the bigram head set to cover phrases with, or None).

    Every part must carry positions (require_meta): phrase answers need no
    cross-part statistics, so the union of part rows IS the group index,
    and a delta without positions would silently vanish from phrase
    results — refuse instead. use_bigrams: None = heads when every part
    carries bigrams under one head set (bigram.group_heads), else None;
    False = None, heads never read; True = require them (ValueError).
    co_locate (the batch path): pair rows must also bucket like the
    positional rows (_bigram_buckets_match), because the (query, part,
    bucket) exchange key co-locates a doc's single AND pair rows only
    then — they do when built over the same docs with the same n_buckets,
    but a mismatched rebuild must degrade here, not silently split a doc's
    units across two verify groups."""
    from olaf_spark.incremental import _delta_dirs

    part_dirs = [index_dir] + _delta_dirs(index_dir)
    for d in part_dirs:
        require_meta(d, POSITIONS)
    if use_bigrams is False:
        return part_dirs, None
    from olaf_spark.bigram import group_heads

    heads = group_heads(part_dirs)
    if heads is not None and co_locate and not all(map(_bigram_buckets_match, part_dirs)):
        heads = None
    if use_bigrams is True and heads is None:
        raise ValueError(
            "use_bigrams=True but the group cannot serve from bigrams: a part "
            "lacks them, head sets differ across parts, or (batch) the bigram "
            "bucketing does not match the positional bucketing, so pair units "
            f"cannot co-locate — run build_bigrams on {part_dirs}"
        )
    return part_dirs, heads


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

    cfg = cfg or EngineConfig.load(base_dir)
    part_dirs, heads = _serving_gate(base_dir, use_bigrams, co_locate=True)

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

    ts_sorted = union_tombstones_arr(part_dirs)
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
