"""Bigram (next-word) side index for head-head phrase queries.

Reference analogue: Olaf never indexes single event points — a fingerprint
IS a precomputed combination of 2-3 spectral peaks hashed into one key
(`olaf_fp_extractor.c:154-277`, hash `olaf_fp_extractor.c:92-145`), exactly
so queries hit the combination directly instead of intersecting the (huge)
per-peak posting lists. This module is the text twin of that move: for
term PAIRS whose members are BOTH corpus-frequent ("head" terms, df >= a
recorded threshold), the index stores the adjacent-occurrence list of the
pair itself. A head-head phrase query then reads ONE selective posting row
instead of intersecting two near-corpus-length rows — the last remaining
O(candidates) scan in phrase serving becomes a point lookup.

Layout: `<dir>/bigrams/` holds rows in the SAME packed format as the
positional side index (phrase.POSITIONS_SCHEMA), with term_id = the pair
id (xxhash64 of "t1 t2" — a space never appears inside a token, so pair
keys cannot collide with single-term keys) and positions = the position of
the pair's FIRST token. Reusing the positions row format means the build
writer and the compaction fold (`phrase.write_positional_rows`,
`phrase.fold_positional_rows`) are shared verbatim.

Authoritativeness: serving may treat a bigram row as the COMPLETE answer
for a pair only when both members are in the recorded head set — an absent
row for a head-head pair means the pair occurs nowhere (a real, useful
answer), while pairs outside the head set were simply never indexed. The
head set is a property of the index LINEAGE, not of each part: deltas
INHERIT the base's head set (`append_index(..., with_bigrams=True)` indexes
the same pairs over the delta's docs), so authoritativeness is uniform
across a live group and the compaction fold is a verbatim doc-level merge
with no per-pair bookkeeping. The recorded `heads_fingerprint` (xxh64 of
the sorted head-id array) makes that invariant checkable: serving and
compaction refuse to mix parts whose head sets differ.

Size bound: only pairs with BOTH members' df >= min_df are indexed. The
head vocabulary is tiny (Zipf: ~1% of terms carry most occurrences), so
the row count is bounded by (observed head-head pairs) and the occurrence
count by total adjacent head-head token pairs — in practice a few percent
of the positional index's bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.config import EngineConfig
from olaf_spark.indexer import doc_range, term_id_col, term_id_py
from olaf_spark.phrase import fold_positional_rows, write_positional_rows
from olaf_spark.tokenize import tokens_array
from olaf_spark.xxh64 import xxh64

#: bigram layout version — bumped independently of the positions version
#: (the row SCHEMA is shared, but the head-set contract is this module's).
BIGRAM_FORMAT_VERSION = 1


def pair_key(t1: str, t2: str) -> str:
    """The string whose xxhash64 is the pair's posting key. The space
    separator cannot appear inside a token (tokenizer splits on
    [^a-z0-9]+), so pair keys are collision-free against single terms."""
    return f"{t1} {t2}"


def pair_id_py(t1: str, t2: str) -> int:
    return term_id_py(pair_key(t1, t2))


def _heads_fingerprint(heads: np.ndarray) -> str:
    return format(xxh64(np.ascontiguousarray(heads, dtype=np.int64).tobytes()), "016x")


def adjacent_pairs_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """(doc_id, pos, t1, t2) — one row per ADJACENT token pair, pos = the
    first token's 0-based position. JVM-side throughout: slice + arrays_zip
    + posexplode (no Python in the hot path)."""
    cfg = cfg or EngineConfig()
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_array(F.col(text_col), cfg).alias("toks"),
    )
    npairs = F.greatest(F.size("toks") - F.lit(1), F.lit(0))
    zipped = F.arrays_zip(
        F.slice(F.col("toks"), F.lit(1), npairs).alias("t1"),
        F.slice(F.col("toks"), F.lit(2), npairs).alias("t2"),
    )
    return base.select(
        "doc_id", F.posexplode(zipped).alias("pos", "pr")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"),
             F.col("pr.t1").alias("t1"), F.col("pr.t2").alias("t2"))


def head_term_ids(
    docs: DataFrame,
    min_df: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: EngineConfig | None = None,
) -> np.ndarray:
    """Sorted int64 term_ids with document frequency >= min_df.

    One aggregation job; the result is small by construction (Zipf head).
    build_bigrams ships it to executors as a DataFrame built from a pyarrow
    Table under two broadcast semi-joins — never a closure, and never a
    Python-list createDataFrame, whose `parallelize` route re-pickles the
    list in one Python worker per task (a cold broadcast semi-join against
    400 heads, 4-core box: 2.0-2.3 s from a list, 0.7-0.9 s from Arrow).

    df rides term_freqs_df: one (doc, term) row per distinct pair computed
    doc-locally (no token shuffle — tokenize.term_freqs_df), then a plain
    count per term. The countDistinct(doc_id) form did the same dedup
    through a second full-width aggregate over the un-rebalanced scan."""
    from olaf_spark.tokenize import term_freqs_df

    cfg = cfg or EngineConfig()
    rows = (
        term_freqs_df(docs, text_col, id_col, cfg)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= int(min_df))
        .select(term_id_col(F.col("term")).alias("term_id"))
        .collect()
    )
    return np.sort(np.asarray([r["term_id"] for r in rows], dtype=np.int64))


def _write_heads(out_dir: str, heads: np.ndarray) -> None:
    import pyarrow.parquet as pq

    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    final = os.path.join(out_dir, "bigram_heads.parquet")
    tmp = mfs.tmp_path(final)
    pq.write_table(
        pa.table({"term_id": pa.array(heads.tolist(), type=pa.int64())}), tmp
    )
    mfs.commit_file(tmp, final)


#: per-dir head-array cache keyed by the sidecar's (inode, mtime_ns)
#: signature — serving checks pair authoritativeness on every phrase
#: query and must not re-read parquet. LRU mechanics + the
#: coarse-mtime-staleness rationale live in olaf_spark.lru.
_HEADS_CACHE: dict[str, tuple] = {}
_HEADS_CACHE_MAX = 256


def load_heads(d: str) -> np.ndarray:
    """Sorted head term_id array for an index part (sig-keyed cache)."""
    import pyarrow.parquet as pq

    from olaf_spark.lru import file_sig, lru_get

    path = os.path.join(d, "bigram_heads.parquet")
    sig = file_sig(path)
    if sig is None:
        raise FileNotFoundError(path)
    return lru_get(
        _HEADS_CACHE, d, sig,
        lambda: pq.read_table(path)["term_id"].to_numpy().astype(np.int64),
        _HEADS_CACHE_MAX,
    )


def build_bigrams(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    min_df: int | None = None,
    heads: np.ndarray | None = None,
) -> str:
    """Materialize the bigram side index under <out_dir>/bigrams.

    heads: explicit sorted head term_id array — the append path passes the
    BASE index's heads so a delta indexes the same pairs (uniform
    authoritativeness across the group). When None, heads are computed
    from this corpus: df >= min_df (default: max(16, n_docs // 100)).

    Same bucketing contract as build_positions (lo/hi from the docs' id
    bounds, identical width formula), so within one part the bigram rows
    and the positional rows share doc-range buckets — the batch phrase
    path's co-location key works across both."""
    from olaf_spark.metafs import get_metafs

    cfg = cfg or EngineConfig()
    mfs = get_metafs()
    if os.path.exists(os.path.join(out_dir, "engine_config.json")):
        EngineConfig.load(out_dir).check_compatible(cfg)
    n, lo, hi, width = doc_range(docs, id_col, n_buckets, f"bigrams at {out_dir}")
    # REBUILD over committed bigrams: retract the commit marker (and the
    # stale rows) before any row lands — a crash mid-rebuild must leave
    # bigrams_usable() False (serving degrades to the positional path),
    # never a committed meta over partial pair rows, which
    # absence-is-authoritative would turn into silently wrong head-head
    # answers
    mfs.remove_file(os.path.join(out_dir, "bigram_meta.json"))
    if os.path.isdir(os.path.join(out_dir, "bigrams")):
        mfs.remove_dir(os.path.join(out_dir, "bigrams"), ignore_errors=True)

    if heads is None:
        if min_df is None:
            min_df = max(16, n // 100)
        heads = head_term_ids(docs, min_df, text_col, id_col, cfg)
    else:
        heads = np.sort(np.asarray(heads, dtype=np.int64))
        min_df = -1 if min_df is None else int(min_df)  # inherited set

    if heads.size:
        from olaf_spark.session import rebalance_scan

        # parallelize the pair emission feeding the bucket exchange (a
        # single-file corpus scans as one task; no-op on many-split scans)
        pairs = adjacent_pairs_df(
            rebalance_scan(spark, docs, id_col), text_col, id_col, cfg
        )
        # from Arrow, not a Python list: see head_term_ids
        heads_df = spark.createDataFrame(pa.table({"head_id": heads}))
        occ = (
            pairs.withColumn("t1_id", term_id_col(F.col("t1")))
            .withColumn("t2_id", term_id_col(F.col("t2")))
            .join(
                F.broadcast(heads_df.withColumnRenamed("head_id", "t1_id")),
                "t1_id", "leftsemi",
            )
            .join(
                F.broadcast(heads_df.withColumnRenamed("head_id", "t2_id")),
                "t2_id", "leftsemi",
            )
            .select(
                "doc_id", "pos",
                term_id_col(F.concat_ws(" ", F.col("t1"), F.col("t2"))).alias("term_id"),
            )
        )
        write_positional_rows(
            spark, occ, os.path.join(out_dir, "bigrams"), lo, width, n_buckets, cfg
        )
        # an empty head-head pair set writes only _SUCCESS under bigrams/
        # — fine: serving lists no row files there, and the Spark readers
        # branch on phrase.has_rows before opening it
    cfg.save(out_dir)
    _write_heads(out_dir, heads)
    # meta lands LAST (atomic publish) — it is the commit marker; a crash
    # mid-build (first build OR rebuild, see the retraction above) leaves
    # bigrams_usable() False and serving falls back to the positional path
    # instead of trusting a partial pair row
    mfs.publish_json(
        os.path.join(out_dir, "bigram_meta.json"),
        _bigram_meta(lo, hi, n_buckets, width, min_df, heads),
    )
    return out_dir


def _bigram_meta(lo, hi, n_buckets, width, min_df, heads) -> dict:
    """bigram_meta.json — the bigram index's commit marker."""
    return {
        "format_version": BIGRAM_FORMAT_VERSION,
        "n_buckets": n_buckets,
        "lo": lo,
        "hi": hi,
        "width": width,
        "min_df": int(min_df),
        "n_heads": int(heads.size),
        "heads_fingerprint": _heads_fingerprint(heads),
    }


#: per-dir meta cache keyed by bigram_meta.json's (inode, mtime_ns) sig —
#: the serving gate (group_heads -> _read_meta) runs on EVERY phrase
#: query; without this a long-lived driver pays one json open+parse per
#: part per query (an NFS round trip each in the documented deployment).
_META_CACHE: dict[str, tuple] = {}


def _read_meta(d: str) -> dict | None:
    from olaf_spark.lru import file_sig, lru_get

    path = os.path.join(d, "bigram_meta.json")
    sig = file_sig(path)

    def load() -> dict | None:
        if sig is None:
            return None
        try:
            with open(path) as f:
                meta = json.load(f)
            if (
                isinstance(meta, dict)
                and meta.get("format_version") == BIGRAM_FORMAT_VERSION
                and isinstance(meta.get("heads_fingerprint"), str)
            ):
                return meta
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        return None

    return lru_get(_META_CACHE, d, sig, load, _HEADS_CACHE_MAX)


def bigrams_usable(d: str) -> bool:
    """True when the dir carries a committed bigram side index in THIS
    engine's layout. Must NEVER raise (graceful-degradation contract, like
    phrase.positions_usable). A usable index may hold ZERO pair rows (tiny
    corpus, no head-head pairs observed) — that is an authoritative 'no
    pair occurs anywhere', not a missing index."""
    return _read_meta(d) is not None and os.path.exists(
        os.path.join(d, "bigram_heads.parquet")
    )


def group_heads(part_dirs: list[str]) -> np.ndarray | None:
    """The group's shared head set, or None when the bigram fast path must
    not be used: some part lacks bigrams, or the parts' head sets differ
    (mixed authoritativeness — a pair trusted in one part but unindexed in
    another would silently drop that part's docs). Never raises."""
    metas = [_read_meta(d) for d in part_dirs]
    if any(m is None for m in metas):
        return None
    fps = {m["heads_fingerprint"] for m in metas}
    if len(fps) != 1:
        return None
    try:
        return load_heads(part_dirs[0])
    except (FileNotFoundError, OSError):
        return None


def compact_bigrams(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    tombstones: np.ndarray | None,
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> str:
    """Fold every part's bigram rows into <out_dir>/bigrams — the pair twin
    of phrase.compact_positions through the same fold
    (phrase.fold_positional_rows: the row format is shared; positions
    restart absolute per doc, so the fold copies position bytes VERBATIM).
    Requires a uniform head set across parts (the append path inherits it,
    so this holds for any group built through the public API); refuses
    loudly otherwise — the caller degrades to 'rebuild with build_bigrams'.
    The fold retracts out_dir's marker and stale rows first, so folding
    all-rowless parts never leaves some earlier index's rows under the new
    marker."""
    metas = []
    for d in part_dirs:
        meta = _read_meta(d)
        if meta is None:
            raise ValueError(
                f"bigrams at {d} are missing or not format "
                f"v{BIGRAM_FORMAT_VERSION} — rebuild with build_bigrams"
            )
        metas.append(meta)
    fps = {m["heads_fingerprint"] for m in metas}
    if len(fps) != 1:
        raise ValueError(
            f"bigram head sets differ across parts ({sorted(fps)}) — "
            "fold would mix authoritativeness; rebuild with build_bigrams"
        )
    heads = load_heads(part_dirs[0])

    def make_meta(lo, hi, n_buckets, width):
        _write_heads(out_dir, heads)
        return _bigram_meta(lo, hi, n_buckets, width, metas[0]["min_df"], heads)

    fold_positional_rows(
        spark, part_dirs, out_dir, "bigrams", "bigram_meta.json", metas,
        make_meta, tombstones, cfg, n_merge_tasks,
    )
    return out_dir
