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
`phrase.fold_positional_rows`) and the commit protocol are phrase.py's.

Authoritativeness: serving may treat a bigram row as the COMPLETE answer
for a pair only when both members are in the recorded head set — an absent
row for a head-head pair means the pair occurs nowhere (a real, useful
answer), while pairs outside the head set were simply never indexed. The
head set is a property of the index LINEAGE, not of each part: deltas
inherit the base's (inherited_heads), so authoritativeness is uniform
across a live group and the compaction fold is a verbatim doc-level merge
with no per-pair bookkeeping. The recorded `heads_fingerprint` (xxh64 of
the sorted head-id array) makes that invariant checkable. Marker, sidecar,
commit order, and what serving, append and compaction do with a missing,
stale or mismatched part: the side-index table in phrase.py.

Size bound: only pairs with BOTH members' df >= min_df are indexed. The
head vocabulary is tiny (Zipf: ~1% of terms carry most occurrences), so
the row count is bounded by (observed head-head pairs) and the occurrence
count by total adjacent head-head token pairs — in practice a few percent
of the positional index's bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.config import EngineConfig
from olaf_spark.indexer import term_id_col, term_id_py
from olaf_spark.lru import LruCache, file_sig, lru_get
from olaf_spark.phrase import (
    BIGRAMS,
    build_side,
    fold_positional_rows,
    group_metas,
    side_meta,
    side_usable,
)
from olaf_spark.tokenize import tokens_array
from olaf_spark.xxh64 import xxh64


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
    final = os.path.join(out_dir, BIGRAMS.sidecar)
    tmp = mfs.tmp_path(final)
    pq.write_table(
        pa.table({"term_id": pa.array(heads.tolist(), type=pa.int64())}), tmp
    )
    mfs.commit_file(tmp, final)


#: per-dir head-array cache keyed by the sidecar's lru.file_sig — serving
#: checks pair authoritativeness on every phrase query and must not
#: re-read parquet
_HEADS_CACHE = LruCache()
_HEADS_CACHE_MAX = 256


def load_heads(d: str) -> np.ndarray:
    """Sorted head term_id array for an index part (sig-keyed cache)."""
    import pyarrow.parquet as pq

    path = os.path.join(d, BIGRAMS.sidecar)
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
    """Materialize the bigram side index under <out_dir>/bigrams
    (phrase.build_side).

    heads: explicit sorted head term_id array — the append path passes the
    BASE index's heads (inherited_heads). When None, heads are computed
    from this corpus: df >= min_df (default: max(16, n_docs // 100))."""
    cfg = cfg or EngineConfig()

    def emit(n_docs):
        if heads is None:
            mdf = max(16, n_docs // 100) if min_df is None else min_df
            hs = head_term_ids(docs, mdf, text_col, id_col, cfg)
        else:
            hs = np.sort(np.asarray(heads, dtype=np.int64))
            mdf = -1 if min_df is None else int(min_df)  # inherited set
        extra = dict(
            min_df=int(mdf), n_heads=int(hs.size), heads_fingerprint=_heads_fingerprint(hs)
        )
        # no heads, no rows; heads but no head-head pair writes only
        # _SUCCESS under bigrams/ — serving lists no row files there, and
        # the Spark readers branch on phrase.has_rows before opening it
        occ = _head_pairs(spark, docs, hs, text_col, id_col, cfg) if hs.size else None
        return occ, extra, lambda: _write_heads(out_dir, hs)

    return build_side(spark, BIGRAMS, docs, out_dir, cfg, id_col, n_buckets, emit)


def _head_pairs(spark, docs, heads, text_col, id_col, cfg) -> DataFrame:
    """(doc_id, pos, term_id = pair id) of every adjacent head-head pair."""
    from olaf_spark.session import rebalance_scan

    # parallelize the pair emission feeding the bucket exchange (a
    # single-file corpus scans as one task; no-op on many-split scans)
    pairs = adjacent_pairs_df(rebalance_scan(spark, docs, id_col), text_col, id_col, cfg)
    # from Arrow, not a Python list: see head_term_ids
    heads_df = spark.createDataFrame(pa.table({"head_id": heads}))
    return (
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


def bigrams_usable(d: str) -> bool:
    """True when d carries a committed bigram side index in this engine's
    layout (phrase.side_usable). Never raises. A usable index may hold
    ZERO pair rows (tiny corpus, no head-head pairs observed) — that is an
    authoritative 'no pair occurs anywhere', not a missing index."""
    return side_usable(d, BIGRAMS)


def group_heads(part_dirs: list[str]) -> np.ndarray | None:
    """The group's shared head set, or None when the bigram fast path must
    not be used (phrase.group_metas: some part lacks bigrams, or head sets
    differ — a pair trusted in one part but unindexed in another would
    silently drop that part's docs). Never raises."""
    if group_metas(part_dirs, BIGRAMS) is None:
        return None
    try:
        return load_heads(part_dirs[0])
    except (FileNotFoundError, OSError):
        return None


def inherited_heads(base_dir: str) -> dict:
    """build_bigrams keywords of a delta: the base's head set and min_df.
    Refuses when the base has no bigram index — building one from the
    delta's own dfs would break uniform authoritativeness."""
    if not side_usable(base_dir, BIGRAMS):
        raise ValueError(
            f"with_bigrams=True but {base_dir} has no bigram side index — "
            "run build_bigrams on the base first (the delta inherits its "
            "head set)"
        )
    return dict(min_df=side_meta(base_dir, BIGRAMS)["min_df"], heads=load_heads(base_dir))


def compact_bigrams(
    spark: SparkSession,
    part_dirs: list[str],
    out_dir: str,
    tombstones: np.ndarray | None,
    cfg: EngineConfig,
    n_merge_tasks: int | None = None,
) -> str:
    """Fold every part's bigram rows into <out_dir>/bigrams
    (phrase.fold_positional_rows: positions restart absolute per doc, so
    the fold copies position bytes verbatim). Refuses loudly when a part
    lacks bigrams or head sets differ."""
    fold_positional_rows(
        spark, BIGRAMS, part_dirs, out_dir, tombstones, cfg, n_merge_tasks
    )
    return out_dir
