"""Distributed index build: segments -> merge -> global packed postings.

Reference analogue: Olaf's two-phase bulk build (`README.md:260-272`,
`cli/olaf_cli_cmd_cache.zig` + `store_cached`): extract fingerprints to
partition-local files fully in parallel (map), then merge them into the
single sorted LMDB store (reduce). Here the same shape, Spark-first:

  stage 1 (segments): tokenize -> (term, doc_id, tf, doc_len)
      -> bucket by doc_id RANGE  (so per-(term,bucket) runs are sorted AND
         disjoint — merging is concatenation, not a k-way merge)
      -> repartition(bucket, term) + sortWithinPartitions + mapInPandas
         single-pass vectorized pack (numpy delta+varbyte, encode_grouped)
      -> parquet append, partitioned by bucket, one lineage row per bucket

  stage 2 (merge): read segments -> range-partition on (tb, term, bucket)
      + sortWithinPartitions(term, bucket) + mapInPandas streaming fold
      (make_posting_fold, shared with compaction): each Arrow batch of
      complete terms is decoded one binary column at a time, runs
      concatenate in bucket order, and idf, chunking, block maxes and the
      re-encode are numpy passes over the whole batch — no Python work per
      term (the per-term loop cost ~175 us a term: 2.8-3.0 s serial for the
      13.7k terms of the 1,000-doc benchmark corpus)
      -> global postings parquet, hive-partitioned by tb, term-sorted
         within each shard (serving prunes to ~|q| directories)

Skew (north_rule / SURVEY §7.5-2): a head term's postings arrive as many
bucket-runs built in parallel — no single task ever holds more than one
bucket of one term at stage 1. Olaf's answer was a hard cap that drops
postings (maxDBCollisions=2000, olaf_db.c:366-375); ours keeps every
posting and bounds task memory by bucket width instead. At stage 2 a
mega-term still merges in one task; bucket_width bounds that too (the
merge is streaming concat of pre-packed runs).

Resume (north_rule): each stage-1 bucket commits a lineage row; a
restarted build reads the lineage table, skips completed buckets, and
appends only the missing ones — idempotent because bucket contents are a
pure function of (corpus, config).

At 10^12 docs: buckets are doc_id ranges -> stage 1 reads each input
partition once, shuffles (term, bucket)-grouped rows; stage 2 shuffles
packed runs (already ~10x smaller than raw postings). Doc lengths are
packed INTO each posting row, so query-time scoring needs no side lookup
table on executors.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.codec import (
    block_starts_for_groups,
    encode_grouped,
    encode_grouped_blocked,
    segmented_cumsum,
    split_lists,
    varbyte_decode_rows,
)
from olaf_spark.config import EngineConfig
from olaf_spark.scorer import idf

SEGMENT_SCHEMA = (
    "term_id long, bucket int, n_docs long, sum_tf long, "
    "doc_ids_bin binary, tfs_bin binary, doc_lens_bin binary"
)

# Posting rows are chunk-aligned to block_size: doc_ids_bin gap-encodes with
# a RESTART (absolute value) at every block boundary, and *_offs hold each
# block's byte offset inside its buffer — so the serving path can decode ONE
# block without touching the rest (lazy block decode for block-max pruning).
POSTINGS_SCHEMA = (
    "term_id long, df long, chunk int, "
    "doc_ids_bin binary, tfs_bin binary, doc_lens_bin binary, "
    "block_lasts array<long>, block_maxes array<double>, "
    "id_offs array<long>, tf_offs array<long>, dl_offs array<long>"
)


def term_id_py(term: str) -> int:
    """64-bit integer term key from xxhash64(term) — Olaf's packed
    fingerprint hash (olaf_fp_extractor.c:92-145): the index stores,
    shuffles, and sorts fixed-width integer keys, never strings. Shuffling
    ids instead of strings makes the build's sort/compare path numeric
    (string-object boundary compares dominated the pack step) and the
    shuffle rows fixed-width; the index needs no term dictionary because
    the serving path recomputes the hash per query term. The JVM side is
    Spark's native `xxhash64` intrinsic (seed 42, no per-token string
    allocation, unlike an md5-hex route); this Python twin
    (olaf_spark.xxh64) is property-tested bit-identical against it.
    Collisions merge two terms' postings — the same accepted hash-semantics
    as Olaf's 34-bit fingerprint space, here at ~2^-64 rates.
    """
    from olaf_spark.xxh64 import xxh64

    return xxh64(term.encode("utf-8"))


def term_id_col(term_col):
    """JVM twin of term_id_py (bit-identical, property-tested)."""
    return F.xxhash64(term_col)


def term_shard(term: str, n_shards: int) -> int:
    """Serving-side shard lookup: tb = term_id % n_shards."""
    return term_id_py(term) % n_shards


def shard_from_id_col(term_id_col_, n_shards: int):
    return F.pmod(term_id_col_, F.lit(n_shards)).cast("int")


def in_expr_int(col: str, values) -> "F.Column":
    """`col IN (...)` over integer values, built as ONE parsed expression.

    `.isin(list)` creates a py4j-bridged literal per value — measured
    1.2 s of pure driver time to CONSTRUCT at 3,000 term_ids (plus slower
    analysis); the parsed string form is one JVM call and yields the same
    In predicate (and the same parquet pushdown). Integer-only by
    construction, so the string is injection-safe."""
    vals = ",".join(str(int(v)) for v in values)
    return F.expr(f"{col} in ({vals})") if vals else F.lit(False)


def rep_query_df(spark: SparkSession, mapping) -> DataFrame:
    """(rep, query_id) DataFrame of a batch job's fan-back join, from
    (rep, query_id) pairs. Built from a pyarrow Table, which ships as a
    driver-side relation: a Python list goes through `parallelize` and is
    re-pickled in one Python worker per task."""
    import pyarrow as pa

    rep, qid = zip(*mapping)
    return spark.createDataFrame(
        pa.table({"rep": pa.array(rep, pa.int64()), "query_id": pa.array(qid, pa.int64())})
    )


def merge_task_count(spark: SparkSession, byte_size: int) -> int:
    """Size-derived repartition width for packed-row merges (guide §2.2):
    one task per ~32 MB of packed input bytes, floored at the session's
    parallelism (small inputs still use every core), capped at 4096. The
    round-5 constant 128 meant 4-row tasks at bench scale and would
    undersize thousand-node merges."""
    return max(
        spark.sparkContext.defaultParallelism, min(4096, byte_size // (32 << 20) + 1)
    )


def cluster_for_write(
    df: DataFrame, part_col: str, n_tasks: int, n_parts: int, salt_col: str = "term_id"
) -> DataFrame:
    """Cluster packed rows on their hive-partition column before a
    `partitionBy(part_col)` write (guide §6 small-files).

    The pack exchange is keyed fine-grained — (bucket, term) — for
    parallelism, so without this every write task holds rows of ALL
    n_parts partition values: n_tasks x n_parts output files (1024 at
    bench scale) plus the planned-write sort per task; each file costs
    open/footer/commit. One extra narrow exchange of the ~10x-compressed
    PACKED rows (never the raw occurrences) lands each partition value on
    ~n_tasks/n_parts tasks: measured 1024 -> 32 files and write wall
    4.2 -> 1.6 s at 50k docs, and fewer segment files also means fewer
    parquet footers on every serving read. Salted by term_id so one
    partition value still spreads over multiple tasks when
    n_tasks > n_parts (tasks stay size-derived at cluster scale)."""
    k = max(1, n_tasks // max(1, n_parts))
    return df.repartition(n_tasks, F.col(part_col), F.pmod(F.col(salt_col), F.lit(k)))


def dir_bytes(*dirs: str) -> int:
    """Total on-disk bytes under the given directories (driver-side walk —
    metadata only, no data read; missing dirs count 0)."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def token_occurrences_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """(doc_id, doc_len, term_id) — one row per token OCCURRENCE, zero
    shuffle, fixed-width rows.

    doc_len = size(tokens) is projected before the explode (one tokenize
    pass), term strings collapse to 60-bit term_ids right after it, and tf
    is NOT aggregated here: counting duplicates of (term_id, bucket,
    doc_id) happens inside _pack_stage1 on rows the bucket shuffle already
    sorted. The old pipeline shuffled ~same data three times (groupBy tf,
    doc_len window, bucket repartition) with string keys; this shape makes
    the bucket repartition the build's ONLY wide exchange, carrying three
    longs + an int per token.
    """
    from olaf_spark.tokenize import tokens_array

    cfg = cfg or EngineConfig()
    # Shape notes (r6, each variant measured):
    #  * doc_len (the KEPT-token count, one lambda-filtered eval) and the
    #    RAW split array are projected BELOW the generate, so both are
    #    attributes per doc row — computing doc_len in the same select as
    #    the explode let CollapseProject hoist the whole filtered-split
    #    expression ABOVE the generate, i.e. once per TOKEN (10x slower);
    #  * the explode runs over the raw array attribute with a row filter
    #    after (the lambda-filtered generate runs outside codegen — see
    #    tokenize.tokens_df); InferFiltersFromGenerate then pushes a
    #    size/isnotnull guard down to the scan, which re-evaluates the
    #    plain split twice per DOC — cheaper than the r5 shape, whose
    #    guard re-evaluated the split+lambda-filter twice per doc.
    arr = F.split(F.lower(F.col(text_col)), cfg.token_split_re)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_array(F.col(text_col), cfg)).alias("doc_len"),
        arr.alias("raw_toks"),
    )
    return (
        base.select("doc_id", "doc_len", F.explode("raw_toks").alias("term"))
        .where(
            (F.length("term") >= max(1, cfg.min_token_len))
            & (F.length("term") <= cfg.max_token_len)
        )
        .select("doc_id", "doc_len", term_id_col(F.col("term")).alias("term_id"))
    )


def bucket_of_np(ids: np.ndarray, lo: int, width: int, n_buckets: int) -> np.ndarray:
    """numpy twin of bucket_expr — IEEE float64 ops match the JVM exactly."""
    raw = np.floor((ids.astype(np.float64) - float(lo)) / float(width))
    return np.minimum(n_buckets - 1, np.maximum(0, raw)).astype(np.int32)


def bucket_expr(id_col, lo: int, width: int, n_buckets: int):
    """doc_id -> range-bucket id. Runs in float64 because doc_id spans the
    full signed-int64 domain when derived via xxhash64(url) and (doc_id -
    lo) overflows long arithmetic; cast/sub/div/floor are each monotone
    non-decreasing, and monotone-in-doc_id is the only property
    merge-by-concatenation needs; the clamp guards the top edge against
    rounding. Deterministic from (lo, width) -> resume-safe."""
    return F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (id_col.cast("double") - F.lit(float(lo))) / F.lit(float(width))
            ).cast("int"),
        ),
    )


def _bucket_width(lo: int, hi: int, n_buckets: int) -> int:
    return max(1, (hi - lo) // n_buckets + 1)


def doc_range(
    docs: DataFrame, id_col: str, n_buckets: int, target: str
) -> tuple[int, int, int, int]:
    """(n, lo, hi, width) of a build's doc-range bucketing, from ONE agg
    over the input (count + id bounds). Every build (postings, positions,
    bigrams) calls this BEFORE its first destructive step, so a refused
    call (empty docs, e.g. a mis-filtered source) is a true no-op: nothing
    committed under `target` is retracted or overwritten."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col(id_col)).alias("lo"),
        F.max(F.col(id_col)).alias("hi"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        raise ValueError(f"refusing to build {target}: docs has no rows (n_docs=0)")
    lo, hi = int(row["lo"]), int(row["hi"])
    return n, lo, hi, _bucket_width(lo, hi, n_buckets)


def fold_range(metas: list[dict]) -> tuple[int, int, int, int]:
    """(lo, hi, n_buckets, width) of a compaction fold's output bucketing,
    from the parts' recorded metas: the union of their doc ranges under the
    largest part's bucket count, with the same width formula as doc_range."""
    lo = min(m["lo"] for m in metas)
    hi = max(m["hi"] for m in metas)
    n_buckets = max(m["n_buckets"] for m in metas)
    return lo, hi, n_buckets, _bucket_width(lo, hi, n_buckets)


def _iter_term_chunks(pdf_iter):
    """Regroup an Arrow batch stream (rows sorted by term_id within the
    partition) into frames of COMPLETE term groups.

    Concatenating the whole partition (`pd.concat(list(pdf_iter))`) before
    the group loop forfeits mapInPandas's streaming iterator — task memory
    becomes the full partition. This generator instead flushes closed term
    groups as each batch arrives and carries only the still-open tail term
    forward, so resident memory is O(arrow batch + largest single term's
    rows in this task) — the latter already bounded by doc-range splitting
    (stage-1 buckets / the merge's (tb, term, bucket|first_doc) range key).
    A mega-term spanning many batches accumulates as a LIST of frames and
    concatenates once at flush (no quadratic re-concat churn).
    """
    buf: list[pd.DataFrame] = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        terms = pdf["term_id"].to_numpy()
        # rows are term_id-sorted, so searchsorted finds where the (possibly
        # still-open) LAST term begins; everything before it is closed
        cut = int(np.searchsorted(terms, terms[-1], side="left"))
        if cut > 0:
            closed = pdf.iloc[:cut]
            if buf:
                buf.append(closed)
                yield pd.concat(buf, ignore_index=True)
                buf = []
            else:
                yield closed.reset_index(drop=True)
        buf.append(pdf.iloc[cut:])
    if buf:
        tail = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0].reset_index(drop=True)
        if len(tail):
            yield tail


def _make_pack_stage1(lo: int, width: int, n_buckets: int):
    """One sorted partition of occurrence rows (term_id, doc_id, doc_len)
    -> one packed segment row per (term, bucket) group, in ONE vectorized
    pass: tf = run length of equal (term_id, doc_id).

    The bucket column never rides the shuffle: it is a deterministic
    monotone function of doc_id, used as a partitioning EXPRESSION and
    recomputed here in numpy (bucket_of_np, bit-identical float64).
    Sorting by (term_id, doc_id) suffices — bucket is monotone in doc_id,
    so (term, bucket) runs are contiguous. A groupBy.applyInPandas would
    invoke Python once per group (hundreds of thousands of 1-row pandas
    frames — measured 4-7 minutes at 40k docs); this processes complete
    term-group chunks with numpy group-boundary detection instead —
    streamed through _iter_term_chunks, never the whole partition at once.
    """

    def _pack_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        terms = pdf["term_id"].to_numpy(dtype=np.int64)
        ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
        dls_all = pdf["doc_len"].to_numpy(dtype=np.uint64)
        buckets = bucket_of_np(ids_all, lo, width, n_buckets)

        g_new = np.empty(n, dtype=bool)
        g_new[0] = True
        g_new[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
        d_new = g_new.copy()
        d_new[1:] |= ids_all[1:] != ids_all[:-1]

        d_starts = np.flatnonzero(d_new)                 # one per (g, doc) run
        tfs = np.diff(np.append(d_starts, n)).astype(np.uint64)
        ids = ids_all[d_starts].astype(np.uint64)
        dls = dls_all[d_starts]

        g_starts_rows = np.flatnonzero(g_new)            # in occurrence space
        # every group start IS a doc-run start (g_new implies d_new), so this
        # searchsorted lands exactly on the runs' indices
        g_starts = np.searchsorted(d_starts, g_starts_rows)
        n_docs = np.diff(np.append(g_starts, d_starts.size))
        # occurrences per group == sum of tfs per group (feeds global avgdl
        # from a cheap segment scan, not a second corpus tokenize pass)
        sum_tf = np.diff(np.append(g_starts_rows, n))

        return pd.DataFrame(
            {
                "term_id": terms[g_starts_rows],
                "bucket": buckets[g_starts_rows],
                "n_docs": n_docs.astype("int64"),
                "sum_tf": sum_tf.astype("int64"),
                "doc_ids_bin": encode_grouped(ids, g_starts, delta=True),
                "tfs_bin": encode_grouped(tfs, g_starts, delta=False),
                "doc_lens_bin": encode_grouped(dls, g_starts, delta=False),
            }
        )

    def _pack(pdf_iter):
        for pdf in _iter_term_chunks(pdf_iter):
            yield _pack_chunk(pdf)

    return _pack


def make_posting_fold(n_docs: int, avgdl: float, cfg: EngineConfig, decode):
    """mapInPandas fn shared by the build merge and compaction: a stream of
    packed rows sorted by term_id, each carrying its term's exact df
    (df_full) -> chunked global POSTINGS_SCHEMA rows.

    Each batch of complete term groups is folded in ONE numpy pass, with no
    Python work per term: decode(pdf, row_term) decodes the batch's three
    binary columns (codec.varbyte_decode_rows) and returns (ids, tfs, dls,
    term), every posting tagged with its term's group index (row_term is
    the per-row index) and sorted by (term, doc). That decode is the one
    step the callers differ in: the merge concatenates bucket-disjoint runs,
    compaction sorts the parts' rows by doc and drops tombstones. A term
    that decodes empty is skipped. Then, for the whole batch: each term's
    idf (from df_full, which arrives on every row, so idf and block maxes
    are exact regardless of which task packs which doc range) is broadcast
    to its postings, terms are cut into rows of at most `cap` postings,
    block maxes come from one np.maximum.reduceat over the block starts,
    and each column is encoded by one encode_grouped_blocked call. `chunk`
    is a task-local ordinal (rows of one term are doc-range disjoint;
    nothing depends on chunk numbering).

    Streams complete term groups via _iter_term_chunks — resident memory is
    O(arrow batch + one term's rows), never the partition.
    """
    k1, b, block_size = cfg.k1, cfg.b, cfg.block_size
    # head-term row cap, aligned to block_size so block metadata stays
    # chunk-local (config docstring: no task/read depends on one term
    # fitting one row at 10^12 docs)
    cap = max(block_size, (cfg.max_row_postings // block_size) * block_size)

    def _pack_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        terms = pdf["term_id"].to_numpy(dtype=np.int64)
        row_new = np.empty(len(pdf), dtype=bool)
        row_new[0] = True
        row_new[1:] = terms[1:] != terms[:-1]
        term_rows = np.flatnonzero(row_new)
        ids, tfs, dls, term = decode(pdf, np.cumsum(row_new) - 1)
        if ids.size == 0:
            return None  # every posting of these terms tombstoned away
        n = ids.size
        g_new = np.empty(n, dtype=bool)
        g_new[0] = True
        g_new[1:] = term[1:] != term[:-1]
        g_starts = np.flatnonzero(g_new)
        g_rows = term_rows[term[g_starts]]  # each kept term's first input row
        g_len = np.diff(np.append(g_starts, n))
        df_full = pdf["df_full"].to_numpy(dtype=np.int64)[g_rows]

        # rows of at most `cap` postings per term
        n_chunks = (g_len + cap - 1) // cap
        chunk = np.arange(int(n_chunks.sum()), dtype=np.int64)
        chunk -= np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks)
        c_starts = np.repeat(g_starts, n_chunks) + chunk * cap

        # per-posting BM25 contribution, in block_maxes' association order;
        # idf once per distinct df (scorer.idf, so bit-identical to it)
        uniq, inv = np.unique(df_full, return_inverse=True)
        w = np.asarray([idf(n_docs, int(d)) for d in uniq], dtype=np.float64)[inv]
        tf_f, dl_f = tfs.astype(np.float64), dls.astype(np.float64)
        scores = np.repeat(w, g_len) * (
            tf_f * (k1 + 1.0) / (tf_f + k1 * (1.0 - b + b * dl_f / avgdl))
        )
        b_starts = block_starts_for_groups(c_starts, n, block_size)
        b_ends = np.append(b_starts[1:], n)
        cuts = np.searchsorted(b_starts, c_starts[1:])
        lasts = split_lists(ids[b_ends - 1].astype(np.int64), cuts)
        maxes = split_lists(np.maximum.reduceat(scores, b_starts), cuts)

        id_bin, id_offs = encode_grouped_blocked(ids, c_starts, block_size, delta=True)
        tf_bin, tf_offs = encode_grouped_blocked(tfs, c_starts, block_size, delta=False)
        dl_bin, dl_offs = encode_grouped_blocked(dls, c_starts, block_size, delta=False)
        return pd.DataFrame(
            {
                "term_id": np.repeat(terms[g_rows], n_chunks),
                "df": np.repeat(df_full, n_chunks),  # FULL df on every chunk
                "chunk": chunk.astype(np.int32),
                "doc_ids_bin": id_bin,
                "tfs_bin": tf_bin,
                "doc_lens_bin": dl_bin,
                "block_lasts": lasts,
                "block_maxes": maxes,
                "id_offs": id_offs,
                "tf_offs": tf_offs,
                "dl_offs": dl_offs,
            }
        )

    def _fold(pdf_iter):
        for pdf in _iter_term_chunks(pdf_iter):
            out = _pack_chunk(pdf)
            if out is not None:
                yield out

    return _fold


def decode_posting_rows(pdf: pd.DataFrame, block_size: int | None = None):
    """(ids, tfs, dls, counts) of a batch of packed posting rows, each
    binary column decoded in one pass: counts[i] postings per row, and the
    doc-id gaps restart absolute at every row start and, for blocked rows
    (block_size given), at every block start within a row."""
    gaps, counts = varbyte_decode_rows(pdf["doc_ids_bin"])
    tfs, _ = varbyte_decode_rows(pdf["tfs_bin"])
    dls, _ = varbyte_decode_rows(pdf["doc_lens_bin"])
    restarts = np.cumsum(counts) - counts  # row starts; an empty row adds none
    if block_size is not None:
        restarts = block_starts_for_groups(restarts, gaps.size, block_size)
    return segmented_cumsum(gaps, restarts), tfs, dls, counts


def _concat_runs(pdf: pd.DataFrame, row_term: np.ndarray):
    """The build merge's decode: a term's segment runs are sorted by doc_id
    within a bucket and buckets are disjoint doc_id ranges, so
    concatenation in bucket order IS the merge (Olaf's store_cached bulk
    load / sorted B+tree insert)."""
    ids, tfs, dls, counts = decode_posting_rows(pdf)
    return ids, tfs, dls, np.repeat(row_term, counts)


class Index:
    """A materialized index directory (parquet + json metadata)."""

    def __init__(self, index_dir: str, cfg: EngineConfig, stats: dict):
        self.index_dir = index_dir
        self.cfg = cfg
        self.stats = stats
        self._tombstones: set[int] | None = None
        self._tombstones_arr: np.ndarray | None = None

    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"]

    @property
    def avgdl(self) -> float:
        return self.stats["avgdl"]

    #: on-disk postings layout version. 2 = blocked codec (gap restarts per
    #: block + id/tf/dl_offs seek tables). Bump on any layout change so a
    #: stale index fails loudly here instead of deep in a decode.
    FORMAT_VERSION = 2

    @classmethod
    def load(cls, index_dir: str, query_cfg: EngineConfig | None = None) -> "Index":
        cfg = EngineConfig.load(index_dir)
        if query_cfg is not None:
            cfg.check_compatible(query_cfg)  # olaf_config.h:46-50 invariant
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        found = stats.get("format_version", 1)
        if found != cls.FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has postings format v{found}; this "
                f"engine reads v{cls.FORMAT_VERSION} — rebuild the index "
                "(the config-freeze invariant extends to the storage layout)"
            )
        return cls(index_dir, cfg, stats)

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.index_dir, "postings"))

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.index_dir, "lineage"))

    # -------- deletion (Olaf `delete` command analogue, merge-on-read) ------

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.index_dir, "tombstones.json")

    def _read_tombstones_disk(self) -> set[int]:
        try:
            with open(self._tombstone_path) as f:
                return set(json.load(f))
        except FileNotFoundError:
            return set()

    def tombstones(self) -> set[int]:
        if self._tombstones is None:
            self._tombstones = self._read_tombstones_disk()
        return self._tombstones

    def tombstones_arr(self) -> np.ndarray | None:
        """SORTED int64 tombstone array for the scorers' filter path,
        cached on the instance (None when empty). At millions of deletes
        the set/JSON path costs a full JSON int parse per load plus an
        np.fromiter + isin re-sort per query; this reads the parquet
        sidecar (columnar, already sorted) once and every query filters
        with one searchsorted (tombstone_keep_mask)."""
        if self._tombstones_arr is None:
            self._tombstones_arr = read_tombstones_arr(self.index_dir)
        return self._tombstones_arr if self._tombstones_arr.size else None

    def _mutate_tombstones(self, fn) -> None:
        ts = locked_mutate_id_set(self._tombstone_path, fn)
        self._tombstones = ts
        self._tombstones_arr = np.asarray(sorted(ts), dtype=np.int64)

    def delete_docs(self, doc_ids: list[int]) -> None:
        """Merge-on-read deletion: doc_ids are tombstoned, not rewritten —
        the query path filters them out of decoded postings (the scale-
        correct move: rewriting a 100 TB index for a delete is not).
        A compaction would rebuild only the buckets containing them.
        """
        self._mutate_tombstones(lambda ts: ts | {int(d) for d in doc_ids})

    def undelete_docs(self, doc_ids: list[int]) -> None:
        """Restore previously deleted docs (Olaf's re-store restores counts,
        tests/olaf_functional_tests.zig:462-560 analogue)."""
        self._mutate_tombstones(lambda ts: ts - {int(d) for d in doc_ids})


def locked_mutate_id_set(path: str, fn) -> set[int]:
    """Serialized read-modify-write of a JSON int-set file under the
    metafs exclusive lock (Olaf's LMDB writer mutex, olaf_db.c:28-37,
    scaled down to a maintenance op): the re-read happens INSIDE the lock,
    so two racing delete/undelete calls truly converge on the union of
    their intents — not just "each write is atomic" (the publish_json
    commit additionally guarantees a crash mid-write leaves the previous
    file intact). Lock semantics (crash takeover, owner token, NFS
    caveats) are the metafs.exclusive_lock contract. Shared by the text
    index's doc tombstones and the ANN index's vector tombstones.
    """
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    with mfs.exclusive_lock(path + ".lock"):
        try:
            with open(path) as f:
                cur = set(json.load(f))
        except FileNotFoundError:
            cur = set()
        out = fn(cur)
        srt = sorted(out)
        mfs.publish_json(path, srt)
        # parquet SIDECAR — the scale read path: a sorted int64 column loads
        # without parsing a JSON list of millions of ints (read_tombstones_arr
        # prefers it when at least as fresh as the json). Written INSIDE the
        # lock, AFTER the json (which stays the compat source of truth), via
        # the same whole-file commit.
        import numpy as _np
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        side = os.path.splitext(path)[0] + ".parquet"
        tmp2 = mfs.tmp_path(side)
        _pq.write_table(
            _pa.table({"doc_id": _np.asarray(srt, dtype=_np.int64)}), tmp2
        )
        mfs.commit_file(tmp2, side)
        return out


def read_tombstones_arr(index_dir: str) -> np.ndarray:
    """Sorted int64 tombstone array for an index dir (empty array when no
    deletes). Prefers the parquet sidecar when it is at least as fresh as
    tombstones.json (a json written by hand or an older engine wins over a
    stale sidecar); both forms are written sorted."""
    jp = os.path.join(index_dir, "tombstones.json")
    pp = os.path.join(index_dir, "tombstones.parquet")
    try:
        j_m = os.path.getmtime(jp)
    except FileNotFoundError:
        return np.empty(0, dtype=np.int64)
    if os.path.exists(pp) and os.path.getmtime(pp) >= j_m:
        import pyarrow.parquet as pq

        return pq.read_table(pp)["doc_id"].to_numpy().astype(np.int64)
    with open(jp) as f:
        # np.sort: the engine writes the list sorted, but the whole point
        # of this fallback is a HAND-EDITED (or older-engine) json — an
        # unsorted one would silently break every searchsorted filter
        return np.sort(np.asarray(json.load(f), dtype=np.int64))


def sorted_tombstone_arr(ts) -> np.ndarray | None:
    """Normalize a tombstone collection (set/list, or an already-sorted
    int64 array from tombstones_arr) to the sorted-array form the scorers
    filter with; None/empty -> None."""
    if ts is None:
        return None
    if isinstance(ts, np.ndarray):
        return ts if ts.size else None
    if not ts:
        return None
    return np.asarray(sorted(int(x) for x in ts), dtype=np.int64)


def tombstone_keep_mask(ids: np.ndarray, ts_sorted: np.ndarray) -> np.ndarray:
    """True where ids SURVIVE the tombstone filter — one searchsorted
    against the cached sorted array, O(n log m) with no per-query rebuild
    (np.isin re-sorts its second argument on every call)."""
    at = np.searchsorted(ts_sorted, ids)
    hit = (at < ts_sorted.size) & (ts_sorted[np.minimum(at, ts_sorted.size - 1)] == ids)
    return ~hit


_LINEAGE_SCHEMA_PD = {
    "stage": "string", "partition_id": "int64", "input_rows": "int64",
    "output_rows": "int64", "wall_s": "float64", "rows_per_s": "float64",
    "bytes_out": "int64", "status": "string", "ts": "float64",
}


def _write_lineage(rows: list[dict], lin_dir: str) -> None:
    """Append lineage rows as a parquet file written DRIVER-SIDE (pyarrow).

    Lineage is O(n_buckets) rows of metadata — the manifest-file pattern
    (Iceberg writes manifests from the committer, not as a distributed job).
    Spark-jobs-for-64-rows added ~2 s of fixed cost per build; still read
    back through spark.read.parquet / Index.lineage unchanged.
    """
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    mfs.ensure_dir(lin_dir)
    pdf = pd.DataFrame(rows).astype(_LINEAGE_SCHEMA_PD)
    # write-then-commit: a crash mid-write leaves only a dot-prefixed tmp,
    # which pyarrow datasets and Spark's parquet reader both ignore — a
    # manifest either exists completely or not at all (commit-file pattern)
    final = os.path.join(lin_dir, f"lineage-{uuid.uuid4().hex}.parquet")
    tmp = mfs.tmp_path(final)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    mfs.publish_new(tmp, final)


def done_partitions(index_dir: str, stage: str) -> set[int]:
    """partition_ids of the `stage` rows committed (status done) in
    <index_dir>/lineage — the one resume check of every build and
    compaction stage. Read driver-side (tiny metadata; no Spark job on
    resume); empty when no manifest has landed."""
    import pyarrow.dataset as ds

    lin_dir = os.path.join(index_dir, "lineage")
    if not os.path.isdir(lin_dir):
        return set()
    dataset = ds.dataset(lin_dir, format="parquet")
    if not dataset.schema.names:  # dir created but no manifest landed (crash
        return set()              # between makedirs and the first write)
    tbl = dataset.to_table(columns=["stage", "status", "partition_id"])
    return {
        int(p)
        for s, st, p in zip(
            tbl["stage"].to_pylist(), tbl["status"].to_pylist(), tbl["partition_id"].to_pylist()
        )
        if s == stage and st == "done"
    }


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    resume: bool = False,
    n_merge_tasks: int | None = None,
) -> Index:
    """Build (or resume) a materialized index at index_dir."""
    from olaf_spark.metafs import get_metafs

    cfg = cfg or EngineConfig()
    t_start = time.time()
    # corpus stats: ONE scan for count + id bounds, before anything is removed
    n_docs, lo, _hi, bucket_width = doc_range(
        docs, id_col, n_buckets, f"an index at {index_dir}"
    )
    mfs = get_metafs()
    if not resume and os.path.exists(index_dir):
        mfs.remove_dir(index_dir)
    mfs.ensure_dir(index_dir)
    cfg.save(index_dir)

    seg_dir = os.path.join(index_dir, "segments")
    post_dir = os.path.join(index_dir, "postings")
    lin_dir = os.path.join(index_dir, "lineage")

    # parallelize the tokenize feeding the bucket exchange: a single-file
    # corpus scans as one task otherwise (session.rebalance_scan — no-op
    # on a many-split cluster scan)
    from olaf_spark.session import rebalance_scan

    pf = token_occurrences_df(
        rebalance_scan(spark, docs, id_col), text_col, id_col, cfg
    )
    # bucket never becomes a column: it partitions as an EXPRESSION and is
    # recomputed in numpy inside the pack (bucket_of_np) — one fewer field
    # in every shuffled occurrence row and one fewer sort key
    b_expr = bucket_expr(F.col("doc_id"), lo, bucket_width, n_buckets)

    # ---- stage 1: partition-local packed segments (resumable) -------------
    done = done_partitions(index_dir, "segments") if resume else set()
    todo_pf = pf.where(~b_expr.isin(sorted(done))) if done else pf

    t0 = time.time()
    n_tasks = max(n_buckets, spark.sparkContext.defaultParallelism)
    seg = (
        todo_pf.repartition(n_tasks, b_expr, F.col("term_id"))
        .sortWithinPartitions("term_id", "doc_id")
        .mapInPandas(_make_pack_stage1(lo, bucket_width, n_buckets), SEGMENT_SCHEMA)
    )
    seg = cluster_for_write(seg, "bucket", n_tasks, n_buckets)
    seg.write.mode("append").partitionBy("bucket").parquet(seg_dir)
    seg_wall = time.time() - t0

    # lineage + global totals from ONE scan of the (packed, ~10x smaller)
    # segment files — no separate total_tf job, no second corpus pass
    seg_stats = (
        spark.read.parquet(seg_dir)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("n_docs").alias("n_postings"),
            F.sum("sum_tf").alias("sum_tf"),
            F.sum(F.length("doc_ids_bin") + F.length("tfs_bin") + F.length("doc_lens_bin")).alias("bytes_out"),
        )
        .collect()
    )
    lineage = []
    for r in seg_stats:
        bkt = int(r["bucket"])
        if bkt in done:
            continue
        lineage.append(
            dict(
                stage="segments", partition_id=bkt,
                input_rows=int(r["n_postings"]), output_rows=int(r["n_terms"]),
                wall_s=seg_wall, rows_per_s=(int(r["n_postings"]) / seg_wall if seg_wall > 0 else 0.0),
                bytes_out=int(r["bytes_out"]), status="done", ts=time.time(),
            )
        )
    if lineage:
        _write_lineage(lineage, lin_dir)

    # ---- global stats (derived from the same seg_stats rows: resume sees
    # the full corpus and no second tokenize pass is needed) -----------------
    total_tf = sum(int(r["sum_tf"] or 0) for r in seg_stats)
    total_postings_in = sum(int(r["n_postings"] or 0) for r in seg_stats)
    avgdl = total_tf / n_docs if n_docs else 0.0

    # ---- stage 2: merge bucket-runs into global postings -------------------
    t0 = time.time()
    merge_fn = make_posting_fold(n_docs, avgdl, cfg, _concat_runs)
    segments = spark.read.parquet(seg_dir)
    from pyspark.sql import Observation

    # exact per-term df from run n_docs — a cheap pre-agg whose join onto
    # the runs lets the merge split a term ACROSS tasks (Catalyst broadcasts
    # this table when small, shuffle-joins at 10^9-term scale).
    df_tbl = segments.groupBy("term_id").agg(F.sum("n_docs").alias("df_full"))
    # n_terms/n_postings via a separate tiny action over the (packed,
    # already-aggregated) table — NOT an Observation attached below the range
    # exchange: repartitionByRange's sampling pass re-executes the join
    # subtree, so a CollectMetrics there sees every row twice whenever the
    # join is not broadcast (sort-merge at 10^9-term scale) and stats.json
    # n_terms/n_postings + merge lineage would inflate ~2x.
    trow = df_tbl.agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("df_full").alias("n_postings")
    ).collect()[0]
    term_totals = {"n_terms": int(trow["n_terms"]), "n_postings": int(trow["n_postings"] or 0)}
    # Shard by term-hash (tb): the output is hive-partitioned by tb so the
    # serving path prunes to ~|q| directories. The shuffle itself is
    # RANGE-partitioned on (tb, term_id, bucket) into n_merge_tasks:
    #   * hash-repartition(32, "tb") pigeonholes 32 shard values into 32
    #     partitions (~1/e empty, others stacked 2-3x) and lets head-term
    #     shards straggle — measured merge scaling was 1.4x from 4->16 cores;
    #   * range partitioning balances by sampled row count, each tb dir
    #     receives a handful of term-sorted files (row-group stats prune),
    #     and including `bucket` in the key means a 10^12-scale head term's
    #     runs can SPLIT across tasks — no task ever materializes a whole
    #     mega-term, only its contiguous bucket range (df arrives via the
    #     pre-agg, so scores don't depend on task boundaries).
    # honor an explicit caller value verbatim; the default is SIZE-derived
    # (guide §2.2: partitions sized by bytes, not a constant): one merge
    # task per ~32 MB of packed segment bytes — floor at the session's
    # parallelism so small corpora still use every core, cap at 4096. The
    # old constant 128 meant 4-row tasks at bench scale and would
    # undersize thousand-node merges.
    if n_merge_tasks is None:
        seg_bytes = sum(int(r["bytes_out"] or 0) for r in seg_stats)
        n_merge_tasks = merge_task_count(spark, seg_bytes)
    postings = (
        segments.join(df_tbl, "term_id")
        .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
        .repartitionByRange(n_merge_tasks, "tb", "term_id", "bucket")
        .sortWithinPartitions("term_id", "bucket")
        .mapInPandas(merge_fn, POSTINGS_SCHEMA)
        .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
    )
    # byte stats ride the write via the Observation API — no re-scan job
    obs = Observation("post_stats")
    postings = postings.observe(
        obs,
        F.sum(
            F.length("doc_ids_bin") + F.length("tfs_bin") + F.length("doc_lens_bin")
        ).alias("bytes"),
    )
    postings.write.mode("overwrite").partitionBy("tb").parquet(post_dir)
    merge_wall = time.time() - t0
    post_stats = {**obs.get, **term_totals}
    _write_lineage(
        [
            dict(
                stage="merge", partition_id=-1,
                input_rows=total_postings_in,
                output_rows=int(post_stats["n_terms"]),
                wall_s=merge_wall,
                rows_per_s=(int(post_stats["n_postings"] or 0) / merge_wall if merge_wall > 0 else 0.0),
                bytes_out=int(post_stats["bytes"] or 0), status="done", ts=time.time(),
            )
        ],
        lin_dir,
    )

    stats = dict(
        format_version=Index.FORMAT_VERSION,
        n_docs=n_docs,
        avgdl=avgdl,
        total_tokens=total_tf,
        n_terms=int(post_stats["n_terms"]),
        n_postings=int(post_stats["n_postings"] or 0),
        packed_bytes=int(post_stats["bytes"] or 0),
        n_buckets=n_buckets,
        bucket_width=bucket_width,
        build_wall_s=time.time() - t_start,
        docs_per_s=(n_docs / (time.time() - t_start)),
    )
    # stats.json is the build's COMMIT MARKER (Index.load and the delta
    # replay path both gate on it) — publish atomically so a crash
    # mid-write can't leave a truncated marker that reads as committed
    mfs.publish_json(os.path.join(index_dir, "stats.json"), stats)
    return Index(index_dir, cfg, stats)
