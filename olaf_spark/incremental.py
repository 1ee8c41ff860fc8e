"""Incremental index append: delta indexes, merged-on-read query, compaction.

Reference analogue: Olaf's `store` appends fingerprints to the LIVE LMDB
B+tree — readers see each committed txn (`src/olaf_db.c:309-311,499-514`),
so the index grows without a rebuild. A sorted-run store can't append
in place at Spark scale; the scale-correct re-expression is the segment
model (same move Olaf itself makes with cache/store_cached, README.md:260-272):

  append_index(new_docs)  -> builds a self-contained DELTA index under
                             <base>/deltas/delta_NNNN (snapshot-style commit:
                             the delta directory appears atomically-enough via
                             its stats.json written last by build_index)
  IndexGroup              -> main + deltas queried together, merged on read:
                             per query term, posting rows from every part are
                             decoded and scored with GROUP-GLOBAL stats
                             (N = sum n_docs, avgdl = sum total_tokens / N,
                             df = sum per-part df) — so results are
                             rank- AND score-identical to a clean rebuild
                             over the union corpus (tests/test_incremental.py)
  compact_index           -> one Spark job folds main + deltas into a single
                             new index (k-way merge per term, block-max
                             metadata recomputed with group stats); tombstoned
                             postings are physically dropped

Scoring semantics under deletes match the base engine (wand.py): tombstones
filter postings out of results but df/N/avgdl stay as stored at append time —
deleting a doc never rescales other docs' scores. Compaction preserves that:
it carries the group's stored stats forward, so post-compaction ranks equal
pre-compaction ranks exactly.

Precondition: doc_ids are globally unique across main + deltas (they are by
construction when doc_id = xxhash64(url) and urls are unique). Appending an
existing doc_id is the one thing this module does not merge (Olaf re-store
overwrites metadata; here you delete + append instead).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark import wand
from olaf_spark.codec import decode_posting_rows, first_doc_ids, joined
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import (
    POSTINGS_SCHEMA,
    Index,
    _write_lineage,
    build_index,
    done_partitions,
    make_posting_fold,
    shard_from_id_col,
    tombstone_keep_mask,
    union_tombstones_arr,
)
from olaf_spark.termrows import term_rows
from olaf_spark.wand import SERVING_METHODS, RawPostingRows, TermPostings, blockmax_topk

_DELTAS = "deltas"


def _idf_arr(n_docs, df: np.ndarray) -> np.ndarray:
    """scorer.idf over arrays — for block-max bounds only, never scores."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _delta_dirs(base_dir: str) -> list[str]:
    root = os.path.join(base_dir, _DELTAS)
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if os.path.exists(os.path.join(root, d, "stats.json"))
    ]


def append_index(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    delta_name: str | None = None,
    with_positions: bool = False,
    with_bigrams: bool = False,
) -> Index:
    """Append new documents to an existing index as a delta segment-index.

    The delta is built with the BASE index's config — the config-freeze
    invariant (olaf_config.h:46-50) spans the whole group.

    with_positions / with_bigrams also build the delta's side indexes
    (phrase.append_sides; with_bigrams inherits the base's head set and
    refuses when the base has none — the side-index table in phrase.py).

    Commit protocol (Olaf analogue: LMDB's writer mutex + txn commit,
    olaf_db.c:28-37): the delta directory is CLAIMED atomically via
    metafs.claim_dir before any data lands, so two concurrent appends can never
    race onto the same delta_NNNN number; the delta only becomes visible
    to readers when stats.json lands last (_delta_dirs filters on it).

    delta_name pins the directory name — a Structured Streaming foreachBatch
    sink passes delta_epoch_{epoch_id} so an at-least-once replayed batch
    finds the committed delta and returns it instead of appending a
    duplicate (idempotent under restart). A named delta assumes ONE writer
    per name at a time (Structured Streaming serializes epochs, which is
    what makes the crashed-epoch RESUME below safe); the claim is still
    atomic (metafs contract) so a mis-deployed second concurrent writer surfaces as
    a resumed build over committed lineage, never two builds interleaving
    uncoordinated into a half-claimed directory.
    """
    from olaf_spark.metafs import get_metafs
    from olaf_spark.phrase import BIGRAMS, POSITIONS, append_sides

    mfs = get_metafs()
    base = Index.load(base_dir)
    root = os.path.join(base_dir, _DELTAS)
    mfs.ensure_dir(root)
    committed = None
    if delta_name is not None:
        delta_dir = os.path.join(root, delta_name)
        # atomic claim, same as the numbered path; an uncommitted existing
        # claim is a crashed prior epoch and resumes from its lineage
        if not mfs.claim_dir(delta_dir) and os.path.exists(
            os.path.join(delta_dir, "stats.json")
        ):
            committed = Index.load(delta_dir)  # replay: near-no-op
    else:
        n = len(os.listdir(root))  # count ALL entries incl. in-flight claims
        while True:
            delta_dir = os.path.join(root, f"delta_{n:04d}")
            if mfs.claim_dir(delta_dir):  # atomic claim (metafs contract)
                break
            n += 1
    # side indexes land BEFORE build_index, so stats.json — the delta's
    # commit marker — implies them; on a replay this honors a with_* flag
    # the committed run did not request (a positionless committed delta
    # makes phrase_topk refuse for the WHOLE group). Every builder refuses
    # an empty batch (doc_range) before writing into the claimed delta.
    kinds = [k for k, on in ((POSITIONS, with_positions), (BIGRAMS, with_bigrams)) if on]
    append_sides(
        spark, new_docs, base_dir, delta_dir, base.cfg, kinds,
        text_col=text_col, id_col=id_col, n_buckets=n_buckets,
    )
    if committed is not None:
        return committed
    # resume=True: never rmtree the claimed dir (re-creating it would open a
    # window where a concurrent append re-claims the same name); a replayed
    # half-built epoch delta resumes from its lineage instead.
    return build_index(
        spark, new_docs, delta_dir, base.cfg,
        text_col=text_col, id_col=id_col, n_buckets=n_buckets, resume=True,
    )


class IndexGroup:
    """main index + its deltas, queried as one logical index."""

    def __init__(self, parts: list[Index]):
        assert parts, "empty index group"
        self.parts = parts
        self.cfg = parts[0].cfg
        for p in parts[1:]:
            self.cfg.check_compatible(p.cfg)
        self.n_docs = sum(p.n_docs for p in parts)
        total_tokens = sum(p.stats["total_tokens"] for p in parts)
        # exact int/int division — identical float to a clean rebuild's avgdl
        self.avgdl = total_tokens / self.n_docs if self.n_docs else 0.0

    @classmethod
    def load(cls, base_dir: str, query_cfg: EngineConfig | None = None) -> "IndexGroup":
        parts = [Index.load(base_dir, query_cfg)]
        parts += [Index.load(d) for d in _delta_dirs(base_dir)]
        return cls(parts)

    def tombstones(self) -> set[int]:
        arr = self.tombstones_arr()
        return set() if arr is None else set(arr.tolist())

    def tombstones_arr(self) -> np.ndarray | None:
        """Sorted union of every part's tombstones as committed on disk now
        (indexer.union_tombstones_arr); None when no deletes."""
        return union_tombstones_arr([p.index_dir for p in self.parts])

    def delete_docs(self, doc_ids: list[int]) -> None:
        # a doc lives in exactly one part but WHICH is not tracked; the
        # group tombstones on the main part and applies the union at read
        self.parts[0].delete_docs(doc_ids)

    def undelete_docs(self, doc_ids: list[int]) -> None:
        """Remove the ids from EVERY part's tombstones (the read path takes
        the union, so an id left on any part keeps the doc dead — the
        asymmetric main-part-only undelete could never clear a tombstone
        recorded on a delta)."""
        ids = {int(d) for d in doc_ids}
        for p in self.parts:
            if p.tombstones() & ids:
                p.undelete_docs(doc_ids)

    def term_dfs(self, term_ids: list[int]) -> dict[int, int]:
        """Group-global df per term: the per-(term, part) df recorded once
        per part (every chunk row of a term repeats its part's full df),
        summed across parts. Read through the same cached term rows as
        wand._fetch_posting_rows — the batch path's twin of the sums that
        fetch derives."""
        qids = sorted(set(int(t) for t in term_ids))
        out: dict[int, int] = {}
        for p in self.parts:
            rows = term_rows(os.path.join(p.index_dir, "postings"), qids, self.cfg.n_segments)
            # one df per term and part: a part's chunk rows repeat it
            tids, first = np.unique(rows.column("term_id"), return_index=True)
            for tid, df in zip(tids.tolist(), rows.column("df")[first].tolist()):
                out[tid] = out.get(tid, 0) + df
        return out

    def load_term_postings(self, query_text: str) -> list[TermPostings]:
        """Merged-on-read eager decode — wand.load_term_postings over this
        group."""
        return wand.load_term_postings(None, self, query_text)

    def load_term_postings_raw(self, query_text: str) -> RawPostingRows:
        """UNDECODED posting rows with group-valid block-max bounds — the
        lazy-decode input of the blockmax scorer (wand.RawPostingRows), one
        rescale factor per row. Between appends and compaction, stored
        block_maxes were computed with PART-local stats (w_p = idf over the
        part's N/df, A_p = the part's avgdl); the group scores with w_g /
        A_g. Rescaling is cheap math, no rebuild:

          contribution = idf * f(tf, dl; avgdl)   is linear in idf, and
          f(tf, dl; A_g) <= f(tf, dl; A_p) * max(1, A_g / A_p)
            (f = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl): the ratio
             (C + r_p*dl)/(C + r_g*dl) is monotone in dl, bounded by
             r_p/r_g = A_g/A_p; <= 1 when A_g <= A_p)

        so  stored_max * (w_g / w_p) * max(1, A_g / A_p)  is a valid upper
        bound on any group-stat contribution in the block, and the lazy
        block-max scorer (wand.blockmax_topk) prunes the live group exactly
        like a compacted index. idf is strictly positive (ln(1 + x), x > 0),
        so the quotient is always defined. For one part the scale is exactly
        (w/w) * max(1, A/A) = 1.0 (avgdl is total_tokens / n_docs in both,
        and both idfs come from the one _idf_arr), so a single index keeps
        its stored bounds bit for bit. Exact scores are still computed from
        raw tf/dl with group stats at decode time — bounds only steer the
        pruning, never the score. Olaf analogue: live appends share the
        sorted B+tree read path with queries (src/olaf_db.c:309-311).
        """
        pr = wand._fetch_posting_rows(self, query_text)
        n_p = np.array([p.n_docs for p in self.parts])
        a_p = np.array([p.avgdl for p in self.parts])
        w_g, w_p = _idf_arr(self.n_docs, pr.df[pr.term]), _idf_arr(n_p[pr.part], pr.part_df)
        return RawPostingRows(pr, (w_g / w_p) * np.maximum(1.0, self.avgdl / a_p[pr.part]))

    def topk(
        self,
        query_text: str,
        k: int = 10,
        method: str = "blockmax",
        min_score: float | None = None,
        _prune_stats: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Group top-k, rank- AND score-identical to a clean rebuild — the
        one serving entry point (wand.query_index serves a single index as
        the one-part group).

        method (wand.SERVING_METHODS): "blockmax" (default) or its alias
        "wand": under a min_score floor, idf-rescaled block-max pruning —
        only block runs that can reach the floor are decoded, so the
        delta-phase read path keeps its pruning exactly when the index is
        biggest; with no floor, one decode of every row, as "vectorized".
        "vectorized": full decode, the exactness referent; "exhaustive":
        the term-at-a-time test referent.
        """
        if method not in SERVING_METHODS:
            raise ValueError(
                f"unknown serving method {method!r}; expected one of "
                f"{', '.join(SERVING_METHODS)}"
            )
        if min_score is None:
            min_score = self.cfg.min_score
        if method in ("blockmax", "wand"):
            return blockmax_topk(
                self.load_term_postings_raw(query_text),
                k, self.cfg, self.avgdl, self.tombstones_arr(), min_score,
                stats_out=_prune_stats,
            )
        score = wand.vectorized_topk if method == "vectorized" else wand.exhaustive_topk
        hits = score(self.load_term_postings(query_text), k)
        if min_score > 0.0:
            hits = [(d, s) for d, s in hits if s >= min_score]
        return hits


def _make_compact_fn(
    n_docs: int, avgdl: float, cfg: EngineConfig, ts_arr: np.ndarray | None
):
    """mapInPandas fn of the compaction fold: one range-partitioned slice
    of posting rows -> merged chunk rows (indexer.make_posting_fold).

    Parts overlap in doc_id range, so unlike the build merge
    (bucket-disjoint concat) this is a true k-way merge — decode the batch,
    sort by (term, doc_id), drop tombstoned postings, re-encode. Doc-range
    parallel: the shuffle range-partitions on (tb, term_id, first_doc), so
    a head term's rows may SPLIT across tasks — each task merges only the
    rows it received and no task ever materializes a whole 10^12-scale
    term. Output chunks of one term are then doc-DISJOINT but not globally
    doc-ordered across tasks; every scorer only needs each chunk
    internally sorted + each posting in exactly one chunk (doc_ids are
    unique across parts), both of which hold. df/N/avgdl are the group's
    stored stats (NOT shrunk by tombstones), so post-compaction scores
    equal pre-compaction ones. ts_arr: the sorted tombstone snapshot, or
    None."""

    def _merge_parts(pdf: pd.DataFrame, row_term: np.ndarray):
        ids, tfs, dls, counts = decode_posting_rows(
            *(joined(pdf[c]) for c in ("doc_ids_bin", "tfs_bin", "doc_lens_bin")), cfg.block_size
        )
        term = np.repeat(row_term, counts)
        order = np.lexsort((ids.view(np.int64), term))
        if ts_arr is not None:
            order = order[tombstone_keep_mask(ids.view(np.int64)[order], ts_arr)]
        return ids[order], tfs[order], dls[order], term[order]

    return make_posting_fold(n_docs, avgdl, cfg, _merge_parts)


def _first_doc_udf():
    """Pandas UDF: first doc_id of a packed row's doc_ids_bin, one batch
    decode per Arrow batch (codec.first_doc_ids) — the fold shuffles'
    doc-range key."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def first_doc(bufs: pd.Series) -> pd.Series:
        return pd.Series(first_doc_ids(joined(bufs)))

    return first_doc


def compact_index(
    spark: SparkSession,
    base_dir: str,
    out_dir: str,
    n_merge_tasks: int | None = None,
    n_groups: int = 4,
    _after_group=None,
) -> Index:
    """Fold main + deltas (+ tombstones) into one fresh single index.

    Distributed pass per tb-range group: union every part's postings,
    shuffle by term shard, k-way merge per term, recompute block-max
    metadata under group stats, so the stored block maxes bound the folded
    scores without rescaling. The group's scoring statistics are
    carried forward verbatim, so ranks and scores are unchanged by
    compaction.

    RESUMABLE (north_rule; reference analogue: the restartable two-phase
    bulk load, src/olaf_fp_db_writer_cache.c:92-114): the tb domain splits
    into n_groups contiguous ranges; each range compacts as its own job
    into a staging dir, its tb partitions are promoted into postings/ by
    atomic rename, and a `compact_group` lineage row commits it. A killed
    compaction re-run with the same out_dir skips committed ranges and
    redoes only the interrupted one (its partial tb dirs are discarded
    first — they were never committed). The tombstone set is SNAPSHOTTED at
    first start (_staging/tombstones_snapshot.json), so a resume drops
    exactly the postings the original run would have; deletes landing on
    the base mid-compaction must be re-applied to the compacted index (the
    same snapshot semantics the single-pass version had). The index is only
    loadable once stats.json lands at the very end — the overall commit
    marker.

    Doc-range parallel like the build merge (indexer.py stage 2): the
    shuffle range-partitions on (tb, term_id, first_doc) — first_doc being
    each packed row's first doc_id — so a 10^12-scale head term's rows can
    split across tasks instead of one task decoding the term's full posting
    set. Group df rides a per-part pre-agg join (df_full), making scores
    independent of task boundaries (exact per group: a term lives in
    exactly one tb, so per-group pre-aggs see every row of their terms).
    """
    import json

    import pyarrow.dataset as pads

    group = IndexGroup.load(base_dir)
    cfg = group.cfg
    t0 = time.time()
    n_groups = max(1, min(n_groups, cfg.n_segments))
    if os.path.exists(os.path.join(out_dir, "stats.json")):
        # a COMPLETED compaction is immutable (the v1 -> v2 directory
        # pattern): re-running into it would skip every committed range and
        # stamp fresh stats over stale postings — refuse instead
        raise ValueError(
            f"{out_dir} already holds a completed compacted index; compact "
            "into a fresh out_dir (deltas appended since then are not "
            "foldable into a committed compaction)"
        )
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    mfs.ensure_dir(out_dir)
    cfg.save(out_dir)
    post_dir = os.path.join(out_dir, "postings")
    lin_dir = os.path.join(out_dir, "lineage")
    staging_root = os.path.join(out_dir, "_staging")
    mfs.ensure_dir(post_dir)
    mfs.ensure_dir(staging_root)

    # manifest: first run pins (tombstone snapshot, n_groups, n_parts);
    # a resume must match it — lineage rows identify done work by group
    # index, which only means anything under the SAME range partitioning
    # and input part set
    snap_path = os.path.join(staging_root, "compact_manifest.json")
    # source identity: committed tb-ranges only mean anything for the SAME
    # input — base path AND per-part doc counts (a different group with the
    # same part count must not be silently mixed into a half-done output)
    source = dict(
        base_dir=os.path.abspath(base_dir),
        part_n_docs=[p.n_docs for p in group.parts],
    )
    if os.path.exists(snap_path):
        with open(snap_path) as f:
            manifest = json.load(f)
        if (
            manifest["n_groups"] != n_groups
            or manifest.get("source") != source
        ):
            raise ValueError(
                f"interrupted compaction at {out_dir} ran with n_groups="
                f"{manifest['n_groups']} over {manifest.get('source')}; this "
                f"run requests n_groups={n_groups} over {source} — resume "
                "with the original settings and source index, or remove the "
                "out_dir to restart"
            )
        ts_arr = np.asarray(manifest["tombstones"], dtype=np.int64)
    else:
        ts_arr = group.tombstones_arr()
        if ts_arr is None:
            ts_arr = np.empty(0, dtype=np.int64)
        manifest = dict(
            tombstones=ts_arr.tolist(),
            n_groups=n_groups,
            source=source,
        )
        mfs.publish_json(snap_path, manifest)
    ts_arr = ts_arr if ts_arr.size else None

    dfs = [p.postings(spark) for p in group.parts]
    all_rows = dfs[0].withColumn("part", F.lit(0))
    for pi, d in enumerate(dfs[1:], start=1):
        all_rows = all_rows.unionByName(d.withColumn("part", F.lit(pi)))
    all_rows = all_rows.withColumn(
        "tb", shard_from_id_col(F.col("term_id"), cfg.n_segments)
    )
    compact_fn = _make_compact_fn(group.n_docs, group.avgdl, cfg, ts_arr)
    if n_merge_tasks is None:
        from olaf_spark.indexer import dir_bytes, merge_task_count

        n_merge_tasks = merge_task_count(
            spark,
            dir_bytes(*(os.path.join(p.index_dir, "postings") for p in group.parts)),
        )

    done = done_partitions(out_dir, "compact_group")
    for g in range(n_groups):
        if g in done:
            continue
        g_t0 = time.time()
        tb_lo = g * cfg.n_segments // n_groups
        tb_hi = (g + 1) * cfg.n_segments // n_groups  # exclusive
        g_rows = all_rows.where((F.col("tb") >= tb_lo) & (F.col("tb") < tb_hi))
        # group df = sum over parts of the per-part df (every chunk row of a
        # term within one part repeats that part's full df -> min() picks it
        # once per part). Broadcast when small, shuffle-join at 10^9 terms.
        df_tbl = (
            g_rows.groupBy("term_id", "part")
            .agg(F.min("df").alias("part_df"))
            .groupBy("term_id")
            .agg(F.sum("part_df").alias("df_full"))
        )
        merged = (
            g_rows.drop("tb").join(df_tbl, "term_id")
            .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
            .withColumn("first_doc", _first_doc_udf()(F.col("doc_ids_bin")))
            .repartitionByRange(n_merge_tasks, "tb", "term_id", "first_doc")
            .sortWithinPartitions("term_id", "first_doc")
            .mapInPandas(compact_fn, POSTINGS_SCHEMA)
            .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
        )
        stage_dir = os.path.join(staging_root, f"group_{g:04d}")
        merged.write.mode("overwrite").partitionBy("tb").parquet(stage_dir)

        # promote: discard partial tb dirs from a crashed prior attempt of
        # THIS group (never committed), then atomic-rename the staged ones
        out_rows = out_bytes = 0
        for name in sorted(os.listdir(stage_dir)):
            if not name.startswith("tb="):
                continue
            src = os.path.join(stage_dir, name)
            dst = os.path.join(post_dir, name)
            if os.path.exists(dst):
                mfs.remove_dir(dst)  # crashed prior attempt, never committed
            out_rows += pads.dataset(src, format="parquet").count_rows()
            out_bytes += sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _dirs, fns in os.walk(src)
                for fn in fns
            )
            mfs.promote_dir(src, dst)
        _write_lineage(
            [
                dict(
                    stage="compact_group", partition_id=g,
                    input_rows=-1, output_rows=out_rows,
                    wall_s=time.time() - g_t0,
                    bytes_out=out_bytes, status="done", ts=time.time(),
                )
            ],
            lin_dir,
        )
        mfs.remove_dir(stage_dir, ignore_errors=True)
        if _after_group is not None:
            _after_group(g)
    mfs.remove_dir(staging_root, ignore_errors=True)

    # side indexes fold before stats.json, so the overall commit marker
    # covers them (Olaf analogue: t1 timestamps ride every posting through
    # store/merge, src/olaf_fp_db_writer.c:54-59): phrase serving resumes
    # the moment stats.json lands; a resume that died mid-fold re-runs it
    from olaf_spark.phrase import compact_sides

    compact_sides(
        spark, [p.index_dir for p in group.parts], out_dir, ts_arr, cfg, n_merge_tasks
    )

    # chunk ordinals are task-local (a split term emits chunk 0 in several
    # tasks), so count terms/postings via a distinct-term agg, not chunk==0
    pp = spark.read.parquet(post_dir)
    per_term = pp.groupBy("term_id").agg(F.min("df").alias("df"))
    trow = per_term.agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("df").alias("n_postings")
    ).collect()[0]
    brow = pp.agg(
        F.sum(
            F.length("doc_ids_bin") + F.length("tfs_bin") + F.length("doc_lens_bin")
        ).alias("bytes")
    ).collect()[0]
    post_stats = {
        "n_terms": trow["n_terms"],
        "n_postings": trow["n_postings"],
        "bytes": brow["bytes"],
    }
    _write_lineage(
        [
            dict(
                stage="compact", partition_id=-1,
                input_rows=sum(p.stats["n_postings"] for p in group.parts),
                output_rows=int(post_stats["n_terms"]),
                wall_s=time.time() - t0,
                bytes_out=int(post_stats["bytes"] or 0), status="done", ts=time.time(),
            )
        ],
        os.path.join(out_dir, "lineage"),
    )
    stats = dict(
        format_version=Index.FORMAT_VERSION,
        n_docs=group.n_docs,
        avgdl=group.avgdl,
        total_tokens=sum(p.stats["total_tokens"] for p in group.parts),
        n_terms=int(post_stats["n_terms"]),
        n_postings=int(post_stats["n_postings"] or 0),
        packed_bytes=int(post_stats["bytes"] or 0),
        n_buckets=max(p.stats.get("n_buckets", 1) for p in group.parts),
        bucket_width=0,  # compacted postings are term-merged; buckets retired
        compacted_from=len(group.parts),
    )
    # stats.json is the compaction's COMMIT MARKER (readers and the
    # re-run refusal above both gate on it) — atomic publish
    mfs.publish_json(os.path.join(out_dir, "stats.json"), stats)
    return Index(out_dir, cfg, stats)
