"""Distributed batch BM25: score a whole query batch against the
materialized index in ONE Spark job.

Reference analogue: Olaf's bulk-query protocol — the benchmark harness
queries 35+15 files per corpus doubling through one long-lived process
(`eval/olaf_benchmark/olaf_benchmark.rb:76-81`), and the CLI accepts many
query files in one invocation (`olaf.c` query loop). The driver-side
serving scorer (wand.py) answers ONE query at ~ms latency; this module is
the throughput path: B queries as one DataFrame plan over the packed
posting rows, executed by the cluster.

Shape (100 TB / 1000 executors), round-6 form — the decide-with-small-rows
rewrite (optimization guide §2.3/§8):

  driver    tokenize B queries (tiny); DEDUP queries whose distinct-term
            sets are equal (BM25 scores depend only on the term set) into
            R <= B representatives; broadcast {term_id -> term_ord} +
            {term_ord -> subscribed rep rows} + (N, avgdl, tombstones)
  scan      postings parquet pruned by hive partition (tb) AND row-group
            stats (term_id isin) -> ~|distinct terms| rows read, not the
            corpus; NO join — the query side rides the broadcast
  decode    mapInPandas: numpy varbyte decode once per posting row,
            emitting ONE (doc_id, term_ord, contrib) proxy row per
            (term, doc) — NOT one per subscribing query: the round-5 shape
            shuffled every head term's postings once PER SUBSCRIBER
            (B=1024 -> tens of millions of fanned-out rows); contributions
            are query-independent, so the fan-out belongs AFTER the
            exchange, in-core
  exchange  repartition by doc_id: the ONLY wide shuffle, carrying the
            ~|Σ df| proxy rows (20 bytes each)
  score     mapInPandas per doc-disjoint partition: dense numpy
            accumulation rep x doc, adding term contributions in ascending
            term_ord order — the SAME left-to-right float64 fold order as
            the oracle and the serving scorer, so scores are bit-identical
            to the round-5 collect_list/array_sort fold; per-partition
            top-k selection (score desc, doc_id asc) emits <= R*k
            candidate rows per partition
  top-k     rank<=k window per rep over the candidates (a doc's full score
            lives in exactly one partition, so the global top-k is the
            top-k of the partition top-ks), then a broadcast join fans the
            <=R*k result rows back out to every subscribed query_id

Rank- and score-identical to wand.query_index / the DuckDB oracle per
query (tests/test_batch.py, CORRECTNESS `bm25_batch_distributed`).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olaf_spark.codec import decode_ids_blocked, varbyte_decode
from olaf_spark.incremental import IndexGroup
from olaf_spark.indexer import (
    Index,
    in_expr_int,
    rep_query_df,
    term_id_py,
    tombstone_keep_mask,
)
from olaf_spark.scorer import idf as idf_fn
from olaf_spark.tokenize import tokenize_py

PROXY_SCHEMA = "doc_id long, term_ord int, contrib double"
CANDIDATE_SCHEMA = "rep long, doc_id long, score double"

#: rep-chunking bound for the dense score matrix: chunks of reps sized so
#: chunk_reps * distinct_docs_in_partition stays under this many float64
#: cells (128 MB) — bounds task memory at any B
_MAX_ACC_CELLS = 16_000_000


class _BatchPlan:
    """Driver-side query-batch analysis.

    tid_ord:   term_id -> ordinal of the term in ASCENDING-STRING order of
               the batch's distinct terms (folding by ordinal reproduces
               the oracle's ascending-term accumulation order exactly)
    ord_reps:  per ordinal, int64 array of subscribed REP rows
    mapping:   (rep, query_id) pairs — every input query, attached to the
               representative that carries its term set
    """

    def __init__(self, queries: Iterable[tuple[int, str]], cfg):
        per_query: dict[int, tuple[str, ...]] = {}
        vocab: set[str] = set()
        for qid, text in queries:
            if int(qid) in per_query:
                # refuse rather than silently overwrite (or double-count):
                # query_id is the result key
                raise ValueError(f"duplicate query_id {int(qid)} in batch")
            terms = tuple(sorted(set(tokenize_py(text, cfg))))
            per_query[int(qid)] = terms
            vocab.update(terms)
        rep_of: dict[tuple[str, ...], int] = {}
        self.mapping: list[tuple[int, int]] = []
        for qid, terms in per_query.items():
            if not terms:
                continue  # no tokens -> no result rows (same as round 5)
            r = rep_of.setdefault(terms, len(rep_of))
            self.mapping.append((r, qid))
        ord_of = {t: i for i, t in enumerate(sorted(vocab))}
        self.tid_ord = {term_id_py(t): o for t, o in ord_of.items()}
        ord_reps: list[list[int]] = [[] for _ in range(len(ord_of))]
        for terms, r in rep_of.items():
            for t in terms:
                ord_reps[ord_of[t]].append(r)
        self.ord_reps = [np.asarray(sorted(v), dtype=np.int64) for v in ord_reps]
        self.n_reps = len(rep_of)

    @property
    def term_ids(self) -> list[int]:
        return sorted(self.tid_ord)


def _make_decode_proxies(
    bstate,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
):
    """mapInPandas fn: posting rows -> (doc_id, term_ord, contrib) proxies.

    Decode + BM25 contribution happen ONCE per posting row; no
    per-subscriber duplication — queries attach after the doc exchange.

    bstate is a SparkContext BROADCAST of (tid_ord, ord_reps, tombstone
    int64 array | None, idf_map) — captured by handle, not by value
    (closure capture would re-pickle the maps into every task launch).
    idf_map {term_id: w} holds the group-global weights (a part row's df
    column is part-local).
    """

    def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tid_ord, _, ts_arr, idf_map = bstate.value
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            out_doc, out_ord, out_contrib = [], [], []
            terms_np = pdf["term_id"].to_numpy(dtype=np.int64)
            id_bufs = pdf["doc_ids_bin"].to_numpy()
            tf_bufs = pdf["tfs_bin"].to_numpy()
            dl_bufs = pdf["doc_lens_bin"].to_numpy()
            for i in range(len(pdf)):
                tid = int(terms_np[i])
                ord_ = tid_ord.get(tid)
                if ord_ is None:
                    continue  # row-group stats pruning is approximate
                ids = decode_ids_blocked(bytes(id_bufs[i]), block_size).astype(np.int64)
                tfs = varbyte_decode(bytes(tf_bufs[i]))
                dls = varbyte_decode(bytes(dl_bufs[i]))
                if ts_arr is not None:
                    keep = tombstone_keep_mask(ids, ts_arr)
                    ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                if ids.size == 0:
                    continue
                w = idf_map[tid]
                tfs_f = tfs.astype(np.float64)
                dls_f = dls.astype(np.float64)
                # association order matches oracle: idf * (tf*(k1+1)/denom)
                contrib = w * (
                    tfs_f * (k1 + 1.0)
                    / (tfs_f + k1 * (1.0 - b + b * dls_f / avgdl))
                )
                out_doc.append(ids)
                out_ord.append(np.full(ids.size, ord_, dtype=np.int32))
                out_contrib.append(contrib)
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_doc),
                        "term_ord": np.concatenate(out_ord),
                        "contrib": np.concatenate(out_contrib),
                    }
                )

    return decode


def _make_score_topk(bstate, k: int, min_score: float):
    """mapInPandas fn over doc-disjoint partitions of proxy rows:
    (doc_id, term_ord, contrib) -> per-partition (rep, doc_id, score)
    top-k candidates.

    Accumulation per (rep, doc) runs over term ordinals in ASCENDING order
    — each (term, doc) contributes exactly once (posting rows are
    doc-disjoint per term), so the dense `acc[rep, doc] += contrib` adds
    are the same float64 sequence as the round-5 array_sort fold.
    """

    def score(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _, ord_reps, _, _ = bstate.value
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        ords = pdf["term_ord"].to_numpy(dtype=np.int64)
        docs = pdf["doc_id"].to_numpy(dtype=np.int64)
        contribs = pdf["contrib"].to_numpy(dtype=np.float64)
        uniq_docs, doc_idx = np.unique(docs, return_inverse=True)
        n_docs_p = uniq_docs.size
        order = np.argsort(ords, kind="stable")
        ords_s, idx_s, c_s = ords[order], doc_idx[order], contribs[order]
        cuts = np.flatnonzero(np.diff(ords_s)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [ords_s.size]))
        slices = [(int(ords_s[s]), idx_s[s:e], c_s[s:e]) for s, e in zip(starts, ends)]

        n_reps = 1 + max(
            (int(ord_reps[ord_][-1]) for ord_, _, _ in slices if ord_reps[ord_].size),
            default=-1,
        )
        if n_reps == 0:
            return
        chunk = max(1, _MAX_ACC_CELLS // max(n_docs_p, 1))
        out_rep, out_doc, out_score = [], [], []
        for r0 in range(0, n_reps, chunk):
            r1 = min(r0 + chunk, n_reps)
            acc = np.zeros((r1 - r0, n_docs_p), dtype=np.float64)
            # contributor doc-index lists per rep: candidate extraction
            # then costs O(rep's fan-out), not O(distinct docs) — a dense
            # row scan per rep was the stage's bottleneck at large B
            # (every contribution is > 0, so the union of contributor
            # indices IS exactly the row's nonzero set)
            contrib_idx: dict[int, list] = {}
            for ord_, idxs, cs in slices:  # ascending term_ord
                for r in ord_reps[ord_]:
                    ri = int(r)
                    if r0 <= ri < r1:
                        acc[ri - r0, idxs] += cs
                        contrib_idx.setdefault(ri, []).append(idxs)
            for ri in sorted(contrib_idx):
                row = acc[ri - r0]
                lists = contrib_idx[ri]
                sel = (
                    np.unique(np.concatenate(lists))
                    if len(lists) > 1
                    else lists[0]
                )
                if min_score > 0.0:
                    sel = sel[row[sel] >= min_score]
                if sel.size == 0:
                    continue
                if sel.size > k:
                    scores_sel = row[sel]
                    top = np.lexsort((uniq_docs[sel], -scores_sel))[:k]
                    sel = sel[top]
                out_rep.append(np.full(sel.size, ri, dtype=np.int64))
                out_doc.append(uniq_docs[sel])
                out_score.append(row[sel])
        if out_rep:
            yield pd.DataFrame(
                {
                    "rep": np.concatenate(out_rep),
                    "doc_id": np.concatenate(out_doc),
                    "score": np.concatenate(out_score),
                }
            )

    return score


def batch_query_index(
    spark: SparkSession,
    index: Index,
    queries: Iterable[tuple[int, str]],
    k: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank) — BM25 top-k for EVERY query in the
    batch, as one distributed plan over the materialized index: the
    one-part batch_query_index_group.

    queries: (query_id, query_text) pairs. k/min_score default to the
    index config's max_results / min_score (olaf_config.c:89-100).
    """
    return batch_query_index_group(spark, IndexGroup([index]), queries, k, min_score)


def batch_query_index_group(
    spark: SparkSession,
    group: IndexGroup,
    queries: Iterable[tuple[int, str]],
    k: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """Distributed batch BM25 over an IndexGroup (main + live deltas; a
    single index is the one-part group) — the bulk path stays available
    BETWEEN appends and compaction, exactly like driver-side group serving
    (incremental.IndexGroup.topk).

    Two group twists on the module's one-job shape:
      * the scan is the UNION of every part's pruned posting scan (each
        part prunes by hive tb + term_id row-group stats independently);
      * idf must be GROUP-global while a part row's df column is
        part-local, so per-term group weights are resolved DRIVER-side
        (one tiny pyarrow read of ~|terms| row headers per part — the same
        reads group serving does) and ride the broadcast as {term_id: w}.
    A doc lives in exactly one part, so the scoring partition still sums
    each (query, doc) once per term — rank/score-identical to group
    serving and to a clean rebuild (tests/test_batch.py).
    """
    cfg = group.cfg
    if k is None:
        k = cfg.max_results
    if min_score is None:
        min_score = cfg.min_score

    plan = _BatchPlan(queries, cfg)
    if not plan.mapping:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score double, rank long"
        )
    qids_terms = plan.term_ids
    tbs = sorted({t % cfg.n_segments for t in qids_terms})

    # group-global df from the single shared source (header-only reads) —
    # a part row's df column is part-local, so idf resolves driver-side and
    # rides the broadcast
    idf_map = {
        tid: idf_fn(group.n_docs, df)
        for tid, df in group.term_dfs(qids_terms).items()
    }
    ts_arr = group.tombstones_arr()  # sorted union across parts
    bstate = spark.sparkContext.broadcast(
        (plan.tid_ord, plan.ord_reps, ts_arr, idf_map)
    )

    # ---- one scan per part: hive pruning on tb, row-group pruning on term_id
    scan = None
    for p in group.parts:
        part_scan = p.postings(spark).where(
            in_expr_int("tb", tbs) & in_expr_int("term_id", qids_terms)
        )
        scan = part_scan if scan is None else scan.unionByName(part_scan)

    proxies = scan.mapInPandas(
        _make_decode_proxies(bstate, group.avgdl, cfg.k1, cfg.b, cfg.block_size),
        PROXY_SCHEMA,
    )
    candidates = proxies.repartition("doc_id").mapInPandas(
        _make_score_topk(bstate, k, min_score), CANDIDATE_SCHEMA
    )
    w = Window.partitionBy("rep").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    ranked = (
        candidates.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    mapping = rep_query_df(spark, plan.mapping)
    return ranked.join(F.broadcast(mapping), "rep").select(
        "query_id", "doc_id", "score", F.col("rank").cast("long").alias("rank")
    )
