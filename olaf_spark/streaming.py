"""Structured Streaming operators — the streaming-query variant.

Reference analogue: Olaf's query path IS a streaming engine when fed stdin
(`src/olaf.c:213-220`): a stateful match accumulator with TTL eviction
(`olaf_fp_matcher_remove_old_matches`, olaf_fp_matcher.c:121-139), periodic
result emission (:235-244), and sliding windows over the sample stream
(olaf_reader_stream.c:66-96). Spark mapping per SURVEY §2.8:

  TTL eviction            -> withWatermark + windowed agg, and
                             applyInPandasWithState with timeouts
  periodic emission       -> trigger(processingTime=...) + update mode
  tumbling fragments      -> window(ts, "30 seconds")
  incremental index append-> foreachBatch -> segment append (indexer)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_event_counts(
    stream: DataFrame,
    window_len: str = "30 seconds",
    watermark: str = "10 seconds",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with watermark-driven state eviction.

    The watermark is Olaf's `keepMatchesFor`: state older than (max event
    time - watermark) is dropped, exactly the remove_old_matches TTL.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


ACC_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("match_count", LongType()),
        StructField("first_ref", TimestampType()),
        StructField("last_ref", TimestampType()),
    ]
)

ACC_STATE_SCHEMA = StructType(
    [
        StructField("match_count", LongType()),
        StructField("first_ref", TimestampType()),
        StructField("last_ref", TimestampType()),
    ]
)


def _make_accumulator(ttl_ms: int):
    def _accumulate(key, pdfs, state: GroupState):
        """Per-doc match accumulator with TTL eviction — the literal Spark
        re-expression of Olaf's match_result hash table
        (olaf_fp_matcher.c:29-57) + remove_old_matches (:121-139): state older
        than `ttl` relative to the event-time watermark is silently dropped,
        exactly how Olaf evicts accumulator entries older than max_age."""
        if state.hasTimedOut:
            state.remove()
            return
        n, first, last = (state.get if state.exists else (0, None, None))
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            ts_min, ts_max = pdf["ts"].min(), pdf["ts"].max()
            first = ts_min if first is None or ts_min < first else first
            last = ts_max if last is None or ts_max > last else last
        state.update((n, first, last))
        # evict once the watermark passes LAST ACTIVITY + TTL (event-time: no
        # wall clock, so availableNow batches terminate deterministically — a
        # processing-time timeout would schedule micro-batches forever, and a
        # watermark-relative timeout would fire in the first no-data batch).
        last_ms = int(last.timestamp() * 1000) if last is not None else 0
        state.setTimeoutTimestamp(max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {"doc_id": [key[0]], "match_count": [n], "first_ref": [first], "last_ref": [last]}
        )

    return _accumulate


def stateful_match_accumulator(hits: DataFrame, ttl: str = "10 seconds") -> DataFrame:
    """hits stream: (doc_id long, ts timestamp) -> running per-doc tallies.

    Emits the current count per doc on every micro-batch (update mode) —
    Olaf's printResultEvery periodic emission; TTL is keepMatchesFor.
    """
    ttl_ms = int(ttl.split()[0]) * 1000
    return (
        hits.withWatermark("ts", ttl)
        .groupBy("doc_id")
        .applyInPandasWithState(
            _make_accumulator(ttl_ms),
            outputStructType=ACC_OUTPUT_SCHEMA,
            stateStructType=ACC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_index_appends(
    spark: SparkSession,
    base_dir: str,
    n_buckets: int = 8,
    with_positions: bool = False,
    with_bigrams: bool = False,
):
    """foreachBatch handler: each micro-batch of documents appends to the
    index as a delta (incremental.append_index) — Olaf's live store append
    (`src/olaf_db.c:309-311`, readers see each committed txn) re-expressed
    as Structured Streaming. Queries through IndexGroup see every completed
    batch; rank/score-identical to a clean rebuild over all ingested docs
    (tests/test_incremental.py). with_positions=True keeps phrase queries
    serving through the stream (each delta carries its positional rows);
    with_bigrams=True additionally keeps head-head pairs on the bigram
    fast path (each delta inherits the base's head set — the base must
    carry a bigram side index, olaf_spark/bigram.py).
    """
    from olaf_spark.incremental import append_index

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # delta name derived from epoch_id: foreachBatch is at-least-once, so
        # a batch replayed after a restart (delta committed, checkpoint not)
        # must find its own committed delta and no-op instead of appending
        # the same documents as a second numbered delta (which would double
        # postings and inflate df/N/avgdl).
        append_index(
            spark, batch_df, base_dir, n_buckets=n_buckets,
            delta_name=f"delta_epoch_{int(epoch_id):010d}",
            with_positions=with_positions,
            with_bigrams=with_bigrams,
        )

    return handle


def stream_vector_appends(
    spark: SparkSession,
    index_dir: str,
    layout: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch handler: each micro-batch of vectors appends to a
    committed LSH or IVF layout as a delta — the vector twin of
    stream_index_appends, and strictly easier: sig/cell assignment is a
    function of (vector, frozen planes/centroids) only, so no stats
    rescaling. Probes over the live group see every completed batch
    (_vec_live_scan). Idempotent under foreachBatch's at-least-once
    replay: the delta name is derived from epoch_id, so a replayed batch
    finds its own committed delta and no-ops (delta_name contract in
    _append_vec_delta)."""
    from olaf_spark.ops.similarity import append_ann_index, append_ivf_index

    fn = append_ivf_index if layout == "ivf" else append_ann_index
    if layout not in ("lsh", "ivf"):
        raise ValueError(f"unknown vector layout {layout!r} (lsh | ivf)")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fn(
            spark, batch_df, index_dir, id_col=id_col, vec_col=vec_col,
            delta_name=f"delta_epoch_{int(epoch_id):010d}",
        )

    return handle


def _dedup_query_rows(rows, text_key: str) -> list[tuple]:
    """Collapse EXACT duplicate (query_id, text) rows in a collected
    micro-batch, sorted by query_id.

    At-least-once upstreams replay queries; the distributed batch scorers
    REFUSE duplicate query_ids (an ambiguous fold), so without this a
    replayed row inside a fat micro-batch would fail the epoch and kill
    the StreamingQuery, while the per-row path happily served it twice.
    Deduping in BOTH paths keeps them result-identical: one result set
    per distinct query_id either way. Two DIFFERENT texts under one id
    are not a replay — answering only one would silently drop a query, so
    that raises here instead (it would raise in the batch scorer anyway,
    but with a message blaming the wrong layer)."""
    best: dict = {}
    for row in rows:
        qid, t = row["query_id"], row[text_key]
        if qid in best and best[qid] != t:
            raise ValueError(
                f"conflicting texts for query_id {qid!r} in one micro-batch: "
                f"{best[qid]!r} vs {t!r} — replays must carry identical rows"
            )
        best[qid] = t
    return sorted(best.items())


def stream_bm25_queries(
    spark: SparkSession,
    query_stream: DataFrame,
    index,
    k: int = 10,
    batch_threshold: int = 64,
):
    """foreachBatch BM25 serving: each micro-batch of (query_id, query_text)
    rows is answered against the materialized index via the block-max
    scorer.

    LIVE-DELTA AWARE (Olaf analogue: the stdin query path reads the live
    store — every committed txn is visible to readers, src/olaf.c:213-220,
    src/olaf_db.c:309-311): the index is always served as an IndexGroup,
    and every micro-batch re-checks its delta directory (a cheap listing,
    no data read) — so queries streamed WHILE the append sink
    (stream_index_appends) is committing deltas retrieve the newly
    appended docs, exactly like the batch query_job already does. The
    group is rebuilt only when the delta set changes.

    FAT micro-batches (>= batch_threshold queries) route through the
    distributed batch scorer (batch.batch_query_index_group) as ONE
    Spark job instead of the driver-serial per-row loop — the loop is
    right for a latency serving trickle, wrong for a bulk replay where
    per-query driver latency (~15 ms) times B dominates; results are
    rank/score-identical (tests/test_streaming.py).

    Returns (results_accumulator_list, foreachBatch_fn) — attach the fn with
    .writeStream.foreachBatch(fn). Incremental-index appends compose the
    same way: foreachBatch -> indexer.build_index(resume=True).
    """
    from olaf_spark.incremental import IndexGroup, _delta_dirs
    from olaf_spark.indexer import Index

    results: list[tuple] = []
    state: dict = {"sig": None, "group": None}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        deltas = tuple(_delta_dirs(index.index_dir))
        if state["group"] is None or state["sig"] != deltas:
            state["group"] = IndexGroup([index] + [Index.load(d) for d in deltas])
            state["sig"] = deltas
        group = state["group"]
        queries = _dedup_query_rows(batch_df.collect(), "query_text")
        if len(queries) >= batch_threshold:
            from olaf_spark.batch import batch_query_index_group

            out = batch_query_index_group(spark, group, queries, k=k)
            for r in sorted(
                out.collect(), key=lambda r: (r["query_id"], r["rank"])
            ):
                results.append((r["query_id"], r["rank"], r["doc_id"], r["score"]))
            return
        for qid, text in queries:
            for rank, (doc_id, score) in enumerate(group.topk(text, k=k), start=1):
                results.append((qid, rank, doc_id, score))

    return results, handle


def stream_phrase_queries(
    spark: SparkSession,
    query_stream: DataFrame,
    index_dir: str,
    k: int = 10,
    min_tf: int = 1,
    batch_threshold: int = 64,
):
    """foreachBatch EXACT-PHRASE serving — the phrase twin of
    stream_bm25_queries, completing the streaming surface (Olaf's stdin
    query loop serves the same matcher the batch path uses,
    src/olaf.c:213-220).

    Live-delta awareness needs no group cache here: phrase_topk itself
    re-lists the delta directory on every call and refuses positionless
    deltas (the group contract), so a `with_positions=True` append landing
    mid-stream is visible to the very next micro-batch; when the index
    carries a bigram side index, head-head phrases take the pair fast path
    (olaf_spark/bigram.py) automatically. Fat micro-batches
    (>= batch_threshold) route through batch_phrase_topk as ONE Spark job
    (same group/tombstone snapshot semantics, per-query identical results).

    Returns (results_accumulator_list, foreachBatch_fn); result tuples are
    (query_id, rank, doc_id, phrase_tf).
    """
    from olaf_spark.phrase import batch_phrase_topk, phrase_topk

    results: list[tuple] = []

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        queries = _dedup_query_rows(batch_df.collect(), "query_text")
        if len(queries) >= batch_threshold:
            out = batch_phrase_topk(spark, index_dir, queries, k=k, min_tf=min_tf)
            for r in sorted(
                out.collect(), key=lambda r: (r["query_id"], r["rank"])
            ):
                results.append(
                    (r["query_id"], r["rank"], r["doc_id"], r["phrase_tf"])
                )
            return
        for qid, text in queries:
            hits = phrase_topk(index_dir, text, k=k, min_tf=min_tf)
            for rank, (doc_id, tf) in enumerate(hits, start=1):
                results.append((qid, rank, doc_id, tf))

    return results, handle
