"""spark-submit entry point: batch BM25 top-k over a materialized index.

    spark-submit --py-files /tmp/olaf_spark.zip jobs/query_job.py \
        --index s3://bucket/index/v1 \
        --queries queries.txt --k 10 [--out results/]

queries.txt: one query per line; query_id is the 0-based line number.
Results: (query_id, rank, doc_id, score) — Olaf's result-record shape
(olaf_fp_matcher.h:42, CSV rows cli/olaf_cli_bridge.c:294-312), written as
parquet when --out is given, else printed as JSON lines.

Two execution paths, rank-identical:
  * few queries  -> driver-side serving scorer (vectorized / blockmax;
    wand is an alias of blockmax; exhaustive is the test referent)
  * many queries -> --method distributed: the whole batch scored as ONE
    Spark job over the materialized index (olaf_spark.batch) — executors
    decode the packed posting rows of the broadcast query terms; no
    per-query job, no corpus re-tokenize.

The index is always served as an IndexGroup: main plus any live deltas
(appended via jobs/maintain_job.py or the streaming sink). Every method
answers over the group with group-global stats, rank- and score-identical
to a compacted rebuild.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True, help="text file, one query per line")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--method",
        default="vectorized",
        choices=["vectorized", "blockmax", "wand", "exhaustive", "distributed"],
        help="vectorized: eager decode; blockmax: block-max pruning with lazy "
        "decode (wand is an alias); exhaustive: test referent; distributed: "
        "the whole batch as one Spark job",
    )
    ap.add_argument("--out", default=None, help="parquet output path (default: stdout JSON)")
    ap.add_argument(
        "--phrase",
        action="store_true",
        help="treat each query line as an EXACT phrase (adjacency-verified "
        "via the positional side index; build it with maintain_job.py "
        "positions). score = phrase occurrence count.",
    )
    ap.add_argument(
        "--min-tf", type=int, default=1,
        help="phrase quality gate (Olaf minMatchCount analogue): only docs "
        "with >= this many phrase occurrences are returned; with --phrase "
        "it seeds the skip threshold so low-bound candidates never decode",
    )
    ap.add_argument(
        "--fuzzy",
        action="store_true",
        help="widen every query term to its edit-distance-1 neighborhood "
        "(Olaf's ±searchRange, olaf_db.c:337-398): variants present in the "
        "index score as ordinary terms with their own idf, OR semantics — "
        "works identically on every method including distributed",
    )
    args = ap.parse_args()

    from olaf_spark.incremental import IndexGroup

    spark = SparkSession.builder.appName("olaf_spark_query").getOrCreate()
    group = IndexGroup.load(args.index)

    if args.phrase and args.fuzzy:
        raise SystemExit(
            "--phrase and --fuzzy are mutually exclusive: a phrase is an "
            "EXACT token sequence; widen individual terms with --fuzzy on a "
            "non-phrase query instead"
        )

    with open(args.queries) as f:
        queries = [line.strip() for line in f if line.strip()]

    if args.phrase:
        if args.method == "distributed":
            # the whole phrase batch as ONE Spark job (batch_phrase_topk):
            # broadcast subscription fan-out over the positional rows,
            # adjacency verify per (query, part, bucket) group — per-query
            # answers identical to the serving loop below
            from olaf_spark.phrase import batch_phrase_topk

            out_df = batch_phrase_topk(
                spark, args.index, list(enumerate(queries)), k=args.k,
                cfg=group.cfg, min_tf=args.min_tf,
            ).select(
                "query_id", "rank", "doc_id",
                F.col("phrase_tf").cast("double").alias("score"),
            )
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
            else:
                for r in out_df.orderBy("query_id", "rank").collect():
                    print(json.dumps(r.asDict()))
            spark.stop()
            return
        from olaf_spark.phrase import phrase_topk

        rows = []
        for qid, q in enumerate(queries):
            for rank, (doc_id, tf) in enumerate(
                phrase_topk(
                    args.index, q, k=args.k, cfg=group.cfg, min_tf=args.min_tf
                ),
                start=1,
            ):
                rows.append((qid, rank, doc_id, float(tf)))
        if args.out:
            spark.createDataFrame(
                rows, "query_id int, rank int, doc_id long, score double"
            ).write.mode("overwrite").parquet(args.out)
        else:
            for r in rows:
                print(json.dumps({"query_id": r[0], "rank": r[1], "doc_id": r[2], "score": r[3]}))
        spark.stop()
        return

    if args.fuzzy:
        from olaf_spark.fuzzy import edit1_variants
        from olaf_spark.tokenize import tokenize_py

        queries = [
            " ".join(
                sorted(set().union(*[edit1_variants(t) for t in tokenize_py(q, group.cfg)]) or set())
            )
            for q in queries
        ]

    if args.method == "distributed":
        from olaf_spark.batch import batch_query_index_group

        out_df = batch_query_index_group(
            spark, group, list(enumerate(queries)), k=args.k
        ).select("query_id", "rank", "doc_id", "score")
        if args.out:
            out_df.write.mode("overwrite").parquet(args.out)
        else:
            for r in out_df.orderBy("query_id", "rank").collect():
                print(json.dumps(r.asDict()))
        spark.stop()
        return

    rows = []
    for qid, q in enumerate(queries):
        for rank, (doc_id, score) in enumerate(
            group.topk(q, args.k, method=args.method), start=1
        ):
            rows.append((qid, rank, doc_id, float(score)))

    if args.out:
        spark.createDataFrame(
            rows, "query_id int, rank int, doc_id long, score double"
        ).write.mode("overwrite").parquet(args.out)
    else:
        for r in rows:
            print(json.dumps({"query_id": r[0], "rank": r[1], "doc_id": r[2], "score": r[3]}))
    spark.stop()


if __name__ == "__main__":
    main()
