"""spark-submit entry point: index maintenance — append deltas, compact,
delete/undelete.

    spark-submit --py-files /tmp/olaf_spark.zip jobs/maintain_job.py \
        append  --index /mnt/shared/index/v1 --pages s3://bucket/new_pages/ \
                [--from-html] [--delta-name delta_batch_42] [--n-buckets 64]

    spark-submit --py-files /tmp/olaf_spark.zip jobs/maintain_job.py \
        compact --index /mnt/shared/index/v1 --out /mnt/shared/index/v2 \
                [--n-groups 8] [--n-merge-tasks 4096]

    spark-submit --py-files /tmp/olaf_spark.zip jobs/maintain_job.py \
        delete   --index ... --doc-ids 123,456     (or --urls-file urls.txt)
    spark-submit --py-files /tmp/olaf_spark.zip jobs/maintain_job.py \
        undelete --index ... --doc-ids 123,456

--index / --out must live on a LOCAL or SHARED POSIX FILESYSTEM (NFS, EFS,
Lustre, ...): the delta claim, compaction staging promote, commit-marker
publishes, and the tombstone lock all route through the metadata
filesystem seam (olaf_spark/metafs.py — PosixMetaFS is the only backend
here; each op's atomicity contract is documented there, and an
object-store implementation plugs in via set_metafs() without touching
engine logic). --pages is read through Spark and may be any
Hadoop-supported URI (s3://, hdfs://, ...).

Reference analogue: Olaf's store / delete / re-store maintenance commands
against the live LMDB store (README.md:245-272, src/olaf_db.c:309-311);
compaction is the segment fold that puts main + deltas back into one
index. Compaction is RESUMABLE: re-running a killed `compact` with the
same --out skips committed tb-range groups (per-group lineage).

Each subcommand prints one JSON metrics line (the store-summary analogue,
cli/olaf_cli_bridge.zig:139-216).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _load_pages(spark: SparkSession, args) -> "object":
    docs = spark.read.parquet(args.pages)
    if args.from_html:
        from olaf_spark.extract import extract_text_udf

        docs = docs.withColumn("text", extract_text_udf(F.col("html")))
    # doc_id = xxhash64(url): deterministic, globally unique for unique urls
    # (Olaf's olaf_db_string_hash analogue, src/olaf_db.c:122-139)
    if "doc_id" not in docs.columns:
        docs = docs.withColumn("doc_id", F.xxhash64(F.col("url")))
    return docs.select("doc_id", "text")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_app = sub.add_parser("append", help="append new docs as a delta index")
    p_app.add_argument("--index", required=True)
    p_app.add_argument("--pages", required=True)
    p_app.add_argument("--from-html", action="store_true")
    p_app.add_argument("--delta-name", default=None)
    p_app.add_argument("--n-buckets", type=int, default=16)
    p_app.add_argument(
        "--with-positions", action="store_true",
        help="also build the delta's positional rows (keeps phrase queries "
        "serving through the delta phase)",
    )
    p_app.add_argument(
        "--with-bigrams", action="store_true",
        help="also build the delta's bigram side index under the base's "
        "inherited head set (keeps head-head phrase queries on the pair "
        "fast path through the delta phase; requires the base to carry "
        "bigrams)",
    )

    p_pos = sub.add_parser(
        "positions", help="build the positional side index (phrase queries)"
    )
    p_pos.add_argument("--index", required=True)
    p_pos.add_argument("--pages", required=True)
    p_pos.add_argument("--from-html", action="store_true")
    p_pos.add_argument("--n-buckets", type=int, default=16)

    p_big = sub.add_parser(
        "bigrams",
        help="build the bigram (next-word) side index for head-head phrase "
        "serving — Olaf's combination-hash move in text "
        "(olaf_fp_extractor.c:92-145)",
    )
    p_big.add_argument("--index", required=True)
    p_big.add_argument("--pages", required=True)
    p_big.add_argument("--from-html", action="store_true")
    p_big.add_argument("--n-buckets", type=int, default=16)
    p_big.add_argument(
        "--min-df", type=int, default=None,
        help="head threshold: only pairs whose members BOTH have df >= this "
        "are indexed (default max(16, n_docs // 100))",
    )

    p_cmp = sub.add_parser("compact", help="fold main + deltas into a fresh index")
    p_cmp.add_argument("--index", required=True)
    p_cmp.add_argument("--out", required=True)
    p_cmp.add_argument("--n-groups", type=int, default=4)
    p_cmp.add_argument("--n-merge-tasks", type=int, default=None)

    for name in ("delete", "undelete"):
        p = sub.add_parser(name)
        p.add_argument("--index", required=True)
        p.add_argument("--doc-ids", default=None, help="comma-separated doc ids")
        p.add_argument("--urls-file", default=None, help="one url per line -> xxhash64")
    args = ap.parse_args()

    from olaf_spark.session import jvm_lower_conf

    spark = SparkSession.builder.appName(f"olaf_spark_{args.cmd}").getOrCreate()
    jvm_lower_conf(spark)  # tokenizes in the JVM: lowercase without ICU
    t0 = time.time()

    if args.cmd == "append":
        from olaf_spark.incremental import append_index

        delta = append_index(
            spark, _load_pages(spark, args), args.index,
            n_buckets=args.n_buckets, delta_name=args.delta_name,
            with_positions=args.with_positions,
            with_bigrams=args.with_bigrams,
        )
        print(json.dumps({
            "cmd": "append", "delta_dir": delta.index_dir,
            "n_docs": delta.n_docs, "n_postings": delta.stats["n_postings"],
            "packed_bytes": delta.stats["packed_bytes"],
            "wall_s": round(time.time() - t0, 2),
            "docs_per_s": round(delta.n_docs / max(time.time() - t0, 1e-9), 1),
        }))
    elif args.cmd == "positions":
        from olaf_spark.config import EngineConfig
        from olaf_spark.phrase import build_positions

        cfg = EngineConfig.load(args.index)
        build_positions(
            spark, _load_pages(spark, args), args.index, cfg, n_buckets=args.n_buckets
        )
        print(json.dumps({
            "cmd": "positions", "index": args.index,
            "wall_s": round(time.time() - t0, 2),
        }))
    elif args.cmd == "bigrams":
        from olaf_spark.bigram import _read_meta, build_bigrams
        from olaf_spark.config import EngineConfig

        cfg = EngineConfig.load(args.index)
        build_bigrams(
            spark, _load_pages(spark, args), args.index, cfg,
            n_buckets=args.n_buckets, min_df=args.min_df,
        )
        meta = _read_meta(args.index)
        print(json.dumps({
            "cmd": "bigrams", "index": args.index,
            "min_df": meta["min_df"], "n_heads": meta["n_heads"],
            "wall_s": round(time.time() - t0, 2),
        }))
    elif args.cmd == "compact":
        from olaf_spark.incremental import compact_index

        ix = compact_index(
            spark, args.index, args.out,
            n_merge_tasks=args.n_merge_tasks, n_groups=args.n_groups,
        )
        print(json.dumps({
            "cmd": "compact", "out": args.out, "n_docs": ix.n_docs,
            "n_terms": ix.stats["n_terms"], "n_postings": ix.stats["n_postings"],
            "packed_bytes": ix.stats["packed_bytes"],
            "compacted_from": ix.stats["compacted_from"],
            "wall_s": round(time.time() - t0, 2),
        }))
    else:
        from olaf_spark.incremental import IndexGroup

        if args.doc_ids:
            ids = [int(x) for x in args.doc_ids.split(",") if x.strip()]
        elif args.urls_file:
            from olaf_spark.xxh64 import xxh64

            with open(args.urls_file) as f:
                ids = [xxh64(line.strip().encode("utf-8")) for line in f if line.strip()]
        else:
            raise SystemExit("delete/undelete needs --doc-ids or --urls-file")
        group = IndexGroup.load(args.index)
        if args.cmd == "delete":
            group.delete_docs(ids)
        else:
            # group-level: clears the ids from EVERY part's tombstones (the
            # read path unions them; a delta-recorded tombstone would
            # otherwise keep the doc dead forever)
            group.undelete_docs(ids)
        print(json.dumps({
            "cmd": args.cmd, "n_doc_ids": len(ids),
            "tombstones_now": len(group.tombstones()),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
