"""spark-submit entry point: build the inverted index from a pages table.

Deployment (north_rule: "runs via spark-submit --py-files on multi-executor
clusters"):

    cd <repo> && zip -r /tmp/olaf_spark.zip olaf_spark
    spark-submit --py-files /tmp/olaf_spark.zip jobs/build_index_job.py \
        --pages  s3://bucket/pages/          \
        --index  s3://bucket/index/v1        \
        --format iceberg                     \
        --n-buckets 4096 [--resume]

Input table shape (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

The job extracts text from html when --from-html is given (byte-identical
vectorized extraction, olaf_spark.extract), derives doc_id = xxhash64(url)
(deterministic, Olaf's olaf_db_string_hash analogue, src/olaf_db.c:122-139),
builds the index (resumable via per-bucket lineage), and prints one JSON
metrics line (docs/s, postings/s, bytes — Olaf's store summary analogue,
cli/olaf_cli_bridge.zig:139-216).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages table path (or name for --format iceberg)")
    ap.add_argument("--index", required=True, help="output index directory")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--from-html", action="store_true", help="extract text from the html column")
    ap.add_argument("--lang", default=None, help="optional lang filter (partition-prunable)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true", help="skip buckets already built (lineage)")
    args = ap.parse_args()

    from olaf_spark.config import EngineConfig
    from olaf_spark.extract import extract_text_udf
    from olaf_spark.indexer import build_index
    from olaf_spark.session import jvm_lower_conf

    spark = SparkSession.builder.appName("olaf_spark_build").getOrCreate()
    jvm_lower_conf(spark)  # tokenizes in the JVM: lowercase without ICU
    pages = (
        spark.read.table(args.pages)
        if args.format == "iceberg"
        else spark.read.parquet(args.pages)
    )
    if args.lang:
        pages = pages.where(F.col("lang") == args.lang)

    text_col = extract_text_udf(F.col("html")) if args.from_html else F.col("text")
    docs = pages.select(
        F.xxhash64(F.col("url")).alias("doc_id"), text_col.alias("text")
    )

    t0 = time.time()
    index = build_index(
        spark, docs, args.index, EngineConfig(),
        n_buckets=args.n_buckets, resume=args.resume,
    )
    wall = time.time() - t0
    print(json.dumps({
        "index_dir": args.index,
        "n_docs": index.n_docs,
        "n_terms": index.stats["n_terms"],
        "n_postings": index.stats["n_postings"],
        "packed_bytes": index.stats["packed_bytes"],
        "wall_s": round(wall, 2),
        "docs_per_s": round(index.n_docs / wall, 1) if wall > 0 else None,
        "postings_per_s": round(index.stats["n_postings"] / wall, 1) if wall > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
