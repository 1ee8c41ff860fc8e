"""olaf_spark — a PySpark-native inverted-index build + BM25 top-k query engine.

A from-scratch, Spark-first re-expression of the query/data-processing
capabilities of JorenSix/Olaf (an audio fingerprint index; see
/root/reference, studied for behavior only): fingerprint hash -> term,
posting store -> sorted compressed posting-list segments, match
accumulator -> BM25 score aggregation with block-max WAND pruning.

Layout:
  config     — engine configuration (must match between index build and query,
               mirroring reference olaf_config.h:46-50 invariant)
  session    — SparkSession builders for local testing/benchmarks
  synth      — deterministic synthetic `pages` corpus generator
  extract    — html -> text extraction (vectorized pandas UDF + pure-Python twin)
  tokenize   — tokenizer: pure-DataFrame and pandas-UDF variants
  codec      — the packed posting and positional row formats: batch encode and
               decode (numpy delta + varbyte), and the BM25 contribution kernel
  indexer    — distributed index build: postings segments, merge, lineage, resume
  scorer     — BM25 top-k: ad-hoc DataFrame path
  wand       — serving scorers over packed postings: vectorized exact and
               vectorized block-max pruning with lazy block decode
  batch      — distributed batch BM25: a whole query batch as ONE Spark job
  fuzzy      — edit-distance-1 term lookup (Olaf ±searchRange analogue)
  incremental— delta appends, merged-on-read groups, doc-range-parallel compaction
  streaming  — Structured Streaming operators (windows, TTL state, index appends)
  oracle     — pure-Python single-node reference engine (rank-identity target)
  ops        — training-data pipeline operators (dedup, similarity, text, multimodal)
"""

from olaf_spark.config import EngineConfig

__all__ = ["EngineConfig"]
__version__ = "0.1.0"
