"""Engine configuration.

The reference forbids changing parameters between index build and query
(`olaf_config.h:46-50`, README.md:286): an index is only valid for one
parameterization. We enforce the same invariant by persisting the config
next to the index and refusing to query with a mismatched one.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass

from olaf_spark.lru import LruCache, file_sig, lru_get

# The single tokenizer contract, shared verbatim by:
#  - the Spark DataFrame tokenizer  (split(lower(text), TOKEN_SPLIT_RE))
#  - the pandas-UDF tokenizer       (re.split on the same pattern)
#  - the pure-Python oracle engine
#  - the DuckDB oracle SQL          (regexp_split_to_array(lower(text), ...))
# Changing it invalidates every index, golden file and oracle query at once.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: parsed configs by path (EngineConfig.load)
_CFG_CACHE = LruCache()
_CFG_CACHE_MAX = 256


@dataclass(frozen=True)
class EngineConfig:
    # BM25 parameters (reference analogue: matcher thresholds olaf_config.c:84-103)
    k1: float = 1.2
    b: float = 0.75
    # top-k defaults (maxResults=50 in reference, olaf_config.c:99-100)
    max_results: int = 50
    # minimum score threshold analogue of minMatchCount=6 (olaf_config.c:89-91);
    # 0.0 = no threshold (BM25 scores are not counts)
    min_score: float = 0.0
    # tokenizer
    token_split_re: str = TOKEN_SPLIT_RE
    min_token_len: int = 1
    max_token_len: int = 64
    # posting-list block size for block-max WAND metadata
    # (reference analogue: 4096-slot write buffer, olaf_fp_db_writer.c:25-27)
    block_size: int = 128
    # index-build partitioning. Skew note: "salting" head terms is not
    # needed here — doc_id-range bucketing IS the salt (a head term's
    # postings arrive as n_buckets disjoint runs built in parallel), and
    # max_row_postings bounds the merged rows.
    n_segments: int = 32           # term-hash shards (postings hive layout)
    # head-term row cap: a term with df above this is stored as several
    # doc-range-chunked posting rows (each carrying the FULL df, so scores
    # are unchanged) instead of one mega-row. At 10^12 docs a universal
    # term's single row would be ~370 GB — no task or serving read may
    # ever depend on one term fitting one row. 4M postings ≈ 15 MB packed.
    max_row_postings: int = 4_000_000

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "EngineConfig":
        return cls(**json.loads(s))

    def save(self, index_dir: str) -> None:
        from olaf_spark.metafs import get_metafs

        mfs = get_metafs()
        mfs.ensure_dir(index_dir)
        mfs.publish_bytes(
            os.path.join(index_dir, "engine_config.json"),
            self.to_json().encode("utf-8"),
        )

    @classmethod
    def load(cls, index_dir: str) -> "EngineConfig":
        """The config stored with an index, parsed once per file version:
        cached under the file's lru.file_sig (save republishes via tmp +
        rename, so a rebuilt index is seen at once). Serving entry points
        that take no cfg (phrase_topk, batch_phrase_topk) call this per
        query. The instance is frozen, so sharing it is safe."""
        path = os.path.join(index_dir, "engine_config.json")

        def load():
            with open(path) as f:
                return cls.from_json(f.read())

        return lru_get(_CFG_CACHE, path, file_sig(path), load, _CFG_CACHE_MAX)

    def check_compatible(self, other: "EngineConfig") -> None:
        """Query-time config must equal build-time config (olaf_config.h:46-50)."""
        if self != other:
            raise ValueError(
                "EngineConfig mismatch between index build and query: "
                f"{self.to_json()} != {other.to_json()}"
            )
