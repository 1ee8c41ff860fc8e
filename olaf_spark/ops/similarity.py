"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k (broadcast the query vectors,
JVM-side zip_with/aggregate dot products). Scale path: LSH with
deterministic random-hyperplane signatures — bucket join generates
candidates, exact cosine verifies; recall is tested against brute force.

At 100 TB the brute-force path is a full scan per query batch (fine for
batch scoring: one scan serves B queries via the broadcast side); the LSH
path turns that into a bucket-key equi-join that Catalyst shuffles on
signature — candidates per query ~ corpus/2^bits, tunable.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olaf_spark.lru import LruCache, file_sig, lru_get


def _cluster_vec_write(v: DataFrame, part_col: str) -> DataFrame:
    """Cluster a vector frame on its hive-partition column before a
    `partitionBy(part_col)` write (indexer.cluster_for_write's twin, guide
    §6 small-files): without it every scan task writes one file per
    sig/cluster value it holds — n_tasks x n_values files on rebuilds and
    compactions (and a 1-task scan of a single-row-group embeddings file
    writes ALL values serially). One narrow exchange keyed on the
    partition value lands each sig/cluster on one task: exactly one file
    per non-empty value, written with the session's full parallelism."""
    n_tasks = v.sparkSession.sparkContext.defaultParallelism
    return v.repartition(n_tasks, F.col(part_col))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(x * x for x in query_vec))
    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    sim = _dot(F.col("v"), q) / (_norm(F.col("v")) * F.lit(qn))
    return (
        v.select("vec_id", F.round(sim, 6).cast("double").alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random unit hyperplanes (seeded, reproducible)."""
    rng = np.random.default_rng(seed)
    p = rng.standard_normal((n_planes, dim))
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def _plane_dot(vec_col, plane: np.ndarray):
    """Left-associated float64 dot product against plane LITERALS.

    An aggregate fold over zip_with (sequential, array order, 0.0 start) —
    codegen emits a compact LOOP, where an unrolled v[1]*p1 + v[2]*p2 + ...
    chain at dim 64 x 8 planes blew Janino's method-size limit and dropped
    the stage to interpreted eval. The float result is bit-identical to the
    SQL twin's explicit left-associated sum (lsh_bit_sql): both fold in
    element order in float64, 0.0 + x == x exactly, and repr(float)
    round-trips plane literals exactly in both engines — so signature bits
    are engine-identical.
    """
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


def lsh_bit_sql(vec_sql: str, plane: np.ndarray) -> str:
    """DuckDB twin of the sign bit of _plane_dot (1-based list indexing)."""
    dot = " + ".join(f"{vec_sql}[{j + 1}] * {float(plane[j])!r}" for j in range(plane.size))
    return f"(CASE WHEN ({dot}) >= 0 THEN 1 ELSE 0 END)"


def lsh_signature_col(vec_col, planes: np.ndarray):
    """Column: bit-string signature (sign of dot with each plane)."""
    bits = []
    for p in planes:
        bits.append(F.when(_plane_dot(vec_col, p) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_band_cols(vec_col, planes: np.ndarray, bands: int) -> list:
    """One integer band value per band: the band's sign bits packed into an
    int (bit_0 is the band's high bit). Exact integer arithmetic on both
    engines — the LSH bucket join key."""
    n_planes = len(planes)
    assert n_planes % bands == 0
    per = n_planes // bands
    # band values are exact integers on both engines; past 62 bits the
    # packed value would overflow long arithmetic SILENTLY (colliding
    # buckets, no error) — wider signatures belong in multiple bands
    assert per < 63, f"band bit width {per} >= 63 overflows the packed long"
    out = []
    for bi in range(bands):
        val = F.lit(0).cast("long")
        for j in range(per):
            bit = F.when(_plane_dot(vec_col, planes[bi * per + j]) >= 0, 1).otherwise(0)
            val = val + bit.cast("long") * F.lit(2 ** (per - 1 - j)).cast("long")
        out.append(val.cast("long"))
    return out


def lsh_band_sql(vec_sql: str, planes: np.ndarray, bands: int) -> list[str]:
    """DuckDB twins of lsh_band_cols."""
    n_planes = len(planes)
    per = n_planes // bands
    assert per < 63, f"band bit width {per} >= 63 overflows the packed long"
    out = []
    for bi in range(bands):
        terms = [
            f"{lsh_bit_sql(vec_sql, planes[bi * per + j])} * {2 ** (per - 1 - j)}"
            for j in range(per)
        ]
        out.append("(" + " + ".join(terms) + ")")
    return out


def lsh_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    bands: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b) candidate pairs agreeing on >=1 LSH band — the vector
    twin of MinHash-LSH banding (ops/dedup.minhash_lsh_pairs): a bucket-key
    equi-join on (band, band_bits), NEVER an all-pairs cross join.

    Scale notes (100 TB): the shuffle key is (band, band_value) — candidates
    per vector ~ corpus / 2^(n_planes/bands) per band, tunable. A dense
    cluster can still bloat one bucket; max_bucket_size drops buckets above
    the cap before the self-join (an explicit recall knob, the exact
    analogue of dedup's max_shingle_df / Olaf's maxDBCollisions cap,
    olaf_db.c:366-375 — but deterministic and opt-in, default off).
    """
    dim = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    bcols = lsh_band_cols(F.col("v"), planes, bands)
    banded = v.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(bi).alias("band"), c.alias("bv"))
                for bi, c in enumerate(bcols)
            ])
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bv").agg(F.count("*").alias("n"))
        banded = banded.join(
            sizes.where(F.col("n") <= max_bucket_size), ["band", "bv"]
        ).drop("n")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cosine_sim): LSH band candidates -> exact cosine verify.

    The scale path for embedding near-dup (the brute-force self-join in
    ops/dedup.embedding_near_dup_pairs stays as the exactness referent):
    candidate generation is a bucket equi-join, verification touches only
    candidate pairs. Deterministic hyperplanes make the WHOLE plan
    SQL-expressible, so the driver oracle checks it end-to-end.
    """
    cand = lsh_candidate_pairs(
        emb, n_planes, bands, seed, max_bucket_size, id_col, vec_col
    )
    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    sim = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", F.round(sim, 6).cast("double").alias("cosine_sim")
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dups_lsh_sql(
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 2,
    seed: int = 42,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle twin of embedding_near_dup_pairs_lsh (identical plan:
    same literal hyperplanes, same band values, same verify)."""
    planes = hyperplanes(dim, n_planes, seed)
    band_exprs = lsh_band_sql("v", planes, bands)
    banded = "\nUNION ALL\n".join(
        f"SELECT id, {bi} AS band, {e} AS bv FROM vecs" for bi, e in enumerate(band_exprs)
    )
    return f"""
WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM {table}),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 6)::DOUBLE AS cosine_sim
FROM cand JOIN vecs va ON va.id = id_a JOIN vecs vb ON vb.id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= {threshold}
"""


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket (plus the
    `n_probes-1` nearest buckets by Hamming distance via single-bit flips),
    exact cosine on candidates only.

    The signature filter is a pushdown-able IN-list; with the corpus stored
    partitioned by signature prefix, a probe reads only matching partitions.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qsig_bits = (planes @ qv >= 0).astype(int)
    sigs = ["".join(map(str, qsig_bits))]
    # multi-probe: flip the bits whose |dot| margin is smallest first
    margins = np.abs(planes @ qv)
    for j in np.argsort(margins)[: max(0, n_probes - 1)]:
        flipped = qsig_bits.copy()
        flipped[j] ^= 1
        sigs.append("".join(map(str, flipped)))

    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    v = v.withColumn("sig", lsh_signature_col(F.col("v"), planes))
    cand = v.where(F.col("sig").isin(sigs))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(float(qv @ qv))
    sim = _dot(F.col("v"), q) / (_norm(F.col("v")) * F.lit(qn))
    return (
        cand.select("vec_id", F.round(sim, 6).cast("double").alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def build_ann_index(
    spark,
    emb: DataFrame,
    out_dir: str,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize the corpus with its LSH signature as a hive PARTITION
    column, so an ANN probe prunes to matching partitions at the scan
    instead of recomputing plane dot products over the whole corpus per
    query (the ad-hoc ann_lsh_topk path's weakness at scale).

    Layout: <out_dir>/vectors/sig=<bits>/... + ann_meta.json (dim,
    n_planes, seed — the query side must hash with the SAME planes, the
    config-freeze invariant olaf_config.h:46-50 again). 2^n_planes
    directories: keep n_planes ~8-12 as the PARTITION key; at higher bit
    widths partition on a fixed-length signature prefix and keep the full
    signature as a row column (row-group stats then prune within the
    partition) — same two-level pruning as the postings tb layout.
    """
    import json
    import os

    dim = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("sig", lsh_signature_col(F.col("v"), planes))
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    mfs.ensure_dir(out_dir)
    # rebuild retraction: a crash while overwriting vectors/ must leave
    # the dir without a commit marker (probes refuse), never the OLD meta
    # over partially-rewritten vectors — and a RE-build also voids old
    # deltas/tombstones (stale-assignment hazard, see _retract_index_dir)
    _retract_index_dir(out_dir)
    _cluster_vec_write(v, "sig").write.mode("overwrite").partitionBy("sig").parquet(
        os.path.join(out_dir, "vectors")
    )
    # the meta is the commit marker — atomic publish (metafs contract)
    mfs.publish_json(
        os.path.join(out_dir, "ann_meta.json"),
        {"dim": dim, "n_planes": n_planes, "seed": seed},
    )
    return out_dir


def _ann_meta(index_dir: str) -> dict:
    import json
    import os

    path = os.path.join(index_dir, "ann_meta.json")
    if not os.path.exists(path):
        # mirror _ivf_meta's clean refusal (a raw FileNotFoundError here
        # is what an operator saw on `append --layout lsh` against an IVF
        # dir); name the other layout's marker when present
        hint = (
            " — this dir holds an IVF index (ivf_meta.json); pass --layout ivf"
            if os.path.exists(os.path.join(index_dir, "ivf_meta.json"))
            else " — build_ann_index first"
        )
        raise ValueError(
            f"{index_dir} has no committed LSH ANN index (ann_meta.json missing){hint}"
        )
    with open(path) as f:
        return json.load(f)


def _vec_delta_dirs(index_dir: str, marker: str) -> list:
    """Committed vector delta dirs, either layout (commit marker: the
    delta's own meta file — `marker` — written LAST by the append)."""
    import os

    root = os.path.join(index_dir, "deltas")
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if os.path.exists(os.path.join(root, d, marker))
    ]


def _append_vec_delta(
    spark, v: DataFrame, index_dir: str, marker: str, meta: dict,
    delta_name: str | None = None,
) -> str:
    """Shared delta-append commit protocol for both layouts: atomic delta
    claim (two concurrent appends can never race onto one delta number),
    partitioned write of the pre-assigned frame `v` (its LAST column is
    the partition column), and the delta's meta file LAST as the commit
    marker (_vec_delta_dirs filters on it).

    delta_name pins the delta's directory name instead of taking the next
    number — the streaming-sink idempotency hook (foreachBatch is
    at-least-once): a REPLAYED epoch finds its own already-committed
    delta and no-ops instead of appending the same vectors twice; a
    crashed uncommitted attempt is resumed (overwrite + marker)."""
    import os

    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    root = os.path.join(index_dir, "deltas")
    mfs.ensure_dir(root)
    if delta_name is not None:
        delta_dir = os.path.join(root, delta_name)
        if os.path.exists(os.path.join(delta_dir, marker)):
            return delta_dir  # replayed, already committed: no-op
        mfs.claim_dir(delta_dir)  # False = crashed prior attempt -> resume
    else:
        n = len(os.listdir(root))  # count ALL entries incl. in-flight claims
        while True:
            delta_dir = os.path.join(root, f"delta_{n:04d}")
            if mfs.claim_dir(delta_dir):  # atomic claim (metafs contract)
                break
            n += 1
    part_col = v.columns[-1]
    _cluster_vec_write(v, part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(os.path.join(delta_dir, "vectors"))
    mfs.publish_json(os.path.join(delta_dir, marker), meta)
    return delta_dir


def _refuse_empty_batch(emb: DataFrame, index_dir: str) -> None:
    """Empty-batch refusal BEFORE the delta claim: an empty partitionBy
    write produces only _SUCCESS (unreadable — UNABLE_TO_INFER_SCHEMA),
    and the commit marker would poison every later probe and compaction."""
    if emb.limit(1).count() == 0:
        raise ValueError(
            f"refusing to append an empty vector batch to {index_dir}: "
            "emb has no rows"
        )


def _ann_delta_dirs(index_dir: str) -> list:
    return _vec_delta_dirs(index_dir, "ann_meta.json")


def append_ann_index(
    spark,
    emb: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    delta_name: str | None = None,
) -> str:
    """Append new vectors to a build_ann_index directory as a DELTA — the
    vector twin of incremental.append_index, and strictly easier: LSH
    signatures are functions of (vector, frozen planes) ONLY, independent
    of corpus statistics, so a delta needs no stats rescaling and probe
    results over the live group are identical to a full rebuild.

    Commit protocol (shared _append_vec_delta): atomic delta claim,
    vectors hive-partitioned by sig, the delta's ann_meta.json LAST as
    the commit marker. The base's planes are frozen (config-freeze
    invariant, olaf_config.h:46-50) — the delta hashes with the SAME
    planes.
    """
    meta = _ann_meta(index_dir)
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    _refuse_empty_batch(emb, index_dir)
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("sig", lsh_signature_col(F.col("v"), planes))
    return _append_vec_delta(
        spark, v, index_dir, "ann_meta.json", meta, delta_name=delta_name
    )


def ann_tombstones(index_dir: str) -> set[int]:
    import json
    import os

    try:
        with open(os.path.join(index_dir, "tombstones.json")) as f:
            return set(json.load(f))
    except FileNotFoundError:
        return set()


def delete_vectors(index_dir: str, vec_ids: list) -> None:
    """Merge-on-read vector deletion: tombstoned at the index root (a
    vector lives in exactly one part, but which is not tracked — the probe
    scan filters the union), same locked read-modify-write protocol as the
    text index's doc tombstones."""
    import os

    from olaf_spark.indexer import locked_mutate_id_set

    locked_mutate_id_set(
        os.path.join(index_dir, "tombstones.json"),
        lambda ts: ts | {int(v) for v in vec_ids},
    )


def undelete_vectors(index_dir: str, vec_ids: list) -> None:
    import os

    from olaf_spark.indexer import locked_mutate_id_set

    locked_mutate_id_set(
        os.path.join(index_dir, "tombstones.json"),
        lambda ts: ts - {int(v) for v in vec_ids},
    )


#: plan-level cache of spark.read.parquet over a part's vectors/ dir,
#: keyed by (session, path, root mtime). A committed layout has a couple
#: HUNDRED hive partition dirs (2^n_planes sigs / n_centroids cells);
#: re-listing them driver-side on EVERY probe dominates small-probe
#: latency (measured: LSH 3-probe p50 slower than brute force at 200 k
#: vectors before this cache). Caches the DataFrame — plan + FileIndex —
#: never the data. Invalidation: rebuilds replace the dir wholesale
#: (mode("overwrite") deletes + recreates it), so the key carries the
#: root's INODE — a recreated dir always gets a new one, immune to
#: coarse-mtime filesystems — plus st_mtime_ns for in-place partition
#: add/removes; committed parts are otherwise immutable (no writer
#: replaces files INSIDE an existing partition dir — every mutation in
#: this module goes through overwrite-the-root or a fresh delta dir).
#: LRU-bounded like the bigram metadata caches.
_SCAN_DF_CACHE = LruCache()
_SCAN_DF_CACHE_MAX = 256


def _read_vectors(spark, d: str) -> DataFrame:
    import os

    path = os.path.join(d, "vectors")
    sig = file_sig(path)
    if sig is None:
        return spark.read.parquet(path)  # surface Spark's own error
    return lru_get(
        _SCAN_DF_CACHE,
        (spark.sparkContext.applicationId, path),
        sig,
        lambda: spark.read.parquet(path),
        _SCAN_DF_CACHE_MAX,
    )


def _retract_index_dir(out_dir: str) -> None:
    """REBUILD retraction: strip out_dir of every commitment from any
    previous vector index before its rows are overwritten. Removes BOTH
    layout markers (a dir must never present an LSH marker over cluster-
    partitioned rows or vice versa), every delta dir (delta sig/cluster
    assignments were made with the OLD planes/centroids — served against
    a retrained base they silently lose recall and can duplicate
    vectors into top-k), and the tombstone files (ids deleted from the
    old corpus are not deletions against the new one). The lock file is
    left alone — it self-heals via the metafs lease. Ordering: markers
    go FIRST, so a crash mid-retraction leaves probes refusing loudly,
    never serving a stale mix."""
    import os

    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    for name in ("ann_meta.json", "ivf_meta.json"):
        mfs.remove_file(os.path.join(out_dir, name))
    deltas = os.path.join(out_dir, "deltas")
    if os.path.isdir(deltas):
        mfs.remove_dir(deltas, ignore_errors=True)
    for name in ("tombstones.json", "tombstones.parquet"):
        mfs.remove_file(os.path.join(out_dir, name))


def _vec_live_scan(
    spark, index_dir: str, marker: str, part_col: str, values: list | None
) -> DataFrame:
    """Union of the main + every committed delta's partition-pruned vector
    scan, with the tombstone filter applied — THE single source of 'what
    vectors are live in these cells/buckets', shared by single-query and
    batch probes of both layouts. Each part prunes its hive partitions
    independently (plan-level _read_vectors cache — no per-probe partition
    re-listing); tombstones ride the plan as an isin literal (bounded:
    deletes between compactions). values=None scans everything (the
    compaction fold)."""
    scan = None
    for d in [index_dir] + _vec_delta_dirs(index_dir, marker):
        r = _read_vectors(spark, d)
        if values is not None:
            r = r.where(F.col(part_col).isin(values))
        scan = r if scan is None else scan.unionByName(r)
    ts = ann_tombstones(index_dir)
    if ts:
        scan = scan.where(~F.col("vec_id").isin([int(x) for x in ts]))
    return scan


def _ann_vector_scan(spark, index_dir: str, sigs: list[str]) -> DataFrame:
    return _vec_live_scan(spark, index_dir, "ann_meta.json", "sig", sigs)


def _fold_vec_index(
    spark, index_dir: str, out_dir: str, marker: str, part_col: str, meta: dict
) -> str:
    """Shared compaction fold for both layouts: refuse a committed
    out_dir (either layout's marker — appends since its commit are not
    foldable into it), fold main + deltas minus tombstones as ONE union
    scan rewritten partitionBy(part_col), carry the frozen meta verbatim
    (config-freeze invariant), marker LAST as the commit marker — a
    killed fold leaves no loadable index. Refuses when no live vector
    remains (an empty partitionBy write is only _SUCCESS — unreadable —
    yet the marker would claim a valid index)."""
    import os

    from olaf_spark.metafs import get_metafs

    for m in ("ann_meta.json", "ivf_meta.json"):
        if os.path.exists(os.path.join(out_dir, m)):
            raise ValueError(
                f"{out_dir} already holds a completed vector index ({m}); "
                "compact into a fresh out_dir (appends since then are not "
                "foldable into it)"
            )
    scan = _vec_live_scan(spark, index_dir, marker, part_col, None)
    if scan.limit(1).count() == 0:
        raise ValueError(
            f"refusing to compact {index_dir}: no live vectors remain "
            "(every vector is tombstoned or the parts are empty)"
        )
    mfs = get_metafs()
    mfs.ensure_dir(out_dir)
    # strays from a crashed earlier attempt (markers are absent — the
    # refusal above — but partial deltas/tombstones may not be)
    _retract_index_dir(out_dir)
    _cluster_vec_write(scan, part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(os.path.join(out_dir, "vectors"))
    # the compacted index's commit marker — atomic publish
    mfs.publish_json(os.path.join(out_dir, marker), meta)
    return out_dir


def compact_ann_index(spark, index_dir: str, out_dir: str) -> str:
    """Fold main + deltas (minus tombstones) into a fresh signature-
    partitioned ANN index — the vector twin of incremental.compact_index,
    and far simpler: signatures are corpus-independent, so the fold is ONE
    filtered union scan (shared _fold_vec_index commit protocol)."""
    return _fold_vec_index(
        spark, index_dir, out_dir, "ann_meta.json", "sig", _ann_meta(index_dir)
    )


def probe_signatures(query_vec: list[float], planes: np.ndarray, n_probes: int) -> list[str]:
    """Query signature + the n_probes-1 nearest buckets (multi-probe: flip
    the bits with the smallest |dot| margin first)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    qsig_bits = (planes @ qv >= 0).astype(int)
    sigs = ["".join(map(str, qsig_bits))]
    margins = np.abs(planes @ qv)
    for j in np.argsort(margins)[: max(0, n_probes - 1)]:
        flipped = qsig_bits.copy()
        flipped[j] ^= 1
        sigs.append("".join(map(str, flipped)))
    return sigs


def ann_topk_indexed(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k against a build_ann_index directory: the probe's
    sig IN-list prunes hive partitions at the scan — only ~n_probes/2^bits
    of the corpus is read, no signature recompute. Serves the LIVE GROUP
    (main + appended deltas, minus tombstones) via _ann_vector_scan."""
    meta = _ann_meta(index_dir)
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    sigs = probe_signatures(query_vec, planes, n_probes)
    v = _ann_vector_scan(spark, index_dir, sigs)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(float(np.dot(query_vec, query_vec)))
    sim = _dot(F.col("v"), q) / (_norm(F.col("v")) * F.lit(qn))
    return (
        v.select("vec_id", F.round(sim, 6).cast("double").alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_batch_topk_indexed(
    spark,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k for a BATCH of queries against a build_ann_index
    directory, as ONE Spark job (the vector twin of olaf_spark.batch):

      * the union of every query's probe signatures prunes hive partitions
        at the scan — one pass over ~B*n_probes/2^bits of the corpus, not
        one job per query;
      * (query_id, sig) probe pairs and query vectors enter the plan as
        broadcast literals (no Python-RDD side, no shuffle for the join);
      * exact cosine on candidates; per-query top-k plans as a
        WindowGroupLimit (map-side partial top-k before the exchange).

    A corpus row carries exactly ONE signature and probe pairs are
    distinct, so no candidate is scored twice for a query. Serves the LIVE
    GROUP (main + appended deltas, minus tombstones) via _ann_vector_scan.
    """
    from pyspark.sql import Window

    meta = _ann_meta(index_dir)
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    pairs = [
        (int(qid), s)
        for qid, v in queries
        for s in probe_signatures(v, planes, n_probes)
    ]
    all_sigs = sorted({s for _, s in pairs})
    probe_df = spark.range(1).select(
        F.explode(
            F.array(*[
                F.struct(F.lit(qid).alias("query_id"), F.lit(s).alias("sig"))
                for qid, s in pairs
            ])
        ).alias("p")
    ).select("p.query_id", "p.sig")
    qdf = spark.range(1).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(int(qid)).alias("query_id"),
                    F.array(*[F.lit(float(x)) for x in v]).alias("qv"),
                )
                for qid, v in queries
            ])
        ).alias("q")
    ).select("q.query_id", "q.qv")

    v = _ann_vector_scan(spark, index_dir, all_sigs)
    cand = v.join(F.broadcast(probe_df), "sig").join(F.broadcast(qdf), "query_id")
    sim = _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.select(
            "query_id", "vec_id", F.round(sim, 6).cast("double").alias("cosine_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def batch_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k per query for a batch: broadcast queries, one corpus scan.

    (query_id, vec_id, cosine_sim, rank) — rank via per-query window over the
    per-partition top-k survivors.
    """
    from pyspark.sql import Window

    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(q_vec_col).cast("array<double>").alias("qv")
    )
    sim = _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv")))
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", F.round(sim, 6).cast("double").alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


# ------------------------------------------------------------------- IVF
# Inverted-file (IVF) ANN: coarse spherical-k-means quantizer, vectors
# hive-partitioned by nearest centroid, probes read only the nprobe
# closest cells. The learned-partition sibling of the LSH layout
# (build_ann_index): LSH cells are data-independent (stable under
# appends, no training), IVF cells follow the data distribution (tighter
# candidate sets per probe on clustered corpora). Same commit protocol:
# ivf_meta.json (which embeds the centroids) is the marker, written LAST.


def spherical_kmeans(
    sample: np.ndarray, n_centroids: int, n_iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Deterministic spherical k-means over a driver-side sample.

    Rows are L2-normalized; assignment is max dot product (== max cosine);
    centroid update is the mean re-projected to the unit sphere. k-means++
    init from a seeded rng; an empty cell is deterministically reseeded to
    the sample point worst-served by its current centroid. Fixed iteration
    count — no data-dependent stopping, so rebuilds are reproducible.
    """
    rng = np.random.default_rng(seed)
    x = np.asarray(sample, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = x.shape[0]
    if n_centroids >= n:
        raise ValueError(f"n_centroids {n_centroids} >= sample size {n}")
    # k-means++ (cosine distance = 1 - dot on the sphere)
    idx = [int(rng.integers(n))]
    d2 = 1.0 - x @ x[idx[0]]
    for _ in range(1, n_centroids):
        p = np.maximum(d2, 0)
        tot = p.sum()
        if tot <= 0:
            j = int(rng.integers(n))
        else:
            j = int(rng.choice(n, p=p / tot))
        idx.append(j)
        d2 = np.minimum(d2, 1.0 - x @ x[j])
    c = x[idx].copy()
    for _ in range(n_iters):
        sims = x @ c.T  # (n, C)
        assign = sims.argmax(axis=1)
        for ci in range(n_centroids):
            members = x[assign == ci]
            if len(members) == 0:
                # reseed to the point with the lowest best-similarity —
                # deterministic (argmin takes the first minimum)
                c[ci] = x[int(sims.max(axis=1).argmin())]
                continue
            m = members.sum(axis=0)
            nrm = np.linalg.norm(m)
            c[ci] = m / nrm if nrm > 0 else c[ci]
    return c


def ivf_cluster_col(vec_col, centroids: np.ndarray):
    """Column: index of the max-dot-product centroid (int). Cosine argmax
    needs no vector normalization (positive-scale invariant), and the
    centroid rows are unit vectors already. Pure JVM fold per centroid
    (same compact-loop codegen story as _plane_dot); ties take the FIRST
    max index (array_position), deterministic."""
    sims = F.array(*[_plane_dot(vec_col, c) for c in centroids])
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def build_ivf_index(
    spark,
    emb: DataFrame,
    out_dir: str,
    n_centroids: int = 16,
    n_iters: int = 10,
    sample_size: int = 20_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize the corpus partitioned by nearest-centroid cell:
    <out_dir>/vectors/cluster=<c>/... + ivf_meta.json (the commit marker,
    embedding the centroid matrix — the query side must rank with the SAME
    centroids, the config-freeze invariant olaf_config.h:46-50 again).

    Training sample: the sample_size lowest-xxhash64(id) rows — one
    TakeOrdered pass, bounded driver memory at any corpus size, and
    deterministic (re-running the build yields byte-identical centroids).
    Assignment is JVM-side (ivf_cluster_col); one partitioned write.
    """
    import os

    from olaf_spark.metafs import get_metafs

    sample_rows = (
        emb.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_size)
        .collect()
    )
    if not sample_rows:
        raise ValueError(
            f"refusing to build an IVF index at {out_dir}: emb has no rows"
        )
    dim = len(sample_rows[0]["v"])  # no separate first() job — the sample has it
    cents = spherical_kmeans(
        np.array([r["v"] for r in sample_rows]), n_centroids, n_iters, seed
    )
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("cluster", ivf_cluster_col(F.col("v"), cents))
    mfs = get_metafs()
    mfs.ensure_dir(out_dir)
    # rebuild retraction, same as build_ann_index: no stale marker (of
    # EITHER layout), delta, or tombstone may survive a re-train — old
    # deltas were cell-assigned with the old centroids
    _retract_index_dir(out_dir)
    _cluster_vec_write(v, "cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(os.path.join(out_dir, "vectors"))
    mfs.publish_json(
        os.path.join(out_dir, "ivf_meta.json"),
        {
            "dim": dim,
            "n_centroids": n_centroids,
            "seed": seed,
            # json floats are repr round-trips — centroids reload exactly
            "centroids": [[float(x) for x in row] for row in cents],
        },
    )
    return out_dir


def _ivf_meta(index_dir: str) -> dict:
    import json
    import os

    path = os.path.join(index_dir, "ivf_meta.json")
    if not os.path.exists(path):
        raise ValueError(
            f"{index_dir} has no committed IVF index (ivf_meta.json "
            "missing) — build_ivf_index first"
        )
    with open(path) as f:
        return json.load(f)


def ivf_probe_clusters(
    query_vec: list[float], centroids: np.ndarray, nprobe: int
) -> list[int]:
    """The nprobe cell ids nearest the query by cosine — deterministic
    (ties broken by ascending cell id via stable argsort on -sim)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    sims = np.asarray(centroids) @ q
    order = np.argsort(-sims, kind="stable")
    return [int(c) for c in order[: max(1, nprobe)]]


def ann_ivf_topk(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """(vec_id, cosine_sim) top-k from the nprobe nearest IVF cells only.

    The cluster IN-list is a hive PARTITION filter — the scan reads
    nprobe/n_centroids of the corpus, the IVF recall/latency dial. With
    nprobe = n_centroids the scan is the whole corpus and the answer is
    EXACTLY brute-force cosine top-k (the oracle-checked configuration);
    recall at nprobe < n_centroids is pytest-floored against brute force.
    Serves the LIVE group: committed deltas join the scan, tombstoned
    vectors leave it (_ivf_vector_scan).
    """
    meta = _ivf_meta(index_dir)
    cents = np.array(meta["centroids"], dtype=np.float64)
    cells = ivf_probe_clusters(query_vec, cents, nprobe)
    v = _ivf_vector_scan(spark, index_dir, cells)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    sim = _dot(F.col("v"), q) / (_norm(F.col("v")) * F.lit(qn))
    return (
        v.select("vec_id", F.round(sim, 6).cast("double").alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_ivf_batch_topk(
    spark,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """(query_id, vec_id, cosine_sim, rank) for B queries as ONE job.

    Probe plan rides a broadcast (query_id, cluster, qv) DataFrame; the
    scan is pruned to the UNION of all probed cells (partition filter),
    the per-cell equi-join fans each vector out only to the queries that
    probed its cell, and per-query top-k plans as WindowGroupLimit —
    the IVF twin of ann_batch_topk_indexed. Serves the live group
    (deltas in, tombstones out) like the single-query path.
    """
    from pyspark.sql import Window

    meta = _ivf_meta(index_dir)
    cents = np.array(meta["centroids"], dtype=np.float64)
    probe_rows = []
    seen_qids: set[int] = set()
    for qid, qv in queries:
        if int(qid) in seen_qids:
            # same refusal as batch_query_index / batch_phrase_topk: a
            # duplicated id would duplicate its probe rows, score every
            # candidate twice and silently halve effective k
            raise ValueError(f"duplicate query_id {int(qid)} in IVF batch")
        seen_qids.add(int(qid))
        for c in ivf_probe_clusters(qv, cents, nprobe):
            probe_rows.append((int(qid), int(c), [float(x) for x in qv]))
    if not probe_rows:
        raise ValueError("ann_ivf_batch_topk: empty query batch")
    # built from Arrow: a driver-side relation, where a list of rows would
    # re-pickle in one Python worker per task (indexer.rep_query_df)
    qid, cell, qv = zip(*probe_rows)
    probes = spark.createDataFrame(pa.table({
        "query_id": pa.array(qid, pa.int64()),
        "cluster": pa.array(cell, pa.int32()),
        "qv": pa.array(qv, pa.list_(pa.float64())),
    }))
    all_cells = sorted({r[1] for r in probe_rows})
    v = _ivf_vector_scan(spark, index_dir, all_cells)
    sim = _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv")))
    scored = v.join(F.broadcast(probes), "cluster").select(
        "query_id", "vec_id", F.round(sim, 6).cast("double").alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine_sim", F.col("rank").cast("long").alias("rank")
        )
    )


def _ivf_delta_dirs(index_dir: str) -> list:
    return _vec_delta_dirs(index_dir, "ivf_meta.json")


def append_ivf_index(
    spark,
    emb: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    delta_name: str | None = None,
) -> str:
    """Append new vectors to a build_ivf_index directory as a DELTA.

    The base's centroids are FROZEN (config-freeze invariant,
    olaf_config.h:46-50): cell assignment is a function of (vector,
    centroids) only, so — exactly like the LSH layout's planes — a delta
    needs no re-training and probe results over the live group equal a
    full rebuild with the same centroids. (Centroids only ever RE-train
    via a fresh build_ivf_index; that is a rebuild, not maintenance —
    the IVF/LSH trade documented at the section header, and the rebuild
    voids previous deltas/tombstones via _retract_index_dir.) Same
    commit protocol as append_ann_index (shared _append_vec_delta):
    atomic delta claim, vectors hive-partitioned by cluster, the delta's
    ivf_meta.json lands LAST.

    Deletion is shared with the LSH layout: delete_vectors /
    undelete_vectors / ann_tombstones operate on <index_dir>/
    tombstones.json and never read either meta, so they apply to an IVF
    dir verbatim.
    """
    meta = _ivf_meta(index_dir)
    cents = np.array(meta["centroids"], dtype=np.float64)
    _refuse_empty_batch(emb, index_dir)
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("cluster", ivf_cluster_col(F.col("v"), cents))
    return _append_vec_delta(
        spark, v, index_dir, "ivf_meta.json", meta, delta_name=delta_name
    )


def _ivf_vector_scan(spark, index_dir: str, cells: list[int]) -> DataFrame:
    return _vec_live_scan(spark, index_dir, "ivf_meta.json", "cluster", cells)


def compact_ivf_index(spark, index_dir: str, out_dir: str) -> str:
    """Fold main + deltas (minus tombstones) into a fresh centroid-
    partitioned IVF index. Cell assignments are already materialized and
    centroids are frozen, so the fold is ONE filtered union scan
    (shared _fold_vec_index commit protocol); the meta (with centroids)
    is carried verbatim."""
    return _fold_vec_index(
        spark, index_dir, out_dir, "ivf_meta.json", "cluster",
        _ivf_meta(index_dir),
    )
