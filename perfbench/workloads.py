"""The benchmark's two workloads, their seeded inputs and their checks.

Both workloads run the same kinds of operation, so every end-to-end metric
is measured on each: index documents and serve BM25 queries one at a
time. They differ in which layers do it:

  build_serve  one full build (postings, positions, bigrams) of a fresh
               corpus, then single-index serving over a ~1%-tombstoned
               index: BM25 via `query_index` and phrase via `phrase_topk`.
  ingest       a committed base (90% of the corpus, with positions, built
               in set-up), one append of the other 10% with positions,
               group serving via `IndexGroup.topk`, one B=512
               `batch_query_index_group` job, deletes of ~1% of the docs,
               group serving again, then `compact_index`, which folds
               postings and positions. Bigrams are left out of ingest: their
               three extra jobs (base, delta, fold) would push a run past
               the benchmark's time budget; `build_serve` builds them.

Every answer a timed operation returns is checked after the timed loop;
a wrong answer or an exception counts as a failed operation.
"""

from __future__ import annotations

import bisect
import math
import os
import random
import statistics
import subprocess
import time
from collections import deque
from dataclasses import dataclass

from tracer import Tracer, install_layer_spans, span_cost_s

K = 10
MIN_SCORE = 0.0

#: The box's CPU speed swings by up to 1.5x between and within runs (other
#: tenants share the host), and every timing moves with it. The query
#: latencies are therefore scaled to a reference speed: the speed at which
#: `Run.probe`'s fixed kernels take REF_PROBE_MS (one thread) and
#: REF_PAR_PROBE_MS (CORES threads). Raw values are kept in the run record
#: and the stderr report.
REF_PROBE_MS = 6.0
REF_PAR_PROBE_MS = 8.0
#: rounds between a slow query's first try and its retry (~1 s of queries)
RETRY_LAG = 200
#: build_serve times one phrase query per this many BM25 queries (phrase
#: latency is a per-layer mean, so ~100 samples suffice)
PHRASE_EVERY = 10
#: Spark runs local[CORES] (nproc on the reference box) with this driver
#: heap, and every build and append writes CORES buckets: one task per core
#: and stage at this corpus size, where the default 16 adds waves of tasks
#: that each cost the fixed Python-worker overhead
CORES = 4
DRIVER_MEMORY = "1g"
#: Query-family weights of both mixes. synth.gen_queries (FIXTURES.md §2)
#: makes n_queries (default 50) each of phrase-from-doc, needle and Zipf-mix
#: queries plus 5 OOV ones; head-head pairs over w1..w50 join them as a
#: fourth family of the same size.
FAMILY_WEIGHTS = {"from_doc": 50, "needle": 50, "zipf": 50, "head_head": 50, "oov": 5}


@dataclass(frozen=True)
class Scale:
    n_docs: int = 1000
    exhaustive_checks: int = 50  # per answer set, seeded sample
    min_queries: int = 1000   # BM25 queries timed per run (p99 needs >= 1000)
    # B of ingest's batch job, whose texts its first group round serves
    batch_size: int = 512


# ---------------------------------------------------------------- helpers
def percentile_tail(lat_ms: list[float]) -> tuple[float, float, float]:
    """(p50, tail, tail_pct): the tail is p99, or the highest percentile
    that still has ten samples beyond it when p99 has fewer (no lower than
    the median)."""
    xs = sorted(lat_ms)
    n = len(xs)
    rank = max(min(math.ceil(n * 0.99), n - 10), math.ceil(n / 2))
    return statistics.median(xs), xs[rank - 1], 100.0 * rank / n


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for dp, _dirs, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return total, files


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def same_ranking(got, want) -> bool:
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        math.isclose(g, w, rel_tol=1e-12, abs_tol=1e-15)
        for (_, g), (_, w) in zip(got, want)
    )


class Corpus:
    """Driver-side view of the generated corpus: texts and the reference
    counts every build is checked against."""

    def __init__(self, texts: dict[int, str]):
        from olaf_spark.indexer import term_id_py
        from olaf_spark.tokenize import tokenize_py

        self.texts = texts
        self.tokens: dict[int, list[str]] = {}
        self.tids: dict[int, frozenset] = {}
        tid_of: dict[str, int] = {}
        for d, text in texts.items():
            toks = tokenize_py(text)
            self.tokens[d] = toks
            ids = []
            for t in set(toks):
                tid = tid_of.get(t)
                if tid is None:
                    tid = tid_of[t] = term_id_py(t)
                ids.append(tid)
            self.tids[d] = frozenset(ids)
        self.text_bytes = sum(len(t.encode("utf-8")) for t in texts.values())

    def reference(self, doc_ids) -> dict:
        terms: set[int] = set()
        postings = tokens = 0
        for d in doc_ids:
            terms |= self.tids[d]
            postings += len(self.tids[d])
            tokens += len(self.tokens[d])
        return {"n_terms": len(terms), "n_postings": postings, "total_tokens": tokens}

    def compacted_reference(self, doc_ids, tombstones) -> dict:
        """Compaction drops tombstoned postings but keeps every surviving
        term's group df, so a term counts its deleted docs only while some
        live doc still holds it."""
        df: dict[int, int] = {}
        for d in doc_ids:
            for t in self.tids[d]:
                df[t] = df.get(t, 0) + 1
        dead = set(tombstones)
        live_terms: set[int] = set()
        for d in doc_ids:
            if d not in dead:
                live_terms |= self.tids[d]
        return {
            "n_docs": len(doc_ids),
            "n_terms": len(live_terms),
            "n_postings": sum(df[t] for t in live_terms),
            "total_tokens": sum(len(self.tokens[d]) for d in doc_ids),
        }

    def phrase_tf(self, doc_id: int, phrase_toks: list[str]) -> int:
        toks, m = self.tokens[doc_id], len(phrase_toks)
        return sum(1 for i in range(len(toks) - m + 1) if toks[i:i + m] == phrase_toks)


# ---------------------------------------------------------------- queries
@dataclass
class Query:
    text: str
    family: str               # needle | from_doc | zipf | oov | head_head
    source: int | None = None  # doc the query was cut from, if any


def query_mix(rng: random.Random, corpus: Corpus, live: list[int], n: int,
              phrase: bool = False) -> list[Query]:
    """n seeded queries, the families in FAMILY_WEIGHTS proportions (each
    within one query of its share), shuffled. A phrase mix leaves out the
    Zipf mix, which is a BM25 family (three unrelated terms are no phrase),
    and its OOV query pairs the unknown term with w1, so that it is a
    phrase; a BM25 OOV query is the unknown term alone."""
    from olaf_spark.synth import NEEDLE_EVERY

    needles = [d for d in live if d % NEEDLE_EVERY == 0]
    weights = {f: w for f, w in FAMILY_WEIGHTS.items() if not (phrase and f == "zipf")}
    # each family spread evenly over the cycle, so that the first n of it
    # hold every family's share to within one
    cycle = [f for _, f in sorted(((k + 0.5) / w, f) for f, w in weights.items() for k in range(w))]
    out = []
    for i in range(n):
        fam = cycle[i % len(cycle)]
        if fam == "needle" and needles:
            d = rng.choice(needles)
            out.append(Query(f"needle{d}", "needle", d))
        elif fam in ("from_doc", "needle"):
            d = rng.choice(live)
            toks = corpus.tokens[d]
            j = rng.randrange(max(1, len(toks) - 3))
            out.append(Query(" ".join(toks[j:j + 4]), "from_doc", d))
        elif fam == "zipf":
            out.append(Query(
                f"w{rng.randint(1, 50)} w{rng.randint(1, 500)} w{rng.randint(1, 5000)}", "zipf"
            ))
        elif fam == "oov":
            oov = f"zzqx{rng.randrange(10**6)}"
            out.append(Query(f"{oov} w1" if phrase else oov, "oov"))
        else:
            out.append(Query(f"w{rng.randint(1, 50)} w{rng.randint(1, 50)}", "head_head"))
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------- checks
def check_bm25(q: Query, got, lists_fn=None) -> bool:
    """Needles rank their source doc first and OOV queries return nothing;
    with `lists_fn`, also rank-identical to exhaustive_topk over those
    lists (scores at rel_tol 1e-12)."""
    from olaf_spark.wand import exhaustive_topk

    if got is None:
        return False
    if lists_fn is not None:
        want = [(d, s) for d, s in exhaustive_topk(lists_fn(q.text), K) if s >= MIN_SCORE]
        if not same_ranking(got, want):
            return False
    if q.family == "needle":
        return bool(got) and got[0][0] == q.source
    if q.family == "oov":
        return got == []
    return True


def check_phrase(q: Query, got, corpus: Corpus) -> bool:
    """The source doc of a cut phrase is returned, or is excluded only by
    k docs that rank strictly above it; OOV phrases return nothing."""
    from olaf_spark.tokenize import tokenize_py

    if got is None:
        return False
    if q.family == "oov":
        return got == []
    if q.source is None:
        # head-head: well-formed top-k, phrase tf >= 1, ordered (tf desc, doc asc)
        keys = [(-tf, d) for d, tf in got]
        return len(got) <= K and all(tf >= 1 for _, tf in got) and keys == sorted(keys)
    src_tf = corpus.phrase_tf(q.source, tokenize_py(q.text))
    if src_tf < 1:
        return False
    hit = dict(got)
    if q.source in hit:
        return hit[q.source] == src_tf
    return len(got) == K and all((tf, -d) > (src_tf, -q.source) for d, tf in got)


def check_stats(stats: dict, ref: dict) -> bool:
    return all(int(stats[k]) == v for k, v in ref.items())


# ---------------------------------------------------------------- runner
def spark_conf(work: str) -> dict:
    """Session settings for a 4-core, 16 GB box: an explicit driver heap
    (the engine's default asks for 24g) and every scratch dir under `work`."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the JVM's perf-data file ignores java.io.tmpdir: switch it off.
        # C1 only: a run's JVM lives about a minute and its jobs are small,
        # so C2's compile threads would mostly take the 4 cores from tasks
        # (a build_serve run on the 4-core reference box: 70 s -> 50 s
        # wall, setup 24 s -> 18 s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job of a run for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Run:
    """One benchmark run: set-up, timed phases, checks, metrics."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 scale: Scale, spark=None, plant_wrong: bool = False):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tr = Tracer(trace)
        self.rng = random.Random(seed)
        self.spark = spark
        self.own_spark = spark is None
        self.plant_wrong = plant_wrong
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.built_dirs: list[str] = []
        self.probes: list[tuple[float, float]] = []  # (when, ms), one thread
        self.par_probes: list[tuple[float, float]] = []  # (when, ms), CORES threads
        self._pool = None
        self._last_probe = 0.0
        self.probe_ms = REF_PROBE_MS
        self.par_probe_ms = REF_PAR_PROBE_MS
        self.raw_e2e: dict[str, float] = {}
        self.by_family: dict[str, float] = {}
        self.query_log: dict[str, list] = {}  # every query's latency and family

    # ---- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        from olaf_spark.session import get_spark, prewarm_python_workers

        if self.spark is None:
            with self.tr.span("session.start"):
                self.spark = get_spark(
                    CORES, app_name="perfbench", extra_conf=spark_conf(self.work),
                )
        self.tr.attach_spark(self.spark)
        with self.tr.span("session.prewarm", spark_call=True):
            prewarm_python_workers(self.spark)

    def make_corpus(self) -> None:
        import pyarrow.parquet as pq

        from olaf_spark.synth import gen_pages

        path = os.path.join(self.work, "corpus")
        with self.tr.span("bench.corpus"):
            gen_pages(self.spark, self.scale.n_docs, seed=self.seed).select(
                "doc_id", "text"
            ).write.parquet(path)
        self.docs = self.spark.read.parquet(path)
        tbl = pq.read_table(path, columns=["doc_id", "text"])
        with self.tr.span("bench.reference"):
            self.corpus = Corpus(dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())))
        self.doc_ids = sorted(self.corpus.texts)

    def pick_tombstones(self, pool: list[int]) -> list[int]:
        from olaf_spark.synth import NEEDLE_EVERY

        cand = [d for d in pool if d % NEEDLE_EVERY != 0]
        return sorted(self.rng.sample(cand, max(1, len(self.doc_ids) // 100)))

    # ---- timed helpers -----------------------------------------------------
    def timed(self, fn):
        """(result or None, seconds); an exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # an op that raises is a failed op, not a crash
            print(f"perfbench: op failed: {e!r}", flush=True)
            self.failed += 1
            return None, time.perf_counter() - t0
        return res, time.perf_counter() - t0

    def query_loop(self, budget_s: float, min_n: int, families) -> tuple[list, list]:
        """Interleave `families` [(queries, op, every)] -- a family runs on
        every `every`-th round -- until min_n rounds have run and budget_s
        has passed, probing the box's speed every 0.25 s. Returns per
        family the first-pass [(query, answer)] (kept for the checks) and
        every latency in ms.

        A query of the first family slower than that family's running p90
        is timed once more RETRY_LAG rounds later (or after the loop) and
        keeps the lower time; a retry answering otherwise is a failed op.
        A host hiccup (up to ~10x a query's time here) then no longer
        decides the p99, while a query that is slow every time still does;
        a query below p90 cannot reach the tail. The lag keeps a retry out
        of the hiccup that slowed the first try."""
        answers = [[] for _ in families]
        lat = [[] for _ in families]
        seen: list[float] = []  # the first family's first tries, sorted
        pending: deque[tuple[int, int]] = deque()  # (round, j) awaiting a retry

        def retry(j):
            qs, op, _every = families[0]
            q = qs[j % len(qs)]
            res, dt = self.timed(lambda: op(q))
            if j < len(answers[0]) and answers[0][j][1] is not None:
                self.check(res == answers[0][j][1])
            lat[0][j] = min(lat[0][j], dt * 1e3)

        t_end = time.perf_counter() + budget_s
        i = 0
        while i < min_n or time.perf_counter() < t_end:
            for f, (qs, op, every) in enumerate(families):
                if i % every:
                    continue
                j = len(lat[f])
                q = qs[j % len(qs)]
                res, dt = self.timed(lambda: op(q))
                lat[f].append(dt * 1e3)
                if time.perf_counter() - self._last_probe > 0.25:
                    self.probe()
                if j < len(qs):
                    answers[f].append((q, res))
                if f == 0:
                    bisect.insort(seen, dt * 1e3)
                    if dt * 1e3 > seen[int(len(seen) * 0.9)]:
                        pending.append((i, j))
                    if pending and i - pending[0][0] >= RETRY_LAG:
                        retry(pending.popleft()[1])
            i += 1
        while pending:
            retry(pending.popleft()[1])
        return answers, lat

    def probe(self, n: int = 1) -> None:
        """Time two fixed kernels between ops: the box's speed at that
        moment. One runs on one thread (Python loop + numpy sort); the
        other sorts on CORES threads at once, so it also slows when other
        tenants take some of the cores, as the engine's multi-threaded
        parquet reads do."""
        from concurrent.futures import ThreadPoolExecutor

        import numpy as np

        if self._pool is None:
            self._pool = ThreadPoolExecutor(CORES)
            self._par_input = np.arange(200_000, dtype=np.int64)[::-1].copy()
        for _ in range(n):
            t0 = time.perf_counter()
            acc = 0
            for i in range(50_000):
                acc += i * i % 7
            np.sort(np.arange(100_000, dtype=np.int64)[::-1]).sum()
            t1 = time.perf_counter()
            list(self._pool.map(lambda _: np.sort(self._par_input).sum(), range(2 * CORES)))
            t2 = time.perf_counter()
            self.probes.append((t1, (t1 - t0) * 1e3))
            self.par_probes.append((t2, (t2 - t1) * 1e3))
        self._last_probe = time.perf_counter()

    def check(self, ok: bool) -> None:
        if not ok:
            self.failed += 1

    def check_bm25_all(self, answers, lists_fn) -> None:
        """Every answer gets the needle/OOV checks; a seeded sample (the
        exhaustive referent is pure Python) is compared to exhaustive_topk.
        The cross-path checks (batch rows, compacted index) cover the rest."""
        n = len(answers)
        sample = set(self.rng.sample(range(n), min(n, self.scale.exhaustive_checks)))
        if self.plant_wrong and n:
            sample.add(0)
        for i, (q, got) in enumerate(answers):
            self.check(check_bm25(q, got, lists_fn if i in sample else None))

    def batch_job(self, make_df, queries) -> list | None:
        """One batch: the plan (the driver-side call) and the job, which
        collects its rows so that they can be checked."""
        def op():
            with self.tr.span("batch.plan"):
                df = make_df(queries)
            with self.tr.span("batch.job", spark_call=True):
                return df.collect()

        return self.timed(op)[0]

    # ---- metrics -----------------------------------------------------------
    def finish_metrics(self, setup_s: float, index, queries, size_bytes: int) -> None:
        """End-to-end metrics, unscaled into `raw_e2e` and at the reference
        speed (see REF_PROBE_MS) into `e2e`. index = (docs, s), queries =
        (latencies ms, family of each).

        Every query latency is divided by the run's slowdown: the geometric
        mean of its median one-thread and CORES-thread probe, each over its
        reference. One factor per run, not one per query: each query's own
        few probes are noisy, and the tail then picks the queries whose
        factor came out low (README). Set-up and indexing are not scaled:
        on ten seeds per workload, scaling widened the set-up spread on
        both and gave indexing no steady gain."""
        docs, index_s = index
        q_lat, q_fam = queries
        self.query_log = {"lat_ms": q_lat, "family": q_fam}
        self.probe_ms = statistics.median(v for _, v in self.probes)
        self.par_probe_ms = statistics.median(v for _, v in self.par_probes)
        slowdown = math.sqrt(self.probe_ms / REF_PROBE_MS * self.par_probe_ms / REF_PAR_PROBE_MS)
        scaled = [v / slowdown for v in q_lat]
        self.samples["query"] = len(q_lat)
        for out, lat in ((self.raw_e2e, q_lat), (self.e2e, scaled)):
            p50, tail, pct = percentile_tail(lat)
            out.update(
                setup_s=setup_s,
                index_docs_per_s=docs / index_s,
                index_bytes_per_text_byte=size_bytes / self.text_bytes_indexed,
                query_p50_ms=p50,
                query_p99_ms=tail,
            )
        self.samples["query_tail_pct"] = pct
        # each family's scaled p50 (and its sample count), so that a change
        # helping one family only is visible
        for fam in FAMILY_WEIGHTS:
            xs = [v for v, f in zip(scaled, q_fam) if f == fam]
            self.samples[f"query.{fam}"] = len(xs)
            self.by_family[f"query.{fam}.p50_ms"] = statistics.median(xs) if xs else 0.0

    def layer_metrics(self, phases: list[str], n_phrase: dict[str, int], n_batch: int = 0) -> None:
        """Per-layer numbers from the spans, lineage rows and the index dirs."""
        import pyarrow.dataset as ds

        tr = self.tr
        L = self.layer
        mean_ms = lambda name, n: tr.self_s(name) * 1e3 / n if n else 0.0  # noqa: E731
        L["session.start_s"] = tr.self_s("session.start")
        L["session.prewarm_s"] = tr.self_s("session.prewarm")
        for name in ("indexer.build_index", "phrase.build_positions", "bigram.build_bigrams",
                     "incremental.append_index", "incremental.compact_index",
                     "batch.plan", "batch.job"):
            L[f"{name}.s"] = tr.self_s(name)
        batch_s = L["batch.plan.s"] + L["batch.job.s"]
        L["batch.queries_per_s"] = n_batch / batch_s if batch_s else 0.0
        seg = merge = 0.0
        lineage_dirs = [
            os.path.join(dp, "lineage")
            for d in self.built_dirs for dp, dirs, _ in os.walk(d) if "lineage" in dirs
        ]
        for lin in lineage_dirs:
            t = ds.dataset(lin, format="parquet").to_table(columns=["stage", "wall_s"])
            walls: dict[str, float] = {}
            for st, w in zip(t["stage"].to_pylist(), t["wall_s"].to_pylist()):
                walls[st] = max(walls.get(st, 0.0), w)
            seg += walls.get("segments", 0.0)
            merge += walls.get("merge", 0.0)
        L["indexer.segments.s"] = seg
        L["indexer.merge.s"] = merge
        files = 0
        side = dict.fromkeys(("segments", "postings", "positions", "bigrams"), 0)
        for d in self.built_dirs:
            files += dir_bytes_files(d)[1]
            for s in side:
                side[s] += dir_bytes_files(os.path.join(d, s))[0]
        L["indexer.files_written"] = files
        L["indexer.segments_bytes"] = side["segments"]
        L["indexer.postings_bytes"] = side["postings"]
        L["phrase.positions_bytes"] = side["positions"]
        L["bigram.bigrams_bytes"] = side["bigrams"]
        for k in ("indexer.postings", "indexer.terms", "indexer.tombstones",
                  "incremental.parts", "incremental.compact_bytes"):
            L[k] = tr.counts.get(k, 0)
        L["tokenize.tokenize_py.s"] = tr.self_s("tokenize.tokenize_py")
        # per call, tail retries included
        n_query = tr.n_calls("wand.query_index") + tr.n_calls("incremental.group_topk")
        L["wand.query_index.ms"] = mean_ms("wand.query_index", n_query)
        L["incremental.group_topk.ms"] = mean_ms("incremental.group_topk", n_query)
        L["wand.fetch.ms"] = mean_ms("wand.fetch", n_query)
        L["wand.decode.ms"] = mean_ms("wand.load_term_postings", n_query)
        L["wand.score.ms"] = mean_ms("wand.score", n_query)
        L["wand.rows_fetched"] = tr.counts.get("wand.rows_fetched", 0) / n_query if n_query else 0.0
        L["wand.postings_decoded"] = (
            tr.counts.get("wand.postings_decoded", 0) / n_query if n_query else 0.0
        )
        L["incremental.group_fetch.ms"] = mean_ms("incremental.group_fetch", n_query)
        L["wand.blockmax_topk.ms"] = mean_ms("wand.blockmax_topk", n_query)
        for kind in ("rare", "head_head"):
            L[f"phrase.phrase_topk.{kind}.ms"] = mean_ms(
                f"phrase.phrase_topk.{kind}", n_phrase.get(kind, 0)
            )
        L["metafs.commits"] = tr.n_calls("metafs.publish_json")
        L["metafs.publish_json.s"] = tr.self_s("metafs.publish_json")
        for call, ctr in tr.spark_counters.items():
            for k, v in ctr.items():
                L[f"{call}.{k}"] = v
        phase_spans = [s for s in tr.spans if s.name in phases]
        wall = sum(s.dur_s - s.ovh_s for s in phase_spans)
        n_sp = sum(len(tr.under(p)) for p in set(phases))
        L["trace.layer_coverage"] = tr.coverage(phases)
        L["trace.span_overhead_pct"] = (
            100.0 * (n_sp * span_cost_s() + sum(s.ovh_s for s in phase_spans)) / wall
            if wall > 0 else 0.0
        )
        L["trace.spans"] = len(tr.spans)
        # scaled like query_p50_ms, so the two compare across runs
        L["trace.query_p50_ms"] = self.e2e["query_p50_ms"]
        L["bench.probe_ms"] = self.probe_ms
        L.update(self.by_family)

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver, JVM) VmHWM in MB."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)

    def stop(self) -> None:
        if self._pool is not None:
            self._pool.shutdown()
        if self.spark is None or not self.own_spark:
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def layer_targets():
    """(owner, attr, span, spark_call, on_result) for every layer boundary
    the traced run wraps."""
    import olaf_spark.batch as batch
    import olaf_spark.bigram as bigram
    import olaf_spark.incremental as incremental
    import olaf_spark.indexer as indexer
    import olaf_spark.metafs as metafs
    import olaf_spark.phrase as phrase
    import olaf_spark.wand as wand

    def built(tr, ix):
        tr.count("indexer.postings", ix.stats["n_postings"])
        tr.count("indexer.terms", ix.stats["n_terms"])

    def rows(tr, r):
        tr.count("wand.rows_fetched", len(r))

    def decoded(tr, lists):
        tr.count("wand.postings_decoded", sum(tp.doc_ids.size for tp in lists))

    targets = [
        (indexer, "build_index", "indexer.build_index", True, built),
        (incremental, "build_index", "indexer.build_index", True, built),
        (phrase, "build_positions", "phrase.build_positions", True, None),
        (bigram, "build_bigrams", "bigram.build_bigrams", True, None),
        (incremental, "append_index", "incremental.append_index", True, None),
        (incremental, "compact_index", "incremental.compact_index", True, None),
        (wand, "load_term_postings", "wand.load_term_postings", False, decoded),
        (wand, "vectorized_topk", "wand.score", False, None),
        (incremental, "blockmax_topk", "wand.blockmax_topk", False, None),
        (incremental.IndexGroup, "load_term_postings_raw", "incremental.group_fetch", False, None),
        (metafs.PosixMetaFS, "publish_json", "metafs.publish_json", False, None),
    ]
    # private boundaries: wrapped only while they exist under these names
    if hasattr(wand, "_fetch_posting_rows"):
        targets.append((wand, "_fetch_posting_rows", "wand.fetch", False, rows))
    for mod in (wand, incremental, phrase, batch):
        if hasattr(mod, "tokenize_py"):
            targets.append((mod, "tokenize_py", "tokenize.tokenize_py", False, None))
    return targets


# ---------------------------------------------------------------- workloads
def check_batch(rows, batch_queries, answers) -> bool:
    """Batch rows equal the timed loop's per-query answer for every batch
    text (ranks equal, scores at rel_tol 1e-12). The loop serves every
    batch text, so a text it did not serve fails too."""
    if rows is None:
        return False
    served = {q.text: a for q, a in answers}
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for qid, text in batch_queries:
        got = [(d, s) for _, d, s in sorted(per_q.get(qid, []))]
        if served.get(text) is None or not same_ranking(got, served[text]):
            return False
    return True


def build_serve(run: Run) -> None:
    import olaf_spark.bigram as bigram
    import olaf_spark.indexer as indexer
    import olaf_spark.phrase as phrase
    import olaf_spark.wand as wand

    sc = run.scale
    tr = run.tr
    t_setup = time.perf_counter()
    run.start_session()
    run.make_corpus()
    setup_s = time.perf_counter() - t_setup
    spark = run.spark
    ix_dir = os.path.join(run.work, "index")
    run.built_dirs.append(ix_dir)
    run.text_bytes_indexed = run.corpus.text_bytes

    with install_layer_spans(tr, layer_targets()):
        # ---- build: postings, positions and bigrams from scratch ----------
        def build_all():
            ix = indexer.build_index(spark, run.docs, ix_dir, n_buckets=CORES)
            phrase.build_positions(spark, run.docs, ix_dir, n_buckets=CORES)
            bigram.build_bigrams(spark, run.docs, ix_dir, n_buckets=CORES)
            return ix

        with tr.span("bench.build"):
            ix, build_s = run.timed(build_all)
        if ix is None:
            raise RuntimeError("full build failed")
        run.check(check_stats(ix.stats, run.corpus.reference(run.doc_ids)))
        size_bytes = dir_bytes_files(ix_dir)[0]

        tomb = run.pick_tombstones(run.doc_ids)
        ix.delete_docs(tomb)
        tr.count("indexer.tombstones", len(tomb))
        live = sorted(set(run.doc_ids) - set(tomb))
        ix = indexer.Index.load(ix_dir)
        tr.count("incremental.parts", 1)

        n_bm25 = sc.min_queries
        bm25 = query_mix(run.rng, run.corpus, live, n_bm25)
        phr = query_mix(run.rng, run.corpus, live, n_bm25 // PHRASE_EVERY, phrase=True)

        def bm25_op(q):
            with tr.span("wand.query_index"):
                return wand.query_index(spark, ix, q.text, K)

        def phrase_op(q):
            kind = "head_head" if q.family == "head_head" else "rare"
            with tr.span(f"phrase.phrase_topk.{kind}"):
                return phrase.phrase_topk(ix_dir, q.text, K)

        with tr.span("bench.serve"):
            # phrase latency is a per-layer mean: fewer samples suffice
            (bm25_ans, phr_ans), (q_lat, p_lat) = run.query_loop(
                run.seconds, n_bm25, [(bm25, bm25_op, 1), (phr, phrase_op, PHRASE_EVERY)]
            )
        q_fam = [bm25[j % len(bm25)].family for j in range(len(q_lat))]
        n_phrase = {
            "head_head": sum(1 for i in range(len(p_lat)) if phr[i % len(phr)].family == "head_head")
        }
        n_phrase["rare"] = len(p_lat) - n_phrase["head_head"]

    # ---- checks (outside the timed loop) ----------------------------------
    if run.plant_wrong and bm25_ans:
        q0, a0 = bm25_ans[0]
        bm25_ans[0] = (q0, [(d + 1, s) for d, s in (a0 or [(0, 1.0)])])
    lists_fn = lambda text: wand.load_term_postings(spark, ix, text)  # noqa: E731
    with tr.span("bench.check"):
        run.check_bm25_all(bm25_ans, lists_fn)
        for q, got in phr_ans:
            run.check(check_phrase(q, got, run.corpus))

    run.finish_metrics(
        setup_s, (len(run.doc_ids), build_s), (q_lat, q_fam), size_bytes,
    )
    run.samples["phrase"] = len(p_lat)
    if tr.enabled:
        run.layer_metrics(["bench.build", "bench.serve"], n_phrase)


def ingest(run: Run) -> None:
    import olaf_spark.batch as batch
    import olaf_spark.incremental as incremental
    import olaf_spark.indexer as indexer
    import olaf_spark.phrase as phrase
    import olaf_spark.wand as wand

    sc = run.scale
    tr = run.tr
    with install_layer_spans(tr, layer_targets()):
        t_setup = time.perf_counter()
        run.start_session()
        run.make_corpus()
        spark = run.spark
        ids = run.doc_ids
        n = len(ids)
        base_ids, delta_ids = ids[: n * 90 // 100], ids[n * 90 // 100:]
        base_dir = os.path.join(run.work, "group")
        run.built_dirs.append(base_dir)
        in_range = lambda part: run.docs.where(  # noqa: E731
            f"doc_id >= {part[0]} and doc_id <= {part[-1]}"
        )
        with tr.span("bench.base"):
            base = indexer.build_index(spark, in_range(base_ids), base_dir, n_buckets=CORES)
            phrase.build_positions(spark, in_range(base_ids), base_dir, n_buckets=CORES)
        run.check(check_stats(base.stats, run.corpus.reference(base_ids)))
        setup_s = time.perf_counter() - t_setup
        run.text_bytes_indexed = run.corpus.text_bytes

        tomb = run.pick_tombstones(base_ids)
        q_lat: list[float] = []
        q_fam: list[str] = []

        def group_round(group, qs, budget, min_n):
            def op(q):
                with tr.span("incremental.group_topk"):
                    return group.topk(q.text, K)
            (ans,), (lat,) = run.query_loop(budget, min_n, [(qs, op, 1)])
            q_lat.extend(lat)
            q_fam.extend(qs[j % len(qs)].family for j in range(len(lat)))
            return ans

        # append the delta with positions, then group serving and one group
        # batch
        with tr.span("bench.append"):
            delta, append_s = run.timed(lambda: incremental.append_index(
                spark, in_range(delta_ids), base_dir, n_buckets=CORES, with_positions=True,
            ))
        run.check(delta is not None and check_stats(delta.stats, run.corpus.reference(delta_ids)))
        g1 = incremental.IndexGroup.load(base_dir)
        tr.count("incremental.parts", len(g1.parts))
        # before the deletes the loop serves every batch text (the first
        # batch_size queries), so every batch row is checked; after them a
        # tenth of min_queries more serves the tombstoned group
        qs1 = query_mix(run.rng, run.corpus, ids, sc.batch_size)
        with tr.span("bench.group_queries"):
            ans1 = group_round(g1, qs1, run.seconds / 2, sc.batch_size)
        bq = [(i, qs1[i].text) for i in range(sc.batch_size)]
        with tr.span("bench.batch"):
            rows = run.batch_job(
                lambda qs: batch.batch_query_index_group(spark, g1, qs, k=K), bq
            )
        # these answers are checked before the deletes change the group
        if run.plant_wrong and ans1:
            q0, a0 = ans1[0]
            ans1[0] = (q0, [(d + 1, s) for d, s in (a0 or [(0, 1.0)])])
        with tr.span("bench.check"):
            run.check_bm25_all(ans1, g1.load_term_postings)
            run.check(check_batch(rows, bq, ans1))

        # delete ~1% of the docs, then serve the group again
        with tr.span("bench.delete"):
            g1.delete_docs(tomb)
        tr.count("indexer.tombstones", len(tomb))
        g2 = incremental.IndexGroup.load(base_dir)
        qs2 = query_mix(run.rng, run.corpus, sorted(set(ids) - set(tomb)), sc.min_queries // 10)
        with tr.span("bench.group_queries"):
            ans2 = group_round(g2, qs2, run.seconds / 10, sc.min_queries // 10)

        # compaction folds base + delta + tombstones, postings and
        # positions, into one index
        c_dir = os.path.join(run.work, "compacted")
        with tr.span("bench.compact"):
            cix, _ = run.timed(
                lambda: incremental.compact_index(spark, base_dir, c_dir, n_groups=1)
            )
        if cix is None:
            raise RuntimeError("compaction failed")
        size_bytes = dir_bytes_files(c_dir)[0]
        tr.count("incremental.compact_bytes", size_bytes)

    # ---- checks (outside the timed loop) ----------------------------------
    with tr.span("bench.check"):
        run.check_bm25_all(ans2, g2.load_term_postings)
        cix = indexer.Index.load(c_dir)
        run.check(cix.avgdl == g2.avgdl)
        run.check(check_stats(cix.stats, run.corpus.compacted_reference(ids, tomb)))
        run.check(phrase.positions_usable(c_dir))
        for q, got in ans2:
            run.check(got is not None and same_ranking(wand.query_index(spark, cix, q.text, K), got))

    run.finish_metrics(
        setup_s, (len(delta_ids), append_s), (q_lat, q_fam), size_bytes,
    )
    if tr.enabled:
        run.layer_metrics(
            ["bench.append", "bench.group_queries", "bench.batch", "bench.delete", "bench.compact"],
            {}, len(bq),
        )


WORKLOADS = {"build_serve": build_serve, "ingest": ingest}
