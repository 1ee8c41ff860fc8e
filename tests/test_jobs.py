"""End-to-end spark-submit job scripts (jobs/build_index_job.py,
jobs/query_job.py) driven as subprocesses — the deployment surface the
north_rule requires ("runs via spark-submit --py-files"): build an index
from the html column of a pages table, query it, and check the results
against the library path."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from olaf_spark.synth import gen_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_build_and_query_jobs_end_to_end(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    gen_pages(spark, 200, seed=13).write.parquet(pages_dir)
    qfile = tmp_path / "q.txt"
    qfile.write_text("w1 w50 w1000\nneedle97\n")

    env = dict(os.environ, PYTHONPATH=REPO)
    ix_dir = str(tmp_path / "ix")
    r1 = subprocess.run(
        [sys.executable, f"{REPO}/jobs/build_index_job.py",
         "--pages", pages_dir, "--index", ix_dir, "--from-html", "--n-buckets", "4"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    metrics = json.loads([l for l in r1.stdout.splitlines() if l.startswith("{")][0])
    assert metrics["n_docs"] == 200 and metrics["n_postings"] > 0

    r2 = subprocess.run(
        [sys.executable, f"{REPO}/jobs/query_job.py",
         "--index", ix_dir, "--queries", str(qfile), "--k", "5"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    rows = [json.loads(l) for l in r2.stdout.splitlines() if l.startswith("{")]
    assert rows and {"query_id", "rank", "doc_id", "score"} <= set(rows[0])
    # needle97 is planted in doc whose url-hash the job derived; the library
    # path over the job-built index must agree with the job's own output
    from olaf_spark.indexer import Index
    from olaf_spark.wand import query_index

    ix = Index.load(ix_dir)
    lib = query_index(spark, ix, "needle97", k=5)
    job = [(r["doc_id"], r["score"]) for r in rows if r["query_id"] == 1]
    assert [d for d, _ in lib] == [d for d, _ in job]

    # distributed batch path: one Spark job for the whole query file,
    # rank-identical to the driver-side scorer's output
    r3 = subprocess.run(
        [sys.executable, f"{REPO}/jobs/query_job.py",
         "--index", ix_dir, "--queries", str(qfile), "--k", "5",
         "--method", "distributed"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    drows = [json.loads(l) for l in r3.stdout.splitlines() if l.startswith("{")]
    dist = {}
    for r in sorted(drows, key=lambda r: (r["query_id"], r["rank"])):
        dist.setdefault(r["query_id"], []).append(r["doc_id"])
    serial = {}
    for r in rows:
        serial.setdefault(r["query_id"], []).append(r["doc_id"])
    assert dist == serial


@pytest.mark.slow
def test_ann_jobs_end_to_end(spark, tmp_path):
    """ANN index lifecycle through the spark-submit surface: build half,
    append half, batch-query the live group, delete a hit, compact, and
    check the compacted answers equal the live group's."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(120)]
    emb_a = str(tmp_path / "ea")
    emb_b = str(tmp_path / "eb")
    spark.createDataFrame(
        [v for v in vecs if v[0] % 2 == 0], "vec_id long, embedding array<double>"
    ).write.parquet(emb_a)
    spark.createDataFrame(
        [v for v in vecs if v[0] % 2 == 1], "vec_id long, embedding array<double>"
    ).write.parquet(emb_b)
    qfile = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, vecs[0][1]), (1, vecs[1][1])], "query_id long, embedding array<double>"
    ).write.parquet(qfile)

    env = dict(os.environ, PYTHONPATH=REPO)
    ix = str(tmp_path / "ann")

    def run(args_):
        r = subprocess.run(
            [sys.executable, f"{REPO}/jobs/ann_job.py"] + args_,
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert r.returncode == 0, (args_, r.stderr[-2000:])
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]

    b = run(["build", "--embeddings", emb_a, "--index", ix, "--n-planes", "4"])[0]
    assert b["n_vectors"] == 60
    a = run(["append", "--embeddings", emb_b, "--index", ix])[0]
    assert a["n_vectors"] == 60
    live = run(["query", "--index", ix, "--queries", qfile, "--k", "5"])
    assert live and {r["query_id"] for r in live} == {0, 1}
    victim = live[0]["vec_id"]
    d = run(["delete", "--index", ix, "--vec-ids", str(victim)])[0]
    assert d["tombstones_now"] == 1
    live2 = run(["query", "--index", ix, "--queries", qfile, "--k", "5"])
    assert victim not in {r["vec_id"] for r in live2}
    out = str(tmp_path / "ann2")
    run(["compact", "--index", ix, "--out", out])
    post = run(["query", "--index", out, "--queries", qfile, "--k", "5"])
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["vec_id"], r["cosine_sim"]) for r in rows
    )
    assert key(post) == key(live2)


def test_ann_job_ivf_layout_end_to_end(spark, tmp_path):
    """The same lifecycle through --layout ivf: build (learned centroids),
    append (frozen centroids), batch query, delete (layout-agnostic
    tombstones), compact, and the compacted answers equal the live
    group's. Queried at --n-probes = --n-centroids (exact), so ranks are
    deterministic across the compaction."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(120)]
    emb_a, emb_b = str(tmp_path / "ea"), str(tmp_path / "eb")
    spark.createDataFrame(
        [v for v in vecs if v[0] % 2 == 0], "vec_id long, embedding array<double>"
    ).write.parquet(emb_a)
    spark.createDataFrame(
        [v for v in vecs if v[0] % 2 == 1], "vec_id long, embedding array<double>"
    ).write.parquet(emb_b)
    qfile = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, vecs[0][1])], "query_id long, embedding array<double>"
    ).write.parquet(qfile)

    env = dict(os.environ, PYTHONPATH=REPO)
    ix = str(tmp_path / "ivf")

    def run(args_):
        r = subprocess.run(
            [sys.executable, f"{REPO}/jobs/ann_job.py"] + args_,
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert r.returncode == 0, (args_, r.stderr[-2000:])
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]

    b = run(["build", "--embeddings", emb_a, "--index", ix,
             "--layout", "ivf", "--n-centroids", "4"])[0]
    assert b["n_vectors"] == 60 and b["layout"] == "ivf"
    run(["append", "--embeddings", emb_b, "--index", ix, "--layout", "ivf"])
    q_args = ["query", "--index", ix, "--queries", qfile,
              "--layout", "ivf", "--k", "5", "--n-probes", "4"]
    live = run(q_args)
    assert len(live) == 5
    victim = live[0]["vec_id"]
    run(["delete", "--index", ix, "--vec-ids", str(victim)])
    live2 = run(q_args)
    assert victim not in {r["vec_id"] for r in live2}
    out = str(tmp_path / "ivf2")
    run(["compact", "--index", ix, "--out", out, "--layout", "ivf"])
    post = run(["query", "--index", out, "--queries", qfile,
                "--layout", "ivf", "--k", "5", "--n-probes", "4"])
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["vec_id"], r["cosine_sim"]) for r in rows
    )
    assert key(post) == key(live2)


@pytest.mark.slow
def test_maintenance_cycle_jobs_end_to_end(spark, tmp_path):
    """The full operator story through spark-submit entry points: build half
    the corpus, APPEND the other half (maintain_job), query the live group
    (query_job auto-detects deltas, driver-side AND distributed), COMPACT
    (maintain_job), and check the compacted answers equal the group's."""
    pages = gen_pages(spark, 200, seed=13)
    half_a, half_b = str(tmp_path / "pa"), str(tmp_path / "pb")
    pages.where("doc_id % 2 = 0").write.parquet(half_a)
    pages.where("doc_id % 2 = 1").write.parquet(half_b)
    qfile = tmp_path / "q.txt"
    qfile.write_text("w2 w17 w300\nneedle97\n")
    env = dict(os.environ, PYTHONPATH=REPO)
    ix_dir = str(tmp_path / "ix")

    def run(args_):
        r = subprocess.run(
            [sys.executable] + args_, capture_output=True, text=True, env=env, timeout=600
        )
        assert r.returncode == 0, (args_, r.stderr[-2000:])
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]

    run([f"{REPO}/jobs/build_index_job.py", "--pages", half_a, "--index", ix_dir,
         "--from-html", "--n-buckets", "4"])
    # positional rows on the base (positions subcommand), then an append
    # that CARRIES its own positions — phrase serving stays live throughout
    run([f"{REPO}/jobs/maintain_job.py", "positions", "--index", ix_dir,
         "--pages", half_a, "--from-html", "--n-buckets", "4"])
    b = run([f"{REPO}/jobs/maintain_job.py", "bigrams", "--index", ix_dir,
             "--pages", half_a, "--from-html", "--n-buckets", "4",
             "--min-df", "5"])[0]
    assert b["cmd"] == "bigrams" and b["min_df"] == 5 and b["n_heads"] > 0
    m = run([f"{REPO}/jobs/maintain_job.py", "append", "--index", ix_dir,
             "--pages", half_b, "--from-html", "--n-buckets", "4",
             "--with-positions", "--with-bigrams"])[0]
    assert m["n_docs"] == 100 and m["cmd"] == "append"

    grp = run([f"{REPO}/jobs/query_job.py", "--index", ix_dir,
               "--queries", str(qfile), "--k", "5", "--method", "blockmax"])
    dist = run([f"{REPO}/jobs/query_job.py", "--index", ix_dir,
                "--queries", str(qfile), "--k", "5", "--method", "distributed"])
    # the referent scorer serves the live group too (one read path)
    exh = run([f"{REPO}/jobs/query_job.py", "--index", ix_dir,
               "--queries", str(qfile), "--k", "5", "--method", "exhaustive"])
    by_q = lambda rows: {  # noqa: E731
        q: [r["doc_id"] for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"]))
            if r["query_id"] == q]
        for q in {r["query_id"] for r in rows}
    }
    assert by_q(grp) == by_q(dist)

    # phrase query over the LIVE GROUP through the job surface
    qfile3 = tmp_path / "q3.txt"
    qfile3.write_text("needle97\n")
    ph_live = run([f"{REPO}/jobs/query_job.py", "--index", ix_dir,
                   "--queries", str(qfile3), "--k", "3", "--phrase"])
    needle_doc = by_q(grp)[1][0]
    assert ph_live and ph_live[0]["doc_id"] == needle_doc and ph_live[0]["score"] == 1.0

    out_dir = str(tmp_path / "ix2")
    c = run([f"{REPO}/jobs/maintain_job.py", "compact", "--index", ix_dir,
             "--out", out_dir, "--n-groups", "2"])[0]
    assert c["n_docs"] == 200 and c["compacted_from"] == 2
    post = run([f"{REPO}/jobs/query_job.py", "--index", out_dir,
                "--queries", str(qfile), "--k", "5", "--method", "wand"])
    assert by_q(post) == by_q(grp)  # compaction changes no answer
    scored = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert len(scored(exh)) == len(scored(post))
    for (eq, er, ed, es), (pq, pr, pd_, ps) in zip(scored(exh), scored(post)):
        assert (eq, er, ed) == (pq, pr, pd_)
        assert math.isclose(es, ps, rel_tol=1e-12), (es, ps)

    # fuzzy flag: a typo'd needle query still finds its doc via the ED-1 ball
    qfile2 = tmp_path / "q2.txt"
    qfile2.write_text("nedle97\n")
    fz = run([f"{REPO}/jobs/query_job.py", "--index", out_dir,
              "--queries", str(qfile2), "--k", "5", "--fuzzy"])
    assert fz and fz[0]["doc_id"] == needle_doc

    # phrase queries answer IMMEDIATELY after compact — the positional side
    # index was folded in the same job, NO manual positions step — and the
    # distributed batch phrase path agrees with driver-side serving
    ph = run([f"{REPO}/jobs/query_job.py", "--index", out_dir,
              "--queries", str(qfile3), "--k", "3", "--phrase"])
    assert ph == ph_live, (ph, ph_live)
    ph_d = run([f"{REPO}/jobs/query_job.py", "--index", out_dir,
                "--queries", str(qfile3), "--k", "3", "--phrase",
                "--method", "distributed"])
    norm = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert norm(ph_d) == norm(ph)

    # the bigram side index rode the compaction fold too: the compacted dir
    # serves head-head pairs from the pair fast path (use_bigrams=True
    # would raise if the fold hadn't committed), same answer as the group
    from olaf_spark.bigram import bigrams_usable
    from olaf_spark.phrase import phrase_topk

    assert bigrams_usable(out_dir)
    want_hh = phrase_topk(ix_dir, "w2 w17", k=5)
    assert phrase_topk(out_dir, "w2 w17", k=5, use_bigrams=True) == want_hh
