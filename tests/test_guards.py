"""Structural guards: the packed row formats have one owner (codec.py), the
side-index commit protocol has one owner (phrase.py), and every layer
boundary the benchmark's traced run wraps still exists under the name it
looks up."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: codec internals that spell out a byte layout; leading underscores are
#: ignored, so a private copy under the same name counts too
CODEC_INTERNALS = {
    "varbyte_decode", "varbyte_encode_arr", "delta_decode", "delta_encode_grouped",
    "decode_ids_blocked", "segmented_cumsum",
}

#: the side indexes' on-disk names; only phrase.py's kind table spells them
SIDE_INDEX_FILES = ("positions_meta.json", "bigram_meta.json", "bigram_heads.parquet")


def _engine_files() -> list[pathlib.Path]:
    return sorted(ROOT.glob("olaf_spark/**/*.py")) + sorted(ROOT.glob("jobs/*.py"))


def _is_internal(name: str) -> bool:
    name = name.lstrip("_")
    return name in CODEC_INTERNALS or name.startswith("encode_grouped")


def test_codec_is_the_only_owner_of_the_row_formats():
    """No module of olaf_spark/ or jobs/ other than codec.py (and the
    oracle, which never touches packed rows) imports, names or calls the
    codec's layout internals — every other reader and writer goes through
    codec's row-level functions."""
    files = _engine_files()
    assert len(files) > 20
    hits = []
    for path in files:
        if path.name in ("codec.py", "oracle.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.FunctionDef):
                names = [node.name]
            else:
                continue
            hits += [
                f"{path.relative_to(ROOT)}:{node.lineno} {n}" for n in names if _is_internal(n)
            ]
    assert hits == []


def test_phrase_is_the_only_owner_of_the_side_index_files():
    """No string constant (docstrings included) of olaf_spark/ or jobs/
    outside phrase.py names a side-index marker or sidecar — every other
    module reads, builds, gates, appends and folds side indexes through
    phrase.py's SideKind table and functions."""
    files = _engine_files()
    assert len(files) > 20
    hits = []
    for path in files:
        if path.name == "phrase.py" and path.parent.name == "olaf_spark":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                hits += [
                    f"{path.relative_to(ROOT)}:{node.lineno} {name}"
                    for name in SIDE_INDEX_FILES if name in node.value
                ]
    assert hits == []


def test_benchmark_layer_targets_resolve(spark, monkeypatch, tmp_path):
    """perfbench's traced run wraps each (owner, attr) of
    workloads.layer_targets() by getattr; a rename would silently drop a
    layer from the trace. Every target must resolve, and the private fetch
    boundary (wrapped only while it exists) must be among them. Each
    wrapped serving target is then called on a tiny index and its result
    fed to its on_result callback, so a changed return type cannot break
    the traced run either."""
    monkeypatch.syspath_prepend(str(ROOT / "perfbench"))
    import workloads

    from olaf_spark import incremental, wand
    from olaf_spark.config import EngineConfig
    from olaf_spark.indexer import build_index

    targets = workloads.layer_targets()
    for owner, attr, span, _spark_call, _on_result in targets:
        assert callable(getattr(owner, attr, None)), (owner, attr, span)
    spans = {t[2] for t in targets}
    assert {
        "wand.load_term_postings", "wand.score", "wand.blockmax_topk",
        "incremental.group_fetch", "wand.fetch",
    } <= spans

    docs = [(i, f"w{i % 3} w{i % 5} common") for i in range(1, 41)]
    pages = spark.createDataFrame(docs, "doc_id long, text string")
    ix = build_index(spark, pages, str(tmp_path / "ix"), EngineConfig(block_size=4), n_buckets=2)
    group = incremental.IndexGroup([ix])
    q = "w1 w2 common"
    serving = {
        "wand.fetch": lambda: wand._fetch_posting_rows(group, q),
        "wand.load_term_postings": lambda: wand.load_term_postings(None, ix, q),
        "wand.score": lambda: wand.vectorized_topk(wand.load_term_postings(None, ix, q), 5),
        "incremental.group_fetch": lambda: group.load_term_postings_raw(q),
        "wand.blockmax_topk": lambda: incremental.blockmax_topk(
            group.load_term_postings_raw(q), 5, ix.cfg, ix.avgdl
        ),
        "indexer.build_index": lambda: ix,
    }

    class Counts:
        def __init__(self):
            self.counts: dict[str, float] = {}

        def count(self, name, n=1):
            self.counts[name] = self.counts.get(name, 0) + n

    tr = Counts()
    called = set()
    for _owner, _attr, span, _spark_call, on_result in targets:
        if span in serving:
            res = serving[span]()
            called.add(span)
            if on_result is not None:
                on_result(tr, res)
    assert called == set(serving)
    assert tr.counts["wand.rows_fetched"] >= 3  # every term has a row
    assert tr.counts["wand.postings_decoded"] == sum(
        t in text.split() for _, text in docs for t in q.split()
    )
    assert tr.counts["indexer.postings"] > 0
