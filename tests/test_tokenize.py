"""Tokenizer: Spark DataFrame path vs pure-Python twin (Olaf mem-DB pattern).

Mirrors the reference's hand-computed max-filter window tests
(tests/olaf_tests.c:79-114): small fixed inputs, exact expected output.
"""

from __future__ import annotations

from olaf_spark.config import EngineConfig
from olaf_spark.tokenize import doc_lengths_df, term_freqs_df, tokenize_py, tokens_df

CASES = [
    (0, "Hello, World! 42"),
    (1, "the the THE tHe"),
    (2, ""),
    (3, "  --- ,,, !!!  "),
    (4, "a1b2 c-d e_f"),  # '_' is not [a-z0-9] -> splits
    (5, "trailing punctuation!"),
    (6, "unicode café naïve 中文 mixed"),
]


def test_hand_computed():
    assert tokenize_py("Hello, World! 42") == ["hello", "world", "42"]
    assert tokenize_py("") == []
    assert tokenize_py("  --- ,,, ") == []
    assert tokenize_py("a1b2 c-d e_f") == ["a1b2", "c", "d", "e", "f"]


def test_spark_matches_python(spark):
    df = spark.createDataFrame(CASES, "doc_id long, text string")
    got = {
        (r["doc_id"], r["term"])
        for r in tokens_df(df).collect()
    }
    want = set()
    for doc_id, text in CASES:
        for t in tokenize_py(text):
            want.add((doc_id, t))
    # tokens_df explodes duplicates; compare as multisets via term_freqs
    tf_got = {(r["doc_id"], r["term"]): r["tf"] for r in term_freqs_df(df).collect()}
    tf_want = {}
    for doc_id, text in CASES:
        for t in tokenize_py(text):
            tf_want[(doc_id, t)] = tf_want.get((doc_id, t), 0) + 1
    assert tf_got == tf_want
    assert got == want


def test_doc_lengths(spark):
    df = spark.createDataFrame(CASES, "doc_id long, text string")
    got = {r["doc_id"]: r["doc_len"] for r in doc_lengths_df(df).collect()}
    want = {doc_id: len(tokenize_py(text)) for doc_id, text in CASES}
    assert got == want


def test_min_token_len_filter(spark):
    cfg = EngineConfig(min_token_len=2)
    assert tokenize_py("a bb ccc", cfg) == ["bb", "ccc"]
    df = spark.createDataFrame([(0, "a bb ccc")], "doc_id long, text string")
    got = sorted(r["term"] for r in tokens_df(df, cfg=cfg).collect())
    assert got == ["bb", "ccc"]


#: lowercase context cases: final sigma, dotted capital I, the Kelvin sign
#: (lowercases to ASCII 'k'), sharp s in both cases, ligatures
CONTEXT_CASES = [
    "ΟΔΟΣ ΟΔΟΣΑ Σ σΣ ς",
    "İstanbul İI iİ DİYARBAKIR",
    "Kelvin 5K K",
    "straße STRASSE ẞe ß",
    "ﬁle ﬀ ﬃx aﬆb",
]


def _all_code_point_rows(per_row=512):
    """Every non-surrogate code point, each between two ASCII letters so a
    code point that lowercases to [a-z0-9] joins them into one token."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    return [
        " ".join(f"x{chr(c)}y" for c in cps[i:i + per_row])
        for i in range(0, len(cps), per_row)
    ]


def test_jvm_tokens_match_python_with_and_without_icu(spark):
    """The JVM tokenizer (tokens_array: Spark `lower` + split) gives the
    same tokens as tokenize_py over every code point and the context cases,
    whether `lower` maps case through ICU or through the JDK. Sessions run
    with ICU off (olaf_spark.session) only because this holds."""
    from pyspark.sql import functions as F

    from olaf_spark.session import ICU_CASE_MAPPINGS
    from olaf_spark.tokenize import tokens_array

    texts = _all_code_point_rows() + CONTEXT_CASES
    assert len(texts) < 3000
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    want = [" ".join(tokenize_py(t)) for t in texts]
    prev = spark.conf.get(ICU_CASE_MAPPINGS)
    try:
        for icu in ("true", "false"):
            spark.conf.set(ICU_CASE_MAPPINGS, icu)
            rows = df.select(
                "doc_id", F.concat_ws(" ", tokens_array(F.col("text"))).alias("toks")
            ).collect()
            got = [r["toks"] for r in sorted(rows, key=lambda r: r["doc_id"])]
            bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
            assert not bad, (icu, [texts[i][:80] for i in bad[:3]])
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, prev)
    assert tokenize_py(CONTEXT_CASES[2]) == ["kelvin", "5k", "k"]


def test_get_spark_lowercases_without_icu(spark):
    from olaf_spark.session import ICU_CASE_MAPPINGS

    lang = spark._jvm.java.util.Locale.getDefault().getLanguage()
    want = "true" if lang in ("tr", "az", "lt") else "false"
    assert spark.conf.get(ICU_CASE_MAPPINGS) == want
