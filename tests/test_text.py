"""Text-analysis operator unit tests."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.text import ops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog"),
        (1, "der hund und die katze ist das"),
        (2, "spark spark spark"),
        (3, ""),
        (4, "  padded   whitespace  text  "),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _one(df, col_expr, doc_id):
    return df.filter(F.col("doc_id") == doc_id).select(col_expr.alias("v")).first()["v"]


def test_token_count(docs):
    assert _one(docs, ops.token_count(F.col("text")), 0) == 8
    assert _one(docs, ops.token_count(F.col("text")), 3) == 0
    assert _one(docs, ops.token_count(F.col("text")), 4) == 3


def test_stopword_ratio(docs):
    # 'the','and','the' of 8 tokens
    assert _one(docs, ops.stopword_ratio(F.col("text")), 0) == round(3 / 8, 4)
    assert _one(docs, ops.stopword_ratio(F.col("text")), 2) == 0.0


def test_langid(docs):
    assert _one(docs, ops.langid_expr(F.col("text")), 0) == "en"
    assert _one(docs, ops.langid_expr(F.col("text")), 1) == "de"


def test_fingerprint_normalizes(spark):
    rows = [(0, "Hello  World"), (1, "hello world"), (2, "hello world!")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = [r["fp"] for r in df.select(ops.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]  # punctuation is content


def test_repetition_signals_handcomputed(spark):
    from metastore_spark.queries import REGISTRY
    import metastore_spark.queries_text  # noqa: F401
    import tempfile, os

    # "a b a b a" → 5 tokens, 2 uniq, top token 'a'×3,
    # bigrams: "a b","b a","a b","b a" → top bigram frac 2/4
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "a b a b a", "en", "src9", 9)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        row = (
            REGISTRY["docs_repetition_signals"].fn(spark, d).collect()[0]
        )
    assert row["n_tokens"] == 5
    assert row["uniq_ratio"] == pytest.approx(0.4)
    assert row["top_token_frac"] == pytest.approx(0.6)
    assert row["top_bigram_frac"] == pytest.approx(0.5)


def test_contamination_flags_only_overlapping_docs(spark):
    from metastore_spark.queries import REGISTRY
    import metastore_spark.queries_text  # noqa: F401
    import tempfile, os

    bench_text = "one two three four five six seven"
    clean_text = "alpha beta gamma delta epsilon zeta eta"
    # contaminated doc shares the 5-gram "two three four five six"
    dirty_text = "x two three four five six y"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [
                (1, bench_text, "en", "src0", 1),
                (2, clean_text, "en", "src5", 1),
                (3, dirty_text, "en", "src5", 1),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = REGISTRY["docs_contamination"].fn(spark, d).collect()
    assert [r["doc_id"] for r in rows] == [3]
    assert rows[0]["n_hit"] == 1  # exactly "two three four five six"
    assert rows[0]["n_shingles"] == 3
