"""BM25 multi-field relevance scoring over the inverted index.

Reproduces the reference's ``multi_match`` with ``most_fields``
(metastore/models.py:88-96): each field is scored independently with
BM25, per-field scores are multiplied by the configured boost
(title^5, owner^2, ownerid^1, readme^2 — metastore/models.py:20-25)
and SUMMED per document. Docs matching no query term score 0 and are
excluded (bool-should semantics).

BM25 per Robertson & Zaragoza 2009 ("The Probabilistic Relevance
Framework: BM25 and Beyond"); Lucene/ES constants k1=1.2, b=0.75 and
idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

Query shape, Spark-first: the analyzed query is a tiny literal list →
``postings.filter(term.isin(...))`` (pushed to the scan of the postings
table; with term-partitioned postings this is partition pruning),
broadcast-join docfreq + doclen, one groupBy(doc_id) sum. No shuffle
of anything corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metastore_spark.search.analysis import analyze
from metastore_spark.search.index import SearchIndex

K1 = 1.2
B = 0.75


def bm25_weight(num_docs: int, avgdl: Column) -> Column:
    """One posting's BM25 weight, idf x saturated tf, over a postings
    row joined with its docfreq (``df``) and doclen (``dl``)."""
    n = float(num_docs)
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / avgdl)
    tf_part = (F.col("tf") * F.lit(K1 + 1.0)) / (F.col("tf") + norm)
    return idf * tf_part


def bm25_scores(
    index: SearchIndex,
    q: str,
    field_boosts: dict[str, float],
    stem: bool = True,
) -> DataFrame:
    """Per-document relevance for query ``q``: (doc_id, score).

    Only documents matching at least one analyzed query term appear.
    """
    terms = analyze(q, stem=stem)
    if not terms:
        return index.postings.select("doc_id").limit(0).withColumn(
            "score", F.lit(0.0)
        )

    boost_expr = F.create_map(
        *[x for f, b in field_boosts.items() for x in (F.lit(f), F.lit(float(b)))]
    )
    avgdl_expr = F.create_map(
        *[
            x
            for f, a in index.avgdl.items()
            for x in (F.lit(f), F.lit(float(a)))
        ]
    )
    matched = (
        index.postings.filter(
            F.col("term").isin(list(set(terms)))
            & F.col("field").isin(list(field_boosts))
        )
        .join(F.broadcast(index.docfreq), ["term", "field"])
        .join(index.doclen, ["doc_id", "field"])
    )
    # repeated query terms multiply their contribution (ES sums each
    # occurrence of the term in the query — pinned by the TF ranking
    # test, tests/test_controllers.py:527-552)
    term_mult = {t: terms.count(t) for t in set(terms)}
    mult_expr = F.create_map(
        *[x for t, m in term_mult.items() for x in (F.lit(t), F.lit(float(m)))]
    )
    contrib = (
        bm25_weight(index.num_docs, avgdl_expr[F.col("field")])
        * boost_expr[F.col("field")]
        * mult_expr[F.col("term")]
    )
    return (
        matched.select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
