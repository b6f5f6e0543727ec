"""Inverted-index build: postings / docfreq / doclen as DataFrames.

The reference delegates retrieval to Elasticsearch's inverted index
(metastore/models.py:146); Spark has no built-in one, so we build the
same three structures ES maintains, as plain DataFrames:

- ``postings``: (term, doc_id, field, tf)   — who contains what
- ``docfreq`` : (term, field, df)           — corpus-global document
  frequency. Computing it over the whole corpus at index time is
  exactly the reference's ``dfs_query_then_fetch``
  (metastore/models.py:141): globally consistent IDF with no
  per-query round-trip.
- ``doclen``  : (doc_id, field, dl) + per-field avgdl — BM25's length
  normalization.

Scale design: the query-time access path to postings is a semi-join
on a handful of terms; docfreq is tiny
(vocabulary-sized) and broadcast at query time; the index build is
one explode + two aggregations per field — partial-agg friendly,
no row ever leaves the JVM except through the Arrow-batched stemmer.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metastore_spark.search.analysis import analyze_udf, analyze_terms_column


@dataclass
class SearchIndex:
    postings: DataFrame  # term, doc_id, field, tf
    docfreq: DataFrame   # term, field, df
    doclen: DataFrame    # doc_id, field, dl
    avgdl: dict[str, float]
    num_docs: int

    def unpersist(self) -> None:
        """Release this index's cached blocks (call when replacing an
        index — e.g. SearchEngine.refresh — or the old blocks linger
        until LRU eviction)."""
        for df in (self.postings, self.docfreq, self.doclen):
            try:
                df.unpersist()
            except Exception:
                pass


def build_index(
    df: DataFrame,
    id_col: str,
    fields: list[str],
    stem: bool = True,
) -> SearchIndex:
    """Analyze ``fields`` of ``df`` and build the inverted index.

    ``stem=True`` uses the Arrow-batched english analyzer (index-time
    cost, like ES analyzing at ingest); ``stem=False`` stays fully
    JVM-side.
    """
    analyzer = analyze_udf if stem else (lambda c: analyze_terms_column(c))

    per_field = []
    for field in fields:
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            analyzer(F.col(field).cast("string")).alias("toks"),
        ).select(
            "doc_id",
            F.lit(field).alias("field"),
            F.coalesce("toks", F.array().cast("array<string>")).alias("toks"),
        )
        per_field.append(toks)
    tokenized = reduce(DataFrame.unionByName, per_field).persist()

    doclen = tokenized.select(
        "doc_id", "field", F.size("toks").alias("dl")
    ).persist()

    flat = tokenized.select(
        "doc_id", "field", F.explode("toks").alias("term")
    )
    postings = (
        flat.groupBy("term", "doc_id", "field")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )

    # (term, doc_id, field) is unique in postings → df is a plain count.
    docfreq = (
        postings.groupBy("term", "field").agg(F.count(F.lit(1)).alias("df"))
    ).persist()

    avgdl_rows = doclen.groupBy("field").agg(F.avg("dl").alias("avgdl")).collect()
    avgdl = {r["field"]: float(r["avgdl"]) for r in avgdl_rows}
    num_docs = df.count()

    # postings/doclen are now materialized in the cache; release the
    # tokenized corpus (the largest frame of the build — holding it
    # for the session's lifetime pressures executor storage for
    # nothing, every consumer reads the three index tables)
    postings.count()
    tokenized.unpersist()

    return SearchIndex(
        postings=postings,
        docfreq=docfreq,
        doclen=doclen,
        avgdl=avgdl,
        num_docs=num_docs,
    )
