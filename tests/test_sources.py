"""Source reader tests: JSON docs (typed + raw + corrupt quarantine),
salted join equivalence."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.operators.skew import salted_join
from metastore_spark.sources.documents import read_json_docs


def test_json_docs_typed_and_raw(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "title": "alpha", "extra": {"nested": "x"}}\n'
        '{"id": 2, "title": "beta", "extra": {"nested": "y"}}\n'
        "this is not json\n"
    )
    df = read_json_docs(
        spark, str(p), schema="id bigint, title string, extra struct<nested:string>"
    ).cache()  # Spark requires caching before corrupt-column-only queries
    good = df.filter(F.col("_corrupt").isNull())
    assert good.count() == 2
    assert df.filter(F.col("_corrupt").isNotNull()).count() == 1

    # late-bound access to a field through the raw JSON column
    out = good.select(F.get_json_object("_raw", "$.extra.nested").alias("v"))
    assert {r["v"] for r in out.collect()} == {"x", "y"}


def test_salted_join_equals_plain(spark):
    big = spark.range(2000).select(
        (F.when(F.col("id") < 1500, 1).otherwise(F.col("id") % 10)).alias("k"),
        F.col("id").alias("v"),
    )  # key 1 is hot (75% of rows)
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(10)], "k bigint, name string"
    )
    plain = big.join(small, "k").select("v", "name")
    salted = salted_join(big, small.withColumn("k", F.col("k")), "k").select(
        "v", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
