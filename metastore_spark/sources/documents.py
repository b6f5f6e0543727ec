"""Document ingestion: the schema-flexible JSON source.

The reference ingests arbitrary nested JSON documents ("returned
document content structure are not defined by this module",
README.md:7). The Spark equivalent keeps BOTH views of every row:

- typed projected columns (declared fields, filterable/pushdown-able)
- the raw document as a JSON string column (``_raw``), so fields that
  weren't declared at ingest remain queryable later via
  get_json_object / from_json without re-ingesting — the dynamic-
  schema contract (SURVEY.md §1.2, risk #3).

The reader is a plain DataFrame source: schema inference is off by
default at scale (pass an explicit schema; inference = an extra full
scan), multiline JSON off (line-splittable files parallelize), and
corrupt records are quarantined to a column instead of failing the
job (permissive mode — ingest at 100 TB always sees bad rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_json_docs(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    keep_raw: bool = True,
) -> DataFrame:
    """JSON-lines document reader with corrupt-row quarantine."""
    reader = (
        spark.read.format("json")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    if schema is not None:
        if isinstance(schema, StructType):
            # copy — StructType.add mutates the caller's schema in place
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                list(schema.fields) + [StructField("_corrupt", StringType())]
            )
            reader = reader.schema(schema)
        else:
            reader = reader.schema(f"{schema}, _corrupt string")
    df = reader.load(path)
    if keep_raw:
        good = [c for c in df.columns if c != "_corrupt"]
        df = df.withColumn(
            "_raw", F.to_json(F.struct(*[F.col(c) for c in good]))
        )
    return df
