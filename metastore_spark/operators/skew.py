"""Skew mitigation: the salted join.

AQE's skew-join splitting handles most cases at runtime
(spark.sql.adaptive.skewJoin.enabled — on in this engine's sessions);
explicit salting remains the tool when one key dominates so hard that
even split partitions bottleneck (the classic 'null key' / 'empty
document' / boilerplate-shingle problem in dedup pipelines).

Salted join: replicate the small side R times, split the big side's
hot keys across R salts — every salt bucket is an independent task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's keys salted across ``num_salts``
    buckets and the small side replicated to match. The join key
    becomes (key, salt) — a hot key's rows spread over num_salts
    reducers instead of one.

    Only inner and left joins are sound: the replicated small side
    would emit unmatched rows once per salt under right/full outer.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "the replicated small side duplicates unmatched rows under "
            "right/full outer semantics"
        )
    big_salted = big.withColumn(
        "_salt", (F.rand(seed=42) * num_salts).cast("int")
    )
    small_salted = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(num_salts).select(
                F.col("id").cast("int").alias("_salt")
            )
        )
    )
    out = big_salted.join(small_salted, [key, "_salt"], how)
    return out.drop("_salt")
