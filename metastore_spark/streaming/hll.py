"""Streaming HLL register maintenance — a continuously-fed events
source updating the mergeable distinct-count sketch across
micro-batches.

The register MAX is associative, commutative, and idempotent, so the
drained state is provably independent of how the feed was batched,
ordered, or replayed — the property that makes HLL the sketch of
choice for streaming cardinality. The store follows the
generation-swap discipline every streaming store shares
(streaming/gens.py): each batch writes registers to ``gen=<batch_id>``
after merging with the newest generation BELOW its id, so an
at-least-once replay rebuilds from the same predecessor the first
attempt saw and converges to the identical state.

After the drain, the estimate over the final registers must equal the
batch computation on the raw corpus (the ``events_user_hll_registers``
register CTEs) — which is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from metastore_spark.operators import hll
from metastore_spark.streaming.gens import (
    _gen_below,
    _latest_gen,
    _prune_gens,
)


def apply_hll_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    reg_root: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> None:
    """One micro-batch: batch registers merged (per-bucket MAX) with
    the newest generation below this batch id; module-level so tests
    can REPLAY a batch directly and assert idempotence."""
    delta = hll.day_registers(batch_df, ts_col, key_col)
    prev = _gen_below(reg_root, batch_id)
    if prev:
        merged = hll.merge_registers(spark.read.parquet(prev), delta)
    else:
        merged = delta
    merged.write.mode("overwrite").parquet(
        os.path.join(reg_root, f"gen={batch_id}")
    )
    _prune_gens(reg_root, batch_id)


def hll_ingest_stream(
    spark: SparkSession,
    src_path: str,
    state_root: str,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Drain ``src_path`` (availableNow) through register maintenance;
    returns the final registers generation's path."""
    reg_root = os.path.join(state_root, "registers")
    schema = spark.read.parquet(src_path).schema

    def step(batch_df: DataFrame, batch_id: int) -> None:
        apply_hll_batch(spark, batch_df, batch_id, reg_root)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(src_path)
        .writeStream.foreachBatch(step)
        .option(
            "checkpointLocation", os.path.join(state_root, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = _latest_gen(reg_root)
    if final is None:
        raise RuntimeError("hll_ingest_stream: no registers generation")
    return os.path.join(reg_root, f"gen={final}")


def apply_histogram_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    reg_root: str,
    bucket_fn,
) -> None:
    """SUM-merged counterpart of apply_hll_batch for the quantile
    log-bucket histogram: per-batch (d, b, cnt) partials ADD into the
    newest generation below this batch id. Addition is associative
    and commutative but NOT idempotent — replay safety comes from the
    generation discipline alone (a replayed batch rebuilds from the
    same predecessor it saw first time), exactly the cdc_apply /
    neardup contract."""
    from pyspark.sql import functions as F

    delta = (
        bucket_fn(batch_df)
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prev = _gen_below(reg_root, batch_id)
    if prev:
        merged = (
            spark.read.parquet(prev)
            .unionByName(delta)
            .groupBy("d", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = delta
    merged.write.mode("overwrite").parquet(
        os.path.join(reg_root, f"gen={batch_id}")
    )
    _prune_gens(reg_root, batch_id)


def histogram_ingest_stream(
    spark: SparkSession,
    src_path: str,
    state_root: str,
    bucket_fn,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Drain ``src_path`` (availableNow) through histogram
    maintenance; returns the final generation's path."""
    reg_root = os.path.join(state_root, "hist")
    schema = spark.read.parquet(src_path).schema

    def step(batch_df: DataFrame, batch_id: int) -> None:
        apply_histogram_batch(spark, batch_df, batch_id, reg_root, bucket_fn)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(src_path)
        .writeStream.foreachBatch(step)
        .option(
            "checkpointLocation", os.path.join(state_root, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = _latest_gen(reg_root)
    if final is None:
        raise RuntimeError("histogram_ingest_stream: no generation")
    return os.path.join(reg_root, f"gen={final}")
