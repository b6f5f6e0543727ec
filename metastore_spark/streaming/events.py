"""Structured Streaming ingestion for the events table.

The reference's ``events`` kind is an append-only activity log
(metastore/models.py:27-34) written by external services; the Spark
expression of that is a streaming pipeline:

    readStream (file/kafka source) → normalize → watermark →
    windowed aggregation / dedup → writeStream (table sink)

Everything here also runs in batch mode (the DataFrame code is
identical — Structured Streaming's core design), which is how the
tests validate it: ``trigger(availableNow=True)`` drains the source
and stops, and results must equal the batch computation.

Scale notes: the event stream partitions by source; the windowed
aggregate shuffles by (window, key) with watermark-bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from metastore_spark.streaming.gens import (
    _gen_below,
    _latest_gen,
    _prune_gens,
)
from metastore_spark.ts import ts_us

# Canonical wire shape (current testdata: parquet timestamp[us] →
# TIMESTAMP_NTZ). Used as the fallback when the source directory has
# no files to infer from; read_event_stream prefers the physical
# schema of the files actually present, so a legacy bigint-nanos
# generation still streams correctly.
EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events directory (parquet).

    Streaming file sources need an explicit schema; rather than
    hard-coding one physical encoding of ``ts``, peek at the parquet
    footers with a batch reader (metadata-only, no row reads) and
    stream with whatever type is really on disk —
    :func:`normalize_events` adapts downstream.
    """
    import os

    glob = None
    if os.path.isfile(path):
        # file source wants a directory; narrow a single-file source
        # with a glob filter on its parent
        glob = os.path.basename(path)
        path = os.path.dirname(path)
    try:
        probe = spark.read.format("parquet")
        if glob:
            probe = probe.option("pathGlobFilter", glob)
        schema = probe.load(path).schema
    except Exception:
        schema = EVENT_STREAM_SCHEMA
    reader = spark.readStream.schema(schema).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def event_time_col(stream: DataFrame, col: str = "ts") -> F.Column:
    """TIMESTAMP (instant) event-time whose epoch-micros equal the
    wall-clock micros of ``ts`` — watermarks require TimestampType,
    and building the instant from the wall-clock micros keeps window
    boundaries and unix_micros projections equal to the DuckDB
    oracle's naive-timestamp arithmetic for ANY session timezone."""
    dt = stream.schema[col].dataType
    if isinstance(dt, TimestampType):
        return F.col(col)
    if isinstance(dt, TimestampNTZType):
        return F.timestamp_micros(ts_us(col))
    # legacy bigint nanos
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def normalize_events(stream: DataFrame) -> DataFrame:
    """Project the wire shape into the query shape: real event_time
    timestamp (watermark-capable), typed columns preserved."""
    return stream.withColumn("event_time", event_time_col(stream))


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with
    late-data handling: rows later than ``watermark`` are dropped and
    their window state is reclaimed — bounded memory forever.

    ``watermark=None`` skips the watermark entirely — the right call
    for a complete-mode availableNow drain, where all window state is
    retained anyway and a watermark could drop pre-horizon history if
    the source arrives as multiple files/micro-batches."""
    normalized = normalize_events(stream)
    if watermark is not None:
        normalized = normalized.withWatermark("event_time", watermark)
    return (
        normalized
        .groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_to_memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drain all available input into an in-memory table and stop —
    the availableNow pattern used for incremental index refresh
    (SURVEY.md §7 M5) and for tests."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def cdc_apply_stream(
    spark: SparkSession,
    src_path: str,
    state_root: str,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Streaming CDC APPLY: maintain a latest-state-per-key table from
    an append-only change feed, via foreachBatch generation swapping.

    Each micro-batch compacts to its per-user latest row (max_by over
    the (event-time, event_id) total order), merges with the newest
    state generation below its batch id, and writes ``gen=<batch_id>``
    (streaming/gens.py) — readers always open the highest complete
    generation, the writer never overwrites the files it is reading
    (the atomic-swap discipline a real lakehouse MERGE INTO encodes),
    and a replayed batch rebuilds from the same predecessor. Because
    the per-key latest under a total order is associative over
    batches, the final state equals the batch computation regardless
    of how the feed splits into micro-batches. Returns the final
    generation's path.

    At scale: each merge shuffles |state-keys| + |batch-keys| rows on
    the key — the state table would be bucketed by key so the merge
    co-locates. Only the newest generation and its predecessor are
    kept.
    """
    import os

    stream = read_event_stream(spark, src_path, max_files_per_trigger)

    def merge(batch_df, batch_id: int) -> None:
        # event_time_col adapts to the physical ts encoding; its
        # epoch-micros are the canonical wall-clock micros
        b = batch_df.withColumn(
            "_us", F.unix_micros(event_time_col(batch_df))
        )
        ord_col = F.struct(F.col("_us").alias("t"), F.col("event_id").alias("e"))
        payload = F.struct(
            "event_id", F.col("_us").alias("ts_us"), "event_type", "value"
        )
        latest = b.groupBy("user_id").agg(
            F.max_by(payload, ord_col).alias("st")
        )
        prev = _gen_below(state_root, batch_id)
        if prev:
            cur = spark.read.parquet(prev)
            # state rows re-enter the same max_by under the same total
            # order — idempotent, associative merge
            reord = F.struct(
                F.col("st.ts_us").alias("t"), F.col("st.event_id").alias("e")
            )
            latest = (
                cur.unionByName(latest)
                .groupBy("user_id")
                .agg(F.max_by(F.col("st"), reord).alias("st"))
            )
        latest.write.mode("overwrite").parquet(
            os.path.join(state_root, f"gen={batch_id}")
        )
        _prune_gens(state_root, batch_id)

    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(state_root, "_checkpoint")
        )
        .start()
    )
    q.awaitTermination()
    final = _latest_gen(state_root)
    return "" if final is None else os.path.join(state_root, f"gen={final}")
