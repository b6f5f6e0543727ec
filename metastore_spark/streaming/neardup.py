"""Streaming near-duplicate ingest — MinHash-LSH admission control
over a continuously-fed document corpus.

Every production training-data pipeline ingests continuously, and
near-dup state must persist ACROSS batches: a document arriving today
is a duplicate of one ingested last month. This operator maintains two
stores under ``foreachBatch``:

- **signature store** (append-only parquet): (doc_id, sig, sset) for
  every document ever seen — the minhash signature for LSH candidate
  generation and the shingle set for exact-Jaccard verification. At
  100 TB this table is bucketed by band hash so the delta×store join
  co-locates (the local demo rereads the flat store).
- **labels table** (generation-swapped, same atomic-swap discipline as
  ``cdc_apply_stream``): (doc_id, dup_of_history). Generations matter
  because labels are RETROACTIVE: when a pair (lo, hi) verifies, the
  HIGHER id is flagged even if it was admitted in an earlier batch —
  that is what makes the final state independent of how the feed is
  batched or ordered.

Contract (order- and batching-independent, exactly mirrorable in
batch SQL): after the stream drains,

    dup_of_history(d)  ⇔  ∃ d' with d'.doc_id < d.doc_id
                           and jaccard₃(d', d) ≥ threshold

LSH only PRUNES candidate generation — at threshold 0.8 with 64
permutations in 32 bands the miss probability per qualifying pair is
(1 − j²)³² ≈ 4e-15 (the `dedup_jaccard_verified` argument), which is
why the oracle can be the exhaustive exact-pair join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark.dedup import ops as dd
from metastore_spark.streaming.gens import (
    _gen_below,
    _latest_gen,
    _prune_gens,
)


def apply_neardup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    sig_store: str,
    labels_root: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.8,
) -> None:
    """One micro-batch of near-dup admission — module-level so tests
    can REPLAY a batch directly and assert idempotence.

    Replay-safe by construction (foreachBatch is at-least-once): the
    signature delta overwrites a batch_id-keyed subdir, the labels
    generation IS the batch_id and rebuilds from the newest generation
    BELOW it (the same predecessor the first attempt saw), and the
    merge dedups on doc_id — a crash between any write and the
    checkpoint commit replays to the identical state.
    """
    batch = batch_df.select("doc_id", "lang", "source", "text")
    sigs = dd.minhash_signatures(batch, "text", "doc_id", num_perm, k)
    ssets = (
        dd.shingle_stream(batch, "text", "doc_id", k)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sset"))
    )
    delta = sigs.join(ssets, "doc_id").persist()
    prior = [
        os.path.join(sig_store, d)
        for d in (os.listdir(sig_store) if os.path.isdir(sig_store) else [])
        if d.startswith("batch=") and d != f"batch={batch_id}"
    ]
    allsigs = (
        spark.read.parquet(*prior).unionByName(delta) if prior else delta
    )
    # candidates: batch bands × (store ∪ batch) bands — never a
    # store self-join; orientation (lo < hi) decides who is the
    # duplicate, so arrival order never matters
    ba = dd.band_keys(delta, "doc_id", "sig", bands, num_perm).alias("a")
    bb = dd.band_keys(allsigs, "doc_id", "sig", bands, num_perm).alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("lo"),
            F.greatest("a.doc_id", "b.doc_id").alias("hi"),
        )
        .distinct()
    )
    sl = allsigs.select(F.col("doc_id").alias("lo"), F.col("sset").alias("s_lo"))
    sh = allsigs.select(F.col("doc_id").alias("hi"), F.col("sset").alias("s_hi"))
    jac = F.size(F.array_intersect("s_lo", "s_hi")).cast(
        "double"
    ) / F.size(F.array_union("s_lo", "s_hi"))
    flagged = (
        cand.join(sl, "lo")
        .join(sh, "hi")
        .filter(jac >= threshold)
        .select(F.col("hi").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    # predecessor = newest generation BELOW this batch id, so a
    # replayed batch rebuilds from the same input it saw first time
    prev = _gen_below(labels_root, batch_id)
    new_labels = batch.select("doc_id").withColumn(
        "dup_of_history", F.lit(False)
    )
    labels = (
        spark.read.parquet(prev).unionByName(new_labels)
        if prev
        else new_labels
    )
    merged = (
        labels.join(flagged, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.max(
                F.col("dup_of_history") | F.coalesce("_dup", F.lit(False))
            ).alias("dup_of_history")
        )
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(labels_root, f"gen={batch_id}")
    )
    _prune_gens(labels_root, batch_id)
    # write AFTER the label job consumed allsigs (overwrite of the
    # batch-keyed subdir = replay-idempotent)
    delta.write.mode("overwrite").parquet(
        os.path.join(sig_store, f"batch={batch_id}")
    )
    delta.unpersist()


def neardup_ingest_stream(
    spark: SparkSession,
    src_path: str,
    state_root: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Drain ``src_path`` (availableNow) through near-dup admission;
    returns the final labels generation's path."""
    sig_store = os.path.join(state_root, "sigstore")
    labels_root = os.path.join(state_root, "labels")
    schema = spark.read.parquet(src_path).schema

    def step(batch_df: DataFrame, batch_id: int) -> None:
        apply_neardup_batch(
            spark, batch_df, batch_id, sig_store, labels_root,
            num_perm=num_perm, bands=bands, k=k, threshold=threshold,
        )

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
    final = _latest_gen(labels_root)
    if final is None:
        raise RuntimeError("neardup_ingest_stream: no labels generation")
    return os.path.join(labels_root, f"gen={final}")
