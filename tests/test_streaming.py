"""Streaming pipeline tests: availableNow drain must equal batch."""

import os

import pytest
from pyspark.sql import functions as F

from metastore_spark.streaming import events as ev


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    # Copy a slice of the driver's events table into a stream source dir.
    d = str(tmp_path_factory.mktemp("events_stream"))
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _batch_windows(spark, stream_dir):
    raw = spark.read.parquet(stream_dir)
    batch = (
        raw.withColumn("event_time", ev.event_time_col(raw))
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    return {
        (r["window"]["start"], r["event_type"]): (r["n"], r["v"])
        for r in batch.collect()
    }


def test_windowed_counts_match_batch(spark, stream_dir):
    stream = ev.read_event_stream(spark, stream_dir)
    ev.run_to_memory_sink(
        ev.windowed_event_counts(stream, window="1 hour", watermark=None),
        "win_counts_complete",
        output_mode="complete",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("win_counts_complete").collect()
    }
    assert got == _batch_windows(spark, stream_dir)
    assert len(got) > 0


def test_windowed_counts_multibatch_matches_batch(spark, stream_dir):
    """The events_stream_hourly oracle contract must hold when the
    source arrives as MULTIPLE micro-batches (maxFilesPerTrigger=1
    over the 4-file source), not just a single-batch drain — the
    no-watermark complete-mode drain retains all window state, so
    later micro-batches cannot drop pre-horizon history."""
    stream = ev.read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(
        ev.windowed_event_counts(stream, window="1 hour", watermark=None),
        "win_counts_multibatch",
        output_mode="complete",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("win_counts_multibatch").collect()
    }
    assert got == _batch_windows(spark, stream_dir)
    assert len(got) > 0


def test_windowed_counts_append_respects_watermark(spark, stream_dir):
    """Append mode must emit only watermark-closed windows — a strict
    subset of batch, with every withheld window inside the final
    watermark horizon (correct late-data semantics, not data loss)."""
    stream = ev.read_event_stream(spark, stream_dir)
    ev.run_to_memory_sink(
        ev.windowed_event_counts(stream, window="1 hour", watermark="2 hours"),
        "win_counts_append",
        output_mode="append",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("win_counts_append").collect()
    }
    want = _batch_windows(spark, stream_dir)
    assert got.items() <= want.items()
    missing_starts = {k[0] for k in want.keys() - got.keys()}
    horizon = max(k[0] for k in want) - __import__("datetime").timedelta(hours=2)
    assert all(s >= horizon for s in missing_starts)


def _write_time_ordered_files(spark, src_df, dest, n_files=3, ts_col="ts"):
    """Split rows into n_files contiguous event-time ranges and write
    them as separate sequential appends — file mtimes line up with
    event time, so maxFilesPerTrigger=1 delivers batches in order
    (the shape a date-partitioned ingest produces)."""
    import time as _time

    rows = src_df.count()
    bounds = src_df.selectExpr(
        f"percentile_approx({ts_col}, array({', '.join(str((i + 1) / n_files) for i in range(n_files - 1))}), 10000) AS b"
    ).first()["b"]
    lo = None
    for i in range(n_files):
        hi = bounds[i] if i < n_files - 1 else None
        part = src_df
        if lo is not None:
            part = part.filter(F.col(ts_col) > F.lit(lo))
        if hi is not None:
            part = part.filter(F.col(ts_col) <= F.lit(hi))
        part.coalesce(1).write.mode("append").parquet(dest)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order
        lo = hi
    assert spark.read.parquet(dest).count() == rows
    return dest


def test_interval_join_multibatch_matches_batch(spark, stream_dir, tmp_path):
    """Stream-stream interval join fed one file per micro-batch (>=3
    time-ordered batches) must equal the batch join: rows near file
    boundaries are the risk — a click evicted too early would drop
    attribution pairs for purchases in the NEXT batch."""
    src = _write_time_ordered_files(
        spark, spark.read.parquet(stream_dir), str(tmp_path / "ij_src")
    )

    def sides(max_files):
        purchases = (
            ev.normalize_events(
                ev.read_event_stream(spark, src, max_files_per_trigger=max_files)
            )
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("event_time").alias("p_time"),
            )
            .withWatermark("p_time", "2 hours")
        )
        clicks = (
            ev.normalize_events(
                ev.read_event_stream(spark, src, max_files_per_trigger=max_files)
            )
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("event_time").alias("c_time"),
            )
            .withWatermark("c_time", "2 hours")
        )
        return purchases.join(
            clicks,
            F.expr(
                "p_user = c_user AND c_time >= p_time - INTERVAL 1 HOUR"
                " AND c_time <= p_time"
            ),
        )

    ev.run_to_memory_sink(sides(1), "ij_multibatch", output_mode="append")
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("ij_multibatch").collect()
    }

    raw = spark.read.parquet(src)
    b = raw.withColumn("event_time", ev.event_time_col(raw))
    p = b.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS p_user", "event_time AS p_time"
    )
    c = b.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id AS c_user", "event_time AS c_time"
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            F.expr(
                "p_user = c_user AND c_time >= p_time - INTERVAL 1 HOUR"
                " AND c_time <= p_time"
            ),
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_sessionize_multibatch_ordered_matches_batch(spark, tmp_path):
    """Stateful sessionization fed one file per micro-batch, files in
    event-time order: closed+flushed sessions must equal batch."""
    import time

    from metastore_spark.operators import sessions as ss

    MIN = 60 * 10**9
    rows = [
        (1, 0 * MIN, 1.0),
        (1, 10 * MIN, 2.0),
        (1, 50 * MIN, 4.0),   # file 2: 40-min gap closes session 1
        (1, 55 * MIN, 8.0),
        (2, 20 * MIN, 1.0),
        (2, 95 * MIN, 2.0),   # file 3: closes user 2's session 1
    ]
    timeline = spark.createDataFrame(
        rows, "user_id bigint, ts bigint, value double"
    )
    src = str(tmp_path / "sess_src")
    _write_time_ordered_files(spark, timeline, src)

    stream = (
        spark.readStream.schema("user_id bigint, ts bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ss.sessionize_stream(stream, timeout_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_multibatch")
        .outputMode("append")
        .start()
    )
    try:
        want = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["session_value"])
            for r in ss.session_stats(timeline).collect()
        }
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {
                (r["user_id"], r["session_seq"]): (
                    r["n_events"],
                    r["session_value"],
                )
                for r in spark.table("sessions_multibatch").collect()
            }
            if got == want:
                break
            time.sleep(2)
        assert got == want
    finally:
        q.stop()


def test_sessionize_late_row_folds_without_ts_regression(spark, tmp_path):
    """Cross-batch disorder: a later FILE carrying an EARLIER timestamp
    must fold into the current session (never move last_ts backward,
    never crash, never split retroactively)."""
    import time

    from metastore_spark.operators import sessions as ss

    MIN = 60 * 10**9
    src = str(tmp_path / "late_src")
    f1 = spark.createDataFrame(
        [(1, 0 * MIN, 1.0), (1, 10 * MIN, 2.0)],
        "user_id bigint, ts bigint, value double",
    )
    f2 = spark.createDataFrame(
        [(1, 5 * MIN, 4.0), (1, 12 * MIN, 8.0)],  # 5min is LATE
        "user_id bigint, ts bigint, value double",
    )
    f1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    f2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, ts bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ss.sessionize_stream(stream, timeout_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_late")
        .outputMode("append")
        .start()
    )
    try:
        want = {(1, 1): (4, 15.0, 0, 12 * MIN)}  # one session, all 4 rows
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {
                (r["user_id"], r["session_seq"]): (
                    r["n_events"],
                    r["session_value"],
                    r["session_start"],
                    r["session_end"],
                )
                for r in spark.table("sessions_late").collect()
            }
            if got == want:
                break
            time.sleep(2)
        assert got == want
    finally:
        q.stop()


def test_neardup_ingest_retroactive_flag(spark, tmp_path):
    """A near-dup pair discovered in a LATER batch must flag the
    higher id even though it was admitted earlier: doc 10 (batch 1)
    gains dup_of_history=True when its lower-id twin doc 5 arrives in
    batch 2."""
    import time as _time

    from metastore_spark.streaming.neardup import neardup_ingest_stream

    text_dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_other = "one two three four five six seven eight nine ten"
    src = str(tmp_path / "src")
    cols = ["doc_id", "lang", "source", "text"]
    spark.createDataFrame(
        [(10, "en", "a", text_dup), (11, "en", "a", text_other)], cols
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # file-source batch order follows modification time
    spark.createDataFrame(
        [(5, "en", "b", text_dup)], cols
    ).coalesce(1).write.mode("append").parquet(src)
    final = neardup_ingest_stream(
        spark, src, str(tmp_path / "state"), max_files_per_trigger=1
    )
    got = {
        r["doc_id"]: r["dup_of_history"]
        for r in spark.read.parquet(final).collect()
    }
    assert got == {5: False, 10: True, 11: False}


def test_neardup_ingest_resume_from_checkpoint(spark, tmp_path):
    """Stopping after a drain and re-draining with the SAME state dir
    must process only the new files (checkpoint) yet still converge to
    the batch truth — the restart-resilience contract of the ingest."""
    from metastore_spark.streaming.neardup import neardup_ingest_stream

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cols = ["doc_id", "lang", "source", "text"]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "en", "a", dup), (2, "en", "a", "unrelated words here only")],
        cols,
    ).coalesce(1).write.mode("append").parquet(src)
    first = neardup_ingest_stream(spark, src, state)
    assert {
        r["doc_id"]: r["dup_of_history"]
        for r in spark.read.parquet(first).collect()
    } == {1: False, 2: False}
    # second wave arrives after the first drain completed
    spark.createDataFrame([(7, "en", "b", dup)], cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = neardup_ingest_stream(spark, src, state)
    assert {
        r["doc_id"]: r["dup_of_history"]
        for r in spark.read.parquet(second).collect()
    } == {1: False, 2: False, 7: True}


def test_neardup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the LAST batch (crash
    after its writes but before the checkpoint commit) must leave the
    labels and the signature store byte-identical — no duplicate rows."""
    from metastore_spark.streaming.neardup import apply_neardup_batch

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cols = ["doc_id", "lang", "source", "text"]
    sig_store = str(tmp_path / "sigs")
    labels_root = str(tmp_path / "labels")
    b0 = spark.createDataFrame(
        [(1, "en", "a", dup), (2, "en", "a", "unrelated words only here")],
        cols,
    )
    b1 = spark.createDataFrame([(7, "en", "b", dup)], cols)
    apply_neardup_batch(spark, b0, 0, sig_store, labels_root)
    apply_neardup_batch(spark, b1, 1, sig_store, labels_root)

    def snapshot():
        labels = sorted(
            map(
                tuple,
                spark.read.parquet(f"{labels_root}/gen=1").collect(),
            )
        )
        store = sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{sig_store}/batch=*").collect()
        )
        return labels, store

    before = snapshot()
    apply_neardup_batch(spark, b1, 1, sig_store, labels_root)  # replay
    assert snapshot() == before
    assert dict(before[0]) == {1: False, 2: False, 7: True}
    assert before[1] == [1, 2, 7]
    # a 4-batch drain keeps only the newest generation and its
    # predecessor, not one labels copy per batch
    for bid, doc in ((2, 8), (3, 9)):
        apply_neardup_batch(
            spark,
            spark.createDataFrame([(doc, "en", "c", f"words of {doc}")], cols),
            bid,
            sig_store,
            labels_root,
        )
    gens = sorted(d for d in os.listdir(labels_root) if d.startswith("gen="))
    assert gens == ["gen=2", "gen=3"]
    assert {
        r["doc_id"]
        for r in spark.read.parquet(f"{labels_root}/gen=3").collect()
    } == {1, 2, 7, 8, 9}


def test_cdc_apply_stream_keeps_two_generations(
    spark, stream_dir, tmp_path
):
    """The CDC apply names each generation by its batch id and keeps
    only the newest and its predecessor; the drained state still
    equals the batch latest-per-user."""
    state = str(tmp_path / "state")
    final = ev.cdc_apply_stream(
        spark, stream_dir, state, max_files_per_trigger=1
    )
    gens = sorted(d for d in os.listdir(state) if d.startswith("gen="))
    assert gens == ["gen=2", "gen=3"] and final.endswith("gen=3")
    raw = spark.read.parquet(stream_dir)
    us = F.unix_micros(ev.event_time_col(raw))
    want = {
        r["user_id"]: r["e"]
        for r in raw.groupBy("user_id")
        .agg(F.max_by("event_id", F.struct(us, F.col("event_id"))).alias("e"))
        .collect()
    }
    got = {
        r["user_id"]: r["e"]
        for r in spark.read.parquet(final)
        .select("user_id", F.col("st.event_id").alias("e"))
        .collect()
    }
    assert got == want


def test_hll_batch_replay_and_batching_invariance(spark, tmp_path):
    """HLL register maintenance must converge to the same registers
    (a) when the LAST batch replays (at-least-once foreachBatch), and
    (b) regardless of how rows were split across batches — both
    consequences of the per-bucket MAX merge."""
    import datetime as dt

    from metastore_spark.operators import hll
    from metastore_spark.streaming.hll import apply_hll_batch

    cols = ["ts", "user_id"]
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 2, 10, 0, 0)
    rows = [(t0, u) for u in range(40)] + [(t1, u) for u in range(20, 60)]
    root_a = str(tmp_path / "a")
    b0 = spark.createDataFrame(rows[:30], cols)
    b1 = spark.createDataFrame(rows[30:], cols)
    apply_hll_batch(spark, b0, 0, root_a)
    apply_hll_batch(spark, b1, 1, root_a)

    def regs(root, gen):
        return sorted(
            (str(r["d"]), r["bucket"], r["r"])
            for r in spark.read.parquet(f"{root}/gen={gen}").collect()
        )

    before = regs(root_a, 1)
    apply_hll_batch(spark, b1, 1, root_a)  # replay the last batch
    assert regs(root_a, 1) == before

    # different batching of the same rows → identical final registers,
    # and both equal the single-pass batch computation
    root_b = str(tmp_path / "b")
    apply_hll_batch(spark, spark.createDataFrame(rows[:5], cols), 0, root_b)
    apply_hll_batch(spark, spark.createDataFrame(rows[5:70], cols), 1, root_b)
    apply_hll_batch(spark, spark.createDataFrame(rows[70:], cols), 2, root_b)
    assert regs(root_b, 2) == before
    batch_regs = sorted(
        (str(r["d"]), r["bucket"], r["r"])
        for r in hll.day_registers(
            spark.createDataFrame(rows, cols)
        ).collect()
    )
    assert batch_regs == before


def test_hll_ingest_resume_from_checkpoint(spark, tmp_path):
    """Re-draining with the SAME state dir after new files arrive must
    process only the delta (checkpoint) and still produce registers
    equal to the single-pass batch computation over everything."""
    import datetime as dt

    from metastore_spark.operators import hll
    from metastore_spark.streaming.hll import hll_ingest_stream

    cols = ["ts", "user_id"]
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 2, 10, 0, 0)
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    wave1 = [(t0, u) for u in range(30)]
    spark.createDataFrame(wave1, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    hll_ingest_stream(spark, src, state)
    wave2 = [(t1, u) for u in range(10, 50)]
    spark.createDataFrame(wave2, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    final = hll_ingest_stream(spark, src, state)

    def norm(df):
        return sorted(
            (str(r["d"]), r["bucket"], r["r"]) for r in df.collect()
        )

    batch_truth = hll.day_registers(
        spark.createDataFrame(wave1 + wave2, cols)
    )
    assert norm(spark.read.parquet(final)) == norm(batch_truth)


def test_histogram_batch_replay_is_idempotent(spark, tmp_path):
    """SUM-merge is NOT idempotent, so histogram replay safety rests
    on the generation discipline: re-applying the last batch must
    rebuild from the same predecessor and converge to identical
    counts (no double-adding)."""
    import datetime as dt

    from metastore_spark.queries_sketch import quantile_buckets
    from metastore_spark.streaming.hll import apply_histogram_batch

    cols = ["ts", "value"]
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(t0, float(v)) for v in range(1, 200)]
    root = str(tmp_path / "hist")
    b0 = spark.createDataFrame(rows[:100], cols)
    b1 = spark.createDataFrame(rows[100:], cols)
    apply_histogram_batch(spark, b0, 0, root, quantile_buckets)
    apply_histogram_batch(spark, b1, 1, root, quantile_buckets)

    def regs(gen):
        return sorted(
            (str(r["d"]), r["b"], r["cnt"])
            for r in spark.read.parquet(f"{root}/gen={gen}").collect()
        )

    before = regs(1)
    apply_histogram_batch(spark, b1, 1, root, quantile_buckets)  # replay
    assert regs(1) == before
    assert sum(c for _, _, c in before) == 199


def test_ivf_ingest_replay_and_batching_invariance(spark, tmp_path):
    """The streaming IVF store must equal the batch-built assignment
    (a) for any micro-batch split of the feed and (b) when the last
    batch replays (at-least-once foreachBatch): assignment depends
    only on (vector, frozen centroids), and a replayed batch
    overwrites its own batch=<id> dir instead of appending."""
    from metastore_spark.similarity import ivf_assign
    from metastore_spark.streaming.ivf import apply_ivf_batch

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [float(i % 3), float((i + 1) % 2)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    root = str(tmp_path / "ivf")

    b0 = df.filter("vec_id < 11")
    b1 = df.filter("vec_id >= 11")
    apply_ivf_batch(b0, 0, root, centroids)
    apply_ivf_batch(b1, 1, root, centroids)

    def snapshot():
        return sorted(
            (int(r["vec_id"]), int(r["centroid_id"]))
            for r in spark.read.parquet(root).collect()
        )

    before = snapshot()
    apply_ivf_batch(b1, 1, root, centroids)  # replay the last batch
    assert snapshot() == before

    batch_truth = sorted(
        (int(r["vec_id"]), int(r["centroid_id"]))
        for r in ivf_assign(df, centroids).collect()
    )
    assert before == batch_truth


def test_ivf_compaction_cutover_end_to_end(spark, tmp_path):
    """compact_index must cut readers over through the manifest:
    identical rows before/after, consolidated centroid_id=* layout,
    folded batch dirs retired, post-compaction ingest tail visible
    through the union, repeat compaction folds the previous
    generation (VERDICT r5 task 3)."""
    import os

    from metastore_spark.streaming.ivf import (
        apply_ivf_batch,
        compact_index,
        read_index,
        read_manifest,
    )

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [float(i % 3), float((i + 1) % 2)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    root = str(tmp_path / "ivf")
    for b in range(4):
        apply_ivf_batch(df.filter(f"vec_id % 4 = {b}"), b, root, centroids)

    def rows_of():
        return sorted(
            (int(r["vec_id"]), int(r["centroid_id"]))
            for r in read_index(spark, root).collect()
        )

    truth = rows_of()
    compact_index(spark, root)

    man = read_manifest(root)
    assert man["generation"] == 0
    assert man["folded_batches"] == [f"batch={b}" for b in range(4)]
    # folded dirs retired; reads go through the manifest
    assert not [d for d in os.listdir(root) if d.startswith("batch=")]
    assert rows_of() == truth
    gen0 = os.path.join(root, man["compacted_root"])
    cdirs = [d for d in os.listdir(gen0) if d.startswith("centroid_id=")]
    assert sorted(cdirs) == ["centroid_id=0", "centroid_id=1"]
    for d in cdirs:  # one consolidated data file per centroid
        files = [
            f
            for f in os.listdir(os.path.join(gen0, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1

    # ingest tail after the cutover is served through the union ...
    tail = spark.createDataFrame(
        [(100, [5.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    apply_ivf_batch(tail, 4, root, centroids)
    assert rows_of() == sorted(truth + [(100, 0)])

    # ... and the next compaction folds tail + previous generation
    compact_index(spark, root)
    man2 = read_manifest(root)
    assert man2["generation"] == 1
    assert "batch=4" in man2["folded_batches"]
    assert not os.path.exists(gen0)
    assert rows_of() == sorted(truth + [(100, 0)])
