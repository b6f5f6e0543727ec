"""Snapshot table format: time travel, COW deletes, optimistic
concurrency, crash recovery, retention GC
(metastore_spark/sources/snapshots.py)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_append_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = snap.commit_append(spark, root, _df(spark, 0, 100))
    v2 = snap.commit_append(spark, root, _df(spark, 100, 150))
    assert (v1, v2) == (1, 2)
    assert snap.current_version(root) == 2
    assert snap.read_snapshot(spark, root, 1).count() == 100
    assert snap.read_snapshot(spark, root, 2).count() == 150
    # head read == explicit-head read
    assert snap.read_snapshot(spark, root).count() == 150


def test_cow_delete_rewrites_only_affected_files(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _df(spark, 0, 400).repartitionByRange(4, "k")
    )
    snap.commit_delete_where(spark, root, F.col("k") < 50)
    f1, f2 = set(snap.files_of(root, 1)), set(snap.files_of(root, 2))
    carried = f1 & f2
    rewritten = f2 - f1
    # range layout localizes the range delete: most files carry over
    # by reference, at least one is rewritten
    assert carried and rewritten
    got = snap.read_snapshot(spark, root, 2)
    assert got.count() == 350
    assert got.agg(F.min("k")).first()[0] == 50
    # the historical version still reads the pre-delete rows
    assert snap.read_snapshot(spark, root, 1).count() == 400


def test_delete_with_no_matches_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    snap.commit_delete_where(spark, root, F.col("k") > 1000)
    m1, m2 = snap.read_manifest(root, 1), snap.read_manifest(root, 2)
    # metadata-only: the same segments, carried by name
    assert m1["segments"] == m2["segments"]
    assert snap.files_of(root, 1) == snap.files_of(root, 2)
    assert snap.read_snapshot(spark, root, 2).count() == 10


def test_concurrent_commit_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    # a racing writer advances the head between our parent snapshot
    # and our pointer swap
    files = snap._write_data_files(_df(spark, 10, 20), root)
    (seg,) = snap._new_segment(root, files, {})
    snap.commit_append(spark, root, _df(spark, 20, 30))  # the racer wins
    with pytest.raises(snap.ConcurrentCommit):
        snap._commit(root, parent=1, op="append", segments=[seg])
    # exclusive-create lost: the WINNER's v2 manifest is untouched
    # (a rename-based commit would have clobbered it)
    assert snap.current_version(root) == 2
    assert snap.read_snapshot(spark, root, 2).count() == 20


def test_crashed_commit_leaves_readable_head(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    # crash AFTER the data write, BEFORE the manifest link: the only
    # possible torn state in the single-phase design — orphan data
    # files, no manifest
    snap._write_data_files(_df(spark, 10, 20), root)
    assert snap.current_version(root) == 1
    assert snap.read_snapshot(spark, root).count() == 10
    # the next live commit proceeds normally at v2
    v = snap.commit_append(spark, root, _df(spark, 50, 55))
    assert v == 2
    assert snap.read_snapshot(spark, root, 2).count() == 15
    # the orphan is invisible to every snapshot and too young for GC
    deleted = snap.expire_snapshots(root, keep_last=5)
    assert deleted == []


def test_expire_snapshots_gc(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _df(spark, 0, 200).repartitionByRange(4, "k")
    )
    snap.commit_delete_where(spark, root, F.col("k") < 150)
    snap.commit_append(spark, root, _df(spark, 500, 510))
    deleted = snap.expire_snapshots(root, keep_last=1)
    # v1/v2 manifests dropped; files referenced only by them are gone
    assert "meta/v1.json" in deleted and "meta/v2.json" in deleted
    assert any(p.endswith(".parquet") for p in deleted)
    with pytest.raises(OSError):
        snap.read_manifest(root, 1)
    # the head still reads completely
    assert snap.read_snapshot(spark, root).count() == 60
    # every file the head references is still on disk
    for f in snap.files_of(root, 3):
        assert os.path.exists(os.path.join(root, f))
    # a second expire is a no-op (idempotent)
    assert snap.expire_snapshots(root, keep_last=1) == []


def _ingest_events(spark, tmp_path, n_files=4):
    src = str(tmp_path / "src")
    _df(spark, 0, 1000).repartition(n_files).write.parquet(src)
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("k bigint, v bigint")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    snap.ingest_stream(stream, root, ckpt, stream_id="s1")
    return root


def test_stream_ingest_one_version_per_batch(spark, tmp_path):
    root = _ingest_events(spark, tmp_path)
    assert snap.current_version(root) == 4
    assert snap.read_snapshot(spark, root).count() == 1000
    for v in range(1, 5):
        m = snap.read_manifest(root, v)
        assert m["stream_id"] == "s1" and m["batch_id"] == v - 1


def test_stream_ingest_replay_after_post_commit_crash(spark, tmp_path):
    root = _ingest_events(spark, tmp_path)
    # crash AFTER the manifest link, BEFORE the checkpoint commit:
    # the source re-delivers batch 2 — the sink must recognize and
    # skip it, not double-append
    sink = snap.snapshot_sink(root, "s1")
    sink(_df(spark, 0, 250), 2)
    assert snap.current_version(root) == 4
    assert snap.read_snapshot(spark, root).count() == 1000


def test_stream_ingest_rerun_after_pre_commit_crash(spark, tmp_path):
    root = _ingest_events(spark, tmp_path)
    # crash AFTER the batch's data write, BEFORE its manifest link:
    # the files are unreferenced orphans; the re-run batch commits once
    snap._write_data_files(_df(spark, 2000, 2100), root)
    snap.snapshot_sink(root, "s1")(_df(spark, 2000, 2100), 4)
    assert snap.current_version(root) == 5
    assert snap.read_snapshot(spark, root).count() == 1100


def test_sink_retries_through_concurrent_append(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    orig = snap._write_data_files
    state = {"raced": False}

    def hooked(df, r, partition_by=None):
        files = orig(df, r, partition_by)
        if not state["raced"]:
            state["raced"] = True
            snap.commit_append(spark, root, _df(spark, 500, 520))  # racer
        return files

    monkeypatch.setattr(snap, "_write_data_files", hooked)
    snap.snapshot_sink(root, "s9")(_df(spark, 100, 130), 0)
    # the sink's first link lost v2 to the racer and retried at v3
    # carrying the racer's files — nothing dropped on either side
    assert snap.current_version(root) == 3
    assert snap.read_snapshot(spark, root).count() == 60


def test_compact_carries_concurrent_append(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100).repartition(4))
    snap.commit_append(spark, root, _df(spark, 100, 200).repartition(4))
    orig = snap._write_data_files
    state = {"raced": False}

    def hooked(df, r, partition_by=None):
        files = orig(df, r, partition_by)
        if not state["raced"]:
            state["raced"] = True
            snap.commit_append(spark, root, _df(spark, 900, 950))  # racer
        return files

    monkeypatch.setattr(snap, "_write_data_files", hooked)
    v = snap.compact(spark, root, target_files=1)
    # the racer landed between compaction's base read and its commit;
    # the compacted manifest must carry the racer's files by reference
    assert v == 4
    assert snap.read_snapshot(spark, root).count() == 250
    m = snap.read_manifest(root, 4)
    assert m["op"] == "compact"
    racer_files = set(snap.files_of(root, 3)) - set(snap.files_of(root, 2))
    assert racer_files <= set(snap.files_of(root, 4))


def test_compact_shrinks_files_keeps_history(spark, tmp_path):
    root = _ingest_events(spark, tmp_path)
    n_before = len(snap.files_of(root, 4))
    v2_rows = snap.read_snapshot(spark, root, 2).count()
    snap.compact(spark, root, target_files=1)
    assert len(snap.files_of(root, 5)) == 1 and n_before > 1
    # ... and into ONE segment: the manifest-list is reset, not grown
    assert len(snap.read_manifest(root, 5)["segments"]) == 1
    assert snap.read_snapshot(spark, root, 5).count() == 1000
    # pre-compaction versions still read their original files
    assert snap.read_snapshot(spark, root, 2).count() == v2_rows > 0


def test_schema_evolution_add_column(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    snap.commit_append(
        spark, root, _df(spark, 10, 20).withColumn("w", F.col("k") + 1)
    )
    head = snap.read_snapshot(spark, root)
    assert set(head.columns) == {"k", "v", "w"}
    # old files null-fill the added column; new rows carry it
    assert head.filter(F.col("w").isNull()).count() == 10
    assert head.filter(F.col("w") == F.col("k") + 1).count() == 10
    # the historical version keeps ITS committed schema
    assert set(snap.read_snapshot(spark, root, 1).columns) == {"k", "v"}


def test_schema_evolution_survives_cow_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    snap.commit_append(
        spark, root, _df(spark, 10, 20).withColumn("w", F.lit(7))
    )
    snap.commit_delete_where(spark, root, F.col("k") == 3)
    head = snap.read_snapshot(spark, root)
    assert head.count() == 19
    assert set(head.columns) == {"k", "v", "w"}
    assert head.filter(F.col("w").isNull()).count() == 9


def test_schema_evolution_rejects_drop_and_retype(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    with pytest.raises(snap.SchemaEvolutionError):
        snap.commit_append(spark, root, _df(spark, 0, 5).drop("v"))
    with pytest.raises(snap.SchemaEvolutionError):
        snap.commit_append(
            spark, root, _df(spark, 0, 5).withColumn("v", F.lit("s"))
        )
    assert snap.current_version(root) == 1


def test_compact_aborts_on_concurrent_delete(spark, tmp_path, monkeypatch):
    """ADVICE r6: compact's retry used to carry only files ADDED since
    its base, silently resurrecting rows a concurrent
    commit_delete_where removed. A removed base file must now abort
    the compaction (ConcurrentCommit), leaving the delete intact."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _df(spark, 0, 400).repartitionByRange(4, "k")
    )
    orig = snap._write_data_files
    state = {"raced": False}

    def hooked(df, r, partition_by=None):
        files = orig(df, r, partition_by)
        if not state["raced"]:
            state["raced"] = True
            snap.commit_delete_where(spark, root, F.col("k") < 50)
        return files

    monkeypatch.setattr(snap, "_write_data_files", hooked)
    with pytest.raises(snap.ConcurrentCommit):
        snap.compact(spark, root, target_files=1)
    # the delete's result is the head, un-resurrected
    head = snap.read_snapshot(spark, root)
    assert head.count() == 350
    assert head.agg(F.min("k")).first()[0] == 50
    # and a rerun against the new head succeeds with the same rows
    monkeypatch.setattr(snap, "_write_data_files", orig)
    v = snap.compact(spark, root, target_files=1)
    assert snap.read_snapshot(spark, root, v).count() == 350


def test_delete_null_predicate_keeps_null_rows(spark, tmp_path):
    """SQL DELETE semantics: a predicate evaluating NULL keeps the
    row (only TRUE deletes) — ADVICE r6 on commit_delete_where."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None)], "k int, v int"
    )
    snap.commit_append(spark, root, df)
    snap.commit_delete_where(spark, root, F.col("v") > 15)
    got = snap.read_snapshot(spark, root)
    # only v=30 deleted; NULL-v rows survive like v=10 does
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 4]


def test_expire_skips_inflight_write_dir(spark, tmp_path):
    """ADVICE r6: the whole-dir sweep must not rmtree a fresh data dir
    that has no top-level parquet yet (an in-flight _write_data_files
    shows only _temporary/ until job commit) — the age gate applies
    to directories too."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    inflight = os.path.join(root, "data", "deadbeef0000")
    os.makedirs(os.path.join(inflight, "_temporary", "0"))
    snap.expire_snapshots(root, keep_last=1)
    assert os.path.isdir(inflight)


def test_commit_payload_independent_of_table_file_count(spark, tmp_path):
    """VERDICT r6 task 2: the two-tier manifest makes an append's
    metadata payload O(delta files) + O(#segments) — NOT O(table
    files). Two tables with the same segment count but 16x different
    file counts must pay byte-identical-order metadata for the same
    1-file append."""

    def meta_bytes(root):
        md = os.path.join(root, "meta")
        return {n: os.path.getsize(os.path.join(md, n)) for n in os.listdir(md)}

    def delta_commit_cost(n_base_files):
        root = str(tmp_path / f"t{n_base_files}")
        snap.commit_append(
            spark, root, _df(spark, 0, 4000).repartition(n_base_files)
        )
        before = meta_bytes(root)
        snap.commit_append(spark, root, _df(spark, 9000, 9010).coalesce(1))
        after = meta_bytes(root)
        return sum(v for k, v in after.items() if k not in before)

    small = delta_commit_cost(4)
    large = delta_commit_cost(64)
    # same new-segment size, same 2-name commit file: equal payload
    # modulo uuid-length jitter — nowhere near the 16x file-count gap
    assert large < small * 1.5, (small, large)
    # and the base table really does have 16x the files
    assert len(snap.files_of(str(tmp_path / "t64"), 1)) == 64
    assert len(snap.files_of(str(tmp_path / "t4"), 1)) == 4


def test_delete_touches_only_affected_segments(spark, tmp_path):
    """COW delete carries untouched SEGMENTS by name: appends landing
    in separate segments mean a delete hitting only segment 1's key
    range must not rewrite (or even re-list) segment 2."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100).coalesce(1))
    snap.commit_append(spark, root, _df(spark, 100, 200).coalesce(1))
    segs_before = snap.read_manifest(root, 2)["segments"]
    snap.commit_delete_where(spark, root, F.col("k") < 10)
    segs_after = snap.read_manifest(root, 3)["segments"]
    # the second append's segment survives by name; the first is
    # replaced (its one file was affected -> fully rewritten)
    assert segs_before[1] in segs_after
    assert segs_before[0] not in segs_after
    assert snap.read_snapshot(spark, root).count() == 190


def test_commit_with_retry_multi_writer_serializes(spark, tmp_path):
    """VERDICT r6 task 5: N concurrent writers through
    commit_with_retry all land DISTINCT versions and the final table
    equals the serial union — optimistic concurrency under real
    thread interleaving."""
    import threading

    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    results: dict[int, int] = {}
    errors: list[Exception] = []

    def writer(i):
        try:
            results[i] = snap.commit_with_retry(
                root,
                lambda: snap.commit_append(
                    spark, root, _df(spark, 100 * (i + 1), 100 * (i + 1) + 10)
                ),
                max_attempts=20,
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results.values()) == [2, 3, 4, 5]  # distinct versions
    head = snap.read_snapshot(spark, root)
    assert head.count() == 50
    ks = sorted(r["k"] for r in head.select("k").collect())
    expect = sorted(
        list(range(10))
        + [100 * (i + 1) + j for i in range(4) for j in range(10)]
    )
    assert ks == expect


def test_commit_with_retry_exhausts(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 5))

    def always_loses():
        raise snap.ConcurrentCommit("forced")

    with pytest.raises(snap.ConcurrentCommit):
        snap.commit_with_retry(
            root, always_loses, max_attempts=3, base_backoff_sec=0.001
        )


def test_vacuum_reclaims_crashed_commit_preserves_versions(spark, tmp_path):
    """VERDICT r6 task 7: vacuum after an injected pre-link crash
    (orphan data dir + orphan segment JSON + dead writer's tmp
    manifest) reclaims all three once aged, while every retained
    version still reads its exact row set."""
    import subprocess

    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.commit_append(spark, root, _df(spark, 100, 150))
    v1_rows = snap.read_snapshot(spark, root, 1).count()

    # inject the crash window: data written, segment written, tmp
    # manifest staged — death before os.link
    files = snap._write_data_files(_df(spark, 500, 600), root)
    (seg,) = snap._new_segment(root, files, {})
    reaped = subprocess.Popen(["true"])
    reaped.wait()
    tmp_manifest = os.path.join(
        root, "meta", f"v3.json.tmp-{reaped.pid}-cafe0123"
    )
    with open(tmp_manifest, "w") as fh:
        fh.write("{}")

    # too young: the age gate protects a possibly-in-flight commit
    deleted = snap.vacuum(root, keep_last=5)
    assert os.path.exists(snap._segment_path(root, seg))
    assert os.path.exists(os.path.join(root, files[0]))
    # the dead writer's tmp manifest is pid-gated, not age-gated
    assert f"meta/{os.path.basename(tmp_manifest)}" in deleted

    # age the orphans past the gate
    old = time.time() - 2 * snap._ORPHAN_AGE_SEC
    os.utime(snap._segment_path(root, seg), (old, old))
    for f in files:
        os.utime(os.path.join(root, f), (old, old))
    os.utime(os.path.dirname(os.path.join(root, files[0])), (old, old))
    deleted = snap.vacuum(root, keep_last=5)
    assert not os.path.exists(snap._segment_path(root, seg))
    assert not os.path.exists(os.path.join(root, files[0]))

    # every retained version unharmed
    assert snap.read_snapshot(spark, root, 1).count() == v1_rows == 100
    assert snap.read_snapshot(spark, root, 2).count() == 150


def test_pinned_reader_isolated_from_concurrent_writer(spark, tmp_path):
    """VERDICT r6 task 1 (pytest leg): a reader pinned to version 1
    keeps reproducing ITS row set while a concurrent writer thread
    runs the full mutation lifecycle (appends, COW delete, compact)
    against the same table — snapshot isolation under real thread
    interleaving, plus correct head state afterwards."""
    import threading

    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100).repartition(4))
    errors: list[Exception] = []
    writer_done = threading.Event()

    def writer():
        try:
            snap.commit_with_retry(
                root,
                lambda: snap.commit_append(spark, root, _df(spark, 100, 160)),
            )
            snap.commit_with_retry(
                root,
                lambda: snap.commit_delete_where(
                    spark, root, F.col("k") < 20
                ),
            )
            snap.commit_with_retry(
                root, lambda: snap.compact(spark, root, target_files=1)
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)
        finally:
            writer_done.set()

    def reader():
        try:
            while not writer_done.is_set():
                got = snap.read_snapshot(spark, root, 1)
                assert got.count() == 100
                assert got.agg(F.sum("k")).first()[0] == 4950
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    w = threading.Thread(target=writer)
    r = threading.Thread(target=reader)
    r.start()
    w.start()
    w.join()
    r.join()
    assert not errors
    # the pinned version STILL reads exactly after all writes landed
    assert snap.read_snapshot(spark, root, 1).count() == 100
    # head = appends applied, delete applied, compacted to one file
    head = snap.read_snapshot(spark, root)
    assert head.count() == 140
    assert head.agg(F.min("k")).first()[0] == 20
    assert len(snap.files_of(root, snap.current_version(root))) == 1


def test_manifest_stats_prune_skips_files(spark, tmp_path):
    """Manifest min/max file skipping (Iceberg data-skipping shape):
    a range-clustered table with stats_cols opted in must answer a
    clustered range read from a strict SUBSET of files — and the
    pruned read under its own filter must equal the unpruned one."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _df(spark, 0, 400).repartitionByRange(4, "k"),
        stats_cols=["k"],
    )
    m = snap.read_manifest(root, 1)
    assert m["stats_cols"] == ["k"]
    all_files = snap.files_of(root, 1)
    pruned = snap.pruned_manifest_files(root, m, {"k": (300, None)})
    assert 0 < len(pruned) < len(all_files)
    got = snap.read_snapshot(spark, root, prune={"k": (300, None)}).filter(
        F.col("k") >= 300
    )
    assert got.count() == 100
    assert got.agg(F.min("k")).first()[0] == 300

    # stats INHERIT through append / COW delete / compact
    snap.commit_append(spark, root, _df(spark, 400, 500).coalesce(1))
    snap.commit_delete_where(spark, root, F.col("k") < 50)
    snap.compact(spark, root, target_files=4)
    head_m = snap.read_manifest(root, snap.current_version(root))
    assert head_m["stats_cols"] == ["k"]
    # compact coalesces ranges arbitrarily, so just verify pruning
    # still returns exactly the filtered rows from a (possibly)
    # reduced file set
    got = snap.read_snapshot(
        spark, root, prune={"k": (450, None)}
    ).filter(F.col("k") >= 450)
    assert got.count() == 50

    # a range beyond every file prunes to an EMPTY frame with the
    # committed schema intact
    empty = snap.read_snapshot(spark, root, prune={"k": (10_000, None)})
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_stats_prune_keeps_statless_and_null_files(spark, tmp_path):
    """Safety: files without recorded stats are never skipped, and a
    prune range never drops NULL rows the caller's filter wouldn't
    drop anyway (range predicates don't match NULL)."""
    root = str(tmp_path / "t")
    # v1 WITHOUT stats (no opt-in), v2 widens with stats on k
    snap.commit_append(spark, root, _df(spark, 0, 10).coalesce(1))
    snap.commit_append(
        spark, root, _df(spark, 1000, 1010).coalesce(1), stats_cols=["k"]
    )
    m = snap.read_manifest(root, 2)
    # the v1 file has no stats entry -> kept under any prune range
    pruned = snap.pruned_manifest_files(root, m, {"k": (2000, None)})
    assert len(pruned) == 1  # v1's stats-less file survives the prune
    got = snap.read_snapshot(spark, root, prune={"k": (5, None)}).filter(
        F.col("k") >= 5
    )
    assert got.count() == 15


def test_read_appends_incremental_window(spark, tmp_path):
    """CDC-shape incremental reads: each window returns exactly the
    rows its append commits added — compact and COW-delete commits
    contribute nothing, schema evolution null-fills, and the cost is
    the new segments' files only."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))  # v1
    snap.commit_append(spark, root, _df(spark, 100, 150))  # v2
    snap.compact(spark, root, target_files=1)  # v3: no new rows
    snap.commit_delete_where(spark, root, F.col("k") < 10)  # v4: none
    snap.commit_append(  # v5: widened append
        spark, root, _df(spark, 200, 220).withColumn("w", F.lit(7))
    )

    inc = snap.read_appends(spark, root, since_version=1)
    assert inc.count() == 70  # v2's 50 + v5's 20; v3/v4 contribute 0
    assert set(inc.columns) == {"k", "v", "w"}
    assert inc.filter(F.col("w").isNull()).count() == 50
    # the deleted k<10 rows were appended BEFORE the window: absent
    assert inc.agg(F.min("k")).first()[0] == 100

    # bounded window; empty window -> empty frame, schema intact
    assert snap.read_appends(spark, root, 1, until_version=2).count() == 50
    empty = snap.read_appends(spark, root, 3, until_version=4)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def _race_worker(args):
    """Module-level (picklable) child for the cross-process race: 5
    appends through commit_with_retry; the protocol is all disk."""
    root, w = args
    from metastore_spark.sources import snapshots as s

    out = []
    for i in range(5):
        (seg,) = s._new_segment(root, [f"data/w{w}-{i}.parquet"], {})

        def attempt(seg=seg):
            parent = s.current_version(root)
            prev = (
                s.read_manifest(root, parent)["segments"]
                if parent
                else []
            )
            return s._commit(root, parent, "append", prev + [seg])

        out.append(s.commit_with_retry(root, attempt, max_attempts=200))
    return out


def test_commit_race_across_processes(tmp_path):
    """The exclusive-create claim is a POSIX link(2) property — prove
    it across real PROCESSES, not just threads: N workers each try to
    commit 5 appends through commit_with_retry; every (worker, i)
    payload must land in exactly one version, versions must be the
    dense range, and no two commits may share a version. Pure
    metadata-protocol test (segments with synthetic file lists), no
    Spark needed in the children."""
    import multiprocessing as mp

    root = str(tmp_path / "t")
    snap.create_table(root)
    with mp.get_context("fork").Pool(4) as pool:
        results = pool.map(_race_worker, [(root, w) for w in range(4)])

    versions = [v for r in results for v in r]
    assert sorted(versions) == list(range(1, 21))  # dense, no dupes
    head = snap.read_manifest(root, snap.current_version(root))
    files = set(snap.manifest_files(root, head))
    expect = {f"data/w{w}-{i}.parquet" for w in range(4) for i in range(5)}
    assert files == expect  # nothing lost, nothing duplicated


def test_segment_commit_loop_inherits_concurrent_stats_cols(
    spark, tmp_path
):
    """ADVICE r7 (low): stats_cols established by a concurrent commit
    must be inherited by a stream commit whose first attempt predates
    it — `_commit_segments_with_retry` re-derives inheritance from the
    CURRENT parent each attempt, so the 'never silently lapses'
    guarantee holds under the race."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    files = snap._write_data_files(_df(spark, 10, 20), root)
    parents = []

    def build(pm):
        if not parents:
            # the racer lands between this attempt's head read and link
            snap.commit_append(
                spark, root, _df(spark, 20, 30), stats_cols=["k"]
            )
        parents.append(pm["version"])
        return pm["segments"], snap._inherit(
            pm, stream_id="s", batch_id=0
        )

    v3 = snap._commit_segments_with_retry(root, "append", files, build)
    assert parents == [1, 2]  # lost once, re-derived on the new head
    assert snap.read_manifest(root, v3)["stats_cols"] == ["k"]
    assert snap.read_snapshot(spark, root, v3).count() == 30
    # and a later plain append keeps inheriting
    v4 = snap.commit_append(spark, root, _df(spark, 30, 40))
    assert snap.read_manifest(root, v4)["stats_cols"] == ["k"]


def _cells_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("cell"),
        (F.col("id") * 10).alias("v"),
    )


def test_partition_spec_recorded_and_inherited(spark, tmp_path):
    """VERDICT r7 task 2: an identity partition spec committed with
    the first append is recorded in the manifest, lays files out
    one-partition-tuple-per-file, and is INHERITED by later appends
    that don't restate it."""
    root = str(tmp_path / "t")
    v1 = snap.commit_append(
        spark, root, _cells_df(spark, 0, 100), partition_by=["cell"]
    )
    assert snap.read_manifest(root, v1)["partition_spec"] == ["cell"]
    # every file carries exactly one cell value in metadata
    seg = snap.read_manifest(root, v1)["segments"][-1]
    obj = snap._read_segment_obj(root, seg)
    assert set(obj["partitions"]) == set(obj["files"])
    assert {p["cell"] for p in obj["partitions"].values()} == {
        str(c) for c in range(5)
    }
    # a plain append inherits the spec and the layout
    v2 = snap.commit_append(spark, root, _cells_df(spark, 100, 150))
    m2 = snap.read_manifest(root, v2)
    assert m2["partition_spec"] == ["cell"]
    new_seg = [s for s in m2["segments"] if s != seg][0]
    assert snap._read_segment_obj(root, new_seg).get("partitions")
    # reads return the partition column (it lives in the data files)
    got = snap.read_snapshot(spark, root, v2)
    assert got.columns == ["k", "cell", "v"]
    assert got.count() == 150


def test_partition_prune_resolves_exact_file_subset(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _cells_df(spark, 0, 200), partition_by=["cell"]
    )
    m = snap.read_manifest(root, 1)
    all_files = snap.manifest_files(root, m)
    for bound, cells in [
        ([1, 3], {1, 3}),  # value set
        ((0, 1), {0, 1}),  # range
    ]:
        pr = snap.pruned_manifest_files(root, m, {"cell": bound})
        assert 0 < len(pr) < len(all_files)
        got = {
            snap._partition_values(f, ["cell"])["cell"] for f in pr
        }
        assert got == {str(c) for c in cells}
        sub = snap.read_snapshot(spark, root, prune={"cell": bound})
        want = {c for c in cells}
        assert (
            set(
                r["cell"]
                for r in sub.select("cell").distinct().collect()
            )
            == want
        )


def test_partition_scoped_delete_touches_only_victim_cells(
    spark, tmp_path
):
    """GDPR erasure composed into commits: scan_prune scopes the
    affected-file scan to the victim's cells; every other cell's
    files are carried by identity (same path, same bytes — mtime
    asserted like tests/test_layout.py's probe), and a reader pinned
    to the pre-delete version still reproduces the full corpus."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _cells_df(spark, 0, 200), partition_by=["cell"]
    )
    before = {
        f: os.stat(os.path.join(root, f)).st_mtime_ns
        for f in snap.files_of(root, 1)
    }
    # k % 2 == 0 interleaves within every file, so each affected
    # file has SURVIVORS — the rewrite leg must run, in-cell only
    v2 = snap.commit_delete_where(
        spark,
        root,
        (F.col("cell") == 2) & (F.col("k") % 2 == 0),
        scan_prune={"cell": [2]},
    )
    f1, f2 = set(before), set(snap.files_of(root, v2))
    for f in f1 & f2:  # carried files: byte-identical, untouched
        assert os.stat(os.path.join(root, f)).st_mtime_ns == before[f]
    victim = lambda fs: {  # noqa: E731
        snap._partition_values(f, ["cell"])["cell"] for f in fs
    }
    assert victim(f1 - f2) == {"2"}  # only the victim cell dropped
    assert victim(f2 - f1) == {"2"}  # only the victim cell rewritten
    got = snap.read_snapshot(spark, root, v2)
    assert got.count() == 200 - 20
    assert got.filter((F.col("cell") == 2) & (F.col("k") % 2 == 0)).count() == 0
    # snapshot isolation: the pinned pre-delete version is intact
    assert snap.read_snapshot(spark, root, 1).count() == 200


def test_compact_preserves_partition_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _cells_df(spark, 0, 100), partition_by=["cell"]
    )
    snap.commit_append(spark, root, _cells_df(spark, 100, 200))
    v3 = snap.compact(spark, root)
    m3 = snap.read_manifest(root, v3)
    assert m3["partition_spec"] == ["cell"]
    files = snap.files_of(root, v3)
    assert len(files) == 5  # one file per live cell
    assert {
        snap._partition_values(f, ["cell"])["cell"] for f in files
    } == {str(c) for c in range(5)}
    assert snap.read_snapshot(spark, root, v3).count() == 200
    # pruning still resolves from the folded segment's metadata
    pr = snap.pruned_manifest_files(root, m3, {"cell": [4]})
    assert len(pr) == 1


def test_stream_sink_inherits_partition_spec(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _cells_df(spark, 0, 50), partition_by=["cell"]
    )
    sink = snap.snapshot_sink(root, "s1")
    sink(_cells_df(spark, 50, 100), 0)
    m = snap.read_manifest(root, snap.current_version(root))
    assert m["partition_spec"] == ["cell"]
    new_seg = m["segments"][-1]
    obj = snap._read_segment_obj(root, new_seg)
    assert obj.get("partitions") and set(obj["partitions"]) == set(
        obj["files"]
    )


def test_day_pruned_read_opens_only_matching_files(spark):
    """VERDICT r7 task 2 'done' probe: the day-range snapshot read's
    PLANNED INPUT FILES are exactly the in-range partition files —
    mirror of tests/test_layout.py's partition-pruning probe, at the
    manifest layer."""
    import datetime as _dt

    from metastore_spark.queries_snapshots import _day_table

    root = _day_table(spark, "/root/testdata/sf0.001")
    head = snap.current_version(root)
    m = snap.read_manifest(root, head)
    min_day = min(
        snap._partition_values(f, ["day"])["day"]
        for f in snap.manifest_files(root, m)
    )
    d0 = _dt.date.fromisoformat(min_day)
    lo = (d0 + _dt.timedelta(days=10)).isoformat()
    hi = (d0 + _dt.timedelta(days=19)).isoformat()
    df = snap.read_snapshot(spark, root, head, prune={"day": (lo, hi)})
    opened = {os.path.relpath(p.removeprefix("file:"), root) for p in df.inputFiles()}
    in_range = {
        f
        for f in snap.manifest_files(root, m)
        if lo <= snap._partition_values(f, ["day"])["day"] <= hi
    }
    assert opened == in_range
    assert 0 < len(in_range) < len(snap.manifest_files(root, m))


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    """commit_merge: matched keys replaced, unmatched source rows
    appended, untouched files carried by name, one commit."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _df(spark, 0, 200).repartitionByRange(4, "k")
    )
    src = spark.range(0, 20).select(
        (F.col("id") * 10).alias("k"),  # keys 0,10,...,190 exist
        F.lit(-1).cast("bigint").alias("v"),
    ).union(
        spark.range(0, 5).select(
            (F.col("id") + 1000).alias("k"),  # inserts
            F.lit(-2).cast("bigint").alias("v"),
        )
    )
    v2 = snap.commit_merge(spark, root, src, ["k"])
    assert snap.read_manifest(root, v2)["op"] == "merge"
    got = snap.read_snapshot(spark, root, v2)
    assert got.count() == 205
    assert got.filter(F.col("v") == -1).count() == 20  # updated
    assert got.filter(F.col("v") == -2).count() == 5  # inserted
    # non-matched rows untouched
    assert got.filter(F.col("k") == 7).first()["v"] == 70
    # snapshot isolation
    assert snap.read_snapshot(spark, root, 1).filter(
        F.col("v") < 0
    ).count() == 0
    # some files carried by name (range layout localizes the keys...
    # keys 0..190 span all 4 files here, so just check the commit
    # resolves and no rows were lost or doubled)
    assert got.select("k").distinct().count() == 205


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    dup = spark.createDataFrame([(1, 5), (1, 6)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="duplicate keys"):
        snap.commit_merge(spark, root, dup, ["k"])


def test_merge_scoped_by_partition_preserves_layout(spark, tmp_path):
    """A key-clustered merge with scan_prune touches only matching
    cells and the rewrite lands under the table's partition spec."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _cells_df(spark, 0, 200), partition_by=["cell"]
    )
    src = spark.createDataFrame(
        [(2, 2, -1), (7, 2, -1), (1002, 2, -2)],
        "k bigint, cell bigint, v bigint",
    )
    f1 = set(snap.files_of(root, 1))
    v2 = snap.commit_merge(
        spark, root, src, ["k"], scan_prune={"cell": [2]}
    )
    f2 = set(snap.files_of(root, v2))
    cellof = lambda f: snap._partition_values(f, ["cell"])["cell"]  # noqa: E731
    assert {cellof(f) for f in f1 - f2} == {"2"}  # only cell 2 dropped
    assert snap.read_manifest(root, v2)["partition_spec"] == ["cell"]
    got = snap.read_snapshot(spark, root, v2)
    assert got.count() == 201
    assert got.filter(F.col("v") == -1).count() == 2
    assert got.filter(F.col("v") == -2).count() == 1


def test_merge_empty_table_is_append(spark, tmp_path):
    root = str(tmp_path / "t")
    v = snap.commit_merge(spark, root, _df(spark, 0, 5), ["k"])
    assert v == 1
    assert snap.read_snapshot(spark, root).count() == 5


def test_rollback_restores_row_set_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.commit_delete_where(spark, root, F.col("k") < 90)  # oops
    assert snap.read_snapshot(spark, root).count() == 10
    before_files = set(snap.files_of(root, 1))
    v3 = snap.rollback_to(root, 1)
    m = snap.read_manifest(root, v3)
    assert m["op"] == "rollback" and m["rolled_back_to"] == 1
    assert snap.read_snapshot(spark, root, v3).count() == 100
    # metadata-only: the rollback resolves to v1's exact files
    assert set(snap.files_of(root, v3)) == before_files
    # history intact: the bad head still reads
    assert snap.read_snapshot(spark, root, 2).count() == 10
    # appends keep flowing after a rollback
    v4 = snap.commit_append(spark, root, _df(spark, 100, 110))
    assert snap.read_snapshot(spark, root, v4).count() == 110


def test_delete_keys_anti_join_shape(spark, tmp_path):
    """commit_delete_keys: key-set delete drops exactly the listed
    keys, NULL keys never match, carried files untouched, no-match
    delete is metadata-only."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i if i % 10 else None, i * 10) for i in range(100)],
        "k bigint, v bigint",
    )
    snap.commit_append(spark, root, df.repartitionByRange(4, "v"))
    keys = spark.createDataFrame(
        [(k,) for k in (3, 7, 55, None)], "k bigint"
    )
    v2 = snap.commit_delete_keys(spark, root, keys, ["k"])
    got = snap.read_snapshot(spark, root, v2)
    assert got.count() == 97  # 3 real keys dropped; NULL key matched nothing
    assert got.filter(F.col("k").isin(3, 7, 55)).count() == 0
    assert got.filter(F.col("k").isNull()).count() == 10  # survivors
    assert snap.read_snapshot(spark, root, 1).count() == 100
    # no-match key set: metadata-only carry
    v3 = snap.commit_delete_keys(
        spark,
        root,
        spark.createDataFrame([(12345,)], "k bigint"),
        ["k"],
    )
    assert snap.read_manifest(root, v3)["segments"] == snap.read_manifest(
        root, v2
    )["segments"]


def test_table_history_lineage_and_ops(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    snap.snapshot_sink(root, "s1")(_df(spark, 50, 60), 0)
    snap.commit_delete_where(spark, root, F.col("k") < 10)
    snap.rollback_to(root, 2)
    h = {r["version"]: r for r in snap.table_history(spark, root).collect()}
    assert [h[v]["op"] for v in (1, 2, 3, 4)] == [
        "append", "append", "delete", "rollback",
    ]
    assert [h[v]["parent"] for v in (1, 2, 3, 4)] == [0, 1, 2, 3]
    assert h[2]["stream_id"] == "s1" and h[2]["batch_id"] == 0
    assert h[4]["rolled_back_to"] == 2
    assert h[4]["n_files"] == h[2]["n_files"]
    # retention-expired versions drop out of the history cleanly
    snap.expire_snapshots(root, keep_last=1)
    left = {r["version"] for r in snap.table_history(spark, root).collect()}
    assert 4 in left and 1 not in left


def test_merge_crash_before_commit_leaves_clean_head(spark, tmp_path):
    """Crash injection for commit_merge's single-phase contract: a
    writer dying after staging data/segments but before the manifest
    link leaves orphans only — the head still reads, a re-run merge
    lands once, and vacuum reclaims the orphans under the age gate."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    src = spark.createDataFrame([(5, -1), (1000, -2)], "k bigint, v bigint")

    real_commit = snap._commit
    def boom(*a, **k):
        raise RuntimeError("crash before manifest link")
    snap._commit = boom
    try:
        with pytest.raises(RuntimeError, match="crash"):
            snap.commit_merge(spark, root, src, ["k"])
    finally:
        snap._commit = real_commit
    # head unharmed, no torn state
    assert snap.current_version(root) == 1
    assert snap.read_snapshot(spark, root).count() == 100
    # re-run commits exactly once
    v2 = snap.commit_merge(spark, root, src, ["k"])
    got = snap.read_snapshot(spark, root, v2)
    assert got.count() == 101
    assert got.filter(F.col("v") < 0).count() == 2
    # the crashed attempt's files are unreferenced; age-gated vacuum
    # leaves them (young), aged vacuum would reclaim — here just assert
    # they are invisible to every retained version
    live = set(snap.files_of(root, 1)) | set(snap.files_of(root, v2))
    on_disk = {
        os.path.join(d, f).split(f"{root}/")[-1]
        for d, _dirs, fs in os.walk(os.path.join(root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert live <= on_disk  # orphans may exist, live files all present


def test_merge_vs_append_race_serializes(spark, tmp_path, monkeypatch):
    """A merge racing a concurrent append: the merge's commit loses
    the version link and surfaces ConcurrentCommit; commit_with_retry
    re-runs it against the new head so BOTH the racer's rows and the
    merge land."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    src = spark.createDataFrame([(7, -1), (2000, -2)], "k bigint, v bigint")

    real_write = snap._write_data_files
    state = {"raced": False}

    def hooked(df, r, partition_by=None):
        files = real_write(df, r, partition_by)
        if not state["raced"]:
            state["raced"] = True
            snap.commit_append(spark, root, _df(spark, 50, 60))  # racer
        return files

    monkeypatch.setattr(snap, "_write_data_files", hooked)
    v = snap.commit_with_retry(
        root, lambda: snap.commit_merge(spark, root, src, ["k"])
    )
    got = snap.read_snapshot(spark, root, v)
    # racer's 10 rows + 50 base + 1 insert, with k=7 replaced not doubled
    assert got.count() == 61
    assert got.filter(F.col("k") == 7).count() == 1
    assert got.filter(F.col("v") == -1).count() == 1


def test_rollback_then_expire_keeps_restored_files(spark, tmp_path):
    """Retention after a rollback: the rollback manifest references
    the restored version's segments, so expiring the bad intermediate
    versions must keep every file the (rolled-back) head needs."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 80))
    snap.commit_delete_where(spark, root, F.col("k") < 70)
    v3 = snap.rollback_to(root, 1)
    snap.expire_snapshots(root, keep_last=1)
    got = snap.read_snapshot(spark, root, v3)
    assert got.count() == 80
    for f in snap.files_of(root, v3):
        assert os.path.exists(os.path.join(root, f))


@pytest.mark.parametrize(
    "bound",
    [
        (0, 0),          # point range
        (1, 3),          # mid range
        (None, 2),       # open low
        (3, None),       # open high
        (None, None),    # fully open: must prune nothing
        (99, 100),       # empty intersection: prunes everything
        [0, 4],          # value set
        [2],             # singleton set
        [],              # empty set: matches nothing
        ["1", "3"],      # string-typed bounds coerce against int cells
    ],
)
def test_prune_never_loses_matching_rows(spark, tmp_path, bound):
    """The pruning safety contract, swept across bound shapes: for a
    stats'd AND partitioned table, reading the pruned file list under
    the equivalent row filter returns exactly the full scan's rows —
    pruning may only remove files that provably hold no match."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _cells_df(spark, 0, 100),
        partition_by=["cell"],
        stats_cols=["k"],
    )
    m = snap.read_manifest(root, 1)
    all_files = snap.manifest_files(root, m)
    pruned = snap.pruned_manifest_files(root, m, {"cell": bound})
    assert set(pruned) <= set(all_files)

    if isinstance(bound, list):
        vals = [int(v) for v in bound]
        pred = F.col("cell").isin(vals) if vals else F.lit(False)
    else:
        lo, hi = bound
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col("cell") >= lo)
        if hi is not None:
            pred = pred & (F.col("cell") <= hi)

    full = (
        snap.read_snapshot(spark, root).filter(pred).collect()
    )
    got = (
        snap.read_snapshot(spark, root, prune={"cell": bound})
        .filter(pred)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))


def test_read_appends_skips_merge_and_rollback_commits(spark, tmp_path):
    """Changelog semantics pinned: `read_appends` is the APPEND slice
    only — merge commits (even their inserts) and rollbacks contribute
    nothing; consumers needing merged state read snapshots. This keeps
    the feed write-once: a row surfaces in the changelog exactly once,
    at its original append."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    snap.commit_merge(
        spark,
        root,
        spark.createDataFrame([(5, -1), (900, -2)], "k bigint, v bigint"),
        ["k"],
    )
    snap.commit_append(spark, root, _df(spark, 100, 110))
    snap.rollback_to(root, 3)
    inc = snap.read_appends(spark, root, 1)
    rows = {(r["k"], r["v"]) for r in inc.collect()}
    # only v3's append window; neither the merge's update nor its
    # insert, and nothing from the rollback
    assert rows == {(k, k * 10) for k in range(100, 110)}


def test_refresh_from_snapshot_merge_window_advances_checkpoint(
    spark, tmp_path
):
    """A merge commit mid-window must advance the index checkpoint
    WITHOUT minting a segment or changing scores (op-aware windows) —
    composing the round-8 merge op with the changelog-driven refresh."""
    from metastore_spark.search.refresh import (
        _read_manifest,
        load_segmented,
        refresh_from_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    store = str(tmp_path / "seg")
    docs = spark.createDataFrame(
        [(i, f"spark streams data batch{i % 3}") for i in range(9)],
        "doc_id bigint, text string",
    )
    snap.commit_append(spark, tbl, docs)
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 1
    n_before = load_segmented(spark, store).num_docs
    segs_before = _read_manifest(store)["segments"]

    snap.commit_merge(
        spark,
        tbl,
        spark.createDataFrame(
            [(0, "spark streams data batchX")], "doc_id bigint, text string"
        ),
        ["doc_id"],
    )
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 2
    man = _read_manifest(store)
    assert man["segments"] == segs_before  # nothing minted
    assert man["snapshot_version"] == 2
    assert load_segmented(spark, store).num_docs == n_before


def test_vacuum_reclaims_crashed_merge_scratch(spark, tmp_path, monkeypatch):
    """A merge that crashed before its manifest link leaves orphan
    data files; age-gated vacuum reclaims them while every retained
    version's files survive."""
    import time as _time

    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 40))
    src = spark.createDataFrame([(3, -1)], "k bigint, v bigint")
    real_commit = snap._commit
    monkeypatch.setattr(
        snap, "_commit",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError):
        snap.commit_merge(spark, root, src, ["k"])
    monkeypatch.setattr(snap, "_commit", real_commit)

    live = set(snap.files_of(root, 1))
    # age the orphans past the gate
    for d, _dirs, fs in os.walk(os.path.join(root, "data")):
        for f in fs:
            rel = os.path.relpath(os.path.join(d, f), root)
            if rel not in live:
                os.utime(
                    os.path.join(d, f),
                    (
                        _time.time() - 2 * snap._ORPHAN_AGE_SEC,
                        _time.time() - 2 * snap._ORPHAN_AGE_SEC,
                    ),
                )
    deleted = snap.vacuum(root, keep_last=5)
    assert any(p.endswith(".parquet") for p in deleted)
    assert snap.read_snapshot(spark, root, 1).count() == 40
    for f in live:
        assert os.path.exists(os.path.join(root, f))


def test_vacuum_partitioned_layout_preserves_live_nested_files(
    spark, tmp_path
):
    """ADVICE r8 (high): partition_by commits nest parquet under
    data/<uuid>/_p_<col>=<val>/ — the retention sweep must walk
    recursively. Regression pinned here: (a) an aged partitioned dir
    whose nested files are ALL live must survive vacuum (the old
    top-level-only listing saw "no parquet" and rmtree'd it whole);
    (b) nested files referenced only by expired manifests must
    actually be swept (the old per-file loop never descended)."""
    root = str(tmp_path / "t")
    df = _df(spark, 0, 200).withColumn("bucket", F.col("k") % 4)
    snap.commit_append(spark, root, df, partition_by=["bucket"])
    head_rows = snap.read_snapshot(spark, root).count()
    assert head_rows == 200

    # (a) age EVERYTHING — files, partition dirs, data dirs — far past
    # the orphan gate; every file is live, so vacuum must not touch it
    old = time.time() - 2 * snap._ORPHAN_AGE_SEC
    data_root = os.path.join(root, "data")
    for base, dirs, names in os.walk(data_root):
        for n in dirs + names:
            os.utime(os.path.join(base, n), (old, old))
    for d in os.listdir(data_root):
        os.utime(os.path.join(data_root, d), (old, old))
    deleted = snap.vacuum(root, keep_last=5)
    assert not any(p.endswith(".parquet") for p in deleted)
    assert snap.read_snapshot(spark, root).count() == 200
    for f in snap.files_of(root, 1):
        assert os.path.exists(os.path.join(root, f)), f

    # (b) two more appends so v1 falls out of keep_last=2 retention;
    # its nested files are expired-referenced → swept immediately
    # (no age gate for once-committed expired files)
    df2 = _df(spark, 200, 210).withColumn("bucket", F.col("k") % 4)
    snap.commit_append(spark, root, df2, partition_by=["bucket"])
    v1_only = set(snap.files_of(root, 1)) - set(snap.files_of(root, 2))
    # v1's segment is fully carried by v2 (append) — force a rewrite
    # so some v1 files become exclusive: delete half the keys
    snap.commit_delete_where(spark, root, F.col("k") < 100)
    v3_files = set(snap.files_of(root, 3))
    exclusive = (
        set(snap.files_of(root, 1)) | set(snap.files_of(root, 2))
    ) - v3_files
    assert exclusive, "setup: some files must be expired-only"
    deleted = snap.vacuum(root, keep_last=1)
    for f in exclusive:
        assert not os.path.exists(os.path.join(root, f)), f
        assert "_p_bucket=" in f  # the nested layout is what's pinned
    assert snap.read_snapshot(spark, root).count() == 110


def test_read_appends_behind_retention_raises_typed_error(spark, tmp_path):
    """VERDICT r9 task 2: a changelog consumer whose checkpoint fell
    behind `expire_snapshots` retention gets a typed RetentionExpired
    naming the oldest readable checkpoint (Delta CDF's contract), not
    a raw FileNotFoundError; a window inside retention still reads."""
    root = str(tmp_path / "t")
    for i in range(5):
        snap.commit_append(spark, root, _df(spark, i * 10, i * 10 + 10))
    snap.expire_snapshots(root, keep_last=2)
    head = snap.current_version(root)
    assert head == 5

    with pytest.raises(snap.RetentionExpired) as exc:
        snap.read_appends(spark, root, 1)
    assert "oldest readable checkpoint is 4" in str(exc.value)
    # a lagging until inside an expired window raises too, not FNF
    with pytest.raises(snap.RetentionExpired):
        snap.read_appends(spark, root, 2, 3)

    # checkpoint at the horizon still reads: window (4,5] needs v5
    # and its parent v4, both retained
    assert snap.read_appends(spark, root, head - 1).count() == 10
    # full-history table: checkpoint 0 remains readable
    root2 = str(tmp_path / "t2")
    snap.commit_append(spark, root2, _df(spark, 0, 10))
    assert snap.read_appends(spark, root2, 0).count() == 10


def test_merge_null_keyed_source_rows_insert(spark, tmp_path):
    """ADVICE r8 (low): NULL keys never match (SQL join semantics), so
    two NULL-keyed source rows are two INSERTS — the duplicate-key
    guard must not group them together and raise; real duplicate
    non-NULL keys must still raise."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))

    src = spark.createDataFrame(
        [(None, 1000), (None, 2000), (5, 5555)], "k bigint, v bigint"
    )
    v = snap.commit_merge(spark, root, src, ["k"])
    got = snap.read_snapshot(spark, root, v)
    assert got.count() == 12  # 10 - 1 replaced + 1 update + 2 inserts
    assert got.filter(F.col("k").isNull()).count() == 2
    assert [
        r["v"] for r in got.filter(F.col("k") == 5).collect()
    ] == [5555]

    dup_src = spark.createDataFrame(
        [(7, 1), (7, 2)], "k bigint, v bigint"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        snap.commit_merge(spark, root, dup_src, ["k"])


def test_compact_cluster_by_zorders_and_prunes(spark, tmp_path):
    """VERDICT r9 task 6: compact(cluster_by=[a, b]) rewrites the fold
    Z-ordered (one file per Morton cell), records partition_spec +
    cluster_spec, and a box probe via clustered_prune reads a strict
    file subset with exact results; the pre-compaction version still
    reads; later commits inherit the cluster_spec."""
    root = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 500).alias("a"),
        (F.col("id") % 32).alias("b"),
    )
    snap.commit_append(spark, root, df.repartition(4))
    v = snap.compact(spark, root, cluster_by=["a", "b"])
    m = snap.read_manifest(root, v)
    assert m["partition_spec"] == ["zcell"]
    cs = m["cluster_spec"]
    assert cs["cols"] == ["a", "b"] and cs["cell_col"] == "zcell"

    # identical row set (ignoring the derived cell column)
    head = snap.read_snapshot(spark, root)
    assert head.count() == 4000
    assert head.filter(F.col("zcell").isNull()).count() == 0
    assert snap.read_snapshot(spark, root, 1).count() == 4000

    # box probe: strict subset of files, exact rows
    pr = snap.clustered_prune(root, 100, 150, 0, 7)
    total = len(snap.files_of(root, v))
    sub = snap.pruned_manifest_files(root, m, pr)
    assert 0 < len(sub) < total
    box = F.col("a").between(100, 150) & F.col("b").between(0, 7)
    got = snap.read_snapshot(spark, root, prune=pr).filter(box).count()
    assert got == df.filter(box).count() > 0

    # inheritance: an append (caller adds the cell) carries the spec
    from metastore_spark.layout import zorder_cell

    extra_rows = spark.range(4000, 4100).select(
        F.col("id").alias("k"),
        (F.col("id") % 500).alias("a"),
        (F.col("id") % 32).alias("b"),
    ).withColumn(
        "zcell",
        zorder_cell(F.col("a"), F.col("b"), cs["shifts"][0], cs["shifts"][1]),
    )
    v2 = snap.commit_append(spark, root, extra_rows)
    assert snap.read_manifest(root, v2)["cluster_spec"] == cs
    assert snap.read_snapshot(spark, root).count() == 4100
    # un-clustered table: probe helper refuses
    r2 = str(tmp_path / "t2")
    snap.commit_append(spark, r2, df)
    with pytest.raises(ValueError, match="cluster_spec"):
        snap.clustered_prune(r2, 0, 1, 0, 1)


def test_append_width_memoized_per_file_stamp(tmp_path, monkeypatch):
    """_append_width reads the parquet footers once per (path, size,
    mtime) stamp: repeat calls read nothing, and a rewritten corpus is
    re-read, never served the stale width."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metastore_spark import queries_snapshots as qsn

    src = tmp_path / "events.parquet"
    pq.write_table(pa.table({"x": list(range(1000))}), src)
    reads = []
    real = pq.ParquetFile

    def counting(path, *a, **k):
        reads.append(path)
        return real(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    one_byte = qsn._append_width(str(tmp_path), bytes_per_file=1)
    assert one_byte > 1 and len(reads) == 1
    for _ in range(4):
        assert qsn._append_width(str(tmp_path), bytes_per_file=1) == one_byte
    assert len(reads) == 1

    pq.write_table(pa.table({"x": list(range(5000))}), src)
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert qsn._append_width(str(tmp_path), bytes_per_file=1) > one_byte
    assert len(reads) == 2
