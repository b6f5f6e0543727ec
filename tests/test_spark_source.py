"""The snapshot format as a registered Spark data source
(metastore_spark/sources/spark_source.py): batch reads with
version/tag/ref resolution, evolution cohorts, MOR deletes, and the
version-offset streaming source with exactly-once checkpoint resume."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap
from metastore_spark.sources.spark_source import SnapshotDataSource


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(SnapshotDataSource)
    return spark


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    )


def _sorted(df):
    return [tuple(r) for r in df.orderBy("k").collect()]


def test_batch_head_matches_library_read(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 500).repartition(3))
    snap.commit_mor_delete(spark, root, F.col("g") == 3)
    via_source = spark.read.format("snapshot").load(root)
    via_lib = snap.read_snapshot(spark, root)
    assert via_source.schema == via_lib.schema
    assert _sorted(via_source) == _sorted(via_lib)
    assert via_source.filter("g = 3").count() == 0


def test_batch_version_tag_and_ref(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.create_tag(root, "pin")
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _df(spark, 100, 150), ref="b")
    snap.commit_append(spark, root, _df(spark, 100, 120))
    def rd():
        return spark.read.format("snapshot")

    assert rd().option("version", "1").load(root).count() == 100
    assert rd().option("version", "pin").load(root).count() == 100
    assert rd().option("ref", "b").load(root).count() == 150
    assert rd().load(root).count() == 120


def test_batch_reads_across_evolution_cohorts(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        spark.range(50).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).cast("int").alias("g"),
        ),
    )
    snap.widen_column(root, "g", "long")
    snap.commit_append(spark, root, _df(spark, 50, 100))
    snap.rename_column(root, "g", "grp")
    via_source = spark.read.format("snapshot").load(root)
    via_lib = snap.read_snapshot(spark, root)
    assert via_source.schema == via_lib.schema
    assert _sorted(via_source) == _sorted(via_lib)
    # old cohort resolved through the ID mapping, widened type
    assert via_source.filter("k < 50").agg(F.sum("grp")).first()[0] == sum(
        i % 10 for i in range(50)
    )


def test_batch_null_fills_added_columns(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    snap.commit_append(
        spark,
        root,
        _df(spark, 50, 100).withColumn("extra", F.col("k") * 2),
    )
    out = spark.read.format("snapshot").load(root)
    assert out.filter("extra is null").count() == 50
    assert out.filter("extra = k * 2").count() == 50


def _drain(spark, root, ckpt, sink):
    q = (
        spark.readStream.format("snapshot")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_source_exactly_once_resume(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.commit_append(spark, root, _df(spark, lo, lo + 100))
    snap.commit_mor_delete(spark, root, F.col("g") == 0)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    _drain(spark, root, ckpt, sink)
    # appends feed: the MOR delete does NOT retract served rows
    assert spark.read.parquet(sink).count() == 300
    # new appends + a compaction (contributes nothing) + resume
    snap.commit_append(spark, root, _df(spark, 300, 350))
    snap.compact(spark, root, target_files=1)
    snap.commit_append(spark, root, _df(spark, 350, 360))
    _drain(spark, root, ckpt, sink)
    out = spark.read.parquet(sink)
    assert out.count() == 360  # no duplicates, no loss
    assert out.agg(F.sum("k")).first()[0] == sum(range(360))
    # idle re-drain adds nothing
    _drain(spark, root, ckpt, sink)
    assert spark.read.parquet(sink).count() == 360


def test_stream_since_option_skips_history(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.commit_append(spark, root, _df(spark, lo, lo + 100))
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("snapshot")
        .option("since", 2)
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink)
    assert out.count() == 100
    assert out.agg(F.min("k")).first()[0] == 200


def test_stream_checkpoint_behind_retention_fails_typed(
    registered, tmp_path
):
    spark = registered
    root = str(tmp_path / "t")
    for lo in range(0, 600, 100):
        snap.commit_append(spark, root, _df(spark, lo, lo + 100))
    snap.expire_snapshots(root, keep_last=2)
    q = (
        spark.readStream.format("snapshot")
        .option("since", 1)
        .load(root)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="retention"):
        q.awaitTermination(180)


def test_source_schema_is_the_committed_schema(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    got = spark.read.format("snapshot").load(root).schema
    assert [f.name for f in got.fields] == ["k", "g"]
    assert [f.dataType.simpleString() for f in got.fields] == [
        "bigint",
        "bigint",
    ]


def test_stream_rename_guard_and_restart_adoption(
    registered, tmp_path
):
    """An IN-FLIGHT stream whose window crosses a rename of a pinned
    column must fail loudly (silent null-fill would corrupt the
    feed); a RESTARTED stream re-pins the evolved schema and adopts
    it — Delta's contract."""
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    # in-flight: reader pinned on the pre-rename head
    src = SnapshotDataSource({"path": root})
    reader = src.streamReader(None)
    snap.rename_column(root, "g", "grp")
    snap.commit_append(
        spark,
        root,
        spark.range(100, 120).selectExpr("id as k", "id % 10 as grp"),
    )
    with pytest.raises(ValueError, match="renamed"):
        reader.partitions(
            {"version": 1}, {"version": snap.current_version(root)}
        )
    # restart: a fresh stream adopts the evolved schema end-to-end
    sink = str(tmp_path / "sink2")
    q = (
        spark.readStream.format("snapshot")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert "grp" in out.columns
    # ADVICE r9 (medium): the backlog commit (v1) predates the
    # table's column IDs, so the restarted stream must resolve the
    # pinned 'grp' through the head's legacy_columns write-time
    # mapping ('g') — NOT silently null-fill the renamed column.
    assert out.filter("grp is null").count() == 0
    backlog = {
        (r["k"], r["grp"]) for r in out.filter("k < 100").collect()
    }
    assert backlog == {(k, k % 10) for k in range(100)}


def test_batch_source_pins_version_across_schema_and_reader(
    registered, tmp_path
):
    """ADVICE r9 (low): schema() and reader() must resolve the head
    ONCE per DataSource instance — a commit landing between the two
    calls must not make the reader plan a newer manifest than the
    advertised schema (arrow/schema mismatch at read time)."""
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    src = SnapshotDataSource({"path": root})
    src.schema()
    snap.commit_append(spark, root, _df(spark, 50, 80))
    reader = src.reader(None)
    assert reader.version == 1  # the version schema() advertised


def test_batch_source_on_partitioned_store(registered, tmp_path):
    """Partition mirror columns live in the data files, so the source
    serves them like any column; per-day counts match the library."""
    spark = registered
    root = str(tmp_path / "t")
    df = _df(spark, 0, 300).withColumn(
        "day", (F.col("k") % 3).cast("string")
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    snap.commit_delete_where(spark, root, F.col("day") == "2")
    out = spark.read.format("snapshot").load(root)
    got = {
        r["day"]: r["count"]
        for r in out.groupBy("day").count().collect()
    }
    assert got == {"0": 100, "1": 100}


def test_stream_window_with_publish_serves_only_appends(
    registered, tmp_path
):
    """Publish (like compact) restates by reference — the stream feed
    must serve append commits only, before and after it."""
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.create_branch(root, "b")
    snap.commit_delete_where(spark, root, F.col("g") == 0, ref="b")
    snap.publish_branch(root, "b")  # trunk v2
    snap.commit_append(spark, root, _df(spark, 100, 150))  # v3
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("snapshot")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink)
    assert out.count() == 150  # two appends; publish contributed nothing
    assert out.agg(F.sum("k")).first()[0] == sum(range(150))


def test_batch_source_accumulated_mor_deletes(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 500).repartition(4))
    snap.commit_mor_delete(spark, root, F.col("g") == 1)
    snap.commit_mor_delete(spark, root, F.col("g") == 2)
    out = spark.read.format("snapshot").load(root)
    assert out.count() == 400
    assert out.filter("g in (1, 2)").count() == 0
    assert _sorted(out) == _sorted(snap.read_snapshot(spark, root))


def test_batch_source_prune_options_plan_fewer_partitions(
    registered, tmp_path
):
    """VERDICT r9 task 5: pruning pushed through the Python
    DataSource — a prune option plans STRICTLY fewer input partitions
    (files skipped from manifest stats, never opened) and the result
    under the equivalent row filter is unchanged."""
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _df(spark, 0, 1000).repartitionByRange(8, "k"),
        stats_cols=["k"],
    )
    def n_files(slices):
        # slices pack multiple files by byte target (r13); the prune
        # contract is about FILES planned, not task count
        return sum(len(s.items) for s in slices)

    src = SnapshotDataSource({"path": root})
    full = src.reader(None).partitions()
    pruned_reader = SnapshotDataSource(
        {"path": root, "prune.k": "100,199"}
    ).reader(None)
    pruned = pruned_reader.partitions()
    assert 0 < n_files(pruned) < n_files(full)
    got = (
        spark.read.format("snapshot")
        .option("prune.k", "100,199")
        .load(root)
        .filter("k between 100 and 199")
    )
    want = snap.read_snapshot(spark, root).filter(
        "k between 100 and 199"
    )
    assert _sorted(got) == _sorted(want)
    # open-ended range
    open_hi = SnapshotDataSource(
        {"path": root, "prune.k": "900,"}
    ).reader(None).partitions()
    assert 0 < n_files(open_hi) < n_files(full)


def test_batch_source_prune_in_uses_blooms(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _df(spark, 0, 1000).repartition(8),
        bloom_cols=["k"],
    )
    full = SnapshotDataSource({"path": root}).reader(None).partitions()
    pruned = SnapshotDataSource(
        {"path": root, "prune_in.k": "17"}
    ).reader(None).partitions()
    # hash-partitioned on a different key, so k=17 lives in few files;
    # blooms prove absence where min/max ranges cannot (counts are
    # planned FILES — slices pack multiple files by byte target, r13)
    assert (
        0
        < sum(len(s.items) for s in pruned)
        < sum(len(s.items) for s in full)
    )
    got = (
        spark.read.format("snapshot")
        .option("prune_in.k", "17")
        .load(root)
        .filter("k = 17")
    )
    assert _sorted(got) == [(17, 7)]


def test_batch_source_prune_option_rejects_bad_shape(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    with pytest.raises(Exception, match="lo,hi"):
        SnapshotDataSource(
            {"path": root, "prune.k": "1,2,3"}
        ).reader(None)


def test_stream_backlog_admission_cap(registered, tmp_path):
    """option("max_versions_per_batch", N): no micro-batch ever spans
    more than N versions. A processingTime stream catches up to the
    head in bounded batches; under availableNow (single captured
    target — Python DataSource API limitation, see _StreamReader) a
    capped stream drains at most N versions per start, monotonically,
    with no loss or duplication across starts."""
    import glob
    import json as _json
    import time

    spark = registered
    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300, 400):
        snap.commit_append(spark, root, _df(spark, lo, lo + 100))

    # -- processingTime: full catch-up, every offset step <= 2 versions
    ckpt = str(tmp_path / "ckpt_pt")
    sink = str(tmp_path / "sink_pt")
    q = (
        spark.readStream.format("snapshot")
        .option("max_versions_per_batch", "2")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() == 500:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert spark.read.parquet(sink).count() == 500
    finally:
        q.stop()
    offsets = []
    for f in sorted(
        glob.glob(ckpt + "/offsets/*"), key=lambda p: int(p.rsplit("/")[-1])
    ):
        with open(f) as fh:
            offsets.append(_json.loads(fh.read().strip().splitlines()[-1])["version"])
    assert offsets[-1] == 5
    steps = [b - a for a, b in zip([0] + offsets, offsets)]
    assert all(s <= 2 for s in steps), (offsets, steps)
    assert len(offsets) >= 3  # 5 versions / cap 2 -> at least 3 batches

    # -- availableNow: bounded per-start drain, monotone convergence
    ckpt2 = str(tmp_path / "ckpt_an")
    sink2 = str(tmp_path / "sink_an")

    def _drain_capped():
        q = (
            spark.readStream.format("snapshot")
            .option("max_versions_per_batch", "2")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink2)
            .option("checkpointLocation", ckpt2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink2)

    counts = [_drain_capped().count() for _ in range(3)]
    assert counts == [200, 400, 500], counts
    out = spark.read.parquet(sink2)
    assert out.count() == 500
    assert out.select("k").distinct().count() == 500  # no dup, no loss

    # cap validation is typed
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_versions_per_batch"):
        (
            spark.readStream.format("snapshot")
            .option("max_versions_per_batch", "0")
            .load(root)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


@pytest.mark.parametrize("raw", ["-1", "abc", "1.5", ""])
def test_slice_mb_rejects_invalid_values(raw, monkeypatch):
    """SPARK_GRAFT_SLICE_MB fails loudly: a negative or non-integer
    value raises instead of silently planning 32 MiB or per-file
    slices; 0 (one file per slice) and the default stay valid."""
    from metastore_spark.sources.spark_source import _slice_target_bytes

    monkeypatch.setenv("SPARK_GRAFT_SLICE_MB", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SLICE_MB"):
        _slice_target_bytes()
    monkeypatch.setenv("SPARK_GRAFT_SLICE_MB", "0")
    assert _slice_target_bytes() == 0
    monkeypatch.delenv("SPARK_GRAFT_SLICE_MB")
    assert _slice_target_bytes() == 32 << 20


def test_slices_pack_files_by_byte_target(registered, tmp_path, monkeypatch):
    """r13: the planner packs many tiny files into few byte-target
    slices (one task per KB-sized micro-batch file was pure scheduler
    overhead), the pack is deterministic, and the packed read serves
    the identical rows. A 0-MB target degenerates to one file per
    slice — the pre-pack plan — so production-sized files keep their
    own task."""
    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 400).repartition(8))
    full = SnapshotDataSource({"path": root}).reader(None).partitions()
    assert sum(len(s.items) for s in full) == len(snap.files_of(root, 1))
    # tiny files under the default target -> fewer slices than files
    assert len(full) < sum(len(s.items) for s in full)
    # per-file plan under a zero target
    monkeypatch.setenv("SPARK_GRAFT_SLICE_MB", "0")
    per_file = SnapshotDataSource({"path": root}).reader(None).partitions()
    assert len(per_file) == sum(len(s.items) for s in per_file)
    monkeypatch.delenv("SPARK_GRAFT_SLICE_MB")
    via_source = spark.read.format("snapshot").load(root)
    assert _sorted(via_source) == _sorted(snap.read_snapshot(spark, root))
