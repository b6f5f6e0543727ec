"""Named refs on the snapshot table format: branches (write-audit-
publish), tags (retention-pinned reproducibility), publish conflict
rules, and ref-aware retention GC
(metastore_spark/sources/snapshots.py)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )


def _table(spark, tmp_path, n=90):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, n))
    return root


# ---------------------------------------------------------------- branches


def test_branch_commits_never_move_the_trunk(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "audit")
    snap.commit_append(spark, root, _df(spark, 90, 120), ref="audit")
    snap.commit_delete_where(spark, root, F.col("g") == 0, ref="audit")
    # trunk: untouched head, untouched rows
    assert snap.current_version(root) == 1
    assert snap.read_snapshot(spark, root).count() == 90
    # branch: fork(1) + append(2) + delete(3), its own linear chain
    assert snap.current_version(root, "audit") == 3
    assert snap.read_snapshot(spark, root, ref="audit").count() == 80
    # branch time travel works within the branch chain
    assert snap.read_snapshot(spark, root, 2, ref="audit").count() == 120


def test_branch_fork_is_metadata_only(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    assert set(snap.manifest_files(root, snap.read_manifest(root, 1, "b"))) == set(
        snap.files_of(root, 1)
    )


def test_publish_fast_forward(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "audit")
    snap.commit_delete_where(spark, root, F.col("g") == 1, ref="audit")
    v = snap.publish_branch(root, "audit")
    assert v == 2
    m = snap.read_manifest(root, 2)
    assert m["op"] == "publish"
    assert m["published_from"]["branch"] == "audit"
    assert snap.read_snapshot(spark, root).count() == 60
    # pre-publish trunk still time-travels
    assert snap.read_snapshot(spark, root, 1).count() == 90


def test_publish_conflict_when_trunk_advanced(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "audit")
    snap.commit_delete_where(spark, root, F.col("g") == 1, ref="audit")
    snap.commit_append(spark, root, _df(spark, 90, 100))  # trunk moves
    with pytest.raises(snap.ConcurrentCommit):
        snap.publish_branch(root, "audit")
    # explicit override: last-writer-wins, branch row set replaces
    v = snap.publish_branch(root, "audit", allow_diverged=True)
    assert v == 3
    assert snap.read_snapshot(spark, root).count() == 60


def test_branch_create_once_and_bad_names(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    with pytest.raises(ValueError):
        snap.create_branch(root, "b")
    for bad in ("main", "", "a/b", "x.y", "-lead", "7"):
        with pytest.raises(ValueError):
            snap.create_branch(root, bad)
    with pytest.raises(ValueError):
        snap.create_branch(root, "c", version=7)  # no such trunk version


def test_branch_requires_create_before_commit(spark, tmp_path):
    root = _table(spark, tmp_path)
    with pytest.raises(ValueError):
        snap.commit_append(spark, root, _df(spark, 0, 5), ref="ghost")


def test_drop_branch(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _df(spark, 90, 95), ref="b")
    snap.drop_branch(root, "b")
    assert snap.list_branches(root) == {}
    with pytest.raises(ValueError):
        snap.drop_branch(root, "b")


def test_concurrent_branch_writers_serialize(spark, tmp_path):
    """Two writers committing to the SAME branch race on the branch's
    own put-if-absent version file: exactly one wins."""
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    head = snap.current_version(root, "b")
    m = snap.read_manifest(root, head, "b")
    segs = list(m["segments"])
    snap._commit(root, head, "append", segs, None, "b")
    with pytest.raises(snap.ConcurrentCommit):
        snap._commit(root, head, "append", segs, None, "b")


def test_branch_merge_and_delete_keys(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    src = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("g")
    )
    snap.commit_merge(spark, root, src, ["k"], ref="b")
    assert (
        snap.read_snapshot(spark, root, ref="b")
        .filter(F.col("g") == 99)
        .count()
        == 5
    )
    drop = spark.range(0, 10).select(F.col("id").alias("k"))
    snap.commit_delete_keys(spark, root, drop, ["k"], ref="b")
    assert snap.read_snapshot(spark, root, ref="b").count() == 80
    assert snap.read_snapshot(spark, root).count() == 90  # trunk intact


# ---------------------------------------------------------------- tags


def test_tag_reads_and_create_once(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.commit_append(spark, root, _df(spark, 90, 100))
    snap.create_tag(root, "prod", version=1)
    assert snap.tag_version(root, "prod") == 1
    assert snap.read_snapshot(spark, root, "prod").count() == 90
    with pytest.raises(ValueError):
        snap.create_tag(root, "prod")
    with pytest.raises(ValueError):
        snap.create_tag(root, "ghost", version=9)
    snap.drop_tag(root, "prod")
    with pytest.raises(ValueError):
        snap.tag_version(root, "prod")


def test_tag_pins_version_through_retention(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_tag(root, "frozen")  # pins v1
    for lo in range(0, 40, 10):
        snap.commit_append(spark, root, _df(spark, 90 + lo, 100 + lo))
    snap.expire_snapshots(root, keep_last=2)
    # untagged old versions are gone, the tagged one is not
    with pytest.raises(OSError):
        snap.read_manifest(root, 2)
    assert snap.read_snapshot(spark, root, "frozen").count() == 90
    # and its data files survived the sweep
    for f in snap.files_of(root, 1):
        assert os.path.exists(os.path.join(root, f))


def test_changelog_horizon_ignores_tagged_islands(spark, tmp_path):
    """A tag-pinned island older than the contiguous run must NOT
    extend the readable changelog window (reconstructing the expired
    versions between island and run is impossible)."""
    root = _table(spark, tmp_path)
    snap.create_tag(root, "island")  # pins v1
    for lo in range(0, 50, 10):
        snap.commit_append(spark, root, _df(spark, 90 + lo, 100 + lo))
    snap.expire_snapshots(root, keep_last=2)  # keeps {1(tag), 5, 6}
    with pytest.raises(snap.RetentionExpired):
        snap.read_appends(spark, root, 1)
    with pytest.raises(snap.RetentionExpired):
        snap.read_appends(spark, root, 4)
    head = snap.current_version(root)
    assert snap.read_appends(spark, root, head - 1).count() == 10


def test_vacuum_keeps_branch_referenced_data(spark, tmp_path):
    """A branch whose data no trunk version references survives a
    full expire+vacuum even past the orphan age gate."""
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _df(spark, 200, 260), ref="b")
    branch_files = snap.manifest_files(
        root, snap.read_manifest(root, 2, "b")
    )
    # age everything: any unreferenced file would now be reclaimable
    old = time.time() - 2 * snap._ORPHAN_AGE_SEC
    for base, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(base, n)
            os.utime(p, (old, old))
    os.utime(os.path.join(root, "data"), (old, old))
    snap.commit_append(spark, root, _df(spark, 90, 95))
    snap.vacuum(root, keep_last=1)
    for f in branch_files:
        assert os.path.exists(os.path.join(root, f)), f
    assert snap.read_snapshot(spark, root, ref="b").count() == 150


def test_dropped_branch_data_is_reclaimed(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _df(spark, 200, 260), ref="b")
    only_branch = set(
        snap.manifest_files(root, snap.read_manifest(root, 2, "b"))
    ) - set(snap.files_of(root, 1))
    assert only_branch
    snap.drop_branch(root, "b")
    old = time.time() - 2 * snap._ORPHAN_AGE_SEC
    for base, _dirs, names in os.walk(root):
        for n in names:
            os.utime(os.path.join(base, n), (old, old))
    snap.vacuum(root, keep_last=1)
    for f in only_branch:
        assert not os.path.exists(os.path.join(root, f)), f
    assert snap.read_snapshot(spark, root).count() == 90


# ---------------------------------------------------------------- refs table


def test_table_refs_metadata(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.create_tag(root, "prod")
    snap.create_branch(root, "audit")
    snap.commit_append(spark, root, _df(spark, 90, 95), ref="audit")
    rows = {
        r["ref"]: r for r in snap.table_refs(spark, root).collect()
    }
    assert rows["main"]["kind"] == "branch"
    assert rows["main"]["version"] == 1
    assert rows["audit"]["version"] == 2
    assert rows["audit"]["fork_version"] == 1
    assert rows["prod"]["kind"] == "tag"
    assert rows["prod"]["version"] == 1


def test_publish_carries_schema_and_spec(spark, tmp_path):
    """Publish inherits the branch head's schema/stats/spec metadata,
    so pruning and evolution mapping survive the WAP cycle."""
    root = str(tmp_path / "t")
    df = _df(spark, 0, 90).withColumn("day", (F.col("k") % 3).cast("string"))
    snap.commit_append(
        spark, root, df, stats_cols=["k"], partition_by=["day"]
    )
    snap.create_branch(root, "b")
    snap.commit_delete_where(spark, root, F.col("g") == 2, ref="b")
    snap.publish_branch(root, "b")
    m = snap.read_manifest(root, snap.current_version(root))
    assert m["stats_cols"] == ["k"]
    assert m["partition_spec"] == ["day"]
    assert "schema" in m


# ------------------------------------------------------- metadata tables


def test_table_files_rows_and_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, 0, 90).withColumn(
        "day", (F.col("k") % 3).cast("string")
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    files = snap.table_files(spark, root).collect()
    assert {r["file"] for r in files} == set(snap.files_of(root, 1))
    assert all(r["n_rows"] is not None for r in files)
    assert sum(r["n_rows"] for r in files) == 90
    assert all(r["partition"]["day"] in {"0", "1", "2"} for r in files)
    parts = {
        r["day"]: r for r in snap.table_partitions(spark, root).collect()
    }
    assert {d: p["n_rows"] for d, p in parts.items()} == {
        "0": 30, "1": 30, "2": 30
    }
    assert sum(p["n_files"] for p in parts.values()) == len(files)


def test_table_partitions_tracks_cow_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, 0, 90).withColumn(
        "day", (F.col("k") % 3).cast("string")
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    snap.commit_delete_where(spark, root, F.col("day") == "1")
    parts = {
        r["day"]: r["n_rows"]
        for r in snap.table_partitions(spark, root).collect()
    }
    assert parts == {"0": 30, "2": 30}
    # and the historical version still accounts the deleted partition
    old = {
        r["day"]: r["n_rows"]
        for r in snap.table_partitions(spark, root, 1).collect()
    }
    assert old == {"0": 30, "1": 30, "2": 30}


def test_table_partitions_requires_spec(spark, tmp_path):
    root = _table(spark, tmp_path)
    with pytest.raises(ValueError):
        snap.table_partitions(spark, root)


def test_table_files_by_ref_and_tag(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, 0, 90).withColumn(
        "day", (F.col("k") % 3).cast("string")
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    snap.create_tag(root, "pin")
    snap.create_branch(root, "b")
    snap.commit_delete_where(spark, root, F.col("day") == "0", ref="b")
    n_tag = sum(
        r["n_rows"] for r in snap.table_files(spark, root, "pin").collect()
    )
    n_branch = sum(
        r["n_rows"]
        for r in snap.table_files(spark, root, ref="b").collect()
    )
    assert (n_tag, n_branch) == (90, 60)


# ------------------------------------------------ crash & race hardening


def test_crashed_ref_staging_is_invisible_and_reclaimed(
    spark, tmp_path
):
    """A writer that died between staging and link leaves only tmp
    files: refs listings ignore them and pid-gated vacuum reclaims
    them without touching live refs."""
    root = _table(spark, tmp_path)
    snap.create_tag(root, "live")
    snap.create_branch(root, "b")
    meta = os.path.join(root, "meta")
    # dead-pid staging debris for a tag, a branch manifest, a commit
    for n in (
        "t-ghost.json.tmp-99999999-abcd1234",
        "r-ghost.v1.json.tmp-99999999-abcd1234",
        "v9.json.tmp-99999999-abcd1234",
    ):
        with open(os.path.join(meta, n), "w") as fh:
            fh.write("{}")
    assert snap.list_tags(root) == {"live": 1}
    assert set(snap.list_branches(root)) == {"b"}
    snap.vacuum(root, keep_last=5)
    left = [n for n in os.listdir(meta) if ".tmp-" in n]
    assert left == []
    # live refs untouched
    assert snap.tag_version(root, "live") == 1
    assert snap.read_snapshot(spark, root, ref="b").count() == 90


def test_publish_loses_put_if_absent_race(spark, tmp_path, monkeypatch):
    """A trunk commit landing between publish's head read and its
    link must surface as ConcurrentCommit (the loser), leaving the
    racer's commit intact."""
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    snap.commit_delete_where(spark, root, F.col("g") == 1, ref="b")
    orig = snap._inherit
    state = {"raced": False}

    def hooked(parent, *args, **own):
        out = orig(parent, *args, **own)
        if not state["raced"] and "published_from" in own:
            state["raced"] = True
            monkeypatch.setattr(snap, "_inherit", orig)
            snap.commit_append(spark, root, _df(spark, 90, 95))
        return out

    monkeypatch.setattr(snap, "_inherit", hooked)
    with pytest.raises(snap.ConcurrentCommit):
        snap.publish_branch(root, "b")
    # the racer's append is the head, untouched
    assert snap.read_snapshot(spark, root).count() == 95


def test_concurrent_tag_creators_one_wins(spark, tmp_path):
    root = _table(spark, tmp_path)
    snap.commit_append(spark, root, _df(spark, 90, 100))
    snap.create_tag(root, "t", version=1)
    with pytest.raises(ValueError):
        snap.create_tag(root, "t", version=2)
    assert snap.tag_version(root, "t") == 1  # first writer won


def test_table_partitions_nulls_when_rows_unaccounted(spark, tmp_path):
    """ADVICE r9 (low): per-file row counts are null for segments
    written before row accounting, and sum() silently skips nulls —
    a partition mixing counted and uncounted files must report
    n_rows=null (stale metadata made visible), never a plausible
    undercount presented as metadata-exact."""
    import json as _json

    root = str(tmp_path / "t")
    df = _df(spark, 0, 90).withColumn(
        "day", (F.col("k") % 3).cast("string")
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    df2 = _df(spark, 90, 120).withColumn("day", F.lit("0"))
    snap.commit_append(spark, root, df2, partition_by=["day"])
    # age the second commit's segment back to the pre-row-accounting
    # era: its files (all day=0) lose their recorded counts
    m1 = snap.read_manifest(root, 1)
    m2 = snap.read_manifest(root, 2)
    new_seg = [s for s in m2["segments"] if s not in m1["segments"]][0]
    p = snap._segment_path(root, new_seg)
    with open(p) as fh:
        obj = _json.load(fh)
    obj.pop("rows", None)
    with open(p, "w") as fh:
        _json.dump(obj, fh)
    parts = {
        r["day"]: (r["n_files"], r["n_rows"])
        for r in snap.table_partitions(spark, root).collect()
    }
    assert parts["1"][1] == 30 and parts["2"][1] == 30
    n_files, n_rows = parts["0"]
    assert n_files > parts["1"][0]  # both commits' files present
    assert n_rows is None  # mixed counted/uncounted group: honest null


def test_table_refs_skips_concurrently_dropped_branch(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (low): a branch whose manifests vanish between the
    ref listing and the fork-point read (concurrent drop_branch) is
    omitted from the refs table, not surfaced as FileNotFoundError."""
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    real = snap.list_branches

    def stale(r):
        out = dict(real(r))
        out["ghost"] = 1  # listed, but no manifest exists any more
        return out

    monkeypatch.setattr(snap, "list_branches", stale)
    refs = {r["ref"] for r in snap.table_refs(spark, root).collect()}
    assert refs == {"main", "b"}


def test_publish_concurrently_dropped_branch_raises_value_error(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (low): publish racing a drop_branch gets the typed
    'no branch' ValueError, not a raw FileNotFoundError from the
    fork-point manifest read."""
    root = _table(spark, tmp_path)
    snap.create_branch(root, "b")
    bh = snap.current_version(root, "b")
    snap.drop_branch(root, "b")
    real_cv = snap.current_version

    def stale(r, ref="main"):
        return bh if ref == "b" else real_cv(r, ref)

    monkeypatch.setattr(snap, "current_version", stale)
    with pytest.raises(ValueError, match="no branch"):
        snap.publish_branch(root, "b")
