"""Row-level change feed (Delta CDF shape):
snapshots.read_changes — inserts/deletes per commit, O(affected)
diffs, MOR position reads, restatement and retention contracts."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    )


def _counts(ch):
    return {
        (r["_commit_version"], r["_change_type"]): r["count"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .count()
        .collect()
    }


def test_change_feed_counts_and_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100).repartition(3))
    snap.commit_delete_where(spark, root, F.col("g") == 3)
    snap.commit_mor_delete(spark, root, F.col("g") == 4)
    src = spark.range(0, 5).selectExpr("id as k", "cast(99 as long) as g")
    snap.commit_merge(spark, root, src, ["k"])
    snap.compact(spark, root, target_files=1)  # feed no-op
    ch = snap.read_changes(spark, root, 0)
    assert _counts(ch) == {
        (1, "insert"): 100,
        (2, "delete"): 10,
        (3, "delete"): 10,
        (4, "delete"): 3,  # live merged keys: 0,1,2 (3,4 already gone)
        (4, "insert"): 5,
    }
    # the feed replays to the head exactly (multiset identity)
    head = snap.read_snapshot(spark, root)
    ins = ch.filter("_change_type='insert'").drop(
        "_change_type", "_commit_version"
    )
    dl = ch.filter("_change_type='delete'").drop(
        "_change_type", "_commit_version"
    )
    replay = ins.exceptAll(dl)
    assert replay.exceptAll(head).count() == 0
    assert head.exceptAll(replay).count() == 0


def test_overwrite_emits_delete_insert_pair(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    fixed = _df(spark, 0, 100).filter("g = 2").withColumn(
        "k", F.col("k") + 1000
    )
    snap.commit_overwrite_where(
        spark, root, fixed, F.col("g") == 2
    )
    ch = snap.read_changes(spark, root, 1)
    got = _counts(ch)
    assert got[(2, "delete")] == 10
    assert got[(2, "insert")] == 10


def test_value_identical_restatement_is_feed_silent(spark, tmp_path):
    """An overwrite that rewrites a slice with IDENTICAL rows is a
    physical rewrite but not a logical change — the multiset diff
    cancels and the feed stays empty (compaction-like)."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    same = _df(spark, 0, 100).filter("g = 2")
    snap.commit_overwrite_where(spark, root, same, F.col("g") == 2)
    assert snap.read_changes(spark, root, 1).count() == 0


def test_window_with_rollback_or_publish_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    snap.commit_append(spark, root, _df(spark, 50, 80))
    snap.rollback_to(root, 1)
    with pytest.raises(ValueError, match="restated"):
        snap.read_changes(spark, root, 0)
    # a window strictly before the rollback still works
    assert snap.read_changes(spark, root, 0, 2).count() == 80
    # publish likewise
    root2 = str(tmp_path / "t2")
    snap.commit_append(spark, root2, _df(spark, 0, 50))
    snap.create_branch(root2, "b")
    snap.commit_delete_where(spark, root2, F.col("g") == 1, ref="b")
    snap.publish_branch(root2, "b")
    with pytest.raises(ValueError, match="restated"):
        snap.read_changes(spark, root2, 0)


def test_change_feed_retention_contract(spark, tmp_path):
    root = str(tmp_path / "t")
    for lo in range(0, 500, 100):
        snap.commit_append(spark, root, _df(spark, lo, lo + 100))
    snap.expire_snapshots(root, keep_last=2)
    with pytest.raises(snap.RetentionExpired):
        snap.read_changes(spark, root, 1)
    head = snap.current_version(root)
    assert snap.read_changes(spark, root, head - 1).count() == 100


def test_change_feed_across_added_column(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 50))
    snap.commit_append(
        spark, root, _df(spark, 50, 80).withColumn("extra", F.col("k"))
    )
    snap.commit_delete_where(spark, root, F.col("k") < 10)
    ch = snap.read_changes(spark, root, 0)
    assert _counts(ch) == {
        (1, "insert"): 50,
        (2, "insert"): 30,
        (3, "delete"): 10,
    }
    # pre-evolution rows surface with the added column null-filled
    assert (
        ch.filter("_commit_version = 1 and extra is not null").count()
        == 0
    )


def test_empty_window_has_feed_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    ch = snap.read_changes(spark, root, 1)
    assert ch.count() == 0
    assert {"_change_type", "_commit_version", "k", "g"} <= set(
        ch.columns
    )


def test_mor_then_compact_feed_emits_once(spark, tmp_path):
    """The MOR delete emits its rows as deletes; the compaction that
    physically applies them is feed-silent — no double retraction."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100).repartition(2))
    snap.commit_mor_delete(spark, root, F.col("g") == 4)
    snap.compact(spark, root, target_files=1)
    ch = snap.read_changes(spark, root, 0)
    assert _counts(ch) == {(1, "insert"): 100, (2, "delete"): 10}
