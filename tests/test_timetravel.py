"""TIMESTAMP AS OF time travel (VERDICT r9 task 3):
snapshots.timestamp_version / read_snapshot(timestamp=...) — boundary
semantics (exact instant, between commits, pre-creation, post-head),
retention contract, and the strictly-increasing commit clock."""

import json

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    )


def _set_ts_us(root, version, ts_us, ref="main"):
    """Pin a committed manifest's clock (test-only) so boundary
    instants are exact rather than wall-clock-dependent."""
    p = snap._manifest_path(root, version, ref)
    with open(p) as fh:
        m = json.load(fh)
    m["ts_us"] = ts_us
    m["ts"] = ts_us // 1_000_000
    with open(p, "w") as fh:
        json.dump(m, fh)


def _three_version_table(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 30))
    snap.commit_append(spark, root, _df(spark, 30, 60))
    snap.commit_delete_where(spark, root, F.col("g") == 0)
    for v, t in ((1, 100), (2, 200), (3, 300)):
        _set_ts_us(root, v, t * 1_000_000)
    return root


def test_timestamp_resolution_boundaries(spark, tmp_path):
    root = _three_version_table(spark, tmp_path)
    # exact commit instant is INCLUSIVE (Delta's contract)
    assert snap.timestamp_version(root, 200) == 2
    # between commits -> the older one
    assert snap.timestamp_version(root, 250) == 2
    assert snap.timestamp_version(root, 299.999999) == 2
    # after the head -> the head
    assert snap.timestamp_version(root, 10_000) == 3
    # just before the first commit -> pre-creation
    with pytest.raises(ValueError, match="predates"):
        snap.timestamp_version(root, 99.999)


def test_read_snapshot_timestamp_matches_version_read(spark, tmp_path):
    root = _three_version_table(spark, tmp_path)
    for t, v in ((150, 1), (200, 2), (250, 2), (9_999, 3)):
        got = {
            tuple(r)
            for r in snap.read_snapshot(spark, root, timestamp=t).collect()
        }
        want = {
            tuple(r)
            for r in snap.read_snapshot(spark, root, v).collect()
        }
        assert got == want, (t, v)
    with pytest.raises(ValueError, match="mutually exclusive"):
        snap.read_snapshot(spark, root, 2, timestamp=250)


def test_timestamp_accepts_datetime_and_iso(spark, tmp_path):
    import datetime as dt

    root = _three_version_table(spark, tmp_path)
    d = dt.datetime.fromtimestamp(250)
    assert snap.timestamp_version(root, d) == 2
    assert snap.timestamp_version(root, d.isoformat()) == 2
    with pytest.raises(TypeError):
        snap.timestamp_version(root, [250])


def test_timestamp_behind_retention_raises_typed(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):
        snap.commit_append(spark, root, _df(spark, i * 10, i * 10 + 10))
    for v, t in ((1, 100), (2, 200), (3, 300), (4, 400)):
        _set_ts_us(root, v, t * 1_000_000)
    snap.expire_snapshots(root, keep_last=2)
    # the v1/v2-era snapshots existed but their manifests are gone
    with pytest.raises(snap.RetentionExpired):
        snap.timestamp_version(root, 150)
    # retained window still resolves
    assert snap.timestamp_version(root, 350) == 3
    assert snap.timestamp_version(root, 10_000) == 4


def test_commit_clock_strictly_increases_past_regression(
    spark, tmp_path
):
    """NTP stepping the wall clock BACK between commits must not
    produce a non-increasing ts_us — TIMESTAMP AS OF needs the chain
    totally ordered."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    future_us = 4_000_000_000 * 1_000_000  # year ~2096
    _set_ts_us(root, 1, future_us)
    snap.commit_append(spark, root, _df(spark, 10, 20))
    m2 = snap.read_manifest(root, 2)
    assert m2["ts_us"] == future_us + 1
    assert m2["ts"] == future_us // 1_000_000
    # and the branch namespace gets the same guarantee
    snap.create_branch(root, "b")
    bh = snap.read_manifest(root, 1, "b")
    snap.commit_append(spark, root, _df(spark, 20, 30), ref="b")
    b2 = snap.read_manifest(root, 2, "b")
    assert b2["ts_us"] > snap._manifest_ts_us(bh)


def test_timestamp_resolves_on_branch_chain(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 30))
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _df(spark, 30, 60), ref="b")
    for v, t in ((1, 100), (2, 200)):
        _set_ts_us(root, v, t * 1_000_000, ref="b")
    assert snap.timestamp_version(root, 150, ref="b") == 1
    assert snap.timestamp_version(root, 10_000, ref="b") == 2
    assert (
        snap.read_snapshot(
            spark, root, timestamp=10_000, ref="b"
        ).count()
        == 60
    )
