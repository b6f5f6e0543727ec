"""Column-ID schema evolution (VERDICT r8 task 5): rename/drop/widen
as metadata-only commits; historical files resolve through the ID
mapping — old names read, narrow types cast up, retired IDs never
recaptured — with time travel, COW deletes, compaction, rollback, and
pruning all composing across evolution boundaries
(metastore_spark/sources/snapshots.py)."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("int").alias("v"),
    )


def test_rename_reads_old_files_through_id(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    v = snap.rename_column(root, "v", "val")
    assert v == 2
    got = snap.read_snapshot(spark, root)
    assert got.columns == ["k", "val"]
    assert got.agg(F.sum("val")).first()[0] == 450  # old bytes, new name
    # metadata-only: the evolve commit carries the same files
    assert snap.files_of(root, 1) == snap.files_of(root, 2)
    # time travel: v1 reads under ITS committed schema
    v1 = snap.read_snapshot(spark, root, 1)
    assert v1.columns == ["k", "v"]
    assert v1.agg(F.sum("v")).first()[0] == 450


def test_widen_casts_old_physical_type_up(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    snap.widen_column(root, "v", "long")
    got = snap.read_snapshot(spark, root)
    assert got.schema["v"].dataType.simpleString() == "bigint"
    assert got.agg(F.sum("v")).first()[0] == 450
    # post-widen appends commit the wide type; both cohorts union
    snap.commit_append(
        spark,
        root,
        spark.range(10, 12).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).alias("v"),
        ),
    )
    assert snap.read_snapshot(spark, root).agg(F.sum("v")).first()[0] == 660
    with pytest.raises(snap.SchemaEvolutionError, match="widen"):
        snap.widen_column(root, "k", "string")


def test_drop_retires_id_readd_never_leaks_old_bytes(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _df(spark, 0, 10).withColumn("tag", F.lit("old-secret")),
    )
    snap.drop_column(root, "tag")
    assert snap.read_snapshot(spark, root).columns == ["k", "v"]
    # re-add the NAME: fresh ID — v1's bytes must not appear under it
    snap.commit_append(
        spark,
        root,
        _df(spark, 10, 12).withColumn("tag", F.lit("fresh")),
    )
    got = snap.read_snapshot(spark, root)
    vals = {r["tag"] for r in got.collect()}
    assert vals == {None, "fresh"}
    assert got.filter(F.col("tag") == "fresh").count() == 2
    with pytest.raises(snap.SchemaEvolutionError, match="only column"):
        r2 = str(tmp_path / "t2")
        snap.commit_append(
            spark, r2, spark.range(1).select(F.col("id").alias("k"))
        )
        snap.drop_column(r2, "k")


def test_append_with_old_schema_after_rename_rejected(spark, tmp_path):
    """The add-only append guard composes with evolution: after a
    rename, an append still carrying the OLD name looks like a drop
    of the new name — rejected; the writer must migrate or use the
    evolution ops."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 5))
    snap.rename_column(root, "v", "val")
    with pytest.raises(snap.SchemaEvolutionError, match="drops column"):
        snap.commit_append(spark, root, _df(spark, 5, 10))


def test_cow_delete_and_compact_across_evolution(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.rename_column(root, "v", "val")
    snap.widen_column(root, "val", "long")
    snap.commit_append(
        spark,
        root,
        spark.range(100, 150).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).alias("val"),
        ),
    )
    # COW delete spans both cohorts (old-name files + new-name files)
    snap.commit_delete_where(spark, root, F.col("val") < 50)
    got = snap.read_snapshot(spark, root)
    assert got.count() == 145
    assert got.agg(F.min("val")).first()[0] == 50
    # compaction folds the evolution into physical files
    snap.compact(spark, root)
    got = snap.read_snapshot(spark, root)
    assert got.count() == 145
    assert got.schema["val"].dataType.simpleString() == "bigint"
    # post-compaction the head reads from ONE rewritten cohort
    assert len(snap.files_of(root, snap.current_version(root))) == 1


def test_rollback_across_evolution_restores_old_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 10))
    snap.rename_column(root, "v", "val")
    snap.commit_append(
        spark,
        root,
        spark.range(10, 12).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).cast("int").alias("val"),
        ),
    )
    snap.rollback_to(root, 1)
    got = snap.read_snapshot(spark, root)
    assert got.columns == ["k", "v"]
    assert got.count() == 10
    # retired/renamed IDs are not re-minted after the rollback
    m = snap.read_manifest(root, snap.current_version(root))
    assert m.get("next_column_id", 0) >= 3


def test_prune_and_stats_translate_across_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        spark.range(0, 400)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(4, "k"),
        stats_cols=["v"],
    )
    snap.rename_column(root, "v", "val")
    m = snap.read_manifest(root, 2)
    assert len(snap.pruned_manifest_files(root, m, None)) == 4
    # bounds keyed by the NEW name skip via stats under the OLD name
    assert len(
        snap.pruned_manifest_files(root, m, {"val": (0, 500)})
    ) == 1
    got = snap.read_snapshot(spark, root, prune={"val": (0, 500)})
    assert got.filter(F.col("val") <= 500).count() == 51


def test_filter_pushdown_reaches_scan_under_old_name(spark, tmp_path):
    """The evolution read is a projection over per-cohort scans —
    Catalyst must push a filter on the renamed column down to the
    scan as a predicate on the file's physical name."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 100))
    snap.rename_column(root, "v", "val")
    d = (
        snap.read_snapshot(spark, root)
        .filter(F.col("val") == 100)
        .select("k")
    )
    plan = d._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and "(v#" in scan_lines[0]  # pushed on old name
    assert "val#" not in scan_lines[0].split("ReadSchema")[0].split(
        "DataFilters"
    )[0]


def test_read_appends_across_rename_unions_by_widest_schema(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 5))
    snap.rename_column(root, "v", "val")
    snap.commit_append(
        spark,
        root,
        spark.range(5, 8).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).cast("int").alias("val"),
        ),
    )
    ra = snap.read_appends(spark, root, 0)
    # documented contract: each version's rows under ITS schema,
    # null-filled to the widest window schema
    assert sorted(ra.columns) == ["k", "v", "val"]
    assert ra.count() == 8
    assert ra.filter(F.col("v").isNotNull()).count() == 5
    assert ra.filter(F.col("val").isNotNull()).count() == 3


def _uid_frame(spark, lo, hi, uid="uid"):
    return spark.range(lo, hi, numPartitions=2).selectExpr(
        "id as k", f"id * 7 % 101 as {uid}"
    )


def test_rename_carries_the_bloom_opt_in(spark, tmp_path):
    """A renamed bloom column stays opted in under its new name, so
    files appended after the rename still get blooms."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _uid_frame(spark, 0, 40), bloom_cols=["uid"]
    )
    snap.rename_column(root, "uid", "user")
    v = snap.commit_append(spark, root, _uid_frame(spark, 40, 60, "user"))
    m = snap.read_manifest(root, v)
    assert m["bloom_cols"] == ["user"]
    seg = snap._read_segment_obj(root, m["segments"][-1])
    assert seg["files"] and set(seg["blooms"]) == set(seg["files"])
    assert all(set(b) == {"user"} for b in seg["blooms"].values())


def test_drop_forgets_a_bloom_column(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _uid_frame(spark, 0, 40), bloom_cols=["uid", "k"]
    )
    v = snap.drop_column(root, "uid")
    assert snap.read_manifest(root, v)["bloom_cols"] == ["k"]
    v = snap.commit_append(spark, root, spark.range(40, 50).selectExpr("id as k"))
    assert snap.read_manifest(root, v)["bloom_cols"] == ["k"]


def _clustered(spark, root):
    """16 rows on a 4x4 grid, cluster-compacted: one file per cell."""
    snap.commit_append(
        spark,
        root,
        spark.range(16, numPartitions=1).selectExpr(
            "id as k", "id % 4 as a", "id div 4 as b"
        ),
    )
    return snap.compact(spark, root, cluster_by=["a", "b"])


def _box_files(root):
    m = snap.read_manifest(root, snap.current_version(root))
    return set(
        snap.pruned_manifest_files(
            root, m, snap.clustered_prune(root, 0, 1, 2, 3)
        )
    )


def test_rename_keeps_clustered_pruning(spark, tmp_path):
    """Renaming a clustering column or the cell column keeps the
    cluster spec bound: a box probe keeps the same files as before."""
    root = str(tmp_path / "t")
    v = _clustered(spark, root)
    before = _box_files(root)
    assert 0 < len(before) < len(snap.files_of(root, v))
    snap.rename_column(root, "a", "a2")
    snap.rename_column(root, "zcell", "cell")
    assert _box_files(root) == before
    m = snap.read_manifest(root, snap.current_version(root))
    assert m["cluster_spec"]["cols"] == ["a2", "b"]
    assert m["cluster_spec"]["cell_col"] == "cell"
    assert m["partition_spec"] == ["cell"]
    box = F.col("a2").between(0, 1) & F.col("b").between(2, 3)
    got = snap.read_snapshot(
        spark, root, prune=snap.clustered_prune(root, 0, 1, 2, 3)
    ).filter(box)
    assert sorted(r.k for r in got.collect()) == [8, 9, 12, 13]


@pytest.mark.parametrize("col", ["a", "b", "zcell"])
def test_drop_refuses_a_cluster_column(spark, tmp_path, col):
    root = str(tmp_path / "t")
    v = _clustered(spark, root)
    with pytest.raises(snap.SchemaEvolutionError, match="spec"):
        snap.drop_column(root, col)
    assert snap.current_version(root) == v
