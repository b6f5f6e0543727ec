"""One scan planner for the snapshot format (`snapshots.plan_scan`):
the library read and the ``format("snapshot")`` DataSource serve the
same rows over every planner feature, a DataSource scan resolves each
segment once and each slice reads its position deletes once, and no
other module plans scans on its own."""

import ast
import collections
import json
import os

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap
from metastore_spark.sources import spark_source
from metastore_spark.sources.spark_source import SnapshotDataSource


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(SnapshotDataSource)
    return spark


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    )


def _plain(spark, root):
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    return None


def _evolved(spark, root):
    # two segments written before the table's first evolution (no
    # column IDs: they resolve through legacy_columns), then a
    # widen, a rename and a drop around post-ID appends
    for lo in (0, 50):
        snap.commit_append(
            spark,
            root,
            spark.range(lo, lo + 50).select(
                F.col("id").alias("k"),
                (F.col("id") % 10).cast("int").alias("g"),
                (F.col("id") * 2).alias("h"),
            ),
        )
    snap.widen_column(root, "g", "long")
    snap.rename_column(root, "g", "grp")
    snap.commit_append(
        spark,
        root,
        spark.range(100, 150).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("grp"),
            (F.col("id") * 2).alias("h"),
        ),
    )
    snap.drop_column(root, "h")
    snap.commit_append(
        spark,
        root,
        spark.range(150, 200).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("grp")
        ),
    )
    return None


def _pruned_partition_stats(spark, root):
    snap.commit_append(
        spark,
        root,
        _df(spark, 0, 1000).repartitionByRange(4, "k"),
        stats_cols=["k"],
        partition_by=["g"],
    )
    return {"g": [3, 4], "k": (100, 599)}


def _pruned_bloom(spark, root):
    snap.commit_append(
        spark, root, _df(spark, 0, 1000).repartition(8), bloom_cols=["k"]
    )
    return {"k": [17, 523]}


def _position_deletes(spark, root):
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    snap.commit_mor_delete(spark, root, F.col("g") == 3)
    snap.commit_mor_delete(spark, root, F.col("k") < 20)
    return None


def _eq_full_scope(spark, root):
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    snap.commit_mor_delete_keys(
        spark, root, spark.range(0, 50).select(F.col("id").alias("k"))
    )
    return None


def _eq_partial_scope(spark, root):
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    snap.commit_mor_delete_keys(
        spark, root, spark.range(0, 50).select(F.col("id").alias("k"))
    )
    # re-inserted after the delete: out of its scope, so they stay
    snap.commit_append(
        spark, root, _df(spark, 0, 25).withColumn("g", F.lit(99).cast("long"))
    )
    return None


def _nested_upserts(spark, root):
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    for i, lo in enumerate((0, 20, 40)):
        snap.commit_mor_upsert(
            spark,
            root,
            _df(spark, lo, lo + 50).withColumn(
                "g", F.lit(100 + i).cast("long")
            ),
            ["k"],
        )
    snap.commit_append(spark, root, _df(spark, 300, 320))
    return None


CASES = {
    "plain": _plain,
    "rename_widen_drop_over_pre_id_segments": _evolved,
    "pruned_partition_and_stats": _pruned_partition_stats,
    "pruned_bloom": _pruned_bloom,
    "position_deletes": _position_deletes,
    "eq_deletes_full_scope": _eq_full_scope,
    "eq_deletes_partial_scope": _eq_partial_scope,
    "nested_upsert_chain": _nested_upserts,
}


def _options(prune):
    out = {}
    for col, bound in (prune or {}).items():
        if isinstance(bound, tuple):
            out[f"prune.{col}"] = ",".join(str(b) for b in bound)
        else:
            out[f"prune_in.{col}"] = ",".join(str(b) for b in bound)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_library_and_source_reads_agree(registered, tmp_path, case):
    spark = registered
    root = str(tmp_path / "t")
    prune = CASES[case](spark, root)
    lib = snap.read_snapshot(spark, root, prune=prune)
    src = spark.read.format("snapshot").options(**_options(prune)).load(root)
    assert src.schema == lib.schema
    assert _rows(src) == _rows(lib)
    if prune:  # the planner skipped files, on both paths alike
        m = snap.read_manifest(root, snap.current_version(root))
        assert len(snap.pruned_manifest_files(root, m, prune)) < len(
            snap.manifest_files(root, m)
        )


def test_pruned_source_scan_reads_each_segment_once(
    registered, tmp_path, monkeypatch
):
    spark = registered
    root = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.commit_append(
            spark, root, _df(spark, lo, lo + 100).repartition(2),
            stats_cols=["k"],
        )
    snap.commit_mor_upsert(spark, root, _df(spark, 0, 10), ["k"])
    reads = collections.Counter()
    read_segment_obj = snap._read_segment_obj

    def counting(root_, name):
        reads[name] += 1
        return read_segment_obj(root_, name)

    monkeypatch.setattr(snap, "_read_segment_obj", counting)
    SnapshotDataSource({"path": root, "prune.k": "0,149"}).reader(
        None
    ).partitions()
    segments = snap.read_manifest(root, snap.current_version(root))["segments"]
    assert set(reads) == set(segments)
    assert max(reads.values()) == 1


def test_slice_reads_position_deletes_once(registered, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    spark = registered
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _df(spark, 0, 300).repartition(3))
    snap.commit_mor_delete(spark, root, F.col("g") == 3)
    m = snap.read_manifest(root, 2)
    schema_json = json.dumps(spark_source._nullable_schema_json(m["schema"]))
    (part,) = spark_source._slices_for_manifest(root, m, schema_json)
    assert len(part.items) == 3
    delete_reads = []
    read_table = pq.read_table

    def counting(source, *args, **kwargs):
        if source == part.delete_paths:
            delete_reads.append(source)
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    rows = sorted(
        tuple(r.values())
        for batch in spark_source._arrow_read(part)
        for r in batch.to_pylist()
    )
    assert len(delete_reads) == 1
    assert rows == _rows(snap.read_snapshot(spark, root))


def test_scan_planning_is_not_forked():
    """Only sources/snapshots.py resolves segment JSON or reads a
    ``files`` key (a manifest's or a segment's file list): every other
    module plans scans through `plan_scan` and its views."""
    pkg = os.path.dirname(os.path.dirname(snap.__file__))
    offenders = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == snap.__file__:
                continue
            mod = os.path.relpath(path, pkg)
            for node in ast.walk(ast.parse(open(path).read())):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "_read_segment",
                    "_read_segment_obj",
                ):
                    offenders.add((mod, node.lineno))
                key = None
                if isinstance(node, ast.Subscript):
                    key = node.slice
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "get"
                    and node.args
                ):
                    key = node.args[0]
                elif isinstance(node, ast.Compare) and isinstance(
                    node.ops[0], (ast.In, ast.NotIn)
                ):
                    key = node.left
                if isinstance(key, ast.Constant) and key.value == "files":
                    offenders.add((mod, node.lineno))
    assert offenders == set()
