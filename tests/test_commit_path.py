"""One commit path for the snapshot format: every commit builds its
manifest metadata through `snapshots._inherit` and its new segments
through `snapshots._new_segment` (metastore_spark/sources/snapshots.py).
"""

import ast
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap

# every manifest key a commit inherits from its parent
_INHERITED = (
    "stats_cols",
    "bloom_cols",
    "partition_spec",
    "cluster_spec",
    "delete_files",
    "eq_delete_files",
    "column_ids",
    "next_column_id",
    "legacy_columns",
)


def _frame(spark, lo, hi, parts=2):
    return spark.range(lo, hi, numPartitions=parts).selectExpr(
        "id as k", "id * 7 % 101 as uid", "id % 4 as x", "id % 3 as y",
        "id * 10 as v",
    )


@pytest.fixture(scope="module")
def parent_table(spark, tmp_path_factory):
    """A head that sets every inherited key: a stats opt-in, a
    clustered compaction's partition and cluster specs, column IDs
    from a rename (of a stats column), position and equality deletes,
    then a bloom opt-in added by an append."""
    root = str(tmp_path_factory.mktemp("inherit") / "t")
    snap.commit_append(
        spark, root, _frame(spark, 0, 40), stats_cols=["k", "v"]
    )
    snap.compact(spark, root, cluster_by=["x", "y"])
    snap.rename_column(root, "v", "val")
    snap.commit_mor_delete(spark, root, F.col("k") == 1)
    snap.commit_mor_delete_keys(
        spark, root, spark.range(2, 3).selectExpr("id as k")
    )
    snap.commit_append(
        spark,
        root,
        _batch(spark, root, 30, 40).withColumn("k", F.col("k") + 100),
        bloom_cols=["uid"],
    )
    m = snap.read_manifest(root, snap.current_version(root))
    assert all(m.get(key) for key in _INHERITED), m
    return root, m


def _batch(spark, root, lo, hi):
    """Rows under the table's committed schema (renamed column and
    cell column included)."""
    return snap.read_snapshot(spark, root).filter(
        (F.col("k") >= lo) & (F.col("k") < hi)
    )


def _stage(spark, root, df):
    files = snap._write_data_files(df, root, ["zcell"])
    return files, snap.read_manifest(root, snap.current_version(root))[
        "schema"
    ]


def _op_files(fn):
    def run(spark, root):
        b = _batch(spark, root, 10, 15)
        files, schema = _stage(spark, root, b)
        return fn(spark, root, b, files, schema)

    return run


_OPS = {
    "append": lambda spark, r: snap.commit_append(
        spark, r, _batch(spark, r, 10, 15)
    ),
    "append_files": _op_files(
        lambda spark, r, b, files, schema: snap.commit_append_files(
            r, files, schema
        )
    ),
    "overwrite_files": _op_files(
        lambda spark, r, b, files, schema: snap.commit_overwrite_files(
            r, files, schema
        )
    ),
    "mor_upsert_files": _op_files(
        lambda spark, r, b, files, schema: snap.commit_mor_upsert_files(
            r,
            files,
            snap._write_data_files(b.select("k"), r),
            ["k"],
            schema,
        )
    ),
    "delete_where": lambda spark, r: snap.commit_delete_where(
        spark, r, F.col("k") == 7
    ),
    "mor_delete": lambda spark, r: snap.commit_mor_delete(
        spark, r, F.col("k") == 8
    ),
    "mor_delete_keys": lambda spark, r: snap.commit_mor_delete_keys(
        spark, r, spark.range(9, 10).selectExpr("id as k")
    ),
    "mor_upsert": lambda spark, r: snap.commit_mor_upsert(
        spark, r, _batch(spark, r, 10, 15), ["k"]
    ),
    "overwrite_where": lambda spark, r: snap.commit_overwrite_where(
        spark, r, _batch(spark, r, 10, 15), F.col("k").between(10, 14)
    ),
    "merge": lambda spark, r: snap.commit_merge(
        spark, r, _batch(spark, r, 10, 15), ["k"]
    ),
    "delete_keys": lambda spark, r: snap.commit_delete_keys(
        spark, r, spark.range(11, 12).selectExpr("id as k"), ["k"]
    ),
    "rollback": lambda spark, r: snap.rollback_to(
        r, snap.current_version(r)
    ),
    "compact": lambda spark, r: snap.compact(spark, r),
    "sink": lambda spark, r: snap.snapshot_sink(r, "s")(
        _batch(spark, r, 10, 15), 0
    ),
    "publish": lambda spark, r: (
        snap.create_branch(r, "b"),
        snap.commit_append(spark, r, _batch(spark, r, 10, 15), ref="b"),
        snap.publish_branch(r, "b"),
    ),
}

# evolve rows: the columns each moves (old -> new, None when dropped);
# every name-bound key must follow
_MOVES = {
    "evolve": {"val": "w"},
    "rename_bloom": {"uid": "user"},
    "rename_cluster": {"x": "x2"},
    "rename_cell": {"zcell": "cell"},
    "drop_bloom": {"uid": None},
    "drop_stats": {"val": None},
}
for _op, _mv in _MOVES.items():
    _OPS[_op] = lambda spark, r, mv=_mv: [
        snap.rename_column(r, old, new) if new else snap.drop_column(r, old)
        for old, new in mv.items()
    ]

# the only clears an op may make, each named at its call site
_CLEARS = {
    "compact": {"delete_files", "eq_delete_files"},
    "overwrite_files": {"cluster_spec", "delete_files", "eq_delete_files"},
    "drop_bloom": {"bloom_cols"},  # its one bloom column is gone
}


def _moved(pm, moved):
    """The parent's name-bound keys with ``moved`` applied."""

    def names(cols):
        return [moved.get(c, c) for c in cols if moved.get(c, c)]

    cs = pm["cluster_spec"]
    return dict(
        pm,
        stats_cols=names(pm["stats_cols"]),
        bloom_cols=names(pm["bloom_cols"]),
        partition_spec=names(pm["partition_spec"]),
        cluster_spec=dict(
            cs, cols=names(cs["cols"]), cell_col=names([cs["cell_col"]])[0]
        ),
    )


@pytest.mark.parametrize("op", sorted(_OPS) + ["branch"])
def test_every_commit_inherits_by_one_rule(
    spark, parent_table, tmp_path, op
):
    src, pm = parent_table
    root = str(tmp_path / "t")
    shutil.copytree(src, root)
    if op == "branch":
        snap.create_branch(root, "b")
        m = snap.read_manifest(root, 1, "b")
    else:
        _OPS[op](spark, root)
        m = snap.read_manifest(root, snap.current_version(root))
    assert m["version"] == pm["version"] + 1 or op in ("publish", "branch")
    cleared = _CLEARS.get(op, set())
    for key in _INHERITED:
        assert (key in m) == (key not in cleared), (op, key)
    moved = _MOVES.get(op, {})
    want = _moved(pm, moved)
    for key in ("stats_cols", "bloom_cols"):
        assert set(want[key]) <= set(m.get(key, [])), (op, key)
    for key in ("partition_spec", "cluster_spec", "legacy_columns"):
        if key not in cleared:
            assert m[key] == want[key], (op, key)
    for key in ("delete_files", "eq_delete_files"):
        if key not in cleared:
            assert m[key][: len(pm[key])] == pm[key], (op, key)
    retired = {pm["column_ids"][c] for c, new in moved.items() if not new}
    assert set(pm["column_ids"].values()) - retired <= set(
        m["column_ids"].values()
    )
    assert m["next_column_id"] >= pm["next_column_id"]


@pytest.mark.parametrize("col", ["x", "y", "zcell"])
def test_evolve_refuses_to_drop_a_layout_column(
    spark, parent_table, tmp_path, col
):
    """A partition or cluster column cannot be dropped: the files were
    laid out by its values."""
    src, pm = parent_table
    root = str(tmp_path / "t")
    shutil.copytree(src, root)
    with pytest.raises(snap.SchemaEvolutionError, match="spec"):
        snap.drop_column(root, col)
    assert snap.current_version(root) == pm["version"]


def _bloom_table(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit_append(
        spark, root, _frame(spark, 0, 400, parts=4), bloom_cols=["uid"]
    )
    return root


def _new_segment_obj(root, before):
    m = snap.read_manifest(root, snap.current_version(root))
    (name,) = [s for s in m["segments"] if s not in before["segments"]]
    return snap._read_segment_obj(root, name)


def test_snapshot_sink_builds_blooms_on_a_bloom_table(spark, tmp_path):
    root = _bloom_table(spark, tmp_path)
    before = snap.read_manifest(root, 1)
    snap.snapshot_sink(root, "s")(_frame(spark, 400, 440), 0)
    seg = _new_segment_obj(root, before)
    assert seg["files"] and set(seg["blooms"]) == set(seg["files"])


def test_snapshot_sink_enforces_add_only(spark, tmp_path):
    """A micro-batch that drops a committed column is refused like any
    append, instead of narrowing the head schema for every row."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _frame(spark, 0, 10))
    with pytest.raises(snap.SchemaEvolutionError):
        snap.snapshot_sink(root, "s")(
            spark.range(10, 12).selectExpr("id as k"), 0
        )
    assert snap.current_version(root) == 1


def _replacement(spark):
    return _frame(spark, 5, 6, parts=1).withColumn("v", F.lit(-1).cast("long"))


# the four copy-on-write ops, each matching k == 5; the insert ops put
# back one replacement row
_COW = {
    "delete_where": lambda spark, r: snap.commit_delete_where(
        spark, r, F.col("k") == 5
    ),
    "delete_keys": lambda spark, r: snap.commit_delete_keys(
        spark, r, spark.range(5, 6).selectExpr("id as k"), ["k"]
    ),
    "overwrite_where": lambda spark, r: snap.commit_overwrite_where(
        spark, r, _replacement(spark), F.col("k") == 5
    ),
    "merge": lambda spark, r: snap.commit_merge(
        spark, r, _replacement(spark), ["k"]
    ),
}


def _check_cow_carry(spark, tmp_path, monkeypatch, op):
    """A copy-on-write commit replaces a partly affected segment by one
    that carries its kept files' blooms and row counts as recorded,
    without reopening their footers; the affected file's survivors and
    any inserted rows land in one new segment, with blooms."""
    root = _bloom_table(spark, tmp_path)
    m1 = snap.read_manifest(root, 1)
    old = snap._read_segment_obj(root, m1["segments"][0])
    assert len(old["files"]) == 4 and set(old["blooms"]) == set(old["files"])
    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(os.path.relpath(str(path), root))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    _COW[op](spark, root)
    monkeypatch.setattr(pq, "ParquetFile", real)
    m2 = snap.read_manifest(root, 2)
    kept_seg, new_seg = (
        snap._read_segment_obj(root, s) for s in m2["segments"]
    )
    kept = kept_seg["files"]
    assert len(kept) == 3
    for key in ("blooms", "rows"):
        assert kept_seg[key] == {f: old[key][f] for f in kept}
    assert set(new_seg["blooms"]) == set(new_seg["files"])
    # each footer opened once, only for files this commit wrote; one
    # left out of the segment holds no rows
    assert len(set(opened)) == len(opened)
    assert set(new_seg["files"]) <= set(opened)
    assert {os.path.dirname(f) for f in opened} == {
        os.path.dirname(f) for f in new_seg["files"]
    }
    for f in set(opened) - set(new_seg["files"]):
        assert pq.ParquetFile(os.path.join(root, f)).metadata.num_rows == 0
    inserts = op in ("overwrite_where", "merge")
    affected = sum(old["rows"].values()) - sum(kept_seg["rows"].values())
    assert sum(new_seg["rows"].values()) == affected - 1 + inserts
    head = snap.read_snapshot(spark, root)
    assert head.count() == 399 + inserts
    assert head.filter("k = 5").count() == inserts
    assert head.filter("v = -1").count() == inserts


def test_cow_delete_keeps_untouched_files_metadata_unopened(
    spark, tmp_path, monkeypatch
):
    _check_cow_carry(spark, tmp_path, monkeypatch, "delete_where")


@pytest.mark.parametrize("op", sorted(set(_COW) - {"delete_where"}))
def test_cow_rewrite_keeps_untouched_files_metadata_unopened(
    spark, tmp_path, monkeypatch, op
):
    _check_cow_carry(spark, tmp_path, monkeypatch, op)


@pytest.mark.parametrize("op", ["merge", "overwrite_where"])
def test_cow_empty_insert_commits_the_parent_segments(spark, tmp_path, op):
    """An insert op with no rows to insert and nothing matched writes
    no segment: the commit lists the parent's segments unchanged."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _frame(spark, 0, 40))
    empty = _frame(spark, 0, 0)
    if op == "merge":
        v = snap.commit_merge(spark, root, empty, ["k"])
    else:
        v = snap.commit_overwrite_where(spark, root, empty, F.col("k") < 0)
    m1, m2 = snap.read_manifest(root, 1), snap.read_manifest(root, v)
    assert v == 2 and m2["segments"] == m1["segments"]
    assert snap.read_snapshot(spark, root).count() == 40


def test_append_opens_each_new_footer_once(spark, tmp_path, monkeypatch):
    """The ingest commit's metadata I/O: one footer open per new file
    (no stats or bloom columns set), nothing for carried files."""
    root = str(tmp_path / "t")
    snap.commit_append(spark, root, _frame(spark, 0, 40))
    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(os.path.relpath(str(path), root))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    snap.commit_append(spark, root, _frame(spark, 40, 80))
    monkeypatch.setattr(pq, "ParquetFile", real)
    seg = _new_segment_obj(root, snap.read_manifest(root, 1))
    assert sorted(opened) == sorted(seg["files"]) and len(opened) == 2
    assert sum(seg["rows"].values()) == 40


_SNAPSHOTS = os.path.join(
    os.path.dirname(__file__), "..", "metastore_spark", "sources"
)


def _functions(tree):
    """(innermost enclosing function name, node) for every node."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            out.append((name, child))
            walk(child, name)

    walk(tree, "<module>")
    return out


def test_commit_metadata_is_not_forked():
    """In the commit module only `_inherit` assigns an inherited
    manifest key (`_evolve`, the one op that rewrites the schema, IDs
    and spec names, builds the evolved head it inherits from as
    `dict(m, key=...)`); across `sources/` only `_new_segment` and
    `_segments_after_removal` call `_write_segment`, only
    `_new_segment` derives a new segment's metadata, and only the
    copy-on-write kernel `_rewrite_matching` calls
    `_segments_after_removal` or reads with ``with_source=True``. (The
    DataSource's stream reader patches a read-side manifest view, not
    a commit.)"""
    keys = set(_INHERITED) | {"schema"}
    segment_helpers = {
        "_file_stats", "_file_blooms", "_spec_partitions", "_columns_meta",
    }
    bad = []
    for name in sorted(os.listdir(_SNAPSHOTS)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(_SNAPSHOTS, name)) as fh:
            tree = ast.parse(fh.read())
        for fn, node in _functions(tree):
            where = f"{name}:{getattr(node, 'lineno', '?')} in {fn}"
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            commit_module = name == "snapshots.py"
            for t in targets:
                if (
                    commit_module
                    and isinstance(t, ast.Subscript)
                    and isinstance(t.slice, ast.Constant)
                    and t.slice.value in keys
                    and fn != "_inherit"
                ):
                    bad.append(f"{where} assigns {t.slice.value!r}")
            if (
                commit_module
                and isinstance(node, ast.Dict)
                and fn != "_inherit"
            ):
                for k in node.keys:
                    if isinstance(k, ast.Constant) and k.value in keys:
                        bad.append(f"{where} builds {k.value!r}")
            if not isinstance(node, ast.Call):
                continue
            callee = getattr(node.func, "id", None) or getattr(
                node.func, "attr", None
            )
            if commit_module and callee == "dict" and fn not in (
                "_inherit",
                "_evolve",
            ):
                for kw in node.keywords:
                    if kw.arg in keys:
                        bad.append(f"{where} builds {kw.arg!r}")
            if callee == "_write_segment" and fn not in (
                "_new_segment",
                "_segments_after_removal",
            ):
                bad.append(f"{where} calls _write_segment")
            if callee in segment_helpers and fn != "_new_segment":
                bad.append(f"{where} calls {callee}")
            cow_only = callee == "_segments_after_removal" or (
                callee == "_read_files"
                and any(
                    kw.arg == "with_source"
                    and not (
                        isinstance(kw.value, ast.Constant)
                        and kw.value.value is False
                    )
                    for kw in node.keywords
                )
            )
            if cow_only and fn != "_rewrite_matching":
                bad.append(f"{where} calls {callee} (copy-on-write)")
    assert bad == []
    for gone in (
        "_carry_deletes", "_carry_cluster", "_carry_manifest_extras",
    ):
        assert not hasattr(snap, gone)
