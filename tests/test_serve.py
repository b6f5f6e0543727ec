"""serve: build-once semantics, content invalidation, fallback
correctness, and racing builders and readers for every store kind."""

import multiprocessing
import os
import shutil
import time
from urllib.parse import urlparse

import pytest

from metastore_spark import serve


def test_materialized_builds_once_and_invalidates(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    spark.range(10).toDF("id").write.parquet(src)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(src).selectExpr("id", "id * 2 AS dbl")

    root = serve._WAREHOUSE
    serve._WAREHOUSE = str(tmp_path / "wh")  # isolate from repo cache
    try:
        df1 = serve.materialized(spark, [src], "t1", build)
        assert df1.count() == 10 and calls["n"] == 1
        # same content → reopened, not rebuilt (fresh process-cache key
        # simulated by clearing the in-proc cache)
        serve._CACHE.clear()
        df2 = serve.materialized(spark, [src], "t1", build)
        assert df2.count() == 10 and calls["n"] == 1
        # rewritten source → new fingerprint → rebuild
        time.sleep(0.01)
        spark.range(7).toDF("id").write.mode("overwrite").parquet(src)
        serve._CACHE.clear()
        df3 = serve.materialized(spark, [src], "t1", build)
        assert df3.count() == 7 and calls["n"] == 2
        # superseded fingerprint dir RETAINED while young (a concurrent
        # reader may still be draining it — age-based retention) ...
        dirs = [
            d
            for d in os.listdir(os.path.join(serve._WAREHOUSE, "serve"))
            if d.startswith("t1-") and not d.endswith("_DONE")
        ]
        assert len(dirs) == 2
        # ... and pruned once older than the retention window
        old_age = serve._PRUNE_AGE_SEC
        serve._PRUNE_AGE_SEC = 0
        try:
            spark.range(3).toDF("id").write.mode("overwrite").parquet(src)
            serve._CACHE.clear()
            df4 = serve.materialized(spark, [src], "t1", build)
            assert df4.count() == 3 and calls["n"] == 3
        finally:
            serve._PRUNE_AGE_SEC = old_age
        dirs = [
            d
            for d in os.listdir(os.path.join(serve._WAREHOUSE, "serve"))
            if d.startswith("t1-") and not d.endswith("_DONE")
        ]
        assert len(dirs) == 1
    finally:
        serve._WAREHOUSE = root
        serve._CACHE.clear()


def test_materialized_falls_back_without_warehouse(spark, tmp_path):
    src = str(tmp_path / "src2.parquet")
    spark.range(5).toDF("id").write.parquet(src)
    root = serve._WAREHOUSE
    serve._WAREHOUSE = "/proc/definitely-unwritable/wh"
    try:
        df = serve.materialized(
            spark, [src], "t2", lambda: spark.read.parquet(src)
        )
        assert df.count() == 5  # correctness never depends on the cache
    finally:
        serve._WAREHOUSE = root
        serve._CACHE.clear()


# --- one build-once protocol: racing builders and readers, per kind -------

SF = "/root/testdata/sf0.001"


def _store_of(frame, kind):
    """The one store under ``<warehouse>/<kind>`` a frame reads."""
    root = os.path.join(serve._WAREHOUSE, kind) + "/"
    paths = [urlparse(f).path for f in frame.inputFiles()]
    assert paths and all(p.startswith(root) for p in paths), paths
    stores = {p[len(root):].split("/")[0] for p in paths}
    assert len(stores) == 1, stores
    return root + stores.pop()


def _open_parquet_store(spark, sf):
    src = os.path.join(sf, "events.parquet")
    df = serve.materialized(
        spark, [src], "race", lambda: spark.read.parquet(src)
    )
    return _store_of(df, "serve")


def _open_snapshot_store(spark, sf):
    src = os.path.join(sf, "events.parquet")
    return serve.snapshot_store(
        spark, [src], "race", lambda: spark.read.parquet(src)
    )


def _open_index(spark, sf):
    from metastore_spark import queries_search

    idx = queries_search._index_for(spark, sf)
    return _store_of(idx.postings, "serving_index")


def _open_layout(spark, sf):
    from metastore_spark import layout

    df, used = layout.events_partitioned(spark, sf)
    assert used
    return _store_of(df, "events_by_day")


def _open_fixture(spark, sf):
    from metastore_spark import queries_snapshots

    return queries_snapshots._ow_base_table(spark, sf)


# kind -> (tag, source table, open the store in this process -> its path)
_KINDS = {
    "serve": ("race", "events", _open_parquet_store),
    "tables": ("race", "events", _open_snapshot_store),
    "serving_index": ("docs-typed", "documents", _open_index),
    "events_by_day": ("events", "events", _open_layout),
    "snapshots": ("events-owbase1", "events", _open_fixture),
}


def _corpus(tmp_path):
    sf = tmp_path / "corpus"
    sf.mkdir()
    for table in ("events", "documents"):
        shutil.copy(f"{SF}/{table}.parquet", sf / f"{table}.parquet")
    return str(sf)


def _rewrite(path):
    """A new source fingerprint: same rows, a later mtime."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def _publish_copy(warehouse, kind, tag, sources, model):
    serve._WAREHOUSE = warehouse
    serve.build_once(
        kind,
        tag,
        sources,
        lambda tmp: shutil.copytree(model, tmp, dirs_exist_ok=True),
    )


def _publish_in_another_process(*args):
    """A builder with no JVM: publishes a copy of a store as the store
    for the sources' current content, from a separate process."""
    child = multiprocessing.get_context("spawn").Process(
        target=_publish_copy, args=args
    )
    child.start()
    child.join(120)
    assert child.exitcode == 0


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_reader_pinned_store_survives_a_racing_build(
    kind, spark, tmp_path, monkeypatch
):
    """A reader opened the store at fingerprint F1; another process then
    publishes F2. F1 must survive every open until F2 has been in place
    `_PRUNE_AGE_SEC`, and is reclaimed after."""
    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    tag, table, open_store = _KINDS[kind]
    sf = _corpus(tmp_path)
    src = os.path.join(sf, f"{table}.parquet")
    old = open_store(spark, sf)
    assert os.path.exists(os.path.join(old, "_DONE"))

    _rewrite(src)
    _publish_in_another_process(serve._WAREHOUSE, kind, tag, [src], old)
    new = open_store(spark, sf)
    assert new != old and os.path.exists(os.path.join(new, "_DONE"))
    assert os.path.exists(os.path.join(old, "_DONE"))  # pinned reader safe

    monkeypatch.setattr(serve, "_PRUNE_AGE_SEC", 0)
    assert open_store(spark, sf) == new
    assert not os.path.exists(old)


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_foreign_build_survives_an_open(kind, spark, tmp_path, monkeypatch):
    """Another process's young in-flight build of the same store is never
    pruned, even by an open that builds and prunes a superseded store;
    once past `_BUILD_ORPHAN_AGE_SEC` it is a crashed builder's and is
    reclaimed."""
    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    monkeypatch.setattr(serve, "_PRUNE_AGE_SEC", 0)
    _tag, table, open_store = _KINDS[kind]
    sf = _corpus(tmp_path)
    old = open_store(spark, sf)
    foreign = f"{old}.build-99999"
    os.makedirs(os.path.join(foreign, "part"))

    _rewrite(os.path.join(sf, f"{table}.parquet"))
    new = open_store(spark, sf)  # builds F2 here, prunes F1
    assert new != old and not os.path.exists(old)
    assert os.path.isdir(os.path.join(foreign, "part"))

    day_ago = time.time() - serve._BUILD_ORPHAN_AGE_SEC - 60
    os.utime(foreign, (day_ago, day_ago))
    assert open_store(spark, sf) == new
    assert not os.path.exists(foreign)


def test_events_layout_per_corpus_not_per_basename(spark, tmp_path, monkeypatch):
    """Two corpora with one directory name get one layout each, and
    reopening the first after the second reuses it untouched."""
    import pyarrow.parquet as pq

    from metastore_spark import layout

    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    a, b = tmp_path / "a" / "sf0.001", tmp_path / "b" / "sf0.001"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    events = pq.read_table(f"{SF}/events.parquet")
    pq.write_table(events, a / "events.parquet")
    pq.write_table(events.slice(0, 100), b / "events.parquet")

    da, used_a = layout.events_partitioned(spark, str(a))
    store_a = _store_of(da, "events_by_day")
    built_a = os.stat(os.path.join(store_a, "_DONE")).st_mtime_ns
    db, used_b = layout.events_partitioned(spark, str(b))
    store_b = _store_of(db, "events_by_day")
    assert used_a and used_b and store_a != store_b
    assert da.count() == events.num_rows and db.count() == 100

    da2, _ = layout.events_partitioned(spark, str(a))
    assert _store_of(da2, "events_by_day") == store_a
    assert os.stat(os.path.join(store_a, "_DONE")).st_mtime_ns == built_a
    assert da2.count() == events.num_rows and db.count() == 100


# Protocols that mutate a store in place rather than build it once; they
# keep their own scratch-and-rename steps.
_IN_PLACE = {
    ("search/refresh.py", "_write_manifest"),
    ("search/refresh.py", "refresh_segment"),
    ("search/refresh.py", "compact_segments"),
    ("streaming/ivf.py", "_write_manifest"),
    ("layout.py", "rewrite_cells"),
}


def test_build_once_protocol_is_not_forked():
    """Only serve.build_once builds a `.build-` dir and renames it into
    place; every other rename into place is one of the in-place
    protocols above."""
    import ast

    pkg = os.path.dirname(serve.__file__)
    renamers, build_dirs = set(), set()
    for dirpath, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            mod = os.path.relpath(path, pkg)
            tree = ast.parse(open(path).read())
            fns = [(f.name, f) for f in tree.body if isinstance(f, ast.FunctionDef)]
            for cls in tree.body:
                if isinstance(cls, ast.ClassDef):
                    fns += [
                        (f"{cls.name}.{f.name}", f)
                        for f in cls.body
                        if isinstance(f, ast.FunctionDef)
                    ]
            for fname, fn in fns:
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("rename", "replace", "move")
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id in ("os", "shutil")
                    ):
                        renamers.add((mod, fname))
                    if (
                        isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and ".build-" in node.value
                    ):
                        build_dirs.add((mod, fname))
    allowed = _IN_PLACE | {("serve.py", "build_once")}
    assert renamers - allowed == set()
    assert {m for m, _ in build_dirs} <= {"serve.py", "search/refresh.py"}
