"""Physical layout tests: partition pruning must show in the plan;
bucketed joins must not exchange.
"""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from metastore_spark import layout


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _explain_simple(df) -> str:
    # simple mode keeps "Exchange hashpartitioning(...)" on one line —
    # formatted mode splits node label and arguments, so substring
    # checks against it silently pass
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_events_partition_pruning(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "events_by_day")
    layout.write_events_by_day(events, path)

    scan = spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-05", "2024-01-06")
    )
    plan = _explain(scan)
    assert "PartitionFilters" in plan
    # pruned scan reads exactly the two requested days
    got_days = {
        str(r["event_date"])  # partition values come back as DATE
        for r in scan.select("event_date").distinct().collect()
    }
    assert got_days == {"2024-01-05", "2024-01-06"}


def test_events_partitioned_probe_and_pruned_query(spark, tmp_path, monkeypatch):
    """events_partitioned builds the layout once (a build-once store)
    and the registry's day-range query prunes partitions through it."""
    import metastore_spark.queries_temporal  # noqa: F401
    from metastore_spark import serve
    from metastore_spark.queries import REGISTRY

    wh = str(tmp_path / "wh")
    monkeypatch.setattr(serve, "_WAREHOUSE", wh)
    df, used = layout.events_partitioned(spark, "/root/testdata/sf0.001")
    assert used
    flat = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert df.count() == flat.count()
    # second probe reuses the store (no rewrite): capture the store's
    # _DONE mtime and re-probe
    import os
    from urllib.parse import urlparse

    dest = {urlparse(f).path.split("/event_date=")[0] for f in df.inputFiles()}
    assert len(dest) == 1
    dest = dest.pop()
    assert dest.startswith(os.path.join(wh, "events_by_day") + "/")
    before = os.path.getmtime(os.path.join(dest, "_DONE"))
    df2, used2 = layout.events_partitioned(spark, "/root/testdata/sf0.001")
    assert used2 and os.path.getmtime(os.path.join(dest, "_DONE")) == before

    # the registry query (repo-warehouse layout) shows partition
    # pruning in its plan
    plan = _explain(REGISTRY["events_day_range_pruned"].fn(spark, "/root/testdata/sf0.001"))
    assert "PartitionFilters" in plan
    assert "event_date" in plan


def test_fact_bucketed_join_no_shuffle(spark):
    sf_dir = "/root/testdata/sf0.001"
    tbls = layout.ensure_bucketed_facts(
        spark,
        sf_dir,
        [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
        buckets=4,
    )
    # idempotent: second call reuses the catalog entries
    assert layout.ensure_bucketed_facts(
        spark,
        sf_dir,
        [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
        buckets=4,
    ) == tbls
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(tbls["orders"])
        l = spark.table(tbls["lineitem"])
        joined = o.join(l, o.o_orderkey == l.l_orderkey)
        plan = _explain_simple(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # same join over the plain parquet DOES exchange both sides
        po = spark.read.parquet(f"{sf_dir}/orders.parquet")
        pl = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plain = _explain_simple(po.join(pl, po.o_orderkey == pl.l_orderkey))
        assert "Exchange hashpartitioning" in plain
        # and the bucketed result is the plain result
        assert joined.count() == po.join(
            pl, po.o_orderkey == pl.l_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in tbls.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_facts_reopen_without_rewrite(spark, tmp_path, monkeypatch):
    """A session whose catalog lacks the bucketed tables (a new process)
    registers the stored copies again instead of rewriting them, and
    the registered tables still join with no exchange."""
    import glob
    import os

    from metastore_spark import serve

    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    sf_dir = str(tmp_path / "corpus")
    spark.range(0, 200).select(
        F.col("id").alias("o_orderkey")
    ).write.parquet(f"{sf_dir}/orders.parquet")
    spark.range(0, 600).select(
        (F.col("id") % 200).alias("l_orderkey")
    ).write.parquet(f"{sf_dir}/lineitem.parquet")
    specs = [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]
    tbls = layout.ensure_bucketed_facts(spark, sf_dir, specs, buckets=4)
    done = glob.glob(str(tmp_path / "wh" / "bucketed" / "*" / "_DONE"))
    assert len(done) == 2
    stamps = {p: os.stat(p).st_mtime_ns for p in done}
    for t in tbls.values():
        spark.sql(f"DROP TABLE {t}")
    assert layout.ensure_bucketed_facts(spark, sf_dir, specs, buckets=4) == tbls
    assert {p: os.stat(p).st_mtime_ns for p in done} == stamps
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(tbls["orders"])
        li = spark.table(tbls["lineitem"])
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        plan = _explain_simple(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 600
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in tbls.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_zorder_box_prunes_partitions(spark):
    """The Z-cell decomposition must reach the scan as PartitionFilters
    and the pruned scan must touch strictly fewer files than the store
    holds — the multi-dim pruning the layout exists for."""
    import __spark_entry__ as entry

    # sf0.01: the query box (user 100-300) is empty at sf0.001
    df = entry.queries()["events_zorder_box_pruned"](
        spark, "/root/testdata/sf0.01"
    )
    plan = _explain(df)
    assert "PartitionFilters" in plan and "zcell" in plan
    assert len(df.collect()) > 0
    # physical evidence from THIS query execution's scan metrics
    # (inputFiles() lists the relation pre-pruning and proves nothing)
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read_dirs = int(scan.metrics().apply("numPartitions").value())
    from metastore_spark import serve

    stores = [k for k in serve._CACHE if k[1] == "zbox8"]
    assert stores, "zbox8 store should be cached in-process"
    total_dirs = serve._CACHE[stores[0]].select("zcell").distinct().count()
    assert 0 < read_dirs < total_dirs, (read_dirs, total_dirs)


def test_forget_user_rewrites_only_intersecting_cells(spark, tmp_path):
    """GDPR erasure on the Z-ordered store: only the cell dirs whose
    user-range contains the target may be rewritten; every other cell
    must be byte-untouched (mtime check), and the surviving store
    must equal a full filter of the original."""
    import os

    from pyspark.sql import functions as F

    from metastore_spark import layout

    store = str(tmp_path / "zstore")
    df = spark.range(4000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 200).alias("user_id"),
        (F.col("id") % 30).alias("rel_day"),
    )
    u_shift, d_shift = layout.zorder_shifts(199, 29)
    df.withColumn(
        "zcell",
        layout.zorder_cell(
            F.col("user_id"), F.col("rel_day"), u_shift, d_shift
        ),
    ).write.partitionBy("zcell").parquet(store)
    target = 57
    victim_cells = set(
        layout.zcells_for_box(target, target, 0, 29, u_shift, d_shift)
    )
    mtimes_before = {
        d: os.path.getmtime(os.path.join(store, d))
        for d in os.listdir(store)
        if d.startswith("zcell=")
    }
    stats = layout.forget_user(
        spark, store, target, u_shift, d_shift, rel_day_max=29
    )
    assert stats["rows_dropped"] == 20  # 4000 ids, id%200==57 → 20 rows
    assert stats["cells_rewritten"] >= 1
    survivors = spark.read.parquet(store)
    assert survivors.filter(F.col("user_id") == target).count() == 0
    assert survivors.count() == 4000 - 20
    for d, mt in mtimes_before.items():
        cell = int(d.split("=")[1])
        if cell not in victim_cells:
            assert os.path.getmtime(os.path.join(store, d)) == mt, d


def test_rewrite_cells_recovers_crashed_swap(spark, tmp_path):
    """A kill between the two swap renames leaves a cell evacuated to
    scratch and missing from the store; the next rewrite_cells must
    restore it before doing new work (self-healing, no silent data
    gap, no retained erased rows)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from metastore_spark import layout

    store = str(tmp_path / "zstore")
    df = spark.range(300).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        (F.col("id") % 4).alias("zcell"),
    )
    df.write.partitionBy("zcell").parquet(store)
    # simulate the crash window: cell 2 evacuated to a dead pid's
    # scratch, never swapped back in
    dead_scratch = f"{store}.rewrite-99999"
    os.makedirs(dead_scratch)
    os.rename(
        os.path.join(store, "zcell=2"), os.path.join(dead_scratch, "old-2")
    )
    assert spark.read.parquet(store).count() == 225  # 3 of 4 cells
    # ids with id%4==0 AND id%10==4: id ≡ 4 (mod 20) → 15 of 300 rows
    stats = layout.rewrite_cells(
        spark, store, [0], F.col("user_id") != 4
    )
    # recovery restored cell 2 BEFORE the new rewrite ran
    assert not os.path.exists(dead_scratch)
    survivors = spark.read.parquet(store)
    assert survivors.filter(F.col("zcell") == 2).count() == 75
    # and the requested rewrite still happened
    assert stats["rows_dropped"] == 15
    assert survivors.filter(
        (F.col("user_id") == 4) & (F.col("zcell") == 0)
    ).count() == 0
    shutil.rmtree(store, ignore_errors=True)
