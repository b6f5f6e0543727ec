"""Injected-crash recovery for every generation/atomic-swap store:
kill the writer between 'state fully written' and 'state swapped
live', then assert the next open/replay serves one consistent
generation — never a partial build, never a double-count, never a
peer's in-flight work reclaimed.

The erasure store pioneered the discipline
(tests/test_layout.py::test_rewrite_cells_recovers_crashed_swap);
these tests pin the same contract for serve.materialized and the
streaming HLL / quantile-histogram generation stores (VERDICT r4
task 7)."""

import datetime as dt
import os
import shutil
import subprocess

from metastore_spark import serve


def test_materialized_recovers_from_crashed_build(spark, tmp_path):
    """A builder killed AFTER writing its tmp store (_DONE included)
    but BEFORE the atomic rename leaves a fully-built orphan beside a
    missing live store. The next open must rebuild and serve a
    consistent store — and the orphan must be reclaimed once past the
    abandonment window (it is a full-size store copy)."""
    src = str(tmp_path / "src.parquet")
    spark.range(20).toDF("id").write.parquet(src)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(src).selectExpr("id", "id * 3 AS trp")

    old_root = serve._WAREHOUSE
    serve._WAREHOUSE = str(tmp_path / "wh")
    try:
        # first build to learn the store path, then simulate the crash:
        # evacuate the live store back to a dead builder's tmp name
        df = serve.materialized(spark, [src], "tc", build)
        assert df.count() == 20 and calls["n"] == 1
        stores = os.path.join(serve._WAREHOUSE, "serve")
        store = [d for d in os.listdir(stores) if d.startswith("tc-")]
        assert len(store) == 1
        live = os.path.join(stores, store[0])
        orphan = f"{live}.build-99999"
        os.rename(live, orphan)  # crash window: built, _DONE, no rename
        assert os.path.exists(os.path.join(orphan, "_DONE"))
        serve._CACHE.clear()

        # next open: store missing -> rebuild -> rename -> consistent
        df2 = serve.materialized(spark, [src], "tc", build)
        assert sorted(r["trp"] for r in df2.collect()) == [
            3 * i for i in range(20)
        ]
        assert calls["n"] == 2
        assert os.path.exists(os.path.join(live, "_DONE"))

        # the crashed orphan is reclaimed once past the abandonment age
        old_age = serve._BUILD_ORPHAN_AGE_SEC
        serve._BUILD_ORPHAN_AGE_SEC = -1
        try:
            serve._CACHE.clear()
            serve.materialized(spark, [src], "tc", build)
        finally:
            serve._BUILD_ORPHAN_AGE_SEC = old_age
        assert not os.path.exists(orphan)
    finally:
        serve._WAREHOUSE = old_root
        serve._CACHE.clear()


def _hll_regs(spark, root, gen):
    return sorted(
        (str(r["d"]), r["bucket"], r["r"])
        for r in spark.read.parquet(f"{root}/gen={gen}").collect()
    )


def test_hll_replay_overwrites_crashed_generation(spark, tmp_path):
    """A kill mid-write of gen=N leaves a torn generation dir; the
    foreachBatch replay of batch N (checkpoint uncommitted) must
    rebuild from gen<N and clobber the torn dir — the registers end
    identical to the crash-free run. Pruning keeps exactly the
    {newest, predecessor} generations so a replay always finds its
    rebuild base."""
    from metastore_spark.streaming.hll import apply_hll_batch

    cols = ["ts", "user_id"]
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 2, 10, 0, 0)
    rows = [(t0, u) for u in range(40)] + [(t1, u) for u in range(20, 60)]
    b0 = spark.createDataFrame(rows[:30], cols)
    b1 = spark.createDataFrame(rows[30:], cols)

    clean = str(tmp_path / "clean")
    apply_hll_batch(spark, b0, 0, clean)
    apply_hll_batch(spark, b1, 1, clean)
    truth = _hll_regs(spark, clean, 1)

    crashed = str(tmp_path / "crashed")
    apply_hll_batch(spark, b0, 0, crashed)
    apply_hll_batch(spark, b1, 1, crashed)
    # tear gen=1: keep the dir, corrupt its contents (kill mid-write)
    gen1 = os.path.join(crashed, "gen=1")
    for f in os.listdir(gen1):
        os.remove(os.path.join(gen1, f))
    with open(os.path.join(gen1, "part-torn.parquet"), "wb") as fh:
        fh.write(b"\x00torn")
    # replay batch 1: rebuilds from gen=0, overwrites the torn dir
    apply_hll_batch(spark, b1, 1, crashed)
    assert _hll_regs(spark, crashed, 1) == truth

    # pruning bounds state to {newest, predecessor} ...
    b2 = spark.createDataFrame([(t1, u) for u in range(60, 80)], cols)
    apply_hll_batch(spark, b2, 2, crashed)
    gens = sorted(
        int(d.split("=")[1])
        for d in os.listdir(crashed)
        if d.startswith("gen=")
    )
    assert gens == [1, 2]
    # ... and a replay AFTER pruning still finds its base (gen=1)
    final = _hll_regs(spark, crashed, 2)
    apply_hll_batch(spark, b2, 2, crashed)
    assert _hll_regs(spark, crashed, 2) == final


def test_histogram_replay_overwrites_crashed_generation(spark, tmp_path):
    """Same crash window for the SUM-merged histogram store — the
    non-idempotent merge makes this the strictest test: a replay that
    read the torn gen (or double-added) would shift counts."""
    from metastore_spark.queries_sketch import quantile_buckets
    from metastore_spark.streaming.hll import apply_histogram_batch

    cols = ["ts", "value"]
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(t0, float(v)) for v in range(1, 200)]
    b0 = spark.createDataFrame(rows[:100], cols)
    b1 = spark.createDataFrame(rows[100:], cols)
    root = str(tmp_path / "hist")
    apply_histogram_batch(spark, b0, 0, root, quantile_buckets)
    apply_histogram_batch(spark, b1, 1, root, quantile_buckets)
    truth = sorted(
        (str(r["d"]), r["b"], r["cnt"])
        for r in spark.read.parquet(f"{root}/gen=1").collect()
    )
    gen1 = os.path.join(root, "gen=1")
    shutil.rmtree(gen1)
    os.makedirs(gen1)  # torn: dir exists, no data committed
    apply_histogram_batch(spark, b1, 1, root, quantile_buckets)
    after = sorted(
        (str(r["d"]), r["b"], r["cnt"])
        for r in spark.read.parquet(gen1).collect()
    )
    assert after == truth
    assert sum(c for _, _, c in after) == 199  # no double-add


def test_rewrite_cells_spares_live_concurrent_scratch(spark, tmp_path):
    """The crash-recovery sweep must NOT reclaim a scratch dir whose
    owning process is alive — that is a CONCURRENT erasure mid-swap,
    and sweeping it would resurrect rows it is deleting. Dead-owner
    scratch is still recovered in the same call."""
    from pyspark.sql import functions as F

    from metastore_spark import layout

    store = str(tmp_path / "zstore")
    spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        (F.col("id") % 4).alias("zcell"),
    ).write.partitionBy("zcell").parquet(store)

    # live peer: a real process we control, holding a scratch dir
    peer = subprocess.Popen(["sleep", "60"])
    live_scratch = f"{store}.rewrite-{peer.pid}"
    os.makedirs(live_scratch)
    with open(os.path.join(live_scratch, "old-9"), "w") as fh:
        fh.write("peer in-flight marker")

    # dead peer: a reaped pid, holding an evacuated cell
    reaped = subprocess.Popen(["true"])
    reaped.wait()
    dead_scratch = f"{store}.rewrite-{reaped.pid}-deadbeef"
    os.makedirs(dead_scratch)
    os.rename(
        os.path.join(store, "zcell=3"), os.path.join(dead_scratch, "old-3")
    )

    try:
        layout.rewrite_cells(spark, store, [0], F.col("user_id") != 0)
        # live peer's scratch untouched; dead peer's cell restored
        assert os.path.exists(os.path.join(live_scratch, "old-9"))
        assert not os.path.exists(dead_scratch)
        assert (
            spark.read.parquet(store).filter(F.col("zcell") == 3).count()
            == 50
        )
    finally:
        peer.kill()
        peer.wait()
        shutil.rmtree(live_scratch, ignore_errors=True)


def test_ivf_compaction_crash_between_swap_and_retire(spark, tmp_path):
    """Kill the compactor AFTER the manifest swap but BEFORE the
    folded batch dirs are retired (the exact round-5 gap window):
    the manifest must keep reads single-counted while the superseded
    dirs linger, and `retire_folded` must finish the job without
    touching a live peer's in-flight scratch."""
    from metastore_spark.streaming.ivf import (
        apply_ivf_batch,
        compact_index,
        read_index,
        read_manifest,
        retire_folded,
    )

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [float(i % 3), float((i + 1) % 2)]) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    root = str(tmp_path / "ivf")
    for b in range(3):
        apply_ivf_batch(df.filter(f"vec_id % 3 = {b}"), b, root, centroids)

    def rows_of():
        return sorted(
            (int(r["vec_id"]), int(r["centroid_id"]))
            for r in read_index(spark, root).collect()
        )

    truth = rows_of()
    compact_index(spark, root, _crash_after_manifest=True)

    # crash window: manifest points at _gen=0, folded dirs still on
    # disk — reads must NOT double-count them
    assert read_manifest(root)["generation"] == 0
    assert [d for d in os.listdir(root) if d.startswith("batch=")]
    assert rows_of() == truth

    # a live peer's scratch generation must survive the GC sweep;
    # a dead writer's scratch must not
    peer = subprocess.Popen(["sleep", "60"])
    live_scratch = os.path.join(root, f"_gen=1.tmp-{peer.pid}-abcd1234")
    os.makedirs(live_scratch)
    reaped = subprocess.Popen(["true"])
    reaped.wait()
    dead_scratch = os.path.join(root, f"_gen=1.tmp-{reaped.pid}-deadbeef")
    os.makedirs(dead_scratch)

    try:
        retire_folded(root)
        assert not [d for d in os.listdir(root) if d.startswith("batch=")]
        assert os.path.exists(live_scratch)
        assert not os.path.exists(dead_scratch)
        assert rows_of() == truth
    finally:
        peer.kill()
        peer.wait()
        shutil.rmtree(live_scratch, ignore_errors=True)


def test_ivf_crashed_winner_does_not_block_compaction(spark, tmp_path):
    """ADVICE r6 on retire_folded: a compactor that crashed between
    publishing its generation dir and swapping the manifest used to
    leave a bare ``_gen=<n>`` that (a) a concurrent GC could delete
    out from under a live winner and (b) blocked every later
    compaction targeting generation n. Generations are now published
    under pid-unique names: the dead winner's orphan is reclaimed by
    pid-liveness, a LIVE peer's same-generation dir is left alone,
    and compaction at that generation proceeds."""
    from metastore_spark.streaming.ivf import (
        apply_ivf_batch,
        compact_index,
        read_index,
        read_manifest,
        retire_folded,
    )

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(i, [float(i % 3), float((i + 1) % 2)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    root = str(tmp_path / "ivf")
    for b in range(2):
        apply_ivf_batch(df.filter(f"vec_id % 2 = {b}"), b, root, centroids)

    def rows_of():
        return sorted(
            (int(r["vec_id"]), int(r["centroid_id"]))
            for r in read_index(spark, root).collect()
        )

    truth = rows_of()
    compact_index(spark, root)  # manifest at generation 0

    # dead winner: published _gen=1 dir, crashed before the swap
    reaped = subprocess.Popen(["true"])
    reaped.wait()
    dead_gen = os.path.join(root, f"_gen=1.pid-{reaped.pid}-deadbeef")
    os.makedirs(dead_gen)
    # live peer mid-compaction at the same generation
    peer = subprocess.Popen(["sleep", "60"])
    live_gen = os.path.join(root, f"_gen=1.pid-{peer.pid}-abcd1234")
    os.makedirs(live_gen)

    try:
        retire_folded(root)
        assert not os.path.exists(dead_gen)
        assert os.path.exists(live_gen)

        # a new ingest batch + compaction at generation 1 succeeds
        # despite the peer's same-generation dir (unique names)
        tail = spark.createDataFrame(
            [(100, [5.0, 0.0])], "vec_id bigint, embedding array<float>"
        )
        apply_ivf_batch(tail, 2, root, centroids)
        compact_index(spark, root)
        man = read_manifest(root)
        assert man["generation"] == 1
        assert rows_of() == sorted(truth + [(100, 0)])
        # the live peer's dir is K == current under another name:
        # pid-gated, still untouched
        assert os.path.exists(live_gen)
    finally:
        peer.kill()
        peer.wait()
        shutil.rmtree(live_gen, ignore_errors=True)
