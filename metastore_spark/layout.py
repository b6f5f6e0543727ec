"""Physical table layout for 100 TB: partitioning, bucketing,
clustering.

These writers encode the layout decisions every query in this engine
assumes:

- **events → date-partitioned parquet.** Time-range predicates become
  partition pruning (scan touches only matching days); the append
  pattern (one new partition per ingest window) never rewrites
  history.
- **facts → bucketed by join key.** Two facts bucketed the same way
  join without a shuffle on either side.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_events_by_day(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """events → parquet partitioned by event_date (ts normalized to
    canonical TIMESTAMP_NTZ whatever the physical input encoding)."""
    from metastore_spark.ts import normalize_ts

    (
        normalize_ts(df, ts_col)
        .withColumn(
            "event_date",
            F.date_format(F.col(ts_col), "yyyy-MM-dd"),
        )
        .repartition("event_date")  # one writer task per partition dir
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def events_partitioned(spark: SparkSession, sf_dir: str):
    """Probe-or-build the date-partitioned events layout for ``sf_dir``.

    Returns ``(df, True)`` reading the partitioned layout (a build-once
    store, `serve.build_once`, keyed by the events source's path and
    content), or ``(df, False)`` falling back to the flat parquet when
    the layout can't be materialized (read-only warehouse, ...). Either
    way ``ts`` is canonical NTZ and the query result must be identical
    — the layout only changes WHAT the scan can prune, never the rows.
    """
    from metastore_spark.serve import build_once
    from metastore_spark.ts import normalize_ts

    src = os.path.join(sf_dir, "events.parquet")
    flat = lambda: normalize_ts(spark.read.parquet(src))  # noqa: E731
    try:
        path = build_once(
            "events_by_day",
            "events",
            [src],
            lambda tmp: write_events_by_day(flat(), tmp),
        )
        if path is not None:
            return spark.read.parquet(path), True
    except Exception:
        pass
    return flat(), False


def ensure_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    specs: list[tuple[str, str]],
    buckets: int = 32,
) -> dict[str, str]:
    """Bucketed copies of the given ``(table, join_key)`` specs for
    this corpus, registered in the session catalog; returns
    {table: bucketed_table_name}.

    Fact-table bucketing hash-buckets (and sorts) by the join key so
    identically-bucketed facts join with ZERO exchange on either side
    — the co-location layout for fact⋈fact joins (lineitem⋈orders on
    orderkey) where neither side can broadcast. At 100 TB this
    replaces the two largest shuffles of every order-grain query with
    bucket-local sort-merge tasks.

    Each copy is a build-once store (`serve.build_once`, kind
    ``bucketed``) keyed by the source's path and content, written once
    per corpus. Spark keeps the bucket spec in the session catalog (no
    Hive metastore here), so a session whose catalog lacks the table —
    any new process — registers it over the stored files with the same
    spec instead of rewriting them."""
    import hashlib
    import uuid

    from metastore_spark.serve import build_once

    out = {}
    for name, key in specs:
        src = os.path.join(sf_dir, f"{name}.parquet")

        def build(tmp: str, src=src, name=name, key=key) -> None:
            staging = f"{name}_bkt_build_{uuid.uuid4().hex[:12]}"
            (
                spark.read.parquet(src)
                .write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .format("parquet")
                .option("path", tmp)
                .saveAsTable(staging)
            )
            spark.sql(f"DROP TABLE {staging}")  # external: files stay

        store = build_once(
            "bucketed", f"{name}-{key}-{buckets}", [src], build
        )
        if store is None:
            raise OSError(f"cannot write the bucketed {name} store")
        tbl = f"{name}_bkt_{hashlib.md5(store.encode()).hexdigest()[:12]}"
        if not spark.catalog.tableExists(tbl):
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(store).schema.fields
            )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {buckets} BUCKETS LOCATION '{store}'"
            )
        out[name] = tbl
    return out


def zorder_cell(a: Column, b: Column, a_shift: int, b_shift: int) -> Column:
    """8-bit Z-order (Morton) cell id from two non-negative dims: the
    top 4 bits of each dim (``dim >> shift``) bit-interleaved
    (a→even, b→odd positions). A pure codegen expression — 8 shifts
    and ORs — so the cell column costs nothing at scan speed.
    """
    ah = F.shiftright(a.cast("bigint"), a_shift)
    bh = F.shiftright(b.cast("bigint"), b_shift)
    cell = F.lit(0).cast("bigint")
    for i in range(4):
        # bitwiseOR, not `|` — PySpark's | is boolean OR
        cell = cell.bitwiseOR(
            F.shiftleft(F.shiftright(ah, i) % 2, 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(bh, i) % 2, 2 * i + 1))
    return cell


def zcells_for_box(
    a_lo: int, a_hi: int, b_lo: int, b_hi: int, a_shift: int, b_shift: int
) -> list[int]:
    """Driver-side Z-order range decomposition: the exact set of cells
    a query rectangle intersects — parameter-sized (≤256 cells), the
    classic 'z-ranges of a box' computation every Z-ordered store
    (Delta OPTIMIZE ZORDER, HBase salting schemes) performs at query
    planning time."""
    cells = []
    for ah in range(a_lo >> a_shift, (a_hi >> a_shift) + 1):
        for bh in range(b_lo >> b_shift, (b_hi >> b_shift) + 1):
            c = 0
            for i in range(4):
                c |= ((ah >> i) & 1) << (2 * i)
                c |= ((bh >> i) & 1) << (2 * i + 1)
            cells.append(c)
    return sorted(set(cells))


def zorder_shifts(a_max: int, b_max: int) -> tuple[int, int]:
    """Per-dim shifts putting each dim's top 4 OCCUPIED bits into the
    cell: derived from data stats, so build and probe agree by
    construction (both recompute from the same source)."""
    a_bits = max(4, (int(a_max)).bit_length())
    b_bits = max(4, (int(b_max)).bit_length())
    return a_bits - 4, b_bits - 4


def rewrite_cells(
    spark: SparkSession,
    store_path: str,
    cells: list[int],
    keep: Column,
) -> dict[str, int]:
    """Targeted row deletion on a ``zcell``-partitioned store: rewrite
    ONLY the cell directories the driver-side range decomposition
    names, keeping rows where ``keep`` holds. Everything outside the
    named cells is untouched on disk (asserted by mtime in
    tests/test_layout.py) — at 100 TB this is the difference between
    a full-table rewrite and touching a few hundred partitions.

    Scratch dirs live OUTSIDE the store (a sibling `.rewrite` dir):
    partition discovery must never see a half-swapped `zcell=5.old`
    entry — it would parse as a zcell VALUE, widen the partition
    column to string (breaking integer cell-pruning filters), and
    serve the dropped rows right back. Each cell's evacuated copy is
    deleted immediately after its swap (retention and peak disk stay
    one cell, not the whole rewrite), and the only crash window — a
    kill between the two renames, leaving the cell missing from the
    store — is self-healing: the next rewrite_cells on this store
    restores any evacuated cell found in leftover scratch dirs before
    doing new work. Erased rows are deleted-or-restored, never
    resurrected into discovery and never silently retained. Returns
    {"cells_rewritten": n, "rows_dropped": n}.
    """
    import glob as _glob
    import shutil
    import uuid as _uuid

    # recover from any prior crashed rewrite: restore evacuated cells
    # whose swap never completed, then clear the dead scratch. A
    # scratch dir whose owning pid is still alive belongs to a
    # CONCURRENT in-flight rewrite — sweeping it would rmtree the
    # peer's evacuated cells mid-swap and resurrect rows it is
    # erasing, so those are skipped (dead-pid and unparseable names
    # only). The uuid suffix keeps two rewrites in one process (or a
    # recycled pid) from ever sharing a scratch path.
    for stale in _glob.glob(f"{store_path.rstrip('/')}.rewrite-*"):
        pid_part = os.path.basename(stale).rpartition("rewrite-")[2]
        pid_str = pid_part.split("-", 1)[0]
        if pid_str.isdigit():
            try:
                os.kill(int(pid_str), 0)
                continue  # owner alive: its swap is in flight, hands off
            except ProcessLookupError:
                pass  # dead owner — safe to recover
            except PermissionError:
                continue  # alive under another uid — hands off
        for entry in os.listdir(stale):
            if not entry.startswith("old-"):
                continue
            cell_dir = os.path.join(
                store_path, f"zcell={entry[len('old-'):]}"
            )
            if not os.path.isdir(cell_dir):
                os.rename(os.path.join(stale, entry), cell_dir)
        shutil.rmtree(stale, ignore_errors=True)

    scratch = (
        f"{store_path.rstrip('/')}.rewrite-{os.getpid()}"
        f"-{_uuid.uuid4().hex[:8]}"
    )
    os.makedirs(scratch, exist_ok=True)
    rewritten = dropped = 0
    try:
        for c in cells:
            d = os.path.join(store_path, f"zcell={c}")
            if not os.path.isdir(d):
                continue
            df = spark.read.parquet(d)
            before = df.count()
            kept = df.filter(keep)
            after = kept.count()
            if after == before:
                continue  # nothing to drop — leave the cell untouched
            tmp = os.path.join(scratch, f"new-{c}")
            kept.write.mode("overwrite").parquet(tmp)
            old = os.path.join(scratch, f"old-{c}")
            os.rename(d, old)  # evacuate FIRST — store never shows .old
            try:
                os.rename(tmp, d)
            except BaseException:
                os.rename(old, d)  # put the cell back before scratch dies
                raise
            shutil.rmtree(old, ignore_errors=True)  # bound retention NOW
            rewritten += 1
            dropped += before - after
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return {"cells_rewritten": rewritten, "rows_dropped": dropped}


def forget_user(
    spark: SparkSession,
    store_path: str,
    user_id: int,
    u_shift: int,
    d_shift: int,
    rel_day_max: int,
    user_col: str = "user_id",
) -> dict[str, int]:
    """GDPR-style erasure on the Z-ordered store: a user's rows can
    only live in the cells whose user-range contains them, so the
    driver decomposes the (user, all-days) line into its cell set
    (zcells_for_box — parameter-sized) and rewrites just those.
    The layout that made box scans cheap makes targeted deletion
    cheap for the same reason — the clustering key bounds where any
    user's data can physically be.
    """
    cells = zcells_for_box(
        user_id, user_id, 0, rel_day_max, u_shift, d_shift
    )
    return rewrite_cells(
        spark, store_path, cells, F.col(user_col) != user_id
    )
