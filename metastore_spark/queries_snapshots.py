"""Registry bindings for the snapshot table format (time travel, COW
deletes, retention) — `metastore_spark/sources/snapshots.py`.

Reference behavior served: the events kind is the reference's
append-only stream (/root/reference/metastore/models.py:82-85); a real
deployment of it needs transactional appends, targeted erasure, and
reproducible historical reads — the snapshot store supplies all three
under the same parquet files every other operator reads.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark.queries import query, _t
from metastore_spark.serve import build_once
from metastore_spark.sources import snapshots as snap


def _append_width(
    sf_dir: str, table: str = "events", bytes_per_file: int = 64 << 20
) -> int:
    """Input-size-derived partition count for a commit's input frame:
    a commit input that inherits the scan's granularity writes one
    file PER SCAN PARTITION — dozens of KB-sized
    files per micro-commit on the local fixtures (each then costing a
    write task, a driver footer/manifest entry, and a read slice),
    while at 100 TB the same ceil(bytes / 64 MiB) keeps files in the
    target range and the write parallel. Derived from the parquet
    FOOTERS' uncompressed bytes of the source fixture (driver-side
    metadata read, no scan, once per file stamp) — an upper bound for
    filtered inputs, which only errs toward more/smaller files, never
    toward losing write parallelism. Returns 0 (caller skips the
    coalesce) when the raw fixture is absent."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        files = (
            [path]
            if os.path.isfile(path)
            else [
                os.path.join(dp, f)
                for dp, _dirs, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        )
        if not files:
            return 0
        stamp = tuple(
            (f, os.stat(f).st_size, os.stat(f).st_mtime_ns) for f in files
        )
        return max(1, -(-_footer_bytes(stamp) // bytes_per_file))
    except Exception:
        return 0


@functools.lru_cache(maxsize=64)
def _footer_bytes(stamp: tuple) -> int:
    """Uncompressed bytes the footers of ``stamp``'s files record.
    ``stamp`` carries each file's (path, size, mtime_ns), so a
    rewritten file is a new key and never served a stale total."""
    import pyarrow.parquet as pq

    total = 0
    for f, _size, _mtime in stamp:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            total += md.row_group(rg).total_byte_size
    return total


def _sized(df: DataFrame, sf_dir: str, table: str = "events") -> DataFrame:
    """Coalesce a commit input to `_append_width` partitions — a
    narrow, shuffle-free merge (no-op whenever the input already has
    fewer partitions, so explicitly-shaped inputs keep their layout)."""
    w = _append_width(sf_dir, table)
    return df.coalesce(w) if w else df


def _fixture(sf_dir: str, tag: str, build) -> str:
    """Root of the snapshot-format fixture ``tag`` over the events
    corpus: a build-once store (`serve.build_once`) that ``build(tmp)``
    commits into and every later call reopens. The key covers the
    source, not the code: bump ``tag`` when a fixture's build changes.
    Side files (a victim id, say) are written into ``tmp`` too, so
    they publish with the table."""
    root = build_once(
        "snapshots", tag, [os.path.join(sf_dir, "events.parquet")], build
    )
    if root is None:
        raise OSError(f"snapshot fixture {tag}: the warehouse is not writable")
    return root


def _events_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table over the events corpus: three committed versions
    (append, append, COW delete). The v3 tag's commits record
    microsecond ts_us, which TIMESTAMP AS OF resolution needs to
    distinguish commits landing within one wall-clock second."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        cutoff = int(base.agg(F.max("user_id")).first()[0]) // 10
        # appends land range-partitioned on user_id so the later range
        # delete AFFECTS some files and carries the rest by reference —
        # the file layout a real table would have (cluster by the
        # erasure/retention key), and the layout that makes COW cheap
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 3 == 0).repartitionByRange(
                4, "user_id"
            ),
            stats_cols=["user_id"],  # manifest min/max -> file skipping
        )
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 3 == 1).repartitionByRange(
                4, "user_id"
            ),
        )
        snap.commit_delete_where(
            spark,
            tmp,
            (F.col("user_id") < cutoff) & (F.col("event_type") == "click"),
        )

    return _fixture(sf_dir, "events-v3", build)


@query(
    "events_snapshot_timetravel",
    oracle="""
    WITH cutoff AS (SELECT MAX(user_id) // 10 AS cu FROM events),
    v1 AS (
      SELECT user_id, event_type, value FROM events WHERE event_id % 3 = 0
    ),
    v2 AS (
      SELECT user_id, event_type, value FROM events
      WHERE event_id % 3 IN (0, 1)
    ),
    v3 AS (
      SELECT v2.* FROM v2, cutoff
      WHERE NOT (user_id < cu AND event_type = 'click')
    )
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v3
    ORDER BY version
    """,
)
def events_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the snapshot table format: three committed
    versions of the events table (append third, append third, COW
    range-delete of one event type) read back BY VERSION through
    manifests, each reduced to (n_rows, n_users, value_cents_sum).
    The oracle recomputes every version's row set from the base table,
    so a manifest that loses a carried-over file, double-counts a
    rewritten one, or leaks a deleted row hash-mismatches.

    Scale shape: each historical read opens exactly the manifest's
    file list (no table-wide listing); the COW delete scanned the
    parent snapshot ONCE (hidden _metadata.file_path column) and
    rewrote only files containing matching rows. Sums are exact int64
    cents — associative, so partial aggregation order can't split the
    engines. At 100 TB: appends cost O(delta), deletes cost O(affected
    files), and a pinned version is reproducible forever (the
    training-data provenance story).
    """
    root = _events_table(spark, sf_dir)
    legs = []
    for v in (1, 2, 3):
        legs.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("version")


def _eqdel_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table pinning EQUALITY-DELETE semantics: v1 appends the
    even-event rows, v2 equality-deletes every user_id divisible by 7
    (by KEY, no position scan), v3 appends the odd-event rows — which
    include the deleted users, so the scope rule (deletes bind rows
    written BEFORE them) is observable."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark, tmp, base.filter(F.col("event_id") % 2 == 0)
        )
        keys = (
            base.filter(F.col("user_id") % 7 == 0)
            .select("user_id")
            .distinct()
        )
        snap.commit_mor_delete_keys(spark, tmp, keys)
        snap.commit_append(
            spark, tmp, base.filter(F.col("event_id") % 2 == 1)
        )

    return _fixture(sf_dir, "eqdel-v1", build)


@query(
    "events_snapshot_eq_delete",
    oracle="""
    WITH v1 AS (
      SELECT user_id, value FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
      SELECT user_id, value FROM v1 WHERE user_id % 7 <> 0
    ),
    v3 AS (
      SELECT user_id, value FROM v2
      UNION ALL
      SELECT user_id, value FROM events WHERE event_id % 2 = 1
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v3
    ORDER BY version
    """,
)
def events_snapshot_eq_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-ON-READ EQUALITY DELETES (Iceberg v2 equality deletes): delete-by-key with NO scan and NO rewrite at
    commit. v2 equality-deletes every user_id % 7 == 0 by writing the
    key set itself (`commit_mor_delete_keys`); readers anti-join the
    keys out of rows written BEFORE the delete. v3 appends rows that
    REUSE the deleted keys (the CDC re-insert) — they must be served,
    pinning the Iceberg sequence-number scope rule; and the pinned
    pre-delete v1 stays intact (time travel). All three versions are
    reduced to exact-integer aggregates and recomputed by the oracle
    from the base table, so a reader that swallows the re-inserts,
    misses a key, or mutates history hash-mismatches.

    Scale shape: the delete commit is O(distinct keys) written +
    O(#segments) metadata — the upsert-heavy CDC shape where scanning
    100 TB per micro-batch for row positions would dominate; the read
    pays one anti-join per accumulated entry (AQE broadcasts the key
    set) and `compact` folds + clears the list."""
    root = _eqdel_table(spark, sf_dir)
    legs = []
    for v in (1, 2, 3):
        legs.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("version")


def _upsert_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table pinning MOR-UPSERT semantics: v1 appends the
    even-event rows; v2 `commit_mor_upsert`s ONE atomic CDC batch —
    restated values (x2) for event_id % 4 == 0 plus all odd-event rows
    as inserts — keyed on event_id, zero scan, zero rewrite."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark, tmp, base.filter(F.col("event_id") % 2 == 0)
        )
        batch = base.filter(F.col("event_id") % 4 == 0).withColumn(
            "value", F.col("value") * 2
        ).unionByName(base.filter(F.col("event_id") % 2 == 1))
        snap.commit_mor_upsert(spark, tmp, batch, ["event_id"])

    return _fixture(sf_dir, "upsert-v1", build)


@query(
    "events_snapshot_mor_upsert",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 4 = 0 THEN value * 2 ELSE value END
               AS value
      FROM events
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v2
    ORDER BY version
    """,
)
def events_snapshot_mor_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-ON-READ UPSERT — the CDC apply as ONE zero-scan commit
    (`commit_mor_upsert`, the Iceberg v2 equality-delete + data-file
    encoding): v2 restates half of v1's rows with doubled values AND
    inserts the whole odd-event half, keyed on event_id, without
    scanning or rewriting a single prior file. The head must show
    exactly one row per key (updates not duplicated, inserts present,
    restated values served); the pinned v1 must still show the
    pre-upsert values. Exact-integer aggregates, oracle recomputed
    from the base table — a reader that double-serves an updated key,
    loses an insert, or leaks a pre-update value hash-mismatches.

    Scale shape: the commit is O(batch) data + O(distinct keys)
    delete rows + O(#segments) metadata — per-micro-batch cost for an
    upsert-heavy CDC stream where COW merge would scan the table; the
    read pays one scoped anti-join per accumulated batch and compact
    folds the backlog away. Parity anchor: Iceberg v2 upsert writes /
    Delta MERGE-on-CDF, and the reference's append-only events kind
    upgraded to mutable CDC serving."""
    root = _upsert_table(spark, sf_dir)
    legs = []
    for v in (1, 2):
        legs.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("event_id").cast("bigint").alias(
                    "n_keys"
                ),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
        )
    return legs[0].unionAll(legs[1]).orderBy("version")


@query(
    "events_snapshot_timetravel_ts",
    oracle="""
    WITH cutoff AS (SELECT MAX(user_id) // 10 AS cu FROM events),
    v2 AS (
      SELECT user_id, value FROM events WHERE event_id % 3 IN (0, 1)
    ),
    v3 AS (
      SELECT e.user_id, e.value FROM events e, cutoff
      WHERE event_id % 3 IN (0, 1)
        AND NOT (user_id < cu AND event_type = 'click')
    )
    SELECT 'asof_mid' AS leg,
           CAST(2 AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v2
    UNION ALL
    SELECT 'asof_now', CAST(3 AS INT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM v3
    ORDER BY leg
    """,
)
def events_snapshot_timetravel_ts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``TIMESTAMP AS OF`` time travel: the same
    three-version events table read back BY WALL-CLOCK INSTANT, not
    version number — `timestamp_version` resolves a timestamp to the
    newest commit at-or-before it through the manifest chain's
    microsecond ``ts_us`` (strictly increasing along the chain, so
    commits landing within one second still resolve exactly).

    Two legs pin both boundary behaviors: ``asof_mid`` reads at
    EXACTLY v2's commit instant (inclusive: <=, Delta's contract)
    and must see v2's row set, not v1's or v3's; ``asof_now`` reads
    at a timestamp after the head and must resolve the head (v3).
    The oracle recomputes both row sets from the base table, so an
    off-by-one in the resolution (exclusive bound, wrong tie-break,
    second-granularity collision) hash-mismatches.

    Scale shape: resolution is O(head - answer) small JSON reads on
    the driver, newest-first, no data files open; the read itself is
    the same manifest-exact file list as VERSION AS OF.

    Parity anchor: Delta `timestampAsOf` / Iceberg
    `SELECT ... FOR SYSTEM_TIME AS OF` — the first thing a user types
    after "time travel"."""
    import time as _time

    root = _events_table(spark, sf_dir)
    t_mid = snap._manifest_ts_us(snap.read_manifest(root, 2)) / 1e6
    legs = []
    for leg, t in (("asof_mid", t_mid), ("asof_now", _time.time() + 3600)):
        v = snap.timestamp_version(root, t)
        legs.append(
            snap.read_snapshot(spark, root, timestamp=t).agg(
                F.lit(leg).alias("leg"),
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
        )
    return legs[0].unionAll(legs[1]).orderBy("leg")


@query(
    "events_stream_snapshot_ingest",
    oracle="""
    SELECT 5 AS head_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events
    """,
)
def events_stream_snapshot_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest INTO the snapshot table format, end-to-end:
    the event feed split into 4 micro-batches (maxFilesPerTrigger=1)
    drives foreachBatch exactly-once commits (one snapshot version per
    batch, idempotence ledger = the manifest history itself), then
    compaction rewrites the 4 small-file versions into one file as
    v5 with the IDENTICAL row set. The head read must equal the batch
    aggregate over the full feed — proving no batch was dropped,
    double-committed, or lost in the compaction cutover. head_version
    pins the structure: 4 ingest commits + 1 compact, exactly.

    Scale shape: this is the 100 TB ingest loop — micro-batch appends
    cost O(delta) each, compaction amortizes the small-files tax
    without blocking readers (older versions stay readable), and a
    crash at ANY point replays into the same history
    (tests/test_snapshots.py crash-injection)."""
    import hashlib
    import tempfile

    from metastore_spark.catalog import load_table
    from metastore_spark.streaming.events import read_event_stream

    src = tempfile.mkdtemp(prefix="snap_src_")
    ckpt = tempfile.mkdtemp(prefix="snap_ckpt_")
    root = os.path.join(tempfile.mkdtemp(prefix="snap_tbl_"), "t")
    try:
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).repartition(4).write.mode("overwrite").parquet(src)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        snap.ingest_stream(
            stream,
            root,
            ckpt,
            stream_id=hashlib.md5(ckpt.encode()).hexdigest()[:12],
        )
        snap.compact(spark, root, target_files=1)
        out = snap.read_snapshot(spark, root).agg(
            F.lit(snap.current_version(root)).cast("int").alias("head_version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
        # the tmp table must outlive the driver's collect: materialize
        # the 1-row result before cleanup
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@query(
    "events_snapshot_mor_compact_fold",
    oracle="""
    WITH evens AS (
      SELECT event_id, user_id, value * 2 AS value FROM events
      WHERE event_id % 2 = 0
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents_sum
      FROM evens
    )
    SELECT 1 AS leg, n_rows, n_keys, value_cents_sum FROM agg
    UNION ALL
    SELECT 2, n_rows, n_keys, value_cents_sum FROM agg
    ORDER BY leg
    """,
)
def events_snapshot_mor_compact_fold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """READ AMPLIFICATION before/after compact:
    four CDC upserts restate every even event (value x2), leaving the
    head with 4 accumulated equality-delete entries — leg 1 reads
    THROUGH that debt (4 scoped anti-joins), then the `maybe_compact`
    policy hook trips its threshold and folds, and leg 2 reads the
    folded head. Both legs must serve identical values; the bench
    time pins what the amplified read costs relative to the folded
    one, and `read_amplification` is asserted 4 -> 0 around the fold.

    Scale shape: the guard this query pins is what keeps a month-long
    100 TB CDC ingest readable — entry counts are surfaced
    (table_history, read_amplification), the MOR commit paths WARN
    past `EQ_DELETE_ENTRIES_WARN`, and `maybe_compact` bounds the
    debt at an amortized O(1) manifest read per batch. Parity anchor:
    Iceberg's delete-file metrics / Delta auto-compaction."""
    import tempfile

    from metastore_spark.catalog import load_table

    root = os.path.join(tempfile.mkdtemp(prefix="morfold_tbl_"), "t")
    try:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        ).filter(F.col("event_id") % 2 == 0)
        # commit inputs right-sized: unshaped they
        # inherit the scan's granularity — one KB-sized file per scan
        # partition per commit, each costing a write task, a manifest
        # entry, and a read slice on every MOR head read
        snap.commit_append(spark, root, _sized(base, sf_dir))
        for i in range(4):  # CDC: restate each mod-8 class, value x2
            snap.commit_mor_upsert(
                spark,
                root,
                _sized(
                    base.filter(F.col("event_id") % 8 == 2 * i).withColumn(
                        "value", F.col("value") * 2
                    ),
                    sf_dir,
                ),
                ["event_id"],
            )
        assert snap.read_amplification(root)["n_eq_delete_entries"] == 4

        def leg(n: int) -> DataFrame:
            return snap.read_snapshot(spark, root).agg(
                F.lit(n).cast("int").alias("leg"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("event_id").cast("bigint").alias("n_keys"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )

        leg1 = leg(1)
        pre = leg1.collect()
        # the compact fold must run even under `python -O` (assert
        # stripping), so the side effect lives outside the assert
        folded_version = snap.maybe_compact(spark, root, max_eq_entries=3)
        assert folded_version is not None
        assert snap.read_amplification(root)["n_eq_delete_entries"] == 0
        post = leg(2).collect()
        # schema from the ALREADY-ANALYZED leg-1 frame — building a
        # third leg frame just to carry the schema re-ran Catalyst
        # analysis over the amplified-read join tree (~1-2 s of pure
        # driver time at sf0.1)
        return spark.createDataFrame(pre + post, leg1.schema).orderBy("leg")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@query(
    "events_snapshot_write_path",
    oracle="""
    WITH evens AS (
      SELECT event_id, user_id, event_type, value FROM events
      WHERE event_id % 2 = 0
    ),
    allrows AS (
      SELECT event_id, user_id, event_type, value FROM events
    )
    SELECT CAST((SELECT COUNT(*) FROM allrows) AS BIGINT) AS n_rows_head,
           CAST((SELECT COUNT(*) FROM evens) AS BIGINT) AS n_rows_v1,
           CAST((SELECT COUNT(DISTINCT user_id) FROM allrows) AS BIGINT)
             AS n_users,
           CAST((SELECT COUNT(*) FROM allrows WHERE event_type = 'click')
             AS BIGINT) AS n_clicks_pruned,
           CAST((SELECT SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 FROM allrows) AS BIGINT) AS value_cents_sum
    """,
)
def events_snapshot_write_path(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE DATASOURCE WRITE PATH end-to-end: a
    table whose every byte arrives through ``df.write.format(
    "snapshot")`` — v1 appends the even events hive-partitioned by
    event_type with min/max stats (first-write options), v2 appends
    the odd events inheriting the spec — then reads back through the
    same registered source: the head, ``option("version", 1)`` time
    travel, and an ``option("prune_in.event_type", "click")`` pruned
    scan that plans only the click partition's files (asserted
    strictly fewer slices). No library commit call touches the table;
    the executor-staged parquet + driver manifest link IS the write.

    Scale shape: the write is `spark_source._write_task` — each
    executor task streams its arrow batches straight into staged
    parquet (one open writer per partition tuple) and the driver
    links O(files) metadata; data never passes through the driver,
    so the commit cost at 100 TB is the parquet write itself plus an
    O(#segments) manifest. Parity anchor: the reference's events kind
    is append-only ingest (/root/reference/metastore/models.py:27-34);
    this is its `df.write` spelling."""
    import tempfile

    from metastore_spark.catalog import load_table
    from metastore_spark.sources.spark_source import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    root = os.path.join(tempfile.mkdtemp(prefix="dsw_tbl_"), "t")
    try:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        # right-sized write inputs: each write task
        # opens one staged file PER partition tuple, so an unshaped
        # input wrote (scan partitions x event types) KB-sized files
        # per version — every one a write task, a driver footer read
        # for stats, and a read slice in the three reads below
        (
            _sized(base.filter(F.col("event_id") % 2 == 0), sf_dir)
            .write.format("snapshot")
            .option("partition_by", "event_type")
            .option("stats_cols", "event_id")
            .mode("append")
            .save(root)
        )
        _sized(
            base.filter(F.col("event_id") % 2 == 1), sf_dir
        ).write.format("snapshot").mode("append").save(root)
        assert snap.current_version(root) == 2
        # the pruned plan must touch strictly fewer files than the head
        m = snap.read_manifest(root, 2)
        n_all = len(snap.manifest_files(root, m))
        n_click = len(
            snap.pruned_manifest_files(
                root, m, {"event_type": ["click"]}
            )
        )
        assert 0 < n_click < n_all, (n_click, n_all)
        head = spark.read.format("snapshot").load(root)
        v1 = spark.read.format("snapshot").option("version", 1).load(root)
        clicks = (
            spark.read.format("snapshot")
            .option("prune_in.event_type", "click")
            .load(root)
            .filter(F.col("event_type") == "click")
        )
        out = (
            head.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows_head"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
            .crossJoin(
                v1.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows_v1")
                )
            )
            .crossJoin(
                clicks.agg(
                    F.count(F.lit(1))
                    .cast("bigint")
                    .alias("n_clicks_pruned")
                )
            )
            .select(
                "n_rows_head",
                "n_rows_v1",
                "n_users",
                "n_clicks_pruned",
                "value_cents_sum",
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@query(
    "events_stream_cdc_upsert",
    oracle="""
    WITH v2 AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 4 = 0 THEN value * 2 ELSE value END
               AS value
      FROM events
    )
    SELECT 5 AS head_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v2
    """,
)
def events_stream_cdc_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING CDC APPLY through merge-on-read upserts, end-to-end:
    the even-event rows land as the base table (v1), then a CDC feed
    — restated values (x2) for event_id % 4 == 0 plus every odd-event
    row as inserts — drains through foreachBatch `upsert_sink` in 4
    micro-batches (maxFilesPerTrigger=1), each an exactly-once
    `commit_mor_upsert` with ZERO table scan (v2-v5). The head must
    equal the batch-computed CDC result exactly: one row per key,
    restated values served, inserts present, nothing double-applied
    across batch replays. head_version pins the structure: 1 base
    append + 4 upsert commits, exactly.

    Scale shape: THE 100 TB CDC ingest loop — per micro-batch cost is
    O(batch) data + O(batch keys) delete rows + O(#segments)
    metadata, never a scan or rewrite of the table; the idempotence
    ledger is the manifest history itself (stream_id, batch_id), so
    crash-replays converge to the same history. Parity anchor:
    Iceberg v2 streaming upsert / Delta streaming MERGE, serving the
    reference's events kind as a mutable CDC table."""
    import hashlib
    import tempfile

    from metastore_spark.catalog import load_table
    from metastore_spark.streaming.events import read_event_stream

    src = tempfile.mkdtemp(prefix="cdc_src_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    root = os.path.join(tempfile.mkdtemp(prefix="cdc_tbl_"), "t")
    try:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        # right-sized commit input (see
        # events_snapshot_mor_compact_fold)
        snap.commit_append(
            spark, root,
            _sized(base.filter(F.col("event_id") % 2 == 0), sf_dir),
        )
        feed = (
            base.filter(F.col("event_id") % 4 == 0)
            .withColumn("value", F.col("value") * 2)
            .unionByName(base.filter(F.col("event_id") % 2 == 1))
        )
        feed.repartition(4).write.mode("overwrite").parquet(src)
        # the oracle pins head_version=5 (1 base append + 4 upserts),
        # which holds ONLY if the feed landed as exactly 4 part files
        # (maxFilesPerTrigger=1 -> 4 micro-batches). Assert it here so
        # a change in Spark's writer/file-source batching fails loudly
        # instead of silently drifting the commit count.
        n_parts = len(
            [f for f in os.listdir(src) if f.endswith(".parquet")]
        )
        assert n_parts == 4, (
            f"CDC feed wrote {n_parts} part files, expected 4 — the "
            "pinned head_version=5 oracle no longer matches Spark's "
            "writer batching"
        )
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        (
            stream.writeStream.foreachBatch(
                snap.upsert_sink(
                    root,
                    hashlib.md5(ckpt.encode()).hexdigest()[:12],
                    ["event_id"],
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        out = snap.read_snapshot(spark, root).agg(
            F.lit(snap.current_version(root)).cast("int").alias(
                "head_version"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").cast("bigint").alias("n_keys"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@query(
    "events_stream_upsert_sink",
    oracle="""
    WITH v2 AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 4 = 0 THEN value * 2 ELSE value END
               AS value
      FROM events
    )
    SELECT 5 AS head_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v2
    """,
)
def events_stream_upsert_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The USER-FACING spelling of streaming CDC apply: the same lifecycle as `events_stream_cdc_upsert` — even
    events land as the base table (v1), then a 4-micro-batch CDC feed
    (restated x2 values for event_id % 4 == 0 plus the odd-event
    inserts) — but drained through ``writeStream.format("snapshot")
    .option("mode", "upsert").option("keys", "event_id")`` instead of
    a foreachBatch library sink. Each micro-batch is one
    `_SnapshotStreamWriter` commit: executor tasks stage the batch's
    parquet plus distinct-key sidecars, the driver links a
    merge-on-read upsert (equality-delete on the batch's keys + the
    batch as new data), and the (stream_id, batch_id) manifest ledger
    makes crash-replays no-ops. head_version=5 pins 1 base append + 4
    upsert commits; the served head must equal the batch-computed CDC
    result exactly.

    Scale shape: identical to the foreachBatch path — per batch
    O(batch) data + O(batch keys) delete rows + O(#segments)
    metadata, data never passing through the driver — but reachable
    with zero library imports, which is how a 100 TB CDC consumer
    would actually wire it. Parity anchor: Iceberg v2 streaming
    upsert / Delta streaming MERGE."""
    import tempfile

    from metastore_spark.catalog import load_table
    from metastore_spark.sources.spark_source import SnapshotDataSource
    from metastore_spark.streaming.events import read_event_stream

    spark.dataSource.register(SnapshotDataSource)
    src = tempfile.mkdtemp(prefix="sus_src_")
    ckpt = tempfile.mkdtemp(prefix="sus_ckpt_")
    root = os.path.join(tempfile.mkdtemp(prefix="sus_tbl_"), "t")
    try:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        # right-sized commit input (see
        # events_snapshot_mor_compact_fold)
        snap.commit_append(
            spark, root,
            _sized(base.filter(F.col("event_id") % 2 == 0), sf_dir),
        )
        feed = (
            base.filter(F.col("event_id") % 4 == 0)
            .withColumn("value", F.col("value") * 2)
            .unionByName(base.filter(F.col("event_id") % 2 == 1))
        )
        feed.repartition(4).write.mode("overwrite").parquet(src)
        n_parts = len(
            [f for f in os.listdir(src) if f.endswith(".parquet")]
        )
        assert n_parts == 4, (
            f"CDC feed wrote {n_parts} part files, expected 4 — the "
            "pinned head_version=5 oracle no longer matches Spark's "
            "writer batching"
        )
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        (
            stream.writeStream.format("snapshot")
            .option("stream_id", "cdc-upsert-demo")
            .option("mode", "upsert")
            .option("keys", "event_id")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(root)
            .awaitTermination()
        )
        out = snap.read_snapshot(spark, root).agg(
            F.lit(snap.current_version(root)).cast("int").alias(
                "head_version"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").cast("bigint").alias("n_keys"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def _serving_store(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """The events corpus SERVED through the snapshot table format
    end-to-end — the lifecycle a 100 TB metastore
    runs on its one mutating table (the reference's append-only
    events kind, /root/reference/metastore/models.py:82-85):

    v1-v3  Structured Streaming ingest (maxFilesPerTrigger=1 ->
           foreachBatch `snapshot_sink`), one exactly-once snapshot
           commit per micro-batch;
    v4     `compact` folds the small-files ingest tail (identical
           rows, one segment);
    v5     GDPR erasure as a `commit_delete_where` COW commit through
           `commit_with_retry` — the victim user's rows are rewritten
           out of affected files only.

    Returns (root, victim_user); the victim is published with the table
    as ``victim.json``. ``ts`` is projected to epoch-micros int64 at
    ingest so the stored table is encoding-canonical."""
    import json
    import tempfile

    from metastore_spark.ts import ts_us

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            ts_us("ts").alias("ts_us"),
        )
        victim = int(
            base.filter(F.col("event_type") == "click")
            .agg(F.min("user_id"))
            .first()[0]
        )
        feed = tempfile.mkdtemp(prefix="snap_feed_")
        ckpt = tempfile.mkdtemp(prefix="snap_ckpt_")
        try:
            base.repartition(3).write.mode("overwrite").parquet(feed)
            stream = (
                spark.readStream.schema(spark.read.parquet(feed).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed)
            )
            snap.ingest_stream(stream, tmp, ckpt, stream_id="events-serving")
            assert snap.current_version(tmp) == 3
            snap.commit_with_retry(
                tmp, lambda: snap.compact(spark, tmp, target_files=1)
            )
            snap.commit_with_retry(
                tmp,
                lambda: snap.commit_delete_where(
                    spark, tmp, F.col("user_id") == victim
                ),
            )
            with open(os.path.join(tmp, "victim.json"), "w") as fh:
                json.dump({"user_id": victim}, fh)
        finally:
            shutil.rmtree(feed, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

    root = _fixture(sf_dir, "serving", build)
    with open(os.path.join(root, "victim.json")) as fh:
        return root, json.load(fh)["user_id"]


@query(
    "events_snapshot_serving",
    oracle="""
    WITH victim AS (
      SELECT MIN(user_id) AS u FROM events WHERE event_type = 'click'
    ),
    pre AS (SELECT * FROM events),
    post AS (
      SELECT e.* FROM events e, victim v WHERE e.user_id IS DISTINCT FROM v.u
    )
    SELECT 4 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM pre
    UNION ALL
    SELECT 5,
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT),
           CAST(MIN(epoch_us(ts)) AS BIGINT),
           CAST(MAX(epoch_us(ts)) AS BIGINT)
    FROM post
    ORDER BY version
    """,
)
def events_snapshot_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events served THROUGH the snapshot table format: the store is built by streaming ingest (3 exactly-once
    micro-batch commits) + compaction + a COW GDPR-erasure commit, and
    this query reads it at two isolation points:

    - version 4 (PINNED pre-delete): a reader holding the pre-erasure
      snapshot still reproduces the full corpus bit-for-bit — the
      oracle leg recomputes it from the raw table, so a COW delete
      that touched a carried file, or a compaction that dropped an
      ingest batch, hash-mismatches;
    - version 5 (head): the erased user is gone and everything else
      is untouched — the oracle filters the raw table by the same
      deterministic victim (MIN user_id among clicks; NULL-safe
      semantics on both engines).

    Scale shape: each leg opens exactly its manifest's segment file
    lists; the erasure rewrote only affected files (the corpus was
    just compacted, so here that is the one folded segment — on a
    user_id-clustered production layout it is the victim's cell
    files, cf. layout.forget_user); aggregates are exact int64. At
    100 TB this is the architecture: ingest appends O(batch), GDPR
    deletes O(affected), pinned readers immune to both, one commit
    protocol under all three."""
    root, _victim = _serving_store(spark, sf_dir)
    assert snap.read_manifest(root, 5)["op"] == "delete"
    legs = []
    for v in (4, 5):
        legs.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    (F.col("event_type") == "click").cast("bigint")
                ).cast("bigint").alias("n_clicks"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
                F.min("ts_us").cast("bigint").alias("min_ts_us"),
                F.max("ts_us").cast("bigint").alias("max_ts_us"),
            )
        )
    return legs[0].unionAll(legs[1]).orderBy("version")


@query(
    "events_snapshot_pruned_scan",
    oracle="""
    WITH cutoff AS (SELECT MAX(user_id) // 10 AS cu,
                           MAX(user_id) * 3 // 4 AS lo FROM events),
    v2 AS (
      SELECT user_id, event_type, value FROM events
      WHERE event_id % 3 IN (0, 1)
    ),
    v3 AS (
      SELECT v2.* FROM v2, cutoff
      WHERE NOT (user_id < cu AND event_type = 'click')
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM v3, cutoff
    WHERE user_id >= lo
    """,
)
def events_snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-STATS FILE SKIPPING on the snapshot events table: the
    store's appends are range-clustered on user_id with footer-lifted
    min/max recorded per file in the segment manifests (stats_cols
    opt-in, Iceberg data-skipping shape), so a top-quartile user_id
    range read resolves its file list FROM METADATA — the query
    self-checks that the pruned list is a strict subset of the head's
    files before scanning, then applies the equivalent row filter and
    aggregates. The oracle recomputes the head state (v3 of the
    timetravel lifecycle) and the same range from the raw corpus.

    Scale shape: this is the layer partition pruning can't reach —
    files inside one directory, skipped by per-file stats without
    opening a footer. On a 100 TB user_id-clustered events table a
    user-range read (the GDPR audit shape) opens O(matching files);
    the erasure-key clustering that made COW deletes cheap makes these
    reads cheap for the same reason."""
    root = _events_table(spark, sf_dir)
    head = snap.current_version(root)
    m = snap.read_manifest(root, head)
    lo = int(
        snap.read_snapshot(spark, root, head)
        .agg(F.expr("max(user_id) * 3 div 4"))
        .first()[0]
    )
    pruned = snap.pruned_manifest_files(root, m, {"user_id": (lo, None)})
    n_all = len(snap.manifest_files(root, m))
    assert 0 < len(pruned) < n_all, (len(pruned), n_all)
    return (
        snap.read_snapshot(spark, root, head, prune={"user_id": (lo, None)})
        .filter(F.col("user_id") >= lo)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
    )


@query(
    "events_snapshot_incremental",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events WHERE event_id % 3 = 1
    """,
)
def events_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CONSUMPTION of the snapshot events table (Delta
    CDF's append slice): `read_appends(root, since_version=1)` returns
    exactly the rows the v2 append committed — the downstream
    training-pipeline checkpoint loop ("only the documents ingested
    since my last run"). The window read opens ONLY the appending
    commits' new segments (op-aware: the v3 COW delete contributes
    nothing), so consumption costs O(delta files) by construction —
    never a table scan, never a row diff. The oracle recomputes the
    same slice from the raw corpus via the deterministic batch rule
    (event_id % 3 = 1)."""
    root = _events_table(spark, sf_dir)
    inc = snap.read_appends(spark, root, since_version=1, until_version=3)
    return inc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * 100 + 0.5).cast("bigint")
        ).cast("bigint").alias("value_cents_sum"),
    )


def _day_table(spark: SparkSession, sf_dir: str) -> str:
    """DAY-PARTITIONED snapshot events table: the partition spec lives
    IN the commits — two appends (the second inherits the spec without
    restating it) lay files out one day per file group with per-file
    day values in segment metadata. The frame is repartitioned on the
    spec column before each append, so each lands one file per day
    instead of one per input partition x day."""
    from metastore_spark.ts import ts_us

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            ts_us("ts").alias("ts_us"),
        ).repartition(F.col("day"))
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 2 == 0),
            partition_by=["day"],
        )
        # spec inheritance is part of what the table serves: no restate
        snap.commit_append(
            spark, tmp, base.filter(F.col("event_id") % 2 == 1)
        )

    return _fixture(sf_dir, "day3", build)


@query(
    "events_snapshot_day_pruned",
    oracle="""
    WITH bounds AS (
      SELECT strftime(MIN(CAST(ts AS DATE)) + 10, '%Y-%m-%d') AS lo,
             strftime(MIN(CAST(ts AS DATE)) + 19, '%Y-%m-%d') AS hi
      FROM events
    ),
    d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, value FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM d, bounds WHERE day >= lo AND day <= hi
    """,
)
def events_snapshot_day_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC PRUNING in the snapshot table format: the events
    table is committed day-partitioned (identity spec recorded in the
    manifest, per-file day values in segment metadata — Iceberg's
    partition spec + manifest entries shape), so a 10-day range read
    resolves its file subset entirely from METADATA before any footer
    or row is touched. The query self-checks that the resolved subset
    is strict and that every resolved file's recorded day value lies
    inside the range, then applies the equivalent row filter and
    aggregates; the oracle recomputes the same range from the raw
    corpus.

    Scale shape: this is the coarse layer UNDER min/max stats —
    directory-grain elimination by day that never opens a file, the
    same pruning `layout.py`'s hive layout gives raw scans, now
    composed INTO commits so COW deletes, compaction, and streaming
    appends all preserve it (and `events_snapshot_partition_erasure`
    scopes GDPR deletes with it). A year of 100 TB events = ~365
    partitions; a dashboard's 10-day window plans O(10 days of files)
    regardless of table size."""
    root = _day_table(spark, sf_dir)
    head = snap.current_version(root)
    m = snap.read_manifest(root, head)
    assert m["partition_spec"] == ["day"]
    import datetime as _dt

    min_day = (
        snap.read_snapshot(spark, root, head).agg(F.min("day")).first()[0]
    )
    d0 = _dt.date.fromisoformat(min_day)
    lo = (d0 + _dt.timedelta(days=10)).isoformat()
    hi = (d0 + _dt.timedelta(days=19)).isoformat()
    pruned = snap.pruned_manifest_files(root, m, {"day": (lo, hi)})
    n_all = len(snap.manifest_files(root, m))
    assert 0 < len(pruned) < n_all, (len(pruned), n_all)
    for f in pruned:  # metadata-exact: only in-range days resolved
        day = snap._partition_values(f, ["day"])["day"]
        assert lo <= day <= hi, (f, day)
    return (
        snap.read_snapshot(spark, root, head, prune={"day": (lo, hi)})
        .filter((F.col("day") >= lo) & (F.col("day") <= hi))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct("day").cast("bigint").alias("n_days"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
    )


def _zcell_table(spark: SparkSession, sf_dir: str) -> tuple[str, int, list]:
    """Z-CELL-PARTITIONED snapshot events table with a partition-scoped
    GDPR erasure committed on top: `layout.py`'s Z-order cells composed
    INTO the commit protocol — v1 appends the corpus cell-partitioned,
    v2 erases the victim user through `commit_delete_where(scan_prune=
    victim cells)`, so the delete scans only the files the driver-side
    box decomposition names. Returns (root, victim_user, victim_cells),
    the last two published with the table as ``erasure.json``."""
    import json

    from metastore_spark.layout import zcells_for_box, zorder_cell, zorder_shifts

    def build(tmp: str) -> None:
        ev = _t(spark, sf_dir, "events")
        stats = ev.agg(
            F.max("user_id"),
            F.min(F.to_date("ts")),
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))),
            F.min(F.when(F.col("event_type") == "click", F.col("user_id"))),
        ).first()
        u_max, d0, d_max, victim = (
            int(stats[0]),
            stats[1],
            int(stats[2]),
            int(stats[3]),
        )
        u_shift, d_shift = zorder_shifts(u_max, d_max)
        base = ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            zorder_cell(
                F.col("user_id"),
                F.datediff(F.to_date("ts"), F.lit(d0)),
                u_shift,
                d_shift,
            ).alias("zcell"),
        )
        cells = zcells_for_box(victim, victim, 0, d_max, u_shift, d_shift)
        # cell-CLUSTERED layout: the frame is repartitioned on the
        # partition column before the identity-partitioned append, so
        # the table lands ONE file per cell instead of one per (input
        # partition x cell) — unclustered, the 8-way serving-store
        # fan-out tripled its file count (552 vs 180) and with it every
        # full-version scan; clustering by the spec column is also the
        # correct 100 TB write shape (Iceberg/Delta guidance: sort/
        # cluster on partition keys before an identity-partitioned
        # write)
        snap.commit_append(
            spark,
            tmp,
            base.repartition(F.col("zcell")),  # one file per cell
            partition_by=["zcell"],
        )
        snap.commit_with_retry(
            tmp,
            lambda: snap.commit_delete_where(
                spark,
                tmp,
                F.col("user_id") == victim,
                scan_prune={"zcell": cells},
            ),
        )
        with open(os.path.join(tmp, "erasure.json"), "w") as fh:
            json.dump({"victim": victim, "cells": cells}, fh)

    root = _fixture(sf_dir, "zcells2", build)
    with open(os.path.join(root, "erasure.json")) as fh:
        mm = json.load(fh)
    return root, mm["victim"], mm["cells"]


@query(
    "events_snapshot_partition_erasure",
    oracle="""
    WITH victim AS (
      SELECT MIN(user_id) AS u FROM events WHERE event_type = 'click'
    ),
    pre AS (SELECT * FROM events),
    post AS (
      SELECT e.* FROM events e, victim v WHERE e.user_id IS DISTINCT FROM v.u
    )
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM pre
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM post
    ORDER BY version
    """,
)
def events_snapshot_partition_erasure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SCOPED GDPR ERASURE under snapshot isolation:
    `layout.py`'s Z-order cells recorded as the table's partition spec
    at commit time, so `forget_user`-style erasure becomes a
    `commit_delete_where` whose affected-file scan is pruned to the
    victim's cell set (driver-side `zcells_for_box` decomposition,
    parameter-sized). The query self-checks the file diff between the
    pre- and post-erasure versions: every dropped AND every rewritten
    file lies in a victim cell (everything else carried by name), then
    hash-checks both versions' row sets against the raw corpus — the
    pinned pre-delete version intact (snapshot isolation), the head
    missing exactly the victim.

    Scale shape: the erasure cost is O(victim's cells), not O(table) —
    same win as `layout.forget_user`'s sidecar rewrite, now WITH
    versioned isolation (pinned readers keep the pre-erasure snapshot
    until retention expires it) and conflict detection (a concurrent
    compact aborts instead of resurrecting the victim). At 100 TB a
    user's data lives in a few hundred of ~65k cells; the delete scans
    and rewrites only those."""
    root, victim, cells = _zcell_table(spark, sf_dir)
    f1, f2 = set(snap.files_of(root, 1)), set(snap.files_of(root, 2))
    cellset = {str(c) for c in cells}
    for f in (f1 - f2) | (f2 - f1):  # erasure touched ONLY victim cells
        assert snap._partition_values(f, ["zcell"])["zcell"] in cellset, f
    legs = []
    for v in (1, 2):
        legs.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    (F.col("event_type") == "click").cast("bigint")
                ).cast("bigint").alias("n_clicks"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("value_cents_sum"),
            )
        )
    return legs[0].unionAll(legs[1]).orderBy("version")


@query(
    "events_snapshot_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 2 = 0
    ),
    src AS (
      SELECT event_id, user_id, event_type, value * 3 AS value
      FROM events WHERE event_id % 10 = 0
      UNION ALL
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 2 = 1 AND event_id % 7 = 0
    ),
    merged AS (
      SELECT * FROM base
      WHERE event_id NOT IN (SELECT event_id FROM src)
      UNION ALL
      SELECT * FROM src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM merged
    """,
)
def events_snapshot_merge_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE (upsert) INTO the snapshot table — the lakehouse
    ingest-update path (Delta MERGE INTO / Iceberg COW merge): a CDC
    correction batch (tripled values for every event_id % 10 == 0 row,
    plus genuinely new odd-id rows) lands in ONE snapshot-isolated
    commit that replaces matched keys and appends the rest. The head
    is hash-checked against DuckDB recomputing the same
    replace-or-insert set from the raw corpus — a merge that dropped a
    survivor, double-kept a replaced row, or lost an insert mismatches.

    Scale shape: COW like the delete path — one scan of the target
    finds files holding matched keys (broadcast semi-join of the
    batch-sized key set), ONLY those files rewrite (their unmatched
    rows + the source), untouched segments carry by name, and on a
    key-clustered layout `scan_prune` scopes the scan to the keys'
    cells. The multiple-match MERGE error is raised at commit, not
    silently row-multiplied. At 100 TB this is the nightly CDC apply:
    cost O(affected files + batch), with pinned readers isolated and
    `rollback_to` as the oops path."""
    import tempfile

    root = os.path.join(tempfile.mkdtemp(prefix="snap_merge_"), "t")
    try:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark,
            root,
            base.filter(F.col("event_id") % 2 == 0).repartitionByRange(
                4, "event_id"
            ),
        )
        src = (
            base.filter(F.col("event_id") % 10 == 0)
            .withColumn("value", F.col("value") * 3)
            .unionByName(
                base.filter(
                    (F.col("event_id") % 2 == 1)
                    & (F.col("event_id") % 7 == 0)
                )
            )
        )
        v = snap.commit_merge(spark, root, src, ["event_id"])
        assert snap.read_manifest(root, v)["op"] == "merge"
        out = snap.read_snapshot(spark, root, v).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").cast("bigint").alias("n_keys"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_cents_sum"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@query(
    "events_snapshot_history",
    oracle="""
    WITH cutoff AS (SELECT MAX(user_id) // 10 AS cu FROM events),
    v1 AS (SELECT user_id, event_type FROM events WHERE event_id % 3 = 0),
    v2 AS (
      SELECT user_id, event_type FROM events WHERE event_id % 3 IN (0, 1)
    ),
    v3 AS (
      SELECT v2.* FROM v2, cutoff
      WHERE NOT (user_id < cu AND event_type = 'click')
    )
    SELECT 1 AS version, 0 AS parent, 'append' AS op,
           CAST((SELECT COUNT(*) FROM v1) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 1, 'append', CAST((SELECT COUNT(*) FROM v2) AS BIGINT)
    UNION ALL
    SELECT 3, 2, 'delete', CAST((SELECT COUNT(*) FROM v3) AS BIGINT)
    ORDER BY version
    """,
)
def events_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COMMIT LOG AS A QUERYABLE TABLE (Delta DESCRIBE HISTORY /
    Iceberg snapshots-metadata parity): `table_history` resolves every
    retained version's (op, parent) lineage from manifests alone,
    joined here with each version's actual row count (a time-travel
    read per version) and hash-checked against the oracle recomputing
    the deterministic lifecycle of the shared events store — append
    third, append third, COW delete — from the raw corpus. A history
    that mislabels an op, breaks the parent chain, or whose version
    row set drifted from its manifest mismatches.

    Scale shape: the history itself is O(retained versions) of JSON
    metadata, no data files open; the per-version counts are the same
    manifest-exact file-list reads every time-travel query uses. This
    is the audit/observability surface a 100 TB table's operators
    live in: what changed, when, by which stream, where a rollback
    points."""
    root = _events_table(spark, sf_dir)
    hist = snap.table_history(spark, root).select(
        "version", "parent", "op"
    )
    counts = []
    for v in (1, 2, 3):
        counts.append(
            snap.read_snapshot(spark, root, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
    cnt = counts[0].unionAll(counts[1]).unionAll(counts[2])
    return (
        hist.join(cnt, "version")
        .select(
            F.col("version").cast("int"),
            F.col("parent").cast("int"),
            "op",
            "n_rows",
        )
        .orderBy("version")
    )


def _evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table with a full column-ID evolution history: v1
    appends under (event_id, uid int, event_type); v2 WIDENS uid to
    long; v3 appends wide rows; v4 RENAMES uid to user_id; v5 appends
    under the new name. Three file cohorts — narrow-old-name,
    wide-old-name, wide-new-name — all resolve through the manifest's
    ID mapping."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 3 == 0).select(
                "event_id",
                F.col("user_id").cast("int").alias("uid"),
                "event_type",
            ),
        )
        snap.widen_column(tmp, "uid", "long")
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 3 == 1).select(
                "event_id", F.col("user_id").alias("uid"), "event_type"
            ),
        )
        snap.rename_column(tmp, "uid", "user_id")
        snap.commit_append(
            spark,
            tmp,
            base.filter(F.col("event_id") % 3 == 2).select(
                "event_id", "user_id", "event_type"
            ),
        )

    return _fixture(sf_dir, "events-evo1", build)


@query(
    "events_snapshot_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id, event_type FROM events
      WHERE event_id % 3 = 0
    )
    SELECT 'head' AS stage, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'v1', event_type,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(user_id) AS BIGINT)
    FROM v1 GROUP BY event_type
    ORDER BY stage, event_type
    """,
)
def events_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reads ACROSS a rename + widen boundary:
    the head aggregates all three file cohorts — files physically
    named ``uid`` int, ``uid`` long, and ``user_id`` long — through
    the column-ID mapping, so the total must equal the raw corpus
    exactly; the v1 time-travel row set reads under v1's own
    committed schema (narrow, old name). Hash-oracled against plain
    SQL over the raw table, which never saw the evolution at all —
    any mapping slip (null-filled rename, uncast widen, leaked
    dropped bytes) breaks the sum.

    Scale shape: evolution ops are O(#segments) metadata commits;
    the evolved read adds one projection per file cohort (bounded by
    the number of evolution ops, not files), each keeping full
    filter pushdown and column pruning (plan-asserted in
    tests/test_schema_evolution.py)."""
    root = _evolved_table(spark, sf_dir)
    head = (
        snap.read_snapshot(spark, root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("uid_sum"),
        )
        .select(F.lit("head").alias("stage"), "event_type", "n_rows",
                "uid_sum")
    )
    v1 = (
        snap.read_snapshot(spark, root, 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("uid").cast("bigint").alias("uid_sum"),
        )
        .select(F.lit("v1").alias("stage"), "event_type", "n_rows",
                "uid_sum")
    )
    return head.unionByName(v1).orderBy("stage", "event_type")


def _clustered_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table exercising Z-ORDER-CLUSTERED COMPACTION: v1
    appends the events corpus as ordinary unclustered files; v2 is
    `compact(cluster_by=[user_id, day])` — the fold lands one file per
    Morton cell with the cluster_spec recorded in the manifest."""

    def build(tmp: str) -> None:
        ev = _t(spark, sf_dir, "events")
        d0 = ev.agg(F.min(F.to_date("ts"))).first()[0]
        base = ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.datediff(F.to_date("ts"), F.lit(d0)).alias("day"),
        )
        snap.commit_append(spark, tmp, base.repartition(8))
        snap.commit_with_retry(
            tmp,
            lambda: snap.compact(spark, tmp, cluster_by=["user_id", "day"]),
        )

    return _fixture(sf_dir, "events-zcompact", build)


@query(
    "events_snapshot_clustered_compaction",
    oracle="""
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d FROM events),
    t AS (
      SELECT user_id, value,
             (CAST(ts AS DATE) - (SELECT d FROM d0)) AS day
      FROM events
    ),
    bounds AS (
      SELECT MAX(user_id) // 4 AS u_lo, MAX(user_id) // 2 AS u_hi,
             MAX(day) // 3 AS d_hi
      FROM t
    )
    SELECT 'all' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM t
    UNION ALL
    SELECT 'box',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(user_id) AS BIGINT),
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM t, bounds
    WHERE user_id BETWEEN u_lo AND u_hi AND day BETWEEN 0 AND d_hi
    ORDER BY stage
    """,
)
def events_snapshot_clustered_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-order-clustered compaction probed end-to-end (Delta OPTIMIZE
    ZORDER's shape on this table format): the box
    query decomposes its (user_id, day) rectangle through the
    manifest's RECORDED cluster_spec (`snap.clustered_prune`) and
    reads only the intersecting cell files — the query SELF-CHECKS
    that the pruned file list is a strict subset of the compacted
    table's files (raising if clustering bought no pruning) before
    hash-checking both the full corpus and the box aggregate against
    plain SQL over the raw table.

    Scale shape: the fold is one clustered rewrite (the maintenance
    job a 100 TB table runs per partition-window, not per query); the
    probe is pure metadata — driver-side cell decomposition over
    recorded shifts, O(cells <= 256), zero data files opened outside
    the admissible set."""
    root = _clustered_table(spark, sf_dir)
    head = snap.current_version(root)
    m = snap.read_manifest(root, head)
    t = snap.read_snapshot(spark, root)
    mx = t.agg(F.max("user_id"), F.max("day")).first()
    u_lo, u_hi, d_hi = int(mx[0]) // 4, int(mx[0]) // 2, int(mx[1]) // 3
    pr = snap.clustered_prune(root, u_lo, u_hi, 0, d_hi)
    total = len(snap.files_of(root, head))
    pruned = snap.pruned_manifest_files(root, m, pr)
    if not (0 < len(pruned) < total):
        raise AssertionError(
            f"clustered pruning ineffective: {len(pruned)}/{total} files"
        )
    box = (
        snap.read_snapshot(spark, root, prune=pr)
        .filter(
            F.col("user_id").between(u_lo, u_hi)
            & F.col("day").between(0, d_hi)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("uid_sum"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        )
        .select(F.lit("box").alias("stage"), "n_rows", "uid_sum",
                "value_cents_sum")
    )
    allrows = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("user_id").cast("bigint").alias("uid_sum"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("value_cents_sum"),
    ).select(F.lit("all").alias("stage"), "n_rows", "uid_sum",
             "value_cents_sum")
    return allrows.unionByName(box).orderBy("stage")


def _wap_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table exercising the full WRITE-AUDIT-PUBLISH cycle plus
    a retention-pinning tag: v1 appends the whole events corpus and is
    tagged ``prod``; an ``audit`` branch forks v1, runs a quarantine
    delete (every 7th user's clicks) in isolation, and `publish_branch`
    lands the audited row set on the trunk as v2 — a metadata-only,
    fast-forward-checked commit. The trunk was never observable in a
    half-audited state."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark, tmp, base.repartitionByRange(4, "user_id")
        )
        snap.create_tag(tmp, "prod")  # pins v1 through any retention
        snap.create_branch(tmp, "audit")
        snap.commit_delete_where(
            spark,
            tmp,
            (F.col("event_type") == "click") & (F.col("user_id") % 7 == 0),
            ref="audit",
        )
        snap.publish_branch(tmp, "audit")

    return _fixture(sf_dir, "events-wap1", build)


_WAP_LEG = """
    SELECT '{stage}' AS stage, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM {src} GROUP BY event_type
"""


@query(
    "events_snapshot_wap_publish",
    oracle=(
        "WITH audited AS (SELECT * FROM events WHERE NOT "
        "(event_type = 'click' AND user_id % 7 = 0)) "
        + _WAP_LEG.format(stage="published", src="audited")
        + " UNION ALL "
        + _WAP_LEG.format(stage="tagged", src="events")
        + " ORDER BY stage, event_type"
    ),
)
def events_snapshot_wap_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-AUDIT-PUBLISH through named refs (Iceberg branch + WAP
    pattern): a quarantine delete runs on an ``audit`` BRANCH — its
    own manifest chain, invisible to trunk readers — and lands on the
    trunk via `publish_branch` as ONE metadata-only commit, while a
    ``prod`` TAG pins the pre-audit version against retention. Reads
    here resolve BY REF: the tag read must reproduce the untouched
    corpus, the published trunk head must equal branch-audited rows;
    the oracle recomputes both from the raw table, so a branch commit
    that leaked onto the trunk, a publish that dropped a carried
    segment, or a tag that drifted off its version hash-mismatches.

    Scale shape: fork, tag, and publish are all O(#segments) metadata
    writes — no data moves at ANY table size; the branch delete is
    the same COW op trunk deletes use (affected files only). The
    fast-forward check makes publish safe under concurrent trunk
    writers (ConcurrentCommit, not silent clobber). This is the
    staging workflow a 100 TB training-data table needs: audit an
    erasure/dedup pass on isolated refs, then flip atomically."""
    root = _wap_table(spark, sf_dir)

    def leg(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        ).select(F.lit(stage).alias("stage"), "event_type", "n_rows",
                 "n_users", "value_cents_sum")

    published = leg(snap.read_snapshot(spark, root), "published")
    tagged = leg(snap.read_snapshot(spark, root, "prod"), "tagged")
    return published.unionByName(tagged).orderBy("stage", "event_type")


@query(
    "events_snapshot_refs_metadata",
    oracle="""
    WITH audited AS (
      SELECT * FROM events
      WHERE NOT (event_type = 'click' AND user_id % 7 = 0)
    )
    SELECT * FROM (
      SELECT 'audit' AS ref, 'branch' AS kind, 2 AS version,
             1 AS fork_version, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM audited
      UNION ALL
      SELECT 'main', 'branch', 2, NULL, CAST(COUNT(*) AS BIGINT)
      FROM audited
      UNION ALL
      SELECT 'prod', 'tag', 1, NULL, CAST(COUNT(*) AS BIGINT)
      FROM events
    ) ORDER BY ref
    """,
)
def events_snapshot_refs_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REFS METADATA TABLE (Iceberg's ``refs``) joined with each
    ref's actual row count: one row per named ref — trunk, the
    ``audit`` branch (head in its own chain + fork point), the
    ``prod`` tag — each resolved to its snapshot and counted. The
    oracle recomputes every ref's expected row set from the raw
    corpus and pins the version/fork numbers of the deterministic WAP
    lifecycle, so a ref pointing at the wrong snapshot, a branch head
    miscounted from its namespace, or a fork point lost in the
    manifest all hash-mismatch.

    Scale shape: the refs listing is O(#refs) small JSON (no data
    files open); each count is a manifest-exact snapshot read — the
    same cost as any time-travel read. This is the observability
    surface for a multi-writer table: which staging branches exist,
    where they forked, what they'd publish."""
    root = _wap_table(spark, sf_dir)
    refs = snap.table_refs(spark, root)
    counts = []
    for ref_name, kind in (("main", "branch"), ("audit", "branch"),
                           ("prod", "tag")):
        df = (
            snap.read_snapshot(spark, root, "prod")
            if kind == "tag"
            else snap.read_snapshot(spark, root, ref=ref_name)
        )
        counts.append(
            df.agg(
                F.lit(ref_name).alias("ref"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
    cnt = counts[0].unionAll(counts[1]).unionAll(counts[2])
    return (
        refs.join(cnt, "ref")
        .select("ref", "kind", "version", "fork_version", "n_rows")
        .orderBy("ref")
    )


@query(
    "events_snapshot_partitions_metadata",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY day ORDER BY day
    """,
)
def events_snapshot_partitions_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PARTITIONS METADATA TABLE (Iceberg's ``partitions``)
    answered WITHOUT opening a single data file: per-day row counts of
    the day-partitioned events table resolved purely from segment
    metadata — footer-lifted per-file row counts summed within each
    identity-partition tuple. The oracle recomputes the counts by
    actually scanning the raw corpus, so a file recorded under the
    wrong partition value, a footer count recorded wrong, or a file
    lost/duplicated across the two appends hash-mismatches.

    Scale shape: this is the COUNT(*) GROUP BY partition a 100 TB
    table's operators run hourly — here it costs O(#files) JSON on
    metadata alone, no scan (the self-check below asserts no parquet
    read happens: the result is built from createDataFrame over
    manifest state). Small-file pressure, skew audits, and erasure
    scoping all read this table first."""
    root = _day_table(spark, sf_dir)
    parts = snap.table_partitions(spark, root)
    return parts.select(
        "day", F.col("n_rows").cast("bigint").alias("n_rows")
    ).orderBy("day")


def _mor_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table exercising MERGE-ON-READ deletes: v1 appends the
    events corpus; v2 and v3 are `commit_mor_delete`s (zero data files
    rewritten — the erasure lands as position-delete parquet and an
    accumulated ``delete_files`` list); v4 is the compaction that
    applies and clears them."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark, tmp, base.repartitionByRange(4, "user_id")
        )
        snap.commit_mor_delete(
            spark,
            tmp,
            (F.col("event_type") == "click") & (F.col("user_id") % 5 == 0),
        )
        snap.commit_mor_delete(
            spark,
            tmp,
            (F.col("event_type") == "purchase")
            & (F.col("event_id") % 11 == 0),
        )
        snap.compact(spark, tmp, target_files=4)

    return _fixture(sf_dir, "events-mor1", build)


_MOR_LEG = """
    SELECT '{stage}' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM {src}
"""


@query(
    "events_snapshot_mor_delete",
    oracle=(
        "WITH live AS (SELECT * FROM events WHERE NOT "
        "(event_type = 'click' AND user_id % 5 = 0) AND NOT "
        "(event_type = 'purchase' AND event_id % 11 = 0)) "
        + _MOR_LEG.format(stage="compacted", src="live")
        + " UNION ALL " + _MOR_LEG.format(stage="mor", src="live")
        + " UNION ALL " + _MOR_LEG.format(stage="v1", src="events")
        + " ORDER BY stage"
    ),
)
def events_snapshot_mor_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE-ON-READ deletes end-to-end (Iceberg v2 position deletes /
    Delta deletion vectors): two erasure predicates land as
    POSITION-DELETE files — the query self-checks that NOT ONE data
    file was rewritten across both deletes — applied at read assembly
    by an anti-join on (file name, row index); compaction then folds
    the table with the deletes applied and clears the list (self-
    checked empty). Three hash-oracled stages: the pre-delete v1 must
    equal the raw corpus, the MOR head and the post-compaction head
    must BOTH equal the SQL-filtered corpus — so a position recorded
    against the wrong file/row, an anti-join that misses a cohort, a
    commit that drops the carried delete list, or a fold that
    resurrects deleted rows all hash-mismatch.

    Scale shape: the COW alternative rewrites every file containing a
    victim row — for scattered GDPR erasure on a 100 TB table that is
    effectively a full rewrite; MOR writes O(matches) positions and
    defers the rewrite to scheduled compaction. Readers pay one
    anti-join against the (small) delete set, AQE-broadcast; the
    position scan itself is partition-prunable (`scan_prune`)."""
    root = _mor_table(spark, sf_dir)
    # self-checks: zero-rewrite across both MOR deletes; compaction
    # cleared the accumulated delete list
    f1 = set(snap.files_of(root, 1))
    assert set(snap.files_of(root, 2)) == f1
    assert set(snap.files_of(root, 3)) == f1
    m3, m4 = snap.read_manifest(root, 3), snap.read_manifest(root, 4)
    assert len(m3.get("delete_files") or []) >= 2
    assert not m4.get("delete_files")

    def leg(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        )
    out = (
        leg(snap.read_snapshot(spark, root, 4), "compacted")
        .unionAll(leg(snap.read_snapshot(spark, root, 3), "mor"))
        .unionAll(leg(snap.read_snapshot(spark, root, 1), "v1"))
    )
    return out.orderBy("stage")


@query(
    "events_snapshot_stream_source",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events WHERE event_id % 3 IN (0, 1)
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_snapshot_stream_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The snapshot table as a STRUCTURED STREAMING SOURCE through
    Spark's Python DataSource API (`spark.readStream.format
    ("snapshot")`) with snapshot VERSIONS as offsets: an availableNow
    drain over the shared 3-version events store must serve exactly
    the rows of its two append commits — the v3 COW delete commits
    later and, per the changelog contract, retracts nothing from the
    feed. Offsets live in Spark's own checkpoint, so this is the
    exactly-once consumer loop (restart-resume pinned in
    tests/test_spark_source.py) expressed as a first-class source
    instead of a library call.

    Scale shape: offset resolution and batch planning are O(window
    manifests) of driver-side JSON; each micro-batch reads ONLY the
    append commits' new segments (one arrow slice per new file,
    columns pruned to the projection) — the Delta-source/Iceberg-
    incremental-scan design, so a 100 TB table's consumers tail the
    commit log at O(delta) cost with no side ledger to drift."""
    from metastore_spark.sources.spark_source import SnapshotDataSource
    from metastore_spark.streaming import events as ev

    try:
        spark.dataSource.register(SnapshotDataSource)
    except Exception:
        pass  # already registered in this session
    root = _events_table(spark, sf_dir)
    stream = spark.readStream.format("snapshot").load(root)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("value_cents_sum"),
    )
    name = f"snapshot_stream_src_{os.getpid()}_{abs(hash(sf_dir)) % 10**8}"
    ev.run_to_memory_sink(agg, name, output_mode="complete")
    return spark.table(name).orderBy("event_type")


@query(
    "events_stream_backlog_drain",
    oracle="""
    SELECT 1 AS drain,
           CAST(COUNT(*) FILTER (WHERE event_id % 4 IN (0, 1))
             AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
             FILTER (WHERE event_id % 4 IN (0, 1)) AS BIGINT)
             AS value_cents_sum
    FROM events
    UNION ALL
    SELECT 2 AS drain,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events
    ORDER BY drain
    """,
)
def events_stream_backlog_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BACKLOG ADMISSION CONTROL on the snapshot stream source
    (``option("max_versions_per_batch", 2)``): the events corpus
    lands as a 4-version append backlog, and a capped consumer
    drains it in two bounded passes — versions (0,2] then (2,4] —
    instead of one unbounded micro-batch planning every historical
    segment. The query pins the cumulative row/cents totals after
    each pass: pass 1 must serve EXACTLY the first two versions'
    rows (event_id % 4 in (0,1)), pass 2 the full corpus, nothing
    re-served (the checkpoint carries the version offset across
    starts).

    Scale shape: THE guard that makes a 100 TB backlog consumable —
    per micro-batch planning cost is O(N capped versions' manifests)
    and read cost O(their segments), bounded regardless of how far
    behind the consumer is; Delta's maxFilesPerTrigger / Iceberg's
    streaming-max-files-per-micro-batch at this format's version
    granularity (see _StreamReader's mode caveat: availableNow
    captures one capped target per start, which is exactly what the
    two-pass drain exercises)."""
    import tempfile

    from metastore_spark.catalog import load_table
    from metastore_spark.sources.spark_source import SnapshotDataSource

    try:
        spark.dataSource.register(SnapshotDataSource)
    except Exception:
        pass  # already registered in this session
    base_dir = tempfile.mkdtemp(prefix="backlog_")
    root = os.path.join(base_dir, "t")
    ckpt = os.path.join(base_dir, "ckpt")
    sink = os.path.join(base_dir, "sink")
    try:
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for i in range(4):
            # right-sized commit inputs (see
            # events_snapshot_mor_compact_fold)
            snap.commit_append(
                spark, root,
                _sized(base.filter(F.col("event_id") % 4 == i), sf_dir),
            )

        def drain() -> None:
            q = (
                spark.readStream.format("snapshot")
                .option("max_versions_per_batch", "2")
                .load(root)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        rows = []
        schema = None
        for pass_no in (1, 2):
            drain()
            out = spark.read.parquet(sink).agg(
                F.lit(pass_no).cast("int").alias("drain"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).cast("bigint").alias("value_cents_sum"),
            )
            schema = out.schema
            rows.extend(out.collect())
        return spark.createDataFrame(rows, schema).orderBy("drain")
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@query(
    "events_snapshot_source_batch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events
    WHERE NOT (event_type = 'click' AND user_id % 5 = 0)
      AND NOT (event_type = 'purchase' AND event_id % 11 = 0)
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_snapshot_source_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch read through the registered ``format("snapshot")`` data
    source, time-traveled to the MERGE-ON-READ head of the MOR store
    (``option("version", 3)``) — so the WORKER-SIDE arrow kernel does
    the full job: per-file position-delete masking before projection,
    manifest-exact file planning, column pruning to the projection.
    The oracle recomputes the doubly-erased corpus from raw SQL; a
    position masked in the wrong file, an off-by-one row index, or a
    delete file dropped in planning hash-mismatches.

    Scale shape: the planned files pack into ~32 MiB slices, one
    InputPartition each, every file reading only the projected
    columns; each slice reads the delete set once and filters it per
    file — O(small) parquet, the per-file share of the anti-join the
    JVM path runs."""
    from metastore_spark.sources.spark_source import SnapshotDataSource

    try:
        spark.dataSource.register(SnapshotDataSource)
    except Exception:
        pass  # already registered in this session
    root = _mor_table(spark, sf_dir)
    df = (
        spark.read.format("snapshot")
        .option("version", "3")
        .load(root)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        )
        .orderBy("event_type")
    )


def _ow_base_table(spark: SparkSession, sf_dir: str) -> str:
    """Day-partitioned base store for the backfill query — the
    IMMUTABLE trunk the per-run restatement forks from."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        snap.commit_append(spark, tmp, base, partition_by=["day"])

    return _fixture(sf_dir, "events-owbase1", build)


@query(
    "events_snapshot_overwrite_backfill",
    oracle="""
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, value,
             event_type FROM events
    ),
    target AS (SELECT MIN(day) AS td FROM d),
    head AS (
      SELECT day, user_id,
             CASE WHEN day = (SELECT td FROM target)
                  THEN value * 2 ELSE value END AS value
      FROM d
    )
    SELECT CASE WHEN day = (SELECT td FROM target)
                THEN 'backfilled' ELSE 'untouched' END AS slice,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM head GROUP BY slice ORDER BY slice
    """,
)
def events_snapshot_overwrite_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ATOMIC PARTITION BACKFILL (Delta ``replaceWhere`` / Iceberg
    dynamic overwrite), STAGED ON A BRANCH: the run forks a
    metadata-only branch off the immutable day-partitioned base store,
    restates the earliest day (values doubled) there with
    `commit_overwrite_where` — the day's files rewrite, the corrected
    rows land as one segment, every other day carries by name, the
    scan partition-pruned to the victim day — and reads the branch
    head; the trunk is never touched and the branch drops afterward.
    The oracle recomputes the restated table from raw SQL; a backfill
    that leaked into another day, dropped a slice row, or double-kept
    the old slice hash-mismatches. The replaceWhere contract (every
    replacement row satisfies the predicate) is validated in-commit.

    Scale shape: the nightly restatement loop a 100 TB pipeline runs —
    fork is O(#segments) metadata, the overwrite costs O(affected
    partition) + O(new rows), readers flip atomically, and staging on
    a branch means the trunk never serves a half-audited restatement
    (the WAP composition)."""
    import uuid as _uuid

    base = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_id",
        "user_id",
        "value",
    )
    target_day = base.agg(F.min("day")).first()[0]
    root = _ow_base_table(spark, sf_dir)
    branch = f"bf-{os.getpid()}-{_uuid.uuid4().hex[:8]}"
    snap.create_branch(root, branch)
    try:
        fixed = (
            base.filter(F.col("day") == target_day)
            .withColumn("value", F.col("value") * 2)
            .select("event_id", "user_id", "value", "day")
        )
        snap.commit_overwrite_where(
            spark,
            root,
            fixed,
            F.col("day") == target_day,
            scan_prune={"day": [target_day]},
            ref=branch,
        )
        head = snap.read_snapshot(spark, root, ref=branch)
        out = (
            head.groupBy(
                F.when(F.col("day") == target_day, F.lit("backfilled"))
                .otherwise(F.lit("untouched"))
                .alias("slice")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("value_cents_sum"),
            )
            .orderBy("slice")
        )
        out = out.localCheckpoint()  # materialize before branch drop
    finally:
        try:
            snap.drop_branch(root, branch)
        except ValueError:
            pass
    return out


@query(
    "events_snapshot_cdf",
    oracle="""
    WITH cutoff AS (SELECT MAX(user_id) // 10 AS cu FROM events),
    v1 AS (SELECT * FROM events WHERE event_id % 3 = 0),
    v2 AS (SELECT * FROM events WHERE event_id % 3 = 1),
    d3 AS (
      SELECT u.* FROM (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2
      ) u, cutoff WHERE user_id < cu AND event_type = 'click'
    ),
    leg AS (
      SELECT 1 AS commit_version, 'insert' AS change_type,
             event_type, value FROM v1
      UNION ALL
      SELECT 2, 'insert', event_type, value FROM v2
      UNION ALL
      SELECT 3, 'delete', event_type, value FROM d3
    )
    SELECT commit_version, change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM leg GROUP BY commit_version, change_type, event_type
    ORDER BY commit_version, change_type, event_type
    """,
)
def events_snapshot_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL CHANGE DATA FEED (Delta CDF parity): `read_changes`
    over the shared 3-version events store emits every inserted row of
    the two appends and every row the v3 COW delete removed, tagged
    (commit_version, change_type). The oracle recomputes all three
    change sets from the raw corpus, so a diff that misses an affected
    file, counts a carried survivor as a change, or tags the wrong
    version hash-mismatches. Updates appear as delete+insert pairs
    (keyless-general); value-identical rewrites and compactions are
    feed-silent; rollback/publish windows raise (reseed contract).

    Scale shape: O(delta) by construction — appends contribute their
    own segments, COW commits diff ONLY removed-vs-added files (a
    multiset exceptAll over the affected subset; survivor rows
    cancel), MOR deletes read just the new position files. This is
    the downstream-sync surface (search index, feature store, replica)
    a 100 TB table feeds without ever diffing itself."""
    root = _events_table(spark, sf_dir)
    ch = snap.read_changes(spark, root, 0, 3)
    return (
        ch.groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        )
        .orderBy("commit_version", "change_type", "event_type")
    )


def _bloom_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot events table with BLOOM-FILTER skipping on event_id:
    round-robin layout (every file's min/max range covers every id —
    range stats provably cannot skip), blooms built at commit from each
    file's distinct ids."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark,
            tmp,
            base.repartition(8),
            stats_cols=["event_id"],
            bloom_cols=["event_id"],
        )

    return _fixture(sf_dir, "events-bloom1", build)


@query(
    "events_snapshot_bloom_pruned",
    oracle="""
    WITH victims AS (
      SELECT event_id FROM events ORDER BY event_id LIMIT 3
    )
    SELECT e.event_id, e.user_id,
           CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM events e
    WHERE e.event_id IN (SELECT event_id FROM victims)
    ORDER BY e.event_id
    """,
)
def events_snapshot_bloom_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOOM-FILTER FILE SKIPPING (Iceberg/Delta bloom parity): a
    point lookup of three scattered event_ids on a round-robin-laid
    table where every file's min/max RANGE covers every id — range
    stats provably keep all files (self-checked), while the per-file
    blooms built at commit time prune to at most one file per victim
    (self-checked strict). The pruned read's rows are hash-oracled
    against the raw corpus, so a bloom that false-negatives a present
    key (dropping a row) or a probe that mistranslates through the
    column mapping hash-mismatches.

    Scale shape: the erasure/point-fetch gap at 100 TB — a handful of
    ids scattered across millions of files whose ranges all overlap.
    Blooms cost one O(delta) distinct-scan per commit and ~1.25 bytes
    per distinct key in segment metadata; the probe is pure driver-
    side metadata, skipping data files range stats never could."""
    root = _bloom_table(spark, sf_dir)
    m = snap.read_manifest(root, 1)
    base = _t(spark, sf_dir, "events")
    victims = [
        int(r["event_id"])
        for r in base.select("event_id")
        .orderBy("event_id")
        .limit(3)
        .collect()
    ]
    total = len(snap.files_of(root, 1))
    kept = snap.pruned_manifest_files(root, m, {"event_id": victims})
    # self-check: blooms prune strictly — at most one file per victim
    # out of a layout whose ranges all cover them
    assert len(kept) <= len(victims) < total, (total, len(kept))
    return (
        snap.read_snapshot(spark, root, prune={"event_id": victims})
        .filter(F.col("event_id").isin(victims))
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_id")
    )


def _sorted_table(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot events table exercising SORTED COMPACTION: v1 appends
    round-robin (overlapping ranges — stats can't skip), v2 is
    `compact(sort_by=["user_id"])`, range-partitioning the fold so file
    ranges become disjoint."""

    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        snap.commit_append(
            spark, tmp, base.repartition(8), stats_cols=["user_id"]
        )
        snap.compact(spark, tmp, target_files=8, sort_by=["user_id"])

    return _fixture(sf_dir, "events-sorted1", build)


@query(
    "events_snapshot_sorted_compaction",
    oracle="""
    WITH bounds AS (
      SELECT MAX(user_id) // 5 AS lo, MAX(user_id) // 3 AS hi
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents_sum
    FROM events, bounds
    WHERE user_id >= lo AND user_id <= hi
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_snapshot_sorted_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORTED COMPACTION (Iceberg rewrite with a sort order / Delta
    OPTIMIZE + sort, the linear-key complement to Z-order clustering):
    the fold range-partitions on user_id so the rewritten files carry
    DISJOINT min/max ranges, turning a range probe that kept EVERY
    round-robin file (self-checked) into a stats-only skip down to the
    covering files (self-checked strict). The pruned read's aggregate
    is hash-oracled against the raw corpus, so a fold that drops or
    duplicates a row, or stats recorded off-by-a-file, mismatches.

    Scale shape: the layout-maintenance loop of a 100 TB user-keyed
    table — compaction pays one keyed shuffle, after which every
    user-range scan (GDPR export, per-cohort reads) is O(covering
    files) from metadata alone, and the sort_spec in the manifest
    records the layout contract for later writers."""
    root = _sorted_table(spark, sf_dir)
    mx = int(
        _t(spark, sf_dir, "events").agg(F.max("user_id")).first()[0]
    )
    lo, hi = mx // 5, mx // 3
    m1 = snap.read_manifest(root, 1)
    m2 = snap.read_manifest(root, 2)
    assert m2.get("sort_spec") == ["user_id"]
    kept1 = snap.pruned_manifest_files(root, m1, {"user_id": (lo, hi)})
    kept2 = snap.pruned_manifest_files(root, m2, {"user_id": (lo, hi)})
    total2 = len(snap.files_of(root, 2))
    # self-check: pre-sort layout can't skip; sorted layout skips
    assert len(kept1) == len(snap.files_of(root, 1))
    assert len(kept2) < total2, (len(kept2), total2)
    return (
        snap.read_snapshot(spark, root, prune={"user_id": (lo, hi)})
        .filter((F.col("user_id") >= lo) & (F.col("user_id") <= hi))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents_sum"),
        )
        .orderBy("event_type")
    )
