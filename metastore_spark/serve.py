"""Build-once serving stores: derived tables (signature stores, search
indexes, partitioned and bucketed layouts, snapshot-format fixtures)
built once per source content and reopened by every later query, in
any session or process.

The production shape this encodes: expensive corpus-wide derivations
(MinHash/SimHash signature tables, inverted indexes) are INGEST-time
artifacts, not query-time work — a query against a 100 TB corpus
reopens a bucketed signature table, it does not re-shingle the corpus.

One protocol, `build_once`, serves every store kind:
- a store lives at ``<warehouse>/<kind>/<tag>-<srckey>-<fp>``:
  ``srckey`` hashes the sources' real paths, so two corpora sharing a
  tag or a directory name are siblings, never supersessions; ``fp``
  hashes their content, so a rewritten corpus builds a new store;
- ``build(tmp)`` writes into a process-private ``<store>.build-<pid>-…``
  dir, `_DONE` is written last and the dir is renamed into place; a
  racer that loses the rename discards its own build and serves the
  winner's, and a reader never sees a store without `_DONE`;
- every open prunes the same (kind, tag, sources): a superseded store
  survives until its replacement has been in place `_PRUNE_AGE_SEC`,
  and another process's in-flight build survives until it is
  `_BUILD_ORPHAN_AGE_SEC` old (a crashed builder's leftovers).

The warehouse is ``<repo>/spark-warehouse`` unless the
``SPARK_GRAFT_WAREHOUSE`` environment variable names another (read
once, at import).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession

_WAREHOUSE = os.path.abspath(
    os.environ.get("SPARK_GRAFT_WAREHOUSE")
    or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
    )
)
# in-process handle cache for `materialized`: (appId, tag, path) -> DataFrame
_CACHE: dict[tuple, DataFrame] = {}
# Superseded-fingerprint stores survive until the REPLACEMENT store has
# been in place this long: any reader of the old store necessarily
# opened it before (or shortly after) the replacement appeared, so by
# deletion time it has had the full window to drain. Keying retention
# on the replacement's age — not the victim's own mtime — is what makes
# this safe for a store that had been current for days before being
# superseded (its own mtime is ancient the moment it's replaced).
_PRUNE_AGE_SEC = 1800
# A .build- tmp dir this old belongs to a crashed builder (no build
# runs for a day); reclaim it or repeated crashes leak full-size store
# copies indefinitely.
_BUILD_ORPHAN_AGE_SEC = 86400


def _fingerprint(sources: list[str]) -> str:
    parts = []
    for src in sources:
        try:
            if os.path.isdir(src):
                for root, _dirs, files in sorted(os.walk(src)):
                    for name in sorted(files):
                        st = os.stat(os.path.join(root, name))
                        rel = os.path.relpath(os.path.join(root, name), src)
                        parts.append(f"{rel}|{st.st_size}|{st.st_mtime_ns}")
            else:
                st = os.stat(src)
                parts.append(f"{src}|{st.st_size}|{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{src}|missing")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:16]


def _prune_stale(root: str, prefix: str, current: str) -> None:
    """Reclaim the stores ``current`` supersedes: the entries of
    ``root`` named ``prefix`` + another fingerprint. ``prefix`` scopes
    to ONE (tag, source set), so corpora sharing a tag (sf0.01 and sf1
    signature stores, say) never prune each other's live store."""
    now = time.time()
    try:
        current_age = now - os.stat(os.path.join(root, current)).st_mtime
        entries = os.listdir(root)
    except OSError:
        return
    for entry in entries:
        if not entry.startswith(prefix) or entry == current:
            continue
        victim = os.path.join(root, entry)
        try:
            victim_age = now - os.stat(victim).st_mtime
        except OSError:
            continue
        if ".build-" in entry:
            # in-flight builds are sacred (rmtree kills the builder's
            # rename) — unless abandoned by a crashed process
            if victim_age > _BUILD_ORPHAN_AGE_SEC:
                shutil.rmtree(victim, ignore_errors=True)
        elif current_age > _PRUNE_AGE_SEC:
            shutil.rmtree(victim, ignore_errors=True)


def build_once(kind: str, tag: str, sources: list[str], build) -> str | None:
    """Path of the ``kind`` store ``tag`` over ``sources``, built by
    ``build(tmp)`` (which writes the store's files under the existing,
    empty dir ``tmp``) the first time this source content is seen and
    reopened on every later call. Returns None when the warehouse
    cannot be written; an exception from ``build`` propagates, and its
    partial build is removed."""
    root = os.path.join(_WAREHOUSE, kind)
    srckey = hashlib.md5(
        "|".join(os.path.realpath(s) for s in sources).encode()
    ).hexdigest()[:8]
    prefix = f"{tag}-{srckey}-"
    name = prefix + _fingerprint(sources)
    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = f"{path}.build-{os.getpid()}-{threading.get_ident()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.makedirs(tmp)
        except OSError:
            return None
        try:
            build(tmp)
            with open(os.path.join(tmp, "_DONE"), "w") as fh:
                fh.write("ok\n")
            try:
                os.rename(tmp, path)
            except OSError:
                pass  # lost the race: the winner's store serves
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    _prune_stale(root, prefix, name)
    return path


def snapshot_store(
    spark: SparkSession,
    sources: list[str],
    tag: str,
    build,
) -> str | None:
    """Like `materialized`, but the artifact is a SNAPSHOT-FORMAT table
    root (`sources/snapshots.py`) instead of a bare parquet dir:
    ``build()``'s frame is committed as version 1 of a new table, so
    readers resolve it through a manifest head and inherit the whole
    commit protocol (time travel, read_appends, COW deletes) — the
    substrate `catalog.load_table` serves mutating kinds through.

    Returns the table ROOT path (reopen with `snapshots.read_snapshot`)
    or None when the store cannot be built — callers fall back to the
    raw scan; correctness never depends on the cache."""
    from metastore_spark.sources import snapshots as _snap

    try:
        return build_once(
            "tables",
            tag,
            sources,
            lambda tmp: _snap.commit_append(spark, tmp, build()),
        )
    except Exception:
        return None


def materialized(
    spark: SparkSession,
    sources: list[str],
    tag: str,
    build,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Return the derived table for ``tag`` over ``sources``, building
    it exactly once per corpus content.

    ``build()`` must return the DataFrame to materialize;
    ``partition_by`` lays the store out hive-partitioned so equality
    probes on those columns become directory pruning (e.g. an IVF
    index partitioned by centroid_id). Falls back to serving
    ``build()`` directly (no materialization) if the store cannot be
    built — correctness never depends on the cache.
    """

    def write(tmp: str) -> None:
        writer = build().write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    try:
        path = build_once("serve", tag, sources, write)
    except Exception:
        path = None
    if path is None:
        return build()
    key = (spark.sparkContext.applicationId, tag, path)
    if key not in _CACHE:
        try:
            _CACHE[key] = spark.read.parquet(path)
        except Exception:
            return build()
    return _CACHE[key]
